"""Distance joins: nearest match, bounded kNN with IDW and max, kNN
label fusion, binned statistics.

Reference semantics re-created:
- nearest-match with distance cap: street_furniture_fuser.py:80-85,
  pole_fuser.py:203-208 (argmin over small object set).
- kNN + IDW: SpatialInterpolator (src/upcp/utils/interpolation.py:
  119-308) — k neighbours within max_dist, weights 1/(d^p + reg),
  weighted average; 'max' variant returns max of neighbours.
- 2-D binned statistics: pole_fuser.py:171-196 (binned_statistic_2d
  min/max/median/count per voxel column).

Spark strategy (SURVEY.md §2.3): every theta-join becomes an equi-join
on spatial-cell keys plus a residual distance predicate. The
cell-neighbourhood kNN machinery exists once:

- ``knn_candidates_shuffle`` is the one candidate join. The build side
  explodes to the 3×3 keys around its cell
  (``tiling.neighbor_cell_ids``), the probe side keys on its own cell
  (``tiling.cell_id``), and the residual filter keeps
  ``dist_sq <= max_dist²``. Cells are max_dist wide, so the
  neighbourhood holds every point within max_dist and the join is
  exact, not approximate; distances compare squared (exact double
  arithmetic, no sqrt). It runs as a shuffle join for build
  sides that scale with the data, salted over hot probe cells with
  ``skew.salted`` when asked; ``knn_candidates`` is the same join with
  a broadcast hint, for small object layers.
- ``nearest_k`` is the one nearest-k fold: per probe, the sorted slice
  of its k nearest candidates under the deterministic (dist_sq,
  build id) order (SURVEY.md §7.3 item 3). ``knn_idw``, ``knn_max``,
  ``knn_label_fusion`` and ``queries.q_raster_build`` read it.
- ``idw`` is the one weighted-mean fold over that slice; the fixed
  accumulation order keeps the doubles bit-identical to the oracle.

Cell keys are tiling's packed BIGINTs, which need |x/max_dist| and
|y/max_dist| below 2^30. A point outside that range, and a NaN, ±Inf
or NULL coordinate, gets no cell and pairs with nothing. That is the
one deviation from an exact distance join: two points that are both
outside the range never pair, even within max_dist of each other. The
raster join (``sources/raster.py``) follows the same rule. RD
coordinates stay below 300 km, so every real point has a cell for any
max_dist ≥ 1 mm.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tiling import cell_id, cell_x, cell_y, neighbor_cell_ids
from .skew import cell_frequency_sketch, salted


def _dist_sq(ax, ay, bx, by):
    dx, dy = ax - bx, ay - by
    return dx * dx + dy * dy


def knn_candidates(
    probe: DataFrame,
    build: DataFrame,
    max_dist: float,
    probe_id: str = "page_id",
    build_id: str = "obj_id",
    build_cols: tuple[str, ...] = ("bgt_type", "z"),
) -> DataFrame:
    """(probe × build) candidate pairs within max_dist: the cell join
    with the build side broadcast (``F.broadcast`` is the broadcast
    hint), for small object layers."""
    return knn_candidates_shuffle(
        probe, build, max_dist, probe_id, build_id, build_cols,
        join_hint="broadcast",
    )


def knn_candidates_shuffle(
    probe: DataFrame,
    build: DataFrame,
    max_dist: float,
    probe_id: str = "page_id",
    build_id: str = "obj_id",
    build_cols: tuple[str, ...] = ("label",),
    salt_target: int | None = None,
    join_hint: str | None = None,
    keep_keys: bool = False,
) -> DataFrame:
    """The one candidate join: (probe_id, x, y, build_id, build_cols…,
    dist_sq) for every probe × build pair within max_dist. Without a
    hint it is a plain equi-join on the cell key — sort-merge or
    shuffle-hash at scale — for BUILD SIDES THAT SCALE WITH THE DATA
    (e.g. labeled pages feeding label propagation); ``knn_candidates``
    is the same join with the build side broadcast.

    ``salt_target`` arms explicit skew salting (the north-rule
    dense-urban-cell case AQE's join split does not fully cover): probe
    cells holding more than salt_target rows spread over
    ceil(n/target) salts and their build rows replicate to every salt
    (``skew.salted``). The join key becomes (cell, salt) and each
    probe×build pair still meets exactly once, so the result set is
    IDENTICAL to the unsalted join (tests/test_skew.py).

    ``join_hint`` pins the join strategy: 'broadcast' for
    ``knn_candidates``; 'merge' in bench.py's skew fixture reproduces
    the at-scale sort-merge shape when the synthetic build side is
    small enough that Catalyst would broadcast it."""
    bx, by = F.col("_bx"), F.col("_by")
    build_idx = build.select(
        F.col(build_id), F.col("x").alias("_bx"), F.col("y").alias("_by"),
        *[F.col(c) for c in build_cols],
    ).withColumn("_cell", F.explode(neighbor_cell_ids(bx, by, max_dist)))
    probe_keyed = probe.select(probe_id, "x", "y").withColumn(
        "_cell", cell_id(F.col("x"), F.col("y"), max_dist)
    )
    keys = ["_cell"]
    if salt_target:
        hot = cell_frequency_sketch(probe_keyed, keys, salt_target)
        probe_keyed = salted(probe_keyed, keys, hot, probe_id)
        build_idx = salted(build_idx, keys, hot)
        keys = ["_cell", "_salt"]
    if join_hint:
        build_idx = build_idx.hint(join_hint)
    out = (
        probe_keyed.join(build_idx, keys)
        .withColumn("dist_sq", _dist_sq(F.col("x"), F.col("y"), bx, by))
        .filter(F.col("dist_sq") <= F.lit(max_dist * max_dist))
    )
    # keep_keys: a probe row has exactly one (cell[, salt]), so a
    # downstream per-probe aggregation (nearest_k) can group by
    # (keys..., probe_id) — identical groups, and when the join ran as a
    # shuffle join its cell hash-partitioning already satisfies that
    # clustering, so the aggregation adds NO exchange (guide §2.4)
    return out.drop("_bx", "_by", *([] if keep_keys else keys))


def nearest_k(
    cand: DataFrame,
    k: int,
    probe_id: str,
    build_id: str,
    cols: tuple[str, ...],
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """The one nearest-k fold: (probe_id, _nb), where ``_nb`` is the
    array of struct(dist_sq, build_id, cols…) of the probe's k nearest
    candidates, sorted by (dist_sq, build_id) — exactly the rows a
    ``row_number() <= k`` window over that order keeps, in one
    aggregation instead of a window plus a regroup.

    ``keys`` are join keys the probe determines (``keep_keys=True``):
    grouping on them as well leaves the groups unchanged, and a shuffle
    join's cell partitioning already satisfies the clustering, so the
    candidate pairs aggregate in place instead of being re-shuffled
    (guide §2.4)."""
    out = cand.groupBy(*keys, probe_id).agg(
        F.slice(
            F.sort_array(F.collect_list(F.struct("dist_sq", build_id, *cols))),
            1, k,
        ).alias("_nb"),
    )
    return out.drop(*keys) if keys else out


def idw(value_col: str, power: int = 2, reg: float = 1e-9) -> Column:
    """Inverse-distance-weighted mean of ``value_col`` over
    ``nearest_k``'s ``_nb`` (reference interpolation.py:285-301:
    weights 1/(d^p + reg)). Both sums fold over the sorted slice, so the
    float accumulation order is fixed and the result bit-exact against
    the oracle. d^p with integer p is an exact multiplication chain (no
    pow/libm), and the weight is recomputed from dist_sq inside the
    fold: the same deterministic double as a precomputed column, and the
    collected struct stays 8 bytes/row narrower."""

    def weight(d2):
        if power == 2:
            dp = d2
        elif power == 1:
            dp = F.sqrt(d2)
        else:
            dp = F.pow(F.sqrt(d2), F.lit(float(power)))
        return F.lit(1.0) / (dp + F.lit(reg))

    return F.aggregate(
        "_nb", F.lit(0.0), lambda a, s: a + weight(s["dist_sq"]) * s[value_col]
    ) / F.aggregate("_nb", F.lit(0.0), lambda a, s: a + weight(s["dist_sq"]))


def nearest_max(value_col: str) -> Column:
    """Max of ``value_col`` over ``nearest_k``'s ``_nb``."""
    return F.array_max(F.transform("_nb", lambda s: s[value_col]))


def knn_label_fusion(
    probe: DataFrame,
    labeled: DataFrame,
    k: int = 5,
    max_dist: float = 20.0,
    probe_id: str = "page_id",
    build_id: str = "nb_id",
    label_col: str = "label",
    salt_target: int | None = 500_000,
) -> DataFrame:
    """kNN label propagation (north_star: "k-nearest-neighbor label
    fusion"): each probe row takes the MAJORITY label of its k nearest
    labeled rows within max_dist; ties break to the smaller label, the
    neighbor set is deterministic via (dist_sq, id) ordering. The
    labeled side scales with the data → shuffle cell join, no
    broadcast. Cells above salt_target probe rows take the salted join
    path (identical results; see knn_candidates_shuffle)."""
    cand = knn_candidates_shuffle(
        probe, labeled, max_dist, probe_id, build_id, (label_col,),
        salt_target=salt_target, keep_keys=True,
    )
    # one probe-keyed aggregation (nearest_k, grouped on the join keys
    # too) then the majority vote with ties to the SMALLER label over
    # the ≤k-element array: array_max over (n_votes, -label) pairs ==
    # (n_votes DESC, label ASC) row_number=1 — three exchanges down to
    # one (guide §2.4)
    keys = ("_cell", "_salt") if salt_target else ("_cell",)
    topk = nearest_k(cand, k, probe_id, build_id, (label_col,), keys)
    labels = F.transform("_nb", lambda s: s[label_col])
    scored = topk.select(
        probe_id,
        F.array_max(
            F.transform(
                F.array_distinct(labels),
                lambda v: F.struct(
                    F.size(F.filter(labels, lambda x: x == v)).alias("n"),
                    (-v).alias("neg_label"),
                ),
            )
        ).alias("_win"),
    )
    return scored.select(
        probe_id,
        (-F.col("_win.neg_label")).alias("fused_label"),
        F.col("_win.n").cast("long").alias("n_votes"),
    )


def nearest_match(
    probe: DataFrame,
    build: DataFrame,
    max_dist: float,
    probe_id: str = "page_id",
    build_id: str = "obj_id",
    build_cols: tuple[str, ...] = ("bgt_type",),
) -> DataFrame:
    """Nearest build object within max_dist per probe row; deterministic
    (dist_sq, obj_id) tie-break. Reference street_furniture_fuser.py:80-85.

    Round 6: the per-probe argmin is one struct-min aggregation instead
    of a row_number window — the min combines map-side, so the exchange
    carries one row per (map partition, probe) instead of every
    candidate pair, and the whole-partition window sort disappears
    (guide §2.3 "aggregate before you shuffle"). The struct leads with
    (dist_sq, build_id), so the selected row and its payload columns
    are identical to the old rn=1 pick (build_id is unique)."""
    cand = knn_candidates(probe, build, max_dist, probe_id, build_id, build_cols)
    payload = [c for c in cand.columns if c not in (probe_id,)]
    ordered = ["dist_sq", build_id] + [
        c for c in payload if c not in ("dist_sq", build_id)
    ]
    best = cand.groupBy(probe_id).agg(
        F.min(F.struct(*ordered)).alias("_b")
    )
    return best.select(
        probe_id, *[F.col(f"_b.{c}").alias(c) for c in payload]
    ).select(probe_id, *payload)


def knn_idw(
    probe: DataFrame,
    build: DataFrame,
    k: int = 8,
    max_dist: float = 50.0,
    power: int = 2,
    reg: float = 1e-9,
    probe_id: str = "page_id",
    build_id: str = "obj_id",
    value_col: str = "z",
) -> DataFrame:
    """k-nearest IDW interpolation (reference interpolation.py:285-301:
    weights 1/(d^p + reg), weighted mean of neighbour values), folded
    over the sorted neighbour slice (``nearest_k``, ``idw``)."""
    cand = knn_candidates(
        probe, build, max_dist, probe_id, build_id, (value_col,)
    )
    return nearest_k(cand, k, probe_id, build_id, (value_col,)).select(
        probe_id,
        F.size("_nb").cast("long").alias("n_neighbors"),
        idw(value_col, power, reg).alias("idw"),
    )


def knn_max(
    probe: DataFrame,
    build: DataFrame,
    k: int = 8,
    max_dist: float = 50.0,
    probe_id: str = "page_id",
    build_id: str = "obj_id",
    value_col: str = "z",
) -> DataFrame:
    """'max' variant (reference interpolation.py:302-303): max of the k
    nearest neighbour values — used to build the building surface."""
    cand = knn_candidates(probe, build, max_dist, probe_id, build_id, (value_col,))
    return nearest_k(cand, k, probe_id, build_id, (value_col,)).select(
        probe_id,
        nearest_max(value_col).alias("max_val"),
        F.size("_nb").cast("long").alias("n_neighbors"),
    )


def binned_statistic_2d(
    points: DataFrame,
    res: float,
    value_col: str = "z",
) -> DataFrame:
    """Voxel-column statistics (reference pole_fuser.py:171-196):
    min/max/exact-median/count of ``value_col`` per (res × res) bin.
    Pure Catalyst groupBy — the median uses the exact percentile
    aggregate (sort-based), not approx, to keep oracle-exact matches."""
    return (
        points.groupBy(
            cell_x(F.col("x"), res).alias("bin_x"),
            cell_y(F.col("y"), res).alias("bin_y"),
        )
        .agg(
            F.min(value_col).alias("z_min"),
            F.max(value_col).alias("z_max"),
            F.expr(f"percentile({value_col}, 0.5)").alias("z_median"),
            F.count(value_col).alias("n_points"),
        )
    )
