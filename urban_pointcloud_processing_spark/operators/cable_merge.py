"""Cable-cluster merging (reference _cable_merging,
src/upcp/fusion/cable_fuser.py:333-389; merge condition :247-273,
catenary gap test :275-315, box test :317-331).

The reference merges cable clusters sequentially: it merges a pair,
refits the union with scipy's catenary ``curve_fit`` and repeats to a
fixpoint, so its result depends on the pair order. The engine's one
merge, ``merge_cables_cc``, is ORDER-INDEPENDENT, like the DBSCAN
operator (operators/dbscan.py): merged_id is the min cluster id of the
connected component over the PAIRWISE-mergeable graph of the original
clusters. The pair gate keeps the reference's three conditions —
principal-direction angle (:247-273), nearest-endpoint gap (:317-331)
and a hanging-curve residual (:275-315, the small-sag quadratic analog
of the catenary fit) — each evaluated with exact-integer moments and
one fixed double-op formula, so a DuckDB recursive-CTE oracle
reproduces it bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType

from .components import pair_components
from .neighbors import knn_candidates

MERGE_MAX_ANGLE_DEG = 15.0
MERGE_MAX_RMSE_MM = 500.0                     # max_rmse = 0.5 m
TQ_DIV = 1_000_000  # projection quantum: exact-int t divided down so
                    # Σt⁴ stays within HUGEINT/python-int sums


def _cos2(deg: float) -> float:
    import math

    return math.cos(math.radians(deg)) ** 2


def _pair_curve_ok(pts: list[tuple[int, int, int]]) -> bool:
    """Small-sag quadratic residual gate over the combined pair points:
    exact-integer diameter direction + quantized projection, exact
    integer moment sums, one fixed Cramer solve in doubles."""
    n = len(pts)
    if n < 3:
        return True
    # canonical diameter pair: max d², tie-break lexicographic minimal
    best = None
    spts = sorted(pts)
    for i in range(n):
        for j in range(i + 1, n):
            p, q = spts[i], spts[j]
            d2 = (q[0] - p[0]) ** 2 + (q[1] - p[1]) ** 2
            key = (-d2, p[0], p[1], q[0], q[1])
            if best is None or key < best[0]:
                best = (key, p, q)
    _, p, q = best
    dx, dy = q[0] - p[0], q[1] - p[1]
    if dx < 0 or (dx == 0 and dy < 0):
        dx, dy = -dx, -dy
    t = [(pt[0] - p[0]) * dx + (pt[1] - p[1]) * dy for pt in pts]
    tmin = min(t)
    tq = [(ti - tmin) // TQ_DIV for ti in t]
    if min(tq) == max(tq):
        return True
    z = [pt[2] for pt in pts]
    s0 = n
    s1 = sum(tq)
    s2 = sum(v * v for v in tq)
    s3 = sum(v * v * v for v in tq)
    s4 = sum(v * v * v * v for v in tq)
    sz = sum(z)
    stz = sum(v * w for v, w in zip(tq, z))
    st2z = sum(v * v * w for v, w in zip(tq, z))
    szz = sum(w * w for w in z)
    S0, S1, S2, S3, S4 = float(s0), float(s1), float(s2), float(s3), float(s4)
    SZ, STZ, ST2Z, SZZ = float(sz), float(stz), float(st2z), float(szz)
    det = (S4 * (S2 * S0 - S1 * S1) - S3 * (S3 * S0 - S1 * S2)
           + S2 * (S3 * S1 - S2 * S2))
    if det == 0.0:
        return True
    c = (ST2Z * (S2 * S0 - S1 * S1) - S3 * (STZ * S0 - S1 * SZ)
         + S2 * (STZ * S1 - S2 * SZ)) / det
    b = (S4 * (STZ * S0 - S1 * SZ) - ST2Z * (S3 * S0 - S1 * S2)
         + S2 * (S3 * SZ - STZ * S2)) / det
    a = (S4 * (S2 * SZ - STZ * S1) - S3 * (S3 * SZ - STZ * S2)
         + ST2Z * (S3 * S1 - S2 * S2)) / det
    sse = SZZ - (c * ST2Z + b * STZ + a * SZ)
    return sse <= MERGE_MAX_RMSE_MM * MERGE_MAX_RMSE_MM * S0


def merge_cables_cc(clustered: DataFrame,
                    cluster_col: str = "cluster_id",
                    max_gap: float = 10.0) -> DataFrame:
    """(cluster_id, merged_id): the order-independent pairwise-CC merge,
    fully distributed (no all-points-in-one-task group):

    1. per-cluster geometry (principal direction + lex-extreme
       endpoints) as ONE distributed aggregation — moments are exact
       decimal(38,0) integer sums, matching the oracle's HUGEINT
       bit-for-bit after the single cast-to-double;
    2. candidate pairs from the package's cell-neighbourhood join
       (``neighbors.knn_candidates``) over the clusters' endpoints:
       integer mm are exact as doubles, so its ``dist_sq <= g²`` filter
       IS the integer endpoint-gap gate; the angle gate follows;
    3. the small-sag curve gate (``_pair_curve_ok``) per CANDIDATE PAIR
       as a grouped map over (ca, cb) — each task sees exactly two
       clusters' points, never the corpus (the exact-integer kernel is
       summation-order independent, so distribution order cannot change
       the verdict);
    4. CC over the passing pairs in one two-level pass
       (``components.pair_components``).

    ``max_gap`` is in metres and must round to at least 1 mm."""
    cos2 = _cos2(MERGE_MAX_ANGLE_DEG)
    g_mm = int(round(max_gap * 1000.0))
    if g_mm < 1:
        raise ValueError("max_gap must be at least 1 mm")

    def mm(c: str):
        return F.round(F.col(c) * 1000.0).cast("long")

    pts = clustered.select(
        F.col(cluster_col).alias("cid"),
        mm("x").alias("xm"), mm("y").alias("ym"), mm("z").alias("zm"),
    ).localCheckpoint(eager=True)
    mins = pts.groupBy("cid").agg(
        F.min("xm").alias("x0"), F.min("ym").alias("y0"),
        F.count("*").alias("n"),
    )
    dx = (F.col("xm") - F.col("x0")).cast("decimal(38,0)")
    dy = (F.col("ym") - F.col("y0")).cast("decimal(38,0)")
    moms = (
        pts.join(mins, "cid")
        .groupBy("cid", "n", "x0", "y0")
        .agg(
            F.sum(dx).alias("sx"), F.sum(dy).alias("sy"),
            F.sum(dx * dx).alias("sxx"), F.sum(dy * dy).alias("syy"),
            F.sum(dx * dy).alias("sxy"),
        )
    )
    nd = F.col("n").cast("decimal(38,0)")
    cxx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    cyy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cxy = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    cov = moms.select("cid", "x0", "y0", cxx.alias("cxx"),
                      cyy.alias("cyy"), cxy.alias("cxy"))
    lam = (
        (F.col("cxx") + F.col("cyy"))
        + F.sqrt(
            (F.col("cxx") - F.col("cyy")) * (F.col("cxx") - F.col("cyy"))
            + F.lit(4.0) * F.col("cxy") * F.col("cxy")
        )
    ) / F.lit(2.0)
    vx = F.when(F.col("cxy") == 0.0,
                F.when(F.col("cxx") >= F.col("cyy"), F.lit(1.0))
                .otherwise(F.lit(0.0))).otherwise(F.col("cxy"))
    vy = F.when(F.col("cxy") == 0.0,
                F.when(F.col("cxx") >= F.col("cyy"), F.lit(0.0))
                .otherwise(F.lit(1.0))).otherwise(lam - F.col("cxx"))
    dirs = cov.select("cid", "x0", "y0", vx.alias("vx"), vy.alias("vy"))
    t = (
        F.col("vx") * (F.col("xm") - F.col("x0")).cast("double")
        + F.col("vy") * (F.col("ym") - F.col("y0")).cast("double")
    )
    geom = (
        pts.join(dirs, "cid")
        .groupBy("cid")
        .agg(
            F.first("vx").alias("vx"), F.first("vy").alias("vy"),
            F.min(F.struct(t.alias("t"), F.col("xm"), F.col("ym")))
            .alias("emin"),
            F.max(F.struct(t.alias("t"), F.col("xm"), F.col("ym")))
            .alias("emax"),
        )
        .select(
            "cid", "vx", "vy",
            F.col("emin.xm").alias("axm"), F.col("emin.ym").alias("aym"),
            F.col("emax.xm").alias("bxm"), F.col("emax.ym").alias("bym"),
        )
        .localCheckpoint(eager=True)
    )
    ends = geom.select(
        "cid",
        F.explode(F.array(
            F.struct(F.col("axm").alias("x"), F.col("aym").alias("y")),
            F.struct(F.col("bxm").alias("x"), F.col("bym").alias("y")),
        )).alias("e"),
    ).select(
        "cid",
        F.col("e.x").cast("double").alias("x"),
        F.col("e.y").cast("double").alias("y"),
    )
    pair_ids = (
        knn_candidates(
            ends.withColumnRenamed("cid", "ca"),
            ends.withColumnRenamed("cid", "cb"),
            float(g_mm), probe_id="ca", build_id="cb", build_cols=(),
        )
        .filter(F.col("ca") < F.col("cb"))
        .select("ca", "cb")
        .distinct()
    )
    a = geom.select(F.col("cid").alias("ca"), F.col("vx").alias("ax"),
                    F.col("vy").alias("ay"))
    b = geom.select(F.col("cid").alias("cb"), F.col("vx").alias("bx"),
                    F.col("vy").alias("by"))
    ax, ay, bx, by = (F.col(c) for c in ("ax", "ay", "bx", "by"))
    dot = ax * bx + ay * by
    norms = (ax * ax + ay * ay) * (bx * bx + by * by)
    cand = (
        pair_ids.join(a, "ca").join(b, "cb")
        .filter(dot * dot >= F.lit(cos2) * norms)
        .select("ca", "cb")
    )
    pair_pts = (
        cand.select(
            "ca", "cb",
            F.explode(F.array(F.col("ca"), F.col("cb"))).alias("cid"),
        )
        .join(pts, "cid")
        .select("ca", "cb", "xm", "ym", "zm")
    )
    ok_schema = StructType(
        [
            StructField("ca", LongType()),
            StructField("cb", LongType()),
            StructField("ok", BooleanType()),
        ]
    )

    def curve_gate(pdf: pd.DataFrame) -> pd.DataFrame:
        combined = [
            (int(x), int(y), int(z))
            for x, y, z in zip(pdf["xm"], pdf["ym"], pdf["zm"])
        ]
        return pd.DataFrame(
            {
                "ca": [int(pdf["ca"].iloc[0])],
                "cb": [int(pdf["cb"].iloc[0])],
                "ok": [_pair_curve_ok(combined)],
            }
        )

    passing = (
        pair_pts.groupBy("ca", "cb")
        .applyInPandas(curve_gate, schema=ok_schema)
        .filter(F.col("ok"))
        .select(F.col("ca").alias("src"), F.col("cb").alias("dst"))
    )
    comp = pair_components(passing, geom.select(F.col("cid").alias("node")))
    return comp.select(
        F.col("node").alias("cluster_id"),
        F.col("component").alias("merged_id"),
    )
