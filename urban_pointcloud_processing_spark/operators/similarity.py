"""Similarity search over the embeddings table (array<float>, dim 64).

Training-data-pipeline extension of SURVEY.md §2 (the reference's
closest analog is its kNN machinery, src/upcp/utils/interpolation.py:
119-308 — re-expressed here in embedding space):

- brute-force cosine top-k (the exactness baseline),
- cosine near-dup pairs (threshold join),
- hyperplane-LSH-bucketed ANN (the 100 TB scale path: candidates come
  from band equi-joins on a 16-bit signature instead of a cross join).

All dot products fold strictly left-to-right in index order on both
engines (Spark ``aggregate(zip_with(...))`` vs DuckDB
``list_reduce(list_transform(...))``), and every input is cast to
double first — so cosines are bit-identical and the oracle can compare
values, not just row counts. The LSH variant is deterministic (fixed
integer hyperplanes), so its result set is oracle-reproducible too.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import HASH_MOD

HP_BITS = 16
HP_BANDS = 4
HP_ROWS = HP_BITS // HP_BANDS
# Integer hyperplane weights w(b,i) = ((A_b*(i+1) + B_b) % 1009) - 504:
# small ints, so w * float32-value products are exact in double.
HP_A = [(2654435761 * (b + 1) + 40503 * 5) % HASH_MOD or 1 for b in range(HP_BITS)]
HP_B = [(2654435761 * (b + 1) + 40503 * 6) % HASH_MOD or 1 for b in range(HP_BITS)]
HP_MOD = 1009
HP_SHIFT = HP_MOD // 2


def dot_udf():
    """Arrow pandas UDF computing the SAME left-to-right fold as the
    oracle's list_reduce (``dot_sql``): a sequential loop over the
    dimension index with each step vectorized across the batch — the
    accumulation order per row is identical, so results stay
    bit-identical while running ~50x faster than the interpreted
    Catalyst higher-order fold."""
    import numpy as np
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        am = np.stack(a.to_numpy()).astype(np.float64)
        bm = np.stack(b.to_numpy()).astype(np.float64)
        acc = np.zeros(len(am), dtype=np.float64)
        for i in range(am.shape[1]):  # index order == fold order
            acc = acc + am[:, i] * bm[:, i]
        return pd.Series(acc)

    return dot


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, (x, i) -> CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def _with_norm(emb: DataFrame) -> DataFrame:
    d = dot_udf()
    return emb.select(
        "vec_id", "embedding",
        F.sqrt(d(F.col("embedding"), F.col("embedding"))).alias("_norm"),
    )


def _cosine(pref_a: str, pref_b: str) -> Column:
    return F.round(
        dot_udf()(F.col(f"{pref_a}.embedding"), F.col(f"{pref_b}.embedding"))
        / (F.col(f"{pref_a}._norm") * F.col(f"{pref_b}._norm")),
        9,
    )


def _seq_dot_matrix(Q, V):
    """(nq, nv) dot-product matrix accumulated in DIMENSION ORDER —
    per-pair float accumulation identical to the oracle's
    list_reduce fold (and to dot_udf)."""
    import numpy as np

    acc = np.zeros((Q.shape[0], V.shape[0]), dtype=np.float64)
    for i in range(Q.shape[1]):
        acc = acc + Q[:, i : i + 1] * V[None, :, i]
    return acc


def _py_round9(m):
    """Decimal-style round-half-away at 9 dp matching Spark F.round /
    DuckDB round (np.round is half-even — differs at exact ties)."""
    import numpy as np

    return np.sign(m) * np.floor(np.abs(m) * 1e9 + 0.5) / 1e9


def cosine_topk(
    emb: DataFrame, k: int = 10, query_mod: int = 50
) -> DataFrame:
    """Brute-force exact top-k by cosine for query vectors
    (vec_id % query_mod == 0). The tiny query matrix is collected into
    the mapInPandas closure (a broadcast, not a join), so the corpus is
    scanned ONCE with no pair materialization: each Arrow batch emits
    only its per-query local top-k; a final window over nq×k rows per
    partition picks the global top-k. Deterministic (cosine desc,
    vec_id) order; dot folds in dimension order → bit-identical to the
    oracle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    qrows = sorted(
        emb.filter(F.col("vec_id") % query_mod == 0)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in qrows])
    qn = np.sqrt(_seq_dot_matrix(Q, Q).diagonal())

    out_schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("vec_id", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def gen(batches):
        for pdf in batches:
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vn = np.sqrt(_seq_dot_matrix(V, V).diagonal())
            cos = _py_round9(_seq_dot_matrix(Q, V) / (qn[:, None] * vn[None, :]))
            rows = {"query_id": [], "vec_id": [], "cosine": []}
            for qi in range(len(qids)):
                c = cos[qi].copy()
                c[vids == qids[qi]] = -np.inf  # exclude self
                # local top-k with (cosine desc, vec_id asc) tie-break
                order = np.lexsort((vids, -c))[:k]
                for j in order:
                    if np.isfinite(c[j]):
                        rows["query_id"].append(int(qids[qi]))
                        rows["vec_id"].append(int(vids[j]))
                        rows["cosine"].append(float(c[j]))
            yield pd.DataFrame(rows)

    cand = emb.select("vec_id", "embedding").mapInPandas(gen, schema=out_schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def cosine_topk_sql(k: int = 10, query_mod: int = 50) -> str:
    dot = dot_sql("q.embedding", "e.embedding")
    return f"""
WITH base AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, e.vec_id AS vec_id,
         round({dot} / (q.nrm * e.nrm), 9) AS cosine
  FROM base q JOIN base e ON e.vec_id != q.vec_id
  WHERE q.vec_id % {query_mod} = 0
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM pairs
) WHERE rank <= {k}
"""


def cosine_neardup(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """All (a < b) pairs with cosine ≥ threshold. Exact; at 100 TB this
    runs per-LSH-bucket — see ann_lsh_topk for the bucketed path."""
    base = _with_norm(emb)
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", _cosine("a", "b"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )


def cosine_neardup_sql(threshold: float = 0.9) -> str:
    dot = dot_sql("a.embedding", "b.embedding")
    return f"""
WITH base AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round({dot} / (a.nrm * b.nrm), 9) AS cosine
FROM base a JOIN base b ON a.vec_id < b.vec_id
WHERE round({dot} / (a.nrm * b.nrm), 9) >= {threshold}
"""


def _with_norm_sig(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, _norm, sig) in ONE mapInPandas pass — the
    chained dot-UDF + signature-UDF pair cost two Arrow round trips of
    the embedding column per row; fused they cost one (guide §4.1:
    control how many columns cross, and how often). Norm uses the
    dimension-order fold (== dot_udf); the signature reproduces
    hp_signature_udf's weight formula and fold order exactly."""
    import numpy as np
    import pandas as pd

    emb_t = dict(emb.dtypes)["embedding"]
    schema = f"vec_id long, embedding {emb_t}, _norm double, sig long"

    def gen(batches):
        w = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            dim = m.shape[1]
            if w is None or w.shape[1] != dim:
                w = np.empty((HP_BITS, dim), dtype=np.float64)
                for b in range(HP_BITS):
                    for i in range(dim):
                        w[b, i] = float(
                            (HP_A[b] * (i + 1) + HP_B[b]) % HP_MOD - HP_SHIFT
                        )
            nrm = _norms_np(m)
            sig = np.zeros(len(m), dtype=np.int64)
            for b in range(HP_BITS):
                acc = np.zeros(len(m), dtype=np.float64)
                for i in range(dim):  # index order == fold order
                    acc = acc + m[:, i] * w[b, i]
                sig |= (acc > 0).astype(np.int64) << b
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "embedding": pdf["embedding"],
                "_norm": nrm,
                "sig": sig,
            })

    return emb.select("vec_id", "embedding").mapInPandas(gen, schema)


def cosine_neardup_lsh(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """Scale path for near-dup pairs: candidates come from the
    hyperplane-LSH band equi-join (share ≥1 of 4 signature bands), then
    exact cosine verification — never a cross join. Sub-quadratic as
    long as band buckets stay bounded, the same shape as minhash_lsh.

    Recall vs the exact all-pairs variant: a pair at cosine ≥ 0.9
    (angle ≤ 25.8°) collides on one fixed 4-bit band with prob
    (1-θ/π)^4 ≈ 0.53, and ≥1 of 4 bands ≈ 0.95; candidates are
    deterministic (fixed integer hyperplanes) so the oracle reproduces
    the SAME candidate set and the result is value-exact."""
    # norms + signatures feed bands, both vector re-joins: one
    # materialization (row per vector) beats recomputing the UDF 3×;
    # fused norm+sig kernel = one Arrow pass (round 6)
    base = _with_norm_sig(emb).localCheckpoint(eager=True)
    band_w = HP_BITS // HP_BANDS
    bands = base.select(
        "vec_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("sig"), i * band_w)
                        .bitwiseAND(F.lit((1 << band_w) - 1))
                        .alias("val"),
                    )
                    for i in range(HP_BANDS)
                ]
            )
        ).alias("bv"),
    ).select(
        "vec_id", "sig",
        F.col("bv.band").alias("band"), F.col("bv.val").alias("val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    # a pair colliding on several bands would be emitted once per band;
    # keep it only at its FIRST matching band (computable from the two
    # signatures) instead of a distinct over the duplicated pairs —
    # same dedup, one exchange fewer (the simhash_neardup idiom).
    # Carrying sig costs 8 bytes per band row.
    def _band_val(col, i):
        return F.shiftright(col, i * band_w).bitwiseAND(
            F.lit((1 << band_w) - 1)
        )

    first_eq = F.lit(HP_BANDS)
    for i in reversed(range(HP_BANDS)):
        first_eq = F.when(
            _band_val(F.col("a.sig"), i) == _band_val(F.col("b.sig"), i),
            F.lit(i),
        ).otherwise(first_eq)
    cand = (
        a.join(b, ["band", "val"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(first_eq == F.col("band"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
    )
    va = base.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("_norm").alias("norm_a"),
    )
    vb = base.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("_norm").alias("norm_b"),
    )
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .withColumn(
            "cosine",
            F.round(
                dot_udf()(F.col("emb_a"), F.col("emb_b"))
                / (F.col("norm_a") * F.col("norm_b")),
                9,
            ),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("vec_a", "vec_b", "cosine")
    )


def cosine_neardup_lsh_sql(threshold: float = 0.9) -> str:
    band_w = HP_BITS // HP_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {i} AS band, "
        f"(sig >> {i * band_w}) & {(1 << band_w) - 1} AS val FROM sigs"
        for i in range(HP_BANDS)
    )
    dot = dot_sql("va.embedding", "vb.embedding")
    return f"""
WITH base AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
),
sigs AS (
  SELECT vec_id, {hp_signature_sql('embedding')} AS sig FROM base
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.val = b.val AND a.vec_id < b.vec_id
)
SELECT c.vec_a, c.vec_b,
       round({dot} / (va.nrm * vb.nrm), 9) AS cosine
FROM cand c
JOIN base va ON va.vec_id = c.vec_a
JOIN base vb ON vb.vec_id = c.vec_b
WHERE round({dot} / (va.nrm * vb.nrm), 9) >= {threshold}
"""


# ----------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path (north-star: "IVF or
# LSH-bucketed variant"). Coarse centroids are picked deterministically
# (vec_id % centroid_mod == 0 — k-means at iteration 0 with a fixed
# seed set), so BOTH engines reproduce the identical partition and the
# query is value-exact, while each query probes only nprobe inverted
# lists (~nprobe/C of the corpus) instead of scanning everything.
# ----------------------------------------------------------------------


def _norms_np(M):
    import numpy as np

    return np.sqrt(_seq_dot_matrix(M, M).diagonal())


def _ivf_score_fused(emb: DataFrame, cent_ids, C, qids, Q, nprobe: int,
                     k: int) -> DataFrame:
    """Assignment + probe-list scoring fused into ONE map-only kernel
    (the cosine_topk shape): per batch, vectors assign to their nearest
    centroid and every query whose nprobe probe set contains that
    centroid scores the vector — candidate (query, vec, cosine) rows
    stream straight into the final per-query top-k window. Removes the
    assigned-table materialization, the probes broadcast join and the
    per-pair dot UDF stage. All doubles identical to the join-based
    plan: probe sets use the same (round9-cosine desc, cent_id asc)
    order; pair cosines use the dimension-order fold and round9."""
    import numpy as np
    import pandas as pd

    cn = _norms_np(C)
    qn = _norms_np(Q)
    qcos = _py_round9(_seq_dot_matrix(Q, C) / (qn[:, None] * cn[None, :]))
    # per query: the nprobe probed centroid COLUMN indexes
    probe_cols = [
        np.lexsort((cent_ids, -qcos[qi]))[:nprobe]
        for qi in range(len(qids))
    ]

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vn = _norms_np(V)
            ccos = _py_round9(
                _seq_dot_matrix(V, C) / (vn[:, None] * cn[None, :])
            )
            best = np.argmax(ccos, axis=1)
            pair = _py_round9(
                _seq_dot_matrix(Q, V) / (qn[:, None] * vn[None, :])
            )
            rows = {"query_id": [], "vec_id": [], "cosine": []}
            for qi in range(len(qids)):
                sel = np.isin(best, probe_cols[qi]) & (vids != qids[qi])
                for j in np.nonzero(sel)[0]:
                    rows["query_id"].append(int(qids[qi]))
                    rows["vec_id"].append(int(vids[j]))
                    rows["cosine"].append(float(pair[qi, j]))
            yield pd.DataFrame(rows)

    cand = emb.select("vec_id", "embedding").mapInPandas(
        gen, "query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 10,
    query_mod: int = 50,
    centroid_mod: int = 20,
    nprobe: int = 3,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors assign to their nearest coarse
    centroid (deterministic (cosine desc, centroid_id) argmax); each
    query searches the union of its nprobe nearest centroids' lists
    with exact cosines. Round 6: the bounded centroid/query matrices
    collect ONCE to the driver; assignment is a map-only NumPy kernel
    and probe selection runs on the driver — one collect job replaces
    two eager checkpoints, two crossJoins and two windows, with
    bit-identical arithmetic throughout (see _ivf_score_fused)."""
    import numpy as np

    rows = sorted(
        emb.filter(
            (F.col("vec_id") % centroid_mod == 0)
            | (F.col("vec_id") % query_mod == 0)
        ).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    cmask, qmask = ids % centroid_mod == 0, ids % query_mod == 0
    cent_ids, C = ids[cmask], M[cmask]
    qids, Q = ids[qmask], M[qmask]
    return _ivf_score_fused(emb, cent_ids, C, qids, Q, nprobe, k)


def ivf_topk_sql(
    k: int = 10, query_mod: int = 50, centroid_mod: int = 20, nprobe: int = 3
) -> str:
    dotc = dot_sql("e.embedding", "c.embedding")
    dotq = dot_sql("q.embedding", "c.embedding")
    dote = dot_sql("q.embedding", "e.embedding")
    return f"""
WITH base AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
),
cents AS (SELECT vec_id AS cent_id, embedding, nrm FROM base
          WHERE vec_id % {centroid_mod} = 0),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({dotc} / (e.nrm * c.nrm), 9) DESC, c.cent_id
           ) AS rn
    FROM base e CROSS JOIN cents c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, cent_id FROM (
    SELECT q.vec_id AS query_id, c.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({dotq} / (q.nrm * c.nrm), 9) DESC, c.cent_id
           ) AS rn
    FROM base q CROSS JOIN cents c
    WHERE q.vec_id % {query_mod} = 0
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({dote} / (q.nrm * e.nrm), 9) AS cosine
  FROM probes p
  JOIN assigned a ON a.cent_id = p.cent_id
  JOIN base q ON q.vec_id = p.query_id
  JOIN base e ON e.vec_id = a.vec_id
  WHERE a.vec_id != p.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


# ----------------------------------------------------------------------
# IVF with TRAINED centroids (VERDICT r02 item 8): deterministic Lloyd
# k-means — modulo-sampled seeds, a fixed number of iterations, and
# µ-quantized integer component sums in the update step so the
# accumulation is order-independent and the whole training loop is
# value-exact vs the unrolled SQL oracle. On clustered data the trained
# coarse quantizer recovers the true cell structure that the raw modulo
# sample misses (recall measured in `bench.py --ivfrecall`). At 100 TB
# Lloyd trains on a deterministic modulo SAMPLE (train_mod) so the
# per-iteration cost is sample × broadcast-centroids, not corpus-sized;
# the full corpus is assigned once to the trained centroids afterwards.
# The oracle mirrors the identical sample predicate, keeping the whole
# loop value-exact.
# ----------------------------------------------------------------------

_KM_Q = 1048576.0  # 2^20 — component quantum for exact integer sums


def ivf_kmeans_topk(
    emb: DataFrame,
    k: int = 10,
    query_mod: int = 50,
    centroid_mod: int = 20,
    nprobe: int = 3,
    iters: int = 2,
    train_mod: int = 1,
) -> DataFrame:
    """IVF ANN top-k over TRAINED coarse centroids: modulo-sampled
    seeds, `iters` deterministic Lloyd iterations (exact integer-sum
    updates), then the same probe/top-k machinery as ivf_topk. Empty
    clusters drop out of the update (inner-join semantics on both
    engines).

    ``train_mod``: Lloyd TRAINS on the deterministic sample
    ``vec_id % train_mod == 0`` only (VERDICT r03 item 4 — at 100 TB a
    full-corpus update per iteration is the one linear-×-iterations
    cost in the ANN family; a sample recovers the same coarse
    structure). The FULL corpus is still assigned to the trained
    centroids afterwards, so the inverted lists cover every vector.
    The oracle mirrors the same sample predicate. Default 1 = train on
    everything (previous behavior).

    Round 6 shape: each Lloyd iteration is ONE job — a map-only kernel
    assigns the train sample against the in-closure centroid matrix
    and emits per-task (cent_id, n, Σ µ-quantized components) partials
    (≤ n_cents rows per task); the bounded partials merge on the
    driver with exact integer sums. Replaces per-iteration
    crossJoin + window + double posexplode aggregation + eager
    checkpoint. Arithmetic is bit-identical: same µ-quantization
    (half-away round), same Σ/n/Q double division, same dimension-order
    norm fold, same (cosine desc, cent_id) assignment tie-break."""
    import numpy as np
    import pandas as pd

    qrows = sorted(
        emb.filter(
            (F.col("vec_id") % centroid_mod == 0)
            | (F.col("vec_id") % query_mod == 0)
        ).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    M = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in qrows])
    cent_ids, C = ids[ids % centroid_mod == 0], M[ids % centroid_mod == 0]
    qids, Q = ids[ids % query_mod == 0], M[ids % query_mod == 0]

    train = (
        emb if train_mod <= 1
        else emb.filter(F.col("vec_id") % train_mod == 0)
    )

    def _half_away(x):
        return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)

    for _ in range(iters):
        cn = _norms_np(C)
        c_ids_iter, C_iter = cent_ids, C

        def partials(batches, c_ids=c_ids_iter, Cm=C_iter, cnv=cn):
            acc_n: dict[int, int] = {}
            acc_s: dict[int, object] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack([
                    np.asarray(v, dtype=np.float64)
                    for v in pdf["embedding"]
                ])
                vn = _norms_np(V)
                cos = _py_round9(
                    _seq_dot_matrix(V, Cm) / (vn[:, None] * cnv[None, :])
                )
                best = np.argmax(cos, axis=1)
                mq = _half_away(V * _KM_Q)
                for ci in np.unique(best):
                    key = int(c_ids[ci])
                    sel = mq[best == ci]
                    acc_n[key] = acc_n.get(key, 0) + sel.shape[0]
                    s = sel.sum(axis=0)
                    acc_s[key] = s if key not in acc_s else acc_s[key] + s
            if acc_n:
                yield pd.DataFrame({
                    "cent_id": list(acc_n),
                    "n": [acc_n[k2] for k2 in acc_n],
                    "s": [acc_s[k2].tolist() for k2 in acc_n],
                })

        pr = train.select("vec_id", "embedding").mapInPandas(
            partials, "cent_id long, n long, s array<long>"
        ).collect()
        agg_n: dict[int, int] = {}
        agg_s: dict[int, list] = {}
        for r in pr:
            agg_n[r["cent_id"]] = agg_n.get(r["cent_id"], 0) + r["n"]
            if r["cent_id"] in agg_s:
                agg_s[r["cent_id"]] = [
                    a + b for a, b in zip(agg_s[r["cent_id"]], r["s"])
                ]
            else:
                agg_s[r["cent_id"]] = list(r["s"])
        new_ids = sorted(agg_n)  # empty clusters drop (inner-join parity)
        cent_ids = np.array(new_ids, dtype=np.int64)
        C = np.array([
            [
                (float(s) / float(agg_n[cid])) / _KM_Q
                for s in agg_s[cid]
            ]
            for cid in new_ids
        ], dtype=np.float64)

    return _ivf_score_fused(emb, cent_ids, C, qids, Q, nprobe, k)


def ivf_kmeans_topk_sql(
    k: int = 10, query_mod: int = 50, centroid_mod: int = 20,
    nprobe: int = 3, iters: int = 2, train_mod: int = 1,
) -> str:
    """Unrolled Lloyd iterations mirroring ivf_kmeans_topk op-for-op:
    assignment = round-9 cosine argmax vs the current centroids; update
    = µ-quantized integer per-dimension means re-assembled in pos
    order. Lloyd trains on the ``vec_id % train_mod = 0`` sample only
    (mirrors the engine's sampled-training scale path)."""
    dotc = dot_sql("e.embedding", "c.c_emb")
    stages = ["""
cents0 AS (
  SELECT vec_id AS cent_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c_emb,
         nrm AS c_norm
  FROM base WHERE vec_id % {cm} = 0
)""".format(cm=centroid_mod)]
    for t in range(iters):
        stages.append(f"""
asg{t} AS (
  SELECT vec_id, embedding, cent_id FROM (
    SELECT e.vec_id, e.embedding, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({dotc} / (e.nrm * c.c_norm), 9) DESC, c.cent_id
           ) AS rn
    FROM base e CROSS JOIN cents{t} c
    WHERE e.vec_id % {train_mod} = 0
  ) WHERE rn = 1
),
dim{t} AS (
  SELECT cent_id, s.pos AS pos,
         (CAST(SUM(CAST(round(s.val * {_KM_Q}) AS BIGINT)) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE)) / {_KM_Q} AS m
  FROM asg{t} a, UNNEST(list_transform(a.embedding,
       (x, i) -> struct_pack(pos := i, val := CAST(x AS DOUBLE)))) AS u(s)
  GROUP BY cent_id, s.pos
),
cents{t + 1} AS (
  SELECT cent_id, c_emb, {norm_sql('c_emb')} AS c_norm FROM (
    SELECT cent_id,
           list_transform(list(struct_pack(pos := pos, m := m)
                               ORDER BY pos), r -> r.m) AS c_emb
    FROM dim{t} GROUP BY cent_id
  )
)""")
    fin = f"cents{iters}"
    dq = dot_sql("q.embedding", "c.c_emb")
    de = dot_sql("q.embedding", "e.embedding")
    return f"""
WITH base AS MATERIALIZED (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
),
{','.join(stages)},
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round({dotc} / (e.nrm * c.c_norm), 9) DESC, c.cent_id
           ) AS rn
    FROM base e CROSS JOIN {fin} c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, cent_id FROM (
    SELECT q.vec_id AS query_id, c.cent_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round({dq} / (q.nrm * c.c_norm), 9) DESC, c.cent_id
           ) AS rn
    FROM base q CROSS JOIN {fin} c
    WHERE q.vec_id % {query_mod} = 0
  ) WHERE rn <= {nprobe}
),
scored AS (
  SELECT p.query_id, a.vec_id,
         round({de} / (q.nrm * e.nrm), 9) AS cosine
  FROM probes p
  JOIN assigned a ON a.cent_id = p.cent_id
  JOIN base q ON q.vec_id = p.query_id
  JOIN base e ON e.vec_id = a.vec_id
  WHERE a.vec_id != p.query_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


# ----------------------------------------------------------------------
# Hyperplane LSH — the ANN scale path
# ----------------------------------------------------------------------

def hp_signature_udf():
    """16-bit hyperplane sign signature as a long. Per bit, the
    projection folds over the dimension index sequentially (each step
    vectorized across the Arrow batch) with integer weights
    ((HP_A*(i+1) + HP_B) mod HP_MOD − HP_SHIFT, i 0-based) — signatures
    are bit-identical to the oracle SQL."""
    import numpy as np
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def sig(emb: pd.Series) -> pd.Series:
        m = np.stack(emb.to_numpy()).astype(np.float64)
        dim = m.shape[1]
        w = np.empty((HP_BITS, dim), dtype=np.float64)
        for b in range(HP_BITS):
            for i in range(dim):
                w[b, i] = float((HP_A[b] * (i + 1) + HP_B[b]) % HP_MOD - HP_SHIFT)
        out = np.zeros(len(m), dtype=np.int64)
        for b in range(HP_BITS):
            acc = np.zeros(len(m), dtype=np.float64)
            for i in range(dim):  # index order == fold order
                acc = acc + m[:, i] * w[b, i]
            out |= (acc > 0).astype(np.int64) << b
        return pd.Series(out)

    return sig


def hp_signature_sql(emb: str) -> str:
    parts = []
    for b in range(HP_BITS):
        w = f"CAST((({HP_A[b]} * i + {HP_B[b]}) % {HP_MOD}) - {HP_SHIFT} AS DOUBLE)"
        proj = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform({emb}, (x, i) -> CAST(x AS DOUBLE) * {w})), "
            f"(acc, v) -> acc + v)"
        )
        parts.append(f"CASE WHEN {proj} > 0 THEN {1 << b} ELSE 0 END")
    return "CAST(" + " + ".join(parts) + " AS BIGINT)"


def ann_lsh_topk(
    emb: DataFrame, k: int = 10, query_mod: int = 50
) -> DataFrame:
    """LSH-bucketed ANN top-k: candidates share ≥1 of 4 signature
    bands. Deterministic hyperplanes → oracle-reproducible.

    Round 6 shape: the corpus was already fully scanned just to
    compute signatures, so for the BOUNDED query set the band check
    runs inside the same Arrow pass — per batch, each vector's bands
    compare against the collected query signatures (a few integer ops
    per (query, vector)), exact cosines are computed ONLY for the
    band-colliding survivors, and candidate rows stream into the final
    per-query top-k window. The old plan's band explode (4× rows),
    band equi-join shuffle, pair distinct, and two embedding re-attach
    joins all disappear; candidate set and cosines are identical (same
    band decomposition, same dimension-order fold, same round9). Scale
    note: work is O(corpus × n_queries) integer band compares + the
    same colliding-pair cosines as before — still never a cross-join
    of the corpus against itself, and now with zero shuffle before the
    nq×k-row top-k."""
    import numpy as np
    import pandas as pd

    band_w = HP_BITS // HP_BANDS
    qrows = sorted(
        emb.filter(F.col("vec_id") % query_mod == 0)
        .select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.stack([np.asarray(r["embedding"], dtype=np.float64)
                  for r in qrows])
    qn = _norms_np(Q)
    # query signatures via the same weight formula / fold order
    dim = Q.shape[1]
    w_mat = np.empty((HP_BITS, dim), dtype=np.float64)
    for b in range(HP_BITS):
        for i in range(dim):
            w_mat[b, i] = float(
                (HP_A[b] * (i + 1) + HP_B[b]) % HP_MOD - HP_SHIFT
            )

    def _sigs(M):
        sig = np.zeros(len(M), dtype=np.int64)
        for b in range(HP_BITS):
            acc = np.zeros(len(M), dtype=np.float64)
            for i in range(dim):  # index order == fold order
                acc = acc + M[:, i] * w_mat[b, i]
            sig |= (acc > 0).astype(np.int64) << b
        return sig

    qsig = _sigs(Q)
    mask_val = (1 << band_w) - 1
    qbands = np.stack(
        [(qsig >> (i * band_w)) & mask_val for i in range(HP_BANDS)]
    )  # (HP_BANDS, nq)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vn = _norms_np(V)
            vsig = _sigs(V)
            vbands = np.stack(
                [(vsig >> (i * band_w)) & mask_val
                 for i in range(HP_BANDS)]
            )  # (HP_BANDS, nv)
            rows = {"query_id": [], "vec_id": [], "cosine": []}
            for qi in range(len(qids)):
                match = np.zeros(len(vids), dtype=bool)
                for i in range(HP_BANDS):
                    match |= vbands[i] == qbands[i, qi]
                match &= vids != qids[qi]
                sel = np.nonzero(match)[0]
                if sel.size == 0:
                    continue
                cos = _py_round9(
                    _seq_dot_matrix(Q[qi:qi + 1], V[sel])[0]
                    / (qn[qi] * vn[sel])
                )
                rows["query_id"].extend([int(qids[qi])] * sel.size)
                rows["vec_id"].extend(int(v) for v in vids[sel])
                rows["cosine"].extend(float(c) for c in cos)
            if rows["query_id"]:
                yield pd.DataFrame(rows)

    cand = emb.select("vec_id", "embedding").mapInPandas(
        gen, "query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def ann_lsh_topk_sql(k: int = 10, query_mod: int = 50) -> str:
    band_w = HP_BITS // HP_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT vec_id, {i} AS band, "
        f"(sig >> {i * band_w}) & {(1 << band_w) - 1} AS val FROM sigs"
        for i in range(HP_BANDS)
    )
    dot = dot_sql("q.embedding", "e.embedding")
    return f"""
WITH base AS (
  SELECT vec_id, embedding, {norm_sql('embedding')} AS nrm FROM embeddings
),
sigs AS (
  SELECT vec_id, {hp_signature_sql('embedding')} AS sig FROM base
),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT qb.vec_id AS query_id, eb.vec_id AS vec_id
  FROM bands qb JOIN bands eb
    ON qb.band = eb.band AND qb.val = eb.val AND eb.vec_id != qb.vec_id
  WHERE qb.vec_id % {query_mod} = 0
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round({dot} / (q.nrm * e.nrm), 9) AS cosine
  FROM cand c
  JOIN base q ON q.vec_id = c.query_id
  JOIN base e ON e.vec_id = c.vec_id
)
SELECT query_id, vec_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""
