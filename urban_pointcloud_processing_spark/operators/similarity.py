"""Similarity search over the embeddings table (array<float>, dim 64).

Training-data-pipeline extension of SURVEY.md §2: the reference's kNN
machinery (src/upcp/utils/interpolation.py:119-308) re-expressed in
embedding space.

One top-k kernel serves the four search queries. They differ only in
which (query, vector) pairs they score:

- ``cosine_topk``: every pair (the exactness baseline);
- ``ivf_topk`` and ``ivf_kmeans_topk``: the vectors whose nearest
  centroid is among the query's ``nprobe`` nearest (modulo-picked or
  Lloyd-trained centroids);
- ``ann_lsh_topk``: the vectors that share ≥1 of 4 hyperplane-signature
  bands with the query.

Each shared piece exists once:

- ``_collect``: the one driver collect of the query and centroid rows;
- ``_decode``: an embedding batch as a float64 ``(n, dim)`` matrix;
- ``_fold``: the dimension-order dot fold behind every norm, pair dot
  and hyperplane projection;
- ``_cosines`` and ``_rank_key``: round-9 cosines (NULL when a norm is
  zero, the oracle's ``x / 0``) and the one ranking rule — cosine
  descending, NULL after every finite value, ties to the lower id — for
  the top-k, the centroid argmax and the probe order;
- ``_signatures``: the hyperplane weight matrix and signature fold;
- ``_topk``: one ``mapInPandas`` pass. Per Arrow batch the family's
  candidate mask picks the pairs and self pairs drop; cosines are
  computed for the masked pairs only; each query keeps its local top-k
  and one ``row_number`` window ranks what the batches emit. The local
  top-k is exact because vec_ids are distinct, so the order has no
  ties.

The pair queries (``cosine_neardup``, ``cosine_neardup_lsh``) stay
joins verified by one pair-cosine Column; the LSH variant's candidates
come from ``dedup.first_band_pairs``, the band self-join it shares
with MinHash LSH.

Exactness: every dot product folds left to right in index order on
both engines (NumPy here, ``list_reduce(list_transform(...))`` in the
DuckDB oracle) after a cast to double, so cosines are bit-identical
and the oracle compares values, not just row counts. The hyperplanes
are fixed integers, so LSH candidate sets are oracle-reproducible too.
"""

from __future__ import annotations

import functools
import operator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import HASH_MOD
from .dedup import first_band_pairs

HP_BITS = 16
HP_BANDS = 4
HP_ROWS = HP_BITS // HP_BANDS
# Integer hyperplane weights w(b,i) = ((A_b*(i+1) + B_b) % 1009) - 504:
# small ints, so w * float32-value products are exact in double.
HP_A = [(2654435761 * (b + 1) + 40503 * 5) % HASH_MOD or 1 for b in range(HP_BITS)]
HP_B = [(2654435761 * (b + 1) + 40503 * 6) % HASH_MOD or 1 for b in range(HP_BITS)]
HP_MOD = 1009
HP_SHIFT = HP_MOD // 2

# (query, vector) cells a top-k block scores at once: bounds the pair
# index and cosine arrays at any batch size.
_PAIR_BLOCK = 1 << 18


# ----------------------------------------------------------------------
# The shared NumPy pieces
# ----------------------------------------------------------------------

def _decode(values) -> np.ndarray:
    """An embedding column (Arrow batch or collected rows) as a float64
    ``(n, dim)`` matrix; float32 → float64 is exact."""
    return np.array(list(values), dtype=np.float64)


def _fold(A: np.ndarray, B: np.ndarray, ia=slice(None), ib=slice(None)):
    """Dot products over the last axis, folded in dimension order:
    ``((0 + a0*b0) + a1*b1) + …`` — the oracle's ``list_reduce`` order,
    so every value is bit-identical across engines. Leading axes
    broadcast: row against row gives row dots, ``A[:, None]`` against
    ``B[None]`` a dense ``(len(A), len(B))`` block. Index arrays
    ``ia``/``ib`` fold the pairs ``(A[ia[j]], B[ib[j]])`` instead,
    gathering one dimension per step, never whole rows."""
    acc = 0.0
    for i in range(A.shape[-1]):  # index order == fold order
        acc = acc + A[..., i][ia] * B[..., i][ib]
    return acc


def _norms(M: np.ndarray) -> np.ndarray:
    return np.sqrt(_fold(M, M))


def _py_round9(m):
    """Decimal-style round-half-away at 9 dp matching Spark F.round /
    DuckDB round (np.round is half-even — differs at exact ties)."""
    return np.sign(m) * np.floor(np.abs(m) * 1e9 + 0.5) / 1e9


def _cosines(A, B, an, bn, ia=slice(None), ib=slice(None)) -> np.ndarray:
    """``round(dot / (|a| |b|), 9)`` over ``_fold``'s rows or pairs; NaN
    (emitted as NULL) where a norm is zero, like the oracle's ``x / 0``."""
    den = an[ia] * bn[ib]
    with np.errstate(divide="ignore", invalid="ignore"):
        return _py_round9(np.where(den == 0, np.nan, _fold(A, B, ia, ib) / den))


def _rank_key(cos: np.ndarray) -> np.ndarray:
    """The one ranking rule as a sort key: cosine descending with NULL
    (NaN) after every finite value. Ties go to the lower id: centroid
    columns are id-sorted and read with a first-max argmax or a stable
    sort; the top-k sorts on vec_id explicitly."""
    return np.where(np.isnan(cos), -np.inf, cos)


def _nearest(V, vn, C, cn) -> np.ndarray:
    """Each row's nearest centroid column under the ranking rule."""
    cos = _cosines(V[:, None], C[None], vn[:, None], cn[None])
    return np.argmax(_rank_key(cos), axis=1)


def _signatures(M: np.ndarray) -> np.ndarray:
    """HP_BITS-bit hyperplane sign signatures: bit b is set when the
    dimension-order projection on hyperplane b (the integer weights
    above, as doubles) is positive."""
    i = np.arange(1, M.shape[1] + 1, dtype=np.int64)
    w = (
        np.array(HP_A, dtype=np.int64)[:, None] * i
        + np.array(HP_B, dtype=np.int64)[:, None]
    ) % HP_MOD - HP_SHIFT
    proj = _fold(M[:, None], w.astype(np.float64)[None])
    return ((proj > 0).astype(np.int64) << np.arange(HP_BITS)).sum(axis=1)


def _bands(sig: np.ndarray) -> np.ndarray:
    """(n, HP_BANDS) band values, HP_ROWS signature bits each."""
    return (sig[:, None] >> (np.arange(HP_BANDS) * HP_ROWS)) & (
        (1 << HP_ROWS) - 1
    )


def _collect(emb: DataFrame, *mods: int) -> list:
    """The one driver collect of the search family: for each modulus
    ``m`` in ``mods``, the rows with ``vec_id % m == 0`` as (ids,
    float64 matrix), sorted by vec_id — all from one job.

    Precondition: these sets are bounded. About n/query_mod +
    n/centroid_mod rows come to the driver, and the matrices built from
    them ship in every task closure. An empty set decodes to shape
    (0,); the searches answer it with ``_no_hits``, as the oracle's
    join does. A corpus whose query or centroid set outgrows the
    driver needs the distributed fallback of ROADMAP open item 4
    (``bounded_collect``), which belongs here."""
    keep = functools.reduce(
        operator.or_, [F.col("vec_id") % m == 0 for m in mods]
    )
    rows = sorted(
        emb.filter(keep).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    M = _decode(r["embedding"] for r in rows)
    return [(ids[ids % m == 0], M[ids % m == 0]) for m in mods]


def _no_hits(emb: DataFrame) -> DataFrame:
    """The empty top-k, for a search with no query or no centroid rows
    (the oracle's join then has no pairs)."""
    return emb.sparkSession.createDataFrame(
        [], "query_id long, vec_id long, cosine double, rank int"
    )


def _topk(emb: DataFrame, qids, Q, k: int, candidates) -> DataFrame:
    """The one embedding top-k: (query_id, vec_id, cosine, rank) for
    the query rows ``qids``/``Q``.

    ``candidates(V, vn)`` is the family's ``(n_queries, n_batch)`` mask
    of the pairs to score in an Arrow batch (rows ``V``, norms ``vn``).
    The corpus is scanned once with no pair materialisation: per batch,
    self pairs drop, the masked pairs get their cosines in query blocks
    of about ``_PAIR_BLOCK`` cells, and each query keeps its local
    top-k by (cosine desc, NULL last, vec_id); one window over the
    emitted rows picks the global top-k."""
    qn = _norms(Q)

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = _decode(pdf["embedding"])
            vids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vn = _norms(V)
            mask = candidates(V, vn) & (qids[:, None] != vids[None, :])
            step = max(1, _PAIR_BLOCK // len(vids))
            for lo in range(0, len(qids), step):
                qi, vj = np.nonzero(mask[lo:lo + step])
                if qi.size == 0:
                    continue
                qi += lo
                cos = _cosines(Q, V, qn, vn, qi, vj)
                order = np.lexsort((vids[vj], -_rank_key(cos), qi))
                qi, vj, cos = qi[order], vj[order], cos[order]
                # position within the query's run; runs start at the
                # first index of each query id
                keep = np.arange(qi.size) - np.searchsorted(qi, qi) < k
                yield pd.DataFrame({
                    "query_id": qids[qi[keep]],
                    "vec_id": vids[vj[keep]],
                    "cosine": cos[keep],
                })

    cand = emb.select("vec_id", "embedding").mapInPandas(
        kernel, "query_id long, vec_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine", "rank")
    )


# ----------------------------------------------------------------------
# Spark-side pieces: the dot UDF, signatures and pair cosines
# ----------------------------------------------------------------------

def dot_udf():
    """Arrow pandas UDF of row-pair dot products: ``_fold``, the same
    left-to-right fold as the oracle's ``dot_sql``, each step vectorised
    across the batch (~50x faster than the interpreted Catalyst
    higher-order fold, bit-identical results)."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(_fold(_decode(a), _decode(b)))

    return dot


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({a}, (x, i) -> CAST(x AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def norm_sql(a: str) -> str:
    return f"sqrt({dot_sql(a, a)})"


def hp_signature_udf():
    """``_signatures`` as a pandas UDF returning the signature as a
    long. The engine computes signatures inside its own kernels; this
    wrapper stays for ``bench.py``'s LSH probe."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def sig(emb: pd.Series) -> pd.Series:
        return pd.Series(_signatures(_decode(emb)))

    return sig


def _pair_cosine(ea: Column, eb: Column, na: Column, nb: Column) -> Column:
    """Row-pair cosine ``round(dot / (na * nb), 9)``; NULL when a norm
    is zero (the oracle's ``x / 0``; ANSI ``/`` would raise)."""
    return F.round(F.try_divide(dot_udf()(ea, eb), na * nb), 9)


def _with_norm_sig(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, _norm, sig) in ONE mapInPandas pass: the
    embedding column crosses the Arrow boundary once for both the norm
    and the signature."""
    emb_t = dict(emb.dtypes)["embedding"]

    def kernel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = _decode(pdf["embedding"])
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(),
                "embedding": pdf["embedding"],
                "_norm": _norms(m),
                "sig": _signatures(m),
            })

    return emb.select("vec_id", "embedding").mapInPandas(
        kernel, f"vec_id long, embedding {emb_t}, _norm double, sig long"
    )


def cosine_topk(
    emb: DataFrame, k: int = 10, query_mod: int = 50
) -> DataFrame:
    """Brute-force exact top-k by cosine for the query vectors
    (vec_id % query_mod == 0): every (query, vector) pair is a
    candidate."""
    ((qids, Q),) = _collect(emb, query_mod)
    return _topk(
        emb, qids, Q, k, lambda V, vn: np.ones((len(qids), len(V)), bool)
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
    runs per-LSH-bucket — see cosine_neardup_lsh for the bucketed path."""
    base = _with_norm_sig(emb)
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .withColumn("cosine", _pair_cosine(
            F.col("a.embedding"), F.col("b.embedding"),
            F.col("a._norm"), F.col("b._norm"),
        ))
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
    # norms and signatures feed the bands and both vector re-joins: one
    # materialisation (row per vector) beats recomputing the kernel 3×
    base = _with_norm_sig(emb).localCheckpoint(eager=True)
    mask = F.lit((1 << HP_ROWS) - 1)
    cand = first_band_pairs(
        base, "vec_id",
        [F.shiftright("sig", i * HP_ROWS).bitwiseAND(mask)
         for i in range(HP_BANDS)],
        ("vec_a", "vec_b"),
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
        .withColumn("cosine", _pair_cosine(
            F.col("emb_a"), F.col("emb_b"), F.col("norm_a"), F.col("norm_b"),
        ))
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


def _ivf_topk(emb: DataFrame, qids, Q, C, nprobe: int, k: int) -> DataFrame:
    """IVF candidates over the id-sorted centroid rows ``C``: a vector
    is scored for a query when its nearest centroid is among the
    query's ``nprobe`` nearest, both under the ranking rule. The probe
    lists are picked on the driver; the assignment runs per batch
    inside the top-k kernel, so no assigned table is materialised."""
    if not (len(qids) and len(C)):
        return _no_hits(emb)
    cn = _norms(C)
    qc = _cosines(Q[:, None], C[None], _norms(Q)[:, None], cn[None])
    probes = np.argsort(-_rank_key(qc), axis=1, kind="stable")[:, :nprobe]
    probed = np.zeros(qc.shape, dtype=bool)
    np.put_along_axis(probed, probes, True, axis=1)
    return _topk(
        emb, qids, Q, k, lambda V, vn: probed[:, _nearest(V, vn, C, cn)]
    )


def ivf_topk(
    emb: DataFrame,
    k: int = 10,
    query_mod: int = 50,
    centroid_mod: int = 20,
    nprobe: int = 3,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors assign to their nearest coarse
    centroid (vec_id % centroid_mod == 0); each query searches the
    union of its nprobe nearest centroids' lists with exact cosines.
    The centroid and query rows come to the driver in one collect job
    (see ``_ivf_topk``)."""
    (_, C), (qids, Q) = _collect(emb, centroid_mod, query_mod)
    return _ivf_topk(emb, qids, Q, C, nprobe, k)


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
    everything.

    Each Lloyd iteration is ONE job: a map-only kernel assigns the
    train sample to its nearest centroid (``_nearest``) and emits
    per-task (cent_id, n, Σ µ-quantized components) partials (≤ n_cents
    rows per task); the bounded partials merge on the driver with exact
    integer sums. Arithmetic matches the oracle bit for bit: same
    µ-quantization (half-away round), same Σ/n/Q double division, same
    dimension-order norm fold, same ranking rule."""
    (cent_ids, C), (qids, Q) = _collect(emb, centroid_mod, query_mod)
    if not (len(qids) and len(C)):
        return _no_hits(emb)
    train = (
        emb if train_mod <= 1
        else emb.filter(F.col("vec_id") % train_mod == 0)
    )

    def _half_away(x):
        return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)

    for _ in range(iters):

        def partials(batches, c_ids=cent_ids, Cm=C, cn=_norms(C)):
            acc_n: dict[int, int] = {}
            acc_s: dict[int, object] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = _decode(pdf["embedding"])
                best = _nearest(V, _norms(V), Cm, cn)
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

    return _ivf_topk(emb, qids, Q, C, nprobe, k)


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
    """LSH-bucketed ANN top-k: a vector is a candidate for a query when
    they share ≥1 of 4 signature bands. Deterministic hyperplanes →
    oracle-reproducible.

    The corpus is scanned once anyway, so the band check runs inside
    the top-k pass: per batch, each vector's bands compare against the
    collected query bands (a few integer ops per pair) and cosines are
    computed for the colliding pairs only. No band explode, band join,
    pair distinct or embedding re-join; work is O(corpus × n_queries)
    integer compares plus the colliding pairs' cosines — never a cross
    join of the corpus against itself."""
    ((qids, Q),) = _collect(emb, query_mod)
    if not len(qids):
        return _no_hits(emb)
    qb = _bands(_signatures(Q))

    def collide(V, vn):
        return (qb[:, None] == _bands(_signatures(V))[None]).any(axis=2)

    return _topk(emb, qids, Q, k, collide)


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
