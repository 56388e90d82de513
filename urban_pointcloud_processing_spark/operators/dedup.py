"""Deduplication operators over the documents table.

Training-data-pipeline extension of SURVEY.md §2: exact dedup,
word-n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection —
each implemented Spark-first (explode→equi-join→groupBy; no Python in
the hot path) and each with a DuckDB oracle SQL builder that replicates
the SAME deterministic algorithm, so results match row-for-row.

Scale notes (100 TB design point):
- Exact dedup groups on a 256-bit content hash, never on the raw text,
  so the shuffle carries 32 bytes + ids per row.
- MinHash/LSH turns the quadratic all-pairs problem into an equi-join
  on (band, band_key) — the classic shingle→minhash→band→bucket-join.
  Bucket skew (boilerplate shingles) is bounded because band keys fold
  K/BANDS independent min-hashes.
- SimHash candidate generation uses the pigeonhole block trick:
  hamming(a,b) ≤ d over BITS bits ⇒ a,b agree on ≥1 of (d+1) blocks,
  so candidates come from (d+1) equi-joins on block values — EXACT
  (no recall loss), never a cross join.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column, DataFrame, functions as F

from ..functions.text import (
    HASH_MOD,
    WS_RUN,
    shingles_from_tokens_sql,
    str_hash_sql,
    str_hash_udf,
    tokens_expr,
    tokens_sql,
)
from .components import pair_components

# Deterministic hash-family constants, shared verbatim by the Spark
# plan and the generated oracle SQL (kept < HASH_MOD so a*x fits i64).
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS
# 60-bit simhash: wide enough that pigeonhole blocks are selective
# (15-bit blocks = 32768 bucket values at d=3, vs 16 values with the
# old 16-bit/4-bit layout whose block joins degenerated toward n²/16),
# while staying strictly positive in a signed i64 on BOTH engines —
# Spark shiftright and DuckDB >> are arithmetic shifts, so a sign bit
# would corrupt block extraction. 60 = 2·2·3·5 keeps exact even splits
# for every supported max_hamming in {1,2,3,4,5}.
SIMHASH_BITS = 60
SIMHASH_MAX_HAMMING = 3


def simhash_blocks(max_hamming: int) -> tuple[int, int]:
    """(n_blocks, block_width) for the pigeonhole candidate join.

    hamming(a,b) ≤ d over BITS bits ⇒ a,b are equal on ≥1 of (d+1)
    equal-width blocks — EXACT recall. The block count is derived from
    max_hamming (not hard-wired) so a larger d never silently loses
    recall; unsupported d (uneven split) fails loudly."""
    blocks = max_hamming + 1
    if max_hamming < 1 or max_hamming > 5 or SIMHASH_BITS % blocks != 0:
        raise ValueError(
            f"max_hamming={max_hamming} unsupported: need 1 <= d <= 5 "
            f"and {SIMHASH_BITS} % (d+1) == 0 (d+1 equal-width pigeonhole "
            f"blocks); supported max_hamming: 1,2,3,4,5"
        )
    return blocks, SIMHASH_BITS // blocks


def _const(i: int, salt: int) -> int:
    v = (2654435761 * (i + 1) + 40503 * salt) % HASH_MOD
    return v or 1


MH_A = [_const(k, 1) for k in range(MINHASH_K)]
MH_B = [_const(k, 2) for k in range(MINHASH_K)]
SH_A = [_const(b, 3) for b in range(SIMHASH_BITS)]
SH_B = [_const(b, 4) for b in range(SIMHASH_BITS)]


# ----------------------------------------------------------------------
# Exact dedup — hash-groupBy (content hash, not raw text, on the wire)
# ----------------------------------------------------------------------

def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct text: canonical (min) doc_id + group size."""
    return (
        docs.select("doc_id", F.sha2(F.col("text"), 256).alias("_h"))
        .groupBy("_h")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_docs"),
        )
        .select("canonical_id", "n_docs")
    )


EXACT_DEDUP_SQL = """
SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
FROM documents GROUP BY text
"""


# ----------------------------------------------------------------------
# Shingle table — shared by Jaccard + MinHash
# ----------------------------------------------------------------------

def _java_tokens(s: str | None) -> list[str] | None:
    """Python mirror of ``tokens_expr`` = F.split(F.trim(text), WS_RUN):
    Spark's trim strips only spaces (U+0020) from both ends, so a
    leading tab or a trailing newline survives it and splits to an
    empty first or last token."""
    if s is None:
        return None
    import re

    return re.split(WS_RUN, s.strip(" "))


def shingle_sids_udf(n: int = 3):
    """text → array of shingle hashes in one Arrow pass: tokenize,
    build distinct (first-occurrence order) word n-grams and hash them
    with the batched NumPy char fold — the text crosses the Python
    boundary ONCE per doc instead of once per shingle row, and the
    downstream explode ships longs, not gram strings (guide §4.1/4.2).
    Bit-identical to the oracle's ``shingles_from_tokens_sql`` +
    ``str_hash_sql`` (pinned by the tests/test_parity.py cases of the
    shingle consumers: doc_fingerprint, ngram_jaccard, minhash_lsh,
    dedup_clusters, decontaminate, bloom_decontaminate,
    boilerplate_shingles)."""
    from pyspark.sql.types import ArrayType, LongType

    from ..functions.text import str_hash_np

    @F.pandas_udf(ArrayType(LongType()))
    def sids(texts: pd.Series) -> pd.Series:
        all_grams: list[str] = []
        counts: list[int] = []
        for t in texts:
            toks = _java_tokens(t)
            if toks is None or len(toks) < n:
                counts.append(0)
                continue
            grams = list(dict.fromkeys(
                " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
            ))
            counts.append(len(grams))
            all_grams.extend(grams)
        import numpy as np

        th = str_hash_np(all_grams)
        # split into per-doc views (no per-element Python boxing —
        # Arrow consumes the numpy slices directly)
        out = np.split(th, np.cumsum(np.asarray(counts, dtype=np.int64))[:-1])
        return pd.Series(out)

    return sids


def shingle_table(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sid) — distinct word-n-gram shingles, hashed.

    One vectorized Arrow pass computes each document's shingle-hash
    array (``shingle_sids_udf``); the explode then carries longs only.
    Documents with < n tokens (or NULL text) emit an empty array and
    disappear in the explode — exactly the rows of the oracle's
    ``shingles_from_tokens_sql`` (the parity tests above pin it)."""
    return docs.select(
        "doc_id",
        F.explode(shingle_sids_udf(n)(F.col("text"))).alias("sid"),
    )


def shingle_cte_sql(n: int = 3) -> str:
    """CTE body producing (doc_id, sid) from `documents`."""
    return f"""
toks AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
sh AS (
  SELECT doc_id, unnest({shingles_from_tokens_sql('t', n)}) AS sh FROM toks
),
shingles AS (SELECT doc_id, {str_hash_sql('sh')} AS sid FROM sh)
"""


# ----------------------------------------------------------------------
# n-gram Jaccard all-pairs (shingle equi-join, no cross join)
# ----------------------------------------------------------------------

# Document-frequency cap for the exact-Jaccard shingle self-join: a
# shingle appearing in more than DF_CAP documents contributes df² rows
# to the candidate join — boilerplate shingles ("click here to", nav
# bars) make the exact variant quadratic at web scale. Dropping them
# from the JOIN ONLY (sizes still count every shingle) bounds the
# per-shingle blow-up at DF_CAP²; MinHash+LSH remains the sanctioned
# scale path for full recall. The oracle SQL applies the same cap, so
# the check stays bit-exact.
JACCARD_DF_CAP = 1000


def jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                  df_cap: int = JACCARD_DF_CAP,
                  sh: DataFrame | None = None) -> DataFrame:
    """Pass ``sh`` (a materialized shingle table, e.g. a stage-table
    read) at scale: the in-session localCheckpoint fallback pins the
    corpus-sized shingle table in executor storage and forfeits
    lineage recovery — fine for library convenience, wrong for a
    100 TB run (registered queries pass a scratch stage table)."""
    if sh is None:
        sh = shingle_table(docs, n).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    hot = (
        sh.groupBy("sid")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > df_cap)
        .select("sid")
    )
    # left_anti against the (tiny) hot-shingle dim — broadcastable;
    # intersection counts for capped shingles are forfeited, which can
    # only LOWER a pair's Jaccard estimate (conservative for dedup).
    cold = sh.join(F.broadcast(hot), "sid", "left_anti")
    a, b = cold.alias("a"), cold.alias("b")
    inter = (
        a.join(b, "sid")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs_sql(n: int = 3, threshold: float = 0.5,
                      df_cap: int = JACCARD_DF_CAP) -> str:
    return f"""
WITH {shingle_cte_sql(n)},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
cold AS (
  SELECT * FROM shingles
  WHERE sid NOT IN (
    SELECT sid FROM shingles GROUP BY sid HAVING COUNT(*) > {df_cap}
  )
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM cold a JOIN cold b ON a.sid = b.sid AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= {threshold}
"""


# ----------------------------------------------------------------------
# MinHash signatures + LSH band join + Jaccard verification
# ----------------------------------------------------------------------

def minhash_signatures(
    docs: DataFrame, n: int = 3, sh: DataFrame | None = None
) -> DataFrame:
    """(doc_id, mh0..mh{K-1}) — K min-hashes over the shingle set.
    Pass ``sh`` to reuse an already-materialized shingle table."""
    if sh is None:
        sh = shingle_table(docs, n)
    aggs = [
        F.min((F.col("sid") * F.lit(MH_A[k]) + F.lit(MH_B[k])) % F.lit(HASH_MOD)).alias(
            f"mh{k}"
        )
        for k in range(MINHASH_K)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_key_expr(band: int):
    acc = F.lit(0).cast("long")
    for r in range(LSH_ROWS):
        acc = (acc * F.lit(31) + F.col(f"mh{band * LSH_ROWS + r}")) % F.lit(HASH_MOD)
    return acc


def first_band_pairs(rows: DataFrame, id_col: str, keys: list[Column],
                     names: tuple[str, str]) -> DataFrame:
    """Distinct (a < b) id pairs of ``rows`` that share ≥1 band key;
    ``keys`` holds one key Column per band, ``names`` the output pair
    columns. The one LSH band self-join (MinHash and hyperplane LSH).

    Each row explodes to one row per band and carries its full
    band-key array; band rows equi-join on (band, key), and a pair
    colliding on several bands is kept only at its FIRST equal band,
    computed from the two arrays in the join filter — the same dedup as
    a distinct over the pairs, without its exchange."""
    keys_arr = F.array(*keys)
    bands = rows.select(
        id_col,
        keys_arr.alias("_ks"),
        F.posexplode(keys_arr).alias("band", "key"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    first_eq = F.lit(len(keys))
    for i in reversed(range(len(keys))):
        first_eq = F.when(
            F.element_at(F.col("a._ks"), i + 1)
            == F.element_at(F.col("b._ks"), i + 1),
            F.lit(i),
        ).otherwise(first_eq)
    return (
        a.join(b, ["band", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(first_eq == F.col("band"))
        .select(
            F.col(f"a.{id_col}").alias(names[0]),
            F.col(f"b.{id_col}").alias(names[1]),
        )
    )


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing ≥1 LSH band bucket."""
    return first_band_pairs(
        sig, "doc_id", [_band_key_expr(b) for b in range(LSH_BANDS)],
        ("doc_a", "doc_b"),
    )


def minhash_lsh_dedup(docs: DataFrame, n: int = 3, threshold: float = 0.5,
                      sh: DataFrame | None = None) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ threshold.
    ``sh`` shares a pre-built (materialized) shingle table across operators
    composing several shingle consumers (corpus_clean)."""
    if sh is None:
        sh = shingle_table(docs, n).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    sig = minhash_signatures(docs, n, sh=sh)
    cand = lsh_candidate_pairs(sig)
    a = sh.select(F.col("doc_id").alias("doc_a"), "sid")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sid")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "sid"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_sql(n: int = 3, threshold: float = 0.5) -> str:
    mh_cols = ", ".join(
        f"MIN((sid * {MH_A[k]} + {MH_B[k]}) % {HASH_MOD}) AS mh{k}"
        for k in range(MINHASH_K)
    )
    band_rows = []
    for b in range(LSH_BANDS):
        key = "CAST(0 AS BIGINT)"
        for r in range(LSH_ROWS):
            key = f"(({key}) * 31 + mh{b * LSH_ROWS + r}) % {HASH_MOD}"
        band_rows.append(f"SELECT doc_id, {b} AS band, {key} AS key FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH {shingle_cte_sql(n)},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY doc_id),
sig AS (SELECT doc_id, {mh_cols} FROM shingles GROUP BY doc_id),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN shingles a ON a.doc_id = c.doc_a
  JOIN shingles b ON b.doc_id = c.doc_b AND b.sid = a.sid
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_inter / CAST(sa.n_sh + sb.n_sh - n_inter AS DOUBLE), 6) >= {threshold}
"""


# ----------------------------------------------------------------------
# SimHash + pigeonhole-block near-dup join
# ----------------------------------------------------------------------

def simhash_sig_udf():
    """text → 60-bit simhash in one Arrow pass. Replaces the previous
    token-explode → per-token hash UDF → 60-aggregate groupBy plan
    (guide §2.4: the doc_id regroup shuffle disappears — documents are
    already one row per doc_id) with map-only batched NumPy: tokens
    hashed via the flat char fold, per-bit ±1 sums via reduceat.
    Bit-identical to the old plan (same tokens, same hash, same
    parity rule; integer sums are order-independent)."""
    import numpy as np
    from pyspark.sql.types import LongType

    from ..functions.text import str_hash_np

    @F.pandas_udf(LongType())
    def sig(texts: pd.Series) -> pd.Series:
        toks_per_doc = [_java_tokens(t) for t in texts]
        n = len(toks_per_doc)
        ntok = np.fromiter(
            (len(t) for t in toks_per_doc), dtype=np.int64, count=n
        )
        flat = [tok for toks in toks_per_doc for tok in toks]
        th = str_hash_np(flat)
        out = np.zeros(n, dtype=np.int64)
        if n == 0:
            return pd.Series(out)
        starts = np.concatenate(([0], np.cumsum(ntok)[:-1]))
        for b in range(SIMHASH_BITS):
            par = ((th * SH_A[b] + SH_B[b]) % HASH_MOD) & 1
            cnt1 = np.add.reduceat(par, starts)
            # Σ(±1) = 2·count(parity=1) − n_tokens, > 0 sets the bit
            out |= (2 * cnt1 - ntok > 0).astype(np.int64) << b
        return pd.Series(out)

    return sig


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 60-bit token-multiplicity simhash.

    Map-only: one vectorized Arrow pass per batch (simhash_sig_udf).
    NULL-text docs are dropped, matching the previous explode-based
    plan (explode of a null token array emitted no rows)."""
    return docs.filter(F.col("text").isNotNull()).select(
        "doc_id", simhash_sig_udf()(F.col("text")).alias("simhash")
    )


def simhash_sql() -> str:
    s_cols = ", ".join(
        f"SUM(CASE WHEN ((th * {SH_A[b]} + {SH_B[b]}) % {HASH_MOD}) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS s{b}"
        for b in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents
),
th AS (SELECT doc_id, {str_hash_sql('tok')} AS th FROM toks),
sums AS (SELECT doc_id, {s_cols} FROM th GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM sums
"""


def simhash_neardup(
    docs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    salt_target: int | None = 100_000,
) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ max_hamming) — pigeonhole block join:
    hamming ≤ d ⇒ equal on ≥1 of the (d+1) equal-width blocks, so
    candidates are (d+1) equi-joins, exact recall, no cross join.
    Block count derives from max_hamming; width = 60/(d+1) bits.

    Buckets holding more than salt_target docs (boilerplate-heavy
    corpora) take the salted self-join path: side a spreads over
    ceil(n/target) salts by doc-id hash, side b replicates to every
    salt (``skew.salted``) — each (a, b) pair still meets exactly once,
    result identical (tests/test_skew.py)."""
    n_blocks, block_w = simhash_blocks(max_hamming)
    # the signature subtree feeds BOTH self-join sides plus the skew
    # sketch — materialize it once (tiny: one row per doc) instead of
    # recomputing the token explosion 3×
    sh = simhash(docs).localCheckpoint(eager=True)
    blocks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftright(F.col("simhash"), i * block_w)
                        .bitwiseAND(F.lit((1 << block_w) - 1))
                        .alias("val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bv"),
    ).select(
        "doc_id", "simhash",
        F.col("bv.blk").alias("blk"), F.col("bv.val").alias("val"),
    )
    join_keys = ["blk", "val"]
    a_side, b_side = blocks, blocks
    if salt_target:
        from .skew import cell_frequency_sketch, salted

        hot = cell_frequency_sketch(blocks, join_keys, salt_target)
        a_side = salted(blocks, join_keys, hot, "doc_id")
        b_side = salted(blocks, join_keys, hot)
        join_keys = ["blk", "val", "_salt"]
    a, b = a_side.alias("a"), b_side.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    # a pair matching on several blocks would be emitted once per block;
    # instead of a distinct over the duplicated pairs (n_blocks× shuffle),
    # keep a pair only at its FIRST equal block — computable from the XOR:
    first_eq = F.lit(n_blocks)
    for i in reversed(range(n_blocks)):
        blk_bits = F.shiftright(xor, i * block_w).bitwiseAND(
            F.lit((1 << block_w) - 1)
        )
        first_eq = F.when(blk_bits == 0, F.lit(i)).otherwise(first_eq)
    return (
        a.join(b, join_keys)
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(first_eq == F.col("blk"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(xor).alias("hamming"),
        )
        .filter(F.col("hamming") <= F.lit(max_hamming))
    )


def simhash_neardup_sql(max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    base = simhash_sql().strip()
    return f"""
WITH sh AS ({base})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ----------------------------------------------------------------------
# Near-dup cluster canonicalization — the step AFTER pair detection in
# a real dedup pipeline: connected components over the near-dup pair
# graph, keep the minimal doc per component as the survivor (the
# reference's CC machinery, ``components.pair_components``, re-applied
# to the dup graph).
# ----------------------------------------------------------------------

def dedup_clusters(docs: DataFrame, n: int = 3,
                   threshold: float = 0.5,
                   sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, canonical_id, cluster_size, is_survivor) — survivor
    selection over the MinHash+LSH near-dup pair graph: one two-level
    CC pass (``components.pair_components``), canonical = min doc_id per
    component, singletons keep themselves."""
    pairs = minhash_lsh_dedup(docs, n, threshold, sh=sh).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).localCheckpoint(eager=True)
    # only docs that appear in a pair enter the CC — singletons are
    # trivially their own component, so the CC runs on the (tiny) dup
    # subgraph, not the corpus
    paired = (
        pairs.select(F.col("src").alias("node"))
        .unionByName(pairs.select(F.col("dst").alias("node")))
        .distinct()
    )
    singles = (
        docs.select(F.col("doc_id").alias("node"))
        .join(paired, "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    comp = pair_components(pairs, paired).unionByName(singles)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_survivor"),
        )
    )


def dedup_clusters_sql(n: int = 3, threshold: float = 0.5) -> str:
    """Reachability-CC oracle over the same LSH pair query."""
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED ({minhash_lsh_sql(n, threshold).strip()}),
nodes AS (SELECT doc_id FROM documents),
edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT r.src, e.d FROM reach r JOIN edges e ON e.s = r.node
),
comp AS (SELECT src AS doc_id, MIN(node) AS canonical_id
         FROM reach GROUP BY src),
sizes AS (SELECT canonical_id, COUNT(*) AS cluster_size
          FROM comp GROUP BY canonical_id)
SELECT c.doc_id, c.canonical_id, s.cluster_size,
       c.doc_id = c.canonical_id AS is_survivor
FROM comp c JOIN sizes s ON s.canonical_id = c.canonical_id
"""


# ----------------------------------------------------------------------
# Benchmark decontamination — flag training documents that share ≥
# min_hits distinct n-gram shingles with a held-out eval slice (the
# standard n-gram-overlap contamination check run before training).
# The eval set here is the deterministic doc_id % bench_mod == 0 slice
# of the corpus; in production it is the benchmark suite's text,
# broadcast exactly the same way (eval sets are tiny vs the corpus).
# ----------------------------------------------------------------------

def decontaminate(docs: DataFrame, n: int = 3, bench_mod: int = 97,
                  min_hits: int = 3,
                  sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_hits, contaminated) for every TRAINING doc (not in
    the eval slice): n_hits = distinct n-gram shingles shared with any
    eval doc. Shuffle-free on the eval side: the distinct eval shingle
    set broadcasts. ``sh`` shares a pre-built shingle table."""
    if sh is None:
        sh = shingle_table(docs, n)
    bench_sids = (
        sh.filter(F.col("doc_id") % bench_mod == 0)
        .select("sid").distinct()
    )
    train_sh = sh.filter(F.col("doc_id") % bench_mod != 0)
    hits = (
        train_sh.join(F.broadcast(bench_sids), "sid")
        .groupBy("doc_id")
        .agg(F.countDistinct("sid").alias("n_hits"))
    )
    return (
        docs.filter(F.col("doc_id") % bench_mod != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits)
            .alias("contaminated"),
        )
    )


def decontaminate_sql(n: int = 3, bench_mod: int = 97,
                      min_hits: int = 3) -> str:
    return f"""
WITH {shingle_cte_sql(n)},
bench AS (SELECT DISTINCT sid FROM shingles WHERE doc_id % {bench_mod} = 0),
hits AS (
  SELECT s.doc_id, COUNT(DISTINCT s.sid) AS n_hits
  FROM shingles s JOIN bench b ON b.sid = s.sid
  WHERE s.doc_id % {bench_mod} != 0
  GROUP BY s.doc_id
)
SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) >= {min_hits} AS contaminated
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {bench_mod} != 0
"""


# ----------------------------------------------------------------------
# Cross-document boilerplate signal: the fraction of a doc's distinct
# word-n-gram shingles that occur in MANY other documents (CCNet-style
# common-fragment detection — flat web text has no line structure, so
# the shingle is the dedup/boilerplate unit here, same as the near-dup
# family above). Shuffles scale with the corpus shingle count (linear
# in tokens); the document-frequency table is vocabulary-sized.
# ----------------------------------------------------------------------

def boilerplate_frac(docs: DataFrame, n: int = 3,
                     df_cap: int = 2,
                     sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_shingles, n_common, common_frac) — n_common = this
    doc's shingles whose corpus document-frequency exceeds df_cap."""
    # materialized once (localCheckpoint, NOT .cache(): a cached plan
    # registers in the CacheManager and outlives the query in a
    # long-lived session, whereas a checkpointed RDD is released by the
    # ContextCleaner once the result is dereferenced — ADVICE r04):
    # the plan references the shingle table twice (df aggregate
    # + join probe) and the explode/hash work dominates — same pattern
    # as jaccard_pairs above; pass ``sh`` (stage-table read) at scale
    if sh is None:
        sh = shingle_table(docs, n).localCheckpoint(eager=True)
    dfreq = sh.groupBy("sid").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "sid")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") > df_cap).cast("long")).alias("n_common"),
        )
        .select(
            "doc_id", "n_shingles", "n_common",
            (
                F.col("n_common").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("common_frac"),
        )
    )


def boilerplate_frac_sql(n: int = 3, df_cap: int = 2) -> str:
    return f"""
WITH {shingle_cte_sql(n)},
dfreq AS (SELECT sid, COUNT(*) AS df FROM shingles GROUP BY sid),
per AS (
  SELECT s.doc_id, COUNT(*) AS n_shingles,
         SUM(CASE WHEN d.df > {df_cap} THEN 1 ELSE 0 END) AS n_common
  FROM shingles s JOIN dfreq d ON d.sid = s.sid
  GROUP BY s.doc_id
)
SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(n_common AS BIGINT) AS n_common,
       CAST(n_common AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS common_frac
FROM per
"""


# ----------------------------------------------------------------------
# Span-level exact substring dedup (repeated >=k-token passages ACROSS
# documents) — the "dedup repeated 50-token passages" step of a
# training-data pipeline; complements doc-level exact_dedup (whole
# content) and the shingle near-dup family (whole-doc similarity).
# Reference has no analog (point-cloud domain); the operator follows
# the suffix-array/ExactSubstr shape re-expressed relationally:
# positional k-gram rolling keys -> cross-doc frequency gate ->
# per-doc interval union of the flagged windows.
# ----------------------------------------------------------------------

def span_dedup(docs: DataFrame, k: int = 8,
               df_cap: int | None = None) -> DataFrame:
    """(doc_id, span_start, span_end, span_tokens, n_dup_grams): maximal
    merged token intervals covered by k-token windows that appear in at
    least one OTHER document.

    Scale shape: positional k-grams are keyed by sha2-256 of the gram
    text (32-byte shuffle rows; collisions 2^-128 — same contract as
    exact_dedup), the frequency gate is one groupBy with map-side
    combine, the flagged-position join is an equi-join on the gram key,
    and the interval union is a per-DOCUMENT window over flagged
    positions only — bounded by a single document's token count, never
    corpus-sized. No all-pairs stage anywhere.

    ``df_cap``: drop gram keys present in MORE than df_cap documents
    from the hot set (the JACCARD_DF_CAP analog): universal boilerplate
    k-grams ("all rights reserved …") would otherwise fan every
    document into the flagged join. Capped grams stop marking spans —
    conservative (fewer flagged spans), and the oracle applies the
    identical cap so the check stays bit-exact. None = uncapped.

    Deliberate non-materialization: the gram table feeds both the
    frequency gate and the flagged join, so the plan evaluates the
    tokenize+hash subtree twice. That is the RIGHT trade at scale —
    the stage is map-only (no shuffle), and recomputing it costs less
    than writing and re-reading a corpus-sized positional-gram temp
    table (unlike the shingle family, whose stage table is shared by
    three downstream consumers and re-read across operators).
    """
    from pyspark.sql import Window

    # Bind the token array in its OWN projection before the
    # higher-order function: Spark does not hoist non-lambda
    # subexpressions out of LambdaFunction bodies, so referencing
    # tokens_expr(text) inside the transform would re-run the regex
    # split per gram element — O(k·L²) per document instead of O(k·L)
    # (measured ~100× on 2k-token docs).
    toked = docs.select("doc_id", tokens_expr(F.col("text")).alias("_t"))
    t = F.col("_t")
    # positional (non-distinct) k-grams, i = 1-based start token index
    grams = F.when(
        F.size(t) >= k,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - F.lit(k) + 1),
            lambda i: F.concat_ws(
                " ", *[F.get(t, i - 1 + F.lit(j)) for j in range(k)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = toked.select(
        "doc_id", F.posexplode(grams).alias("p", "gram")
    ).select(
        "doc_id",
        (F.col("p") + 1).cast("long").alias("i"),
        F.sha2(F.col("gram"), 256).alias("h"),
    )
    gate = F.col("ndocs") >= 2
    if df_cap is not None:
        gate = gate & (F.col("ndocs") <= df_cap)
    hot = (
        g.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(gate)
        .select("h")
    )
    flagged = g.join(hot, "h").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    is_new = F.when(
        F.col("i") - F.lag("i").over(w) > k, F.lit(1)
    ).when(F.lag("i").over(w).isNull(), F.lit(1)).otherwise(F.lit(0))
    spans = (
        flagged.withColumn("is_new", is_new)
        .withColumn(
            "span_id",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("doc_id", "span_id")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + F.lit(k) - 1).cast("long").alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
    )
    return spans.select(
        "doc_id", "span_start", "span_end",
        (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        "n_dup_grams",
    )


def span_dedup_sql(k: int = 8, df_cap: int | None = None) -> str:
    """DuckDB oracle: identical span arithmetic, grouped by the RAW
    gram text (ground truth the sha2 keying must reproduce); df_cap
    mirrors the engine's hot-gram cap exactly."""
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    cap = "" if df_cap is None else f" AND COUNT(DISTINCT doc_id) <= {df_cap}"
    return f"""
WITH toks AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
pos AS (
  SELECT doc_id, t,
         unnest(CASE WHEN len(t) >= {k} THEN range(1, len(t) - {k} + 2)
                     ELSE CAST([] AS BIGINT[]) END) AS i
  FROM toks
),
g AS (SELECT doc_id, i, {parts} AS gram FROM pos),
hot AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2{cap}),
f AS (SELECT g.doc_id, g.i FROM g JOIN hot USING (gram)),
flg AS (
  SELECT doc_id, i,
         CASE WHEN i - lag(i) OVER w > {k} OR lag(i) OVER w IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM f WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
sp AS (
  SELECT doc_id, i, SUM(is_new) OVER (
    PARTITION BY doc_id ORDER BY i ROWS UNBOUNDED PRECEDING) AS span_id
  FROM flg
)
SELECT doc_id, MIN(i) AS span_start,
       CAST(MAX(i) + {k} - 1 AS BIGINT) AS span_end,
       CAST(MAX(i) + {k} - 1 - MIN(i) + 1 AS BIGINT) AS span_tokens,
       COUNT(*) AS n_dup_grams
FROM sp GROUP BY doc_id, span_id
"""


# ----------------------------------------------------------------------
# Bloom-filter decontamination — the broadcast-BITSET scale path
#
# `decontaminate` above broadcasts the eval slice's distinct shingle
# IDs (8 bytes each) and equi-joins. That is exact but its broadcast
# grows linearly with the held-out benchmark suite; at a few billion
# eval shingles the hash-set no longer fits an executor. The Bloom
# variant caps the broadcast at a FIXED m-bit bitset (k positions per
# shingle, k·m tunable): membership becomes k bit-probes against a
# 2^16-bit array — no join, no per-row Python — at the price of
# deterministic false positives (flagging is a superset of the exact
# operator's; with m=65536 and fixture-scale eval sets the fp rate is
# ~(k·n/m)^k ≈ 1e-9, i.e. usually identical output).
#
# Everything is integer arithmetic from the shared str_hash shingle id
# through the (a·x+b mod p) mod m position family
# (operators.sketch.uhash_sql), so DuckDB reproduces the identical
# bitset. The oracle tests membership as `position ∈ eval-position
# set` for every one of the k probes — mathematically identical to
# the packed-word bit test (a bit is set iff SOME eval shingle hashed
# to that position), without re-implementing word packing in SQL.
#
# Reference analog: none (decontamination is part of the training-data
# extension); the exact-operator contract is decontaminate() above.
# ----------------------------------------------------------------------

BLOOM_M_BITS = 1 << 16   # bitset width (1024 longs when packed)
BLOOM_K = 4              # probes per shingle (≤ len(sketch.UHASH_A))


def _bloom_pos_sql(j: int, m: int) -> str:
    from .sketch import uhash_sql

    return uhash_sql("sid", j, m)


def bloom_decontaminate(docs: DataFrame, n: int = 3, bench_mod: int = 97,
                        min_hits: int = 3, m_bits: int = BLOOM_M_BITS,
                        k: int = BLOOM_K,
                        sh: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_bloom_hits, flagged) for every TRAINING doc:
    n_bloom_hits = distinct shingles whose k Bloom probes all hit the
    eval-slice bitset; flagged at ≥ min_hits.

    The packed bitset (m_bits/64 longs) is collected to the driver and
    re-broadcast as a one-row array — the same tiny-dim collect the
    ANN family uses for its query matrix; on a cluster this is a
    broadcast variable, and its size is FIXED by m_bits, independent
    of the eval suite."""
    if sh is None:
        sh = shingle_table(docs, n)
    spark = docs.sparkSession
    n_words = m_bits >> 6

    eval_pos = (
        sh.filter(F.col("doc_id") % bench_mod == 0)
        .select("sid").distinct()
        .select(
            F.explode(
                F.array(*[
                    F.expr(_bloom_pos_sql(j, m_bits)) for j in range(k)
                ])
            ).alias("p")
        )
        .distinct()
    )
    words = (
        eval_pos.select(
            F.expr("p DIV 64").alias("w"),
            (F.col("p") % 64).alias("bit"),
        )
        .groupBy("w")
        .agg(F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT)))"
        ).alias("mask"))
    )
    wmap = {r["w"]: r["mask"] for r in words.collect()}
    bitset = [wmap.get(i, 0) for i in range(n_words)]
    bset_df = spark.createDataFrame([(bitset,)], "bloom array<bigint>")

    probe = (
        sh.filter(F.col("doc_id") % bench_mod != 0)
        .crossJoin(F.broadcast(bset_df))
        .selectExpr(
            "doc_id", "sid", "bloom",
            *[f"{_bloom_pos_sql(j, m_bits)} AS p{j}" for j in range(k)],
        )
    )
    hit = " AND ".join(
        f"(shiftright(element_at(bloom, CAST(p{j} DIV 64 AS INT) + 1), "
        f"CAST(p{j} % 64 AS INT)) & 1) = 1"
        for j in range(k)
    )
    # shiftright is arithmetic, so bit 63 (negative word) still tests
    # correctly: (word >> 63) & 1 = 1 when set
    hits = probe.filter(F.expr(hit)).groupBy("doc_id").agg(
        F.countDistinct("sid").alias("n_bloom_hits")
    )
    return (
        docs.filter(F.col("doc_id") % bench_mod != 0)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bloom_hits"), F.lit(0)).alias("n_bloom_hits"),
            (F.coalesce(F.col("n_bloom_hits"), F.lit(0)) >= min_hits)
            .alias("flagged"),
        )
    )


def bloom_decontaminate_sql(n: int = 3, bench_mod: int = 97,
                            min_hits: int = 3, m_bits: int = BLOOM_M_BITS,
                            k: int = BLOOM_K) -> str:
    probes = "\n    AND ".join(
        f"({_bloom_pos_sql(j, m_bits)}) IN (SELECT p FROM pos)"
        for j in range(k)
    )
    pos_union = " UNION ".join(
        f"SELECT ({_bloom_pos_sql(j, m_bits)}) AS p FROM ev"
        for j in range(k)
    )
    return f"""
WITH {shingle_cte_sql(n)},
ev AS (SELECT DISTINCT sid FROM shingles WHERE doc_id % {bench_mod} = 0),
pos AS ({pos_union}),
hit AS (
  SELECT s.doc_id, COUNT(DISTINCT s.sid) AS n_bloom_hits
  FROM shingles s
  WHERE s.doc_id % {bench_mod} != 0
    AND {probes}
  GROUP BY s.doc_id
)
SELECT d.doc_id, COALESCE(h.n_bloom_hits, 0) AS n_bloom_hits,
       COALESCE(h.n_bloom_hits, 0) >= {min_hits} AS flagged
FROM documents d LEFT JOIN hit h ON h.doc_id = d.doc_id
WHERE d.doc_id % {bench_mod} != 0
"""
