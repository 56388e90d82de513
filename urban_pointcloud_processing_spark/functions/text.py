"""Text-analysis function library for the documents table.

Large-scale training-data pipelines need language-ID, quality scoring,
token counting and document fingerprinting as first-class columnar
operators (SURVEY.md §2 extension; the reference has no text surface —
its analog is the scalar-function library of src/upcp/utils/math_utils.py,
re-expressed here over `documents(doc_id, text, lang, source, n_chars)`).

Every function comes in two deterministic, cross-engine-identical
flavours:
- ``*_expr``: a PySpark Column (pure JVM higher-order functions —
  whole-stage-codegen'd, no Python UDF in the hot path), and
- ``*_sql``: the equivalent DuckDB SQL fragment for the oracle.

The shared primitive is ``str_hash``: a char-fold polynomial hash
``acc = (acc*31 + codepoint) mod 1e9+7``. Both engines fold strictly
left-to-right, so results are bit-identical (validated empirically);
the empty string is pinned to 0 on both sides (engines disagree on
``ord('')``).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007

# Fixed stopword vocabularies for the n-gram language-ID heuristic and
# the EN quality score. Deterministic, embedded in both engines' plans.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "une"),
    "nl": ("de", "het", "een", "en", "van", "is"),
}
EN_STOPWORDS = LANG_MARKERS["en"]


# ----------------------------------------------------------------------
# str_hash — the cross-engine polynomial hash
# ----------------------------------------------------------------------

def str_hash_expr(col: Column) -> Column:
    folded = F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(HASH_MOD),
    )
    return F.when(F.length(col) == 0, F.lit(0).cast("long")).otherwise(folded)


def str_hash_py(s: str) -> int:
    """Reference implementation of the char-fold polynomial hash."""
    acc = 0
    for ch in s:
        acc = (acc * 31 + ord(ch)) % HASH_MOD
    return acc


def str_hash_np(strings) -> "object":
    """NumPy-vectorized char-fold hash over a sequence of strings —
    bit-identical to ``str_hash_py`` (pinned by tests). The Horner fold
    runs column-wise across the whole batch: one (mask, fma, mod)
    vector op per character POSITION instead of a Python-level loop per
    character — ~100× fewer interpreter dispatches for token/shingle
    batches (guide §4.2: hand whole batches to native code)."""
    import numpy as np

    n = len(strings)
    out = np.zeros(n, dtype=np.int64)
    if n == 0:
        return out
    lens = np.fromiter(
        (0 if s is None else len(s) for s in strings), dtype=np.int64, count=n
    )
    maxlen = int(lens.max())
    if maxlen == 0:
        return out
    if maxlen > 8000:
        # the flat weighted-sum path below would overflow int64 for a
        # string this long (term < 1.1e15, 8000 terms < 2^63) — fold
        # the rare huge strings one by one instead
        out[:] = [0 if s is None else str_hash_py(s) for s in strings]
        return out
    joined = "".join(s for s in strings if s)
    codes = np.frombuffer(
        joined.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    ).astype(np.int64)
    total = int(lens.sum())
    # left fold (acc*31 + c) mod p == Σ c_j · 31^(L-1-j) mod p: one
    # flat weighted multiply over the concatenated codes, segment-summed
    # with reduceat — no per-row Python, no (n × maxlen) matrix
    pow31 = np.empty(maxlen, dtype=np.int64)
    pow31[0] = 1
    for k in range(1, maxlen):
        pow31[k] = (pow31[k - 1] * 31) % HASH_MOD
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    ends = starts + lens
    pos_from_end = np.repeat(ends, lens) - 1 - np.arange(total)
    terms = codes * pow31[pos_from_end]
    nz = lens > 0
    # reduceat needs strictly in-bounds indices; zero-length rows keep 0
    sums = np.add.reduceat(terms, starts[nz])
    out[nz] = sums % HASH_MOD
    return out


def str_hash_udf():
    """Vectorized Arrow pandas UDF computing the SAME polynomial as
    ``str_hash_expr`` / ``str_hash_sql``. The Column version folds with
    Catalyst higher-order functions (~50 µs/string interpreted); this
    one runs the batched NumPy Horner fold (``str_hash_np``) — the
    hot-path choice for shingle/token hashing."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def h(s: pd.Series) -> pd.Series:
        return pd.Series(str_hash_np(s.to_numpy(dtype=object)))

    return h


def str_hash_sql(expr: str) -> str:
    return (
        f"CASE WHEN length({expr}) = 0 THEN 0 ELSE list_reduce("
        f"list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split({expr}, ''), c -> CAST(ord(c) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {HASH_MOD}) END"
    )


# ----------------------------------------------------------------------
# Tokenization (whitespace) — the shared token stream
# ----------------------------------------------------------------------

def tokens_expr(col: Column) -> Column:
    return F.split(F.trim(col), r"\s+")


def tokens_sql(expr: str) -> str:
    return rf"string_split_regex(trim({expr}), '\s+')"


def token_count_expr(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens_expr(col))
    ).cast("long")


def token_count_sql(expr: str) -> str:
    return (
        f"CAST(CASE WHEN length(trim({expr})) = 0 THEN 0 "
        f"ELSE len({tokens_sql(expr)}) END AS BIGINT)"
    )


# ----------------------------------------------------------------------
# Language ID — stopword-marker scoring with deterministic tie-break
# ----------------------------------------------------------------------

def _in_list_sql(var: str, words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"{var} IN ({quoted})"


def _isin_pred(words: tuple[str, ...]):
    # closure factory: a default-arg lambda would change the visible
    # arity and make PySpark pass the element index into the default
    def pred(t: Column) -> Column:
        return t.isin(*list(words))

    return pred


def lang_scores_expr(col: Column) -> dict[str, Column]:
    toks = tokens_expr(col)
    return {
        lang: F.size(F.filter(toks, _isin_pred(words))).cast("long")
        for lang, words in LANG_MARKERS.items()
    }


def lang_scores_sql(expr: str) -> dict[str, str]:
    toks = tokens_sql(expr)
    return {
        lang: (
            f"CAST(len(list_filter({toks}, t -> {_in_list_sql('t', words)})) AS BIGINT)"
        )
        for lang, words in LANG_MARKERS.items()
    }


def pred_lang_expr(col: Column) -> Column:
    """argmax over LANG_MARKERS scores; ties broken by dict order
    (en > de > fr > nl), 'und' (undetermined) when all scores are 0."""
    scores = lang_scores_expr(col)
    best = F.lit("und")
    best_score = F.lit(0).cast("long")
    for lang in reversed(list(LANG_MARKERS)):
        s = scores[lang]
        best = F.when(s >= best_score, F.lit(lang)).otherwise(best)
        best_score = F.when(s >= best_score, s).otherwise(best_score)
        # reversed iteration + ">=" makes earlier dict entries win ties
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def pred_lang_sql(expr: str) -> str:
    scores = lang_scores_sql(expr)
    best, best_score = "'und'", "CAST(0 AS BIGINT)"
    for lang in reversed(list(LANG_MARKERS)):
        s = scores[lang]
        best = f"CASE WHEN {s} >= {best_score} THEN '{lang}' ELSE {best} END"
        best_score = f"CASE WHEN ({s}) >= ({best_score}) THEN ({s}) ELSE ({best_score}) END"
    return f"CASE WHEN ({best_score}) > 0 THEN ({best}) ELSE 'und' END"


# ----------------------------------------------------------------------
# Quality scoring — length / stopword-ratio / mean-token-length
# ----------------------------------------------------------------------

def quality_cols_expr(col: Column) -> dict[str, Column]:
    toks = tokens_expr(col)
    n_tok = token_count_expr(col)
    stop = F.size(F.filter(toks, _isin_pred(EN_STOPWORDS))).cast("long")
    sum_len = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
    )
    stop_ratio = F.when(n_tok > 0, stop.cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    mean_tok = F.when(n_tok > 0, sum_len.cast("double") / n_tok.cast("double")).otherwise(F.lit(0.0))
    score = (
        F.least(n_tok.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.4)
        + F.lit(0.3) * (F.lit(1.0) - F.least(stop_ratio * F.lit(2.0), F.lit(1.0)))
        + F.lit(0.3) * F.least(mean_tok / F.lit(8.0), F.lit(1.0))
    )

    # floor(x*1e6) instead of round(x, 6): engines disagree on half-way
    # rounding, but the underlying doubles are bit-identical (integer
    # inputs, same IEEE op order), so the floor is too.
    def _e6(c: Column) -> Column:
        return F.floor(c * F.lit(1000000.0)).cast("long")

    return {
        "n_tokens": n_tok,
        "n_stopwords": stop,
        "stop_ratio_e6": _e6(stop_ratio),
        "mean_token_len_e6": _e6(mean_tok),
        "quality_e6": _e6(score),
    }


def quality_cols_sql(expr: str) -> dict[str, str]:
    toks = tokens_sql(expr)
    n_tok = token_count_sql(expr)
    stop = (
        f"CAST(len(list_filter({toks}, t -> {_in_list_sql('t', EN_STOPWORDS)})) AS BIGINT)"
    )
    sum_len = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks}, t -> CAST(length(t) AS BIGINT))), (a, b) -> a + b)"
    )
    stop_ratio = (
        f"CASE WHEN ({n_tok}) > 0 THEN CAST({stop} AS DOUBLE) / CAST({n_tok} AS DOUBLE) "
        f"ELSE 0.0 END"
    )
    mean_tok = (
        f"CASE WHEN ({n_tok}) > 0 THEN CAST({sum_len} AS DOUBLE) / CAST({n_tok} AS DOUBLE) "
        f"ELSE 0.0 END"
    )
    score = (
        f"(least(CAST({n_tok} AS DOUBLE) / 100.0, 1.0) * 0.4 "
        f"+ 0.3 * (1.0 - least(({stop_ratio}) * 2.0, 1.0)) "
        f"+ 0.3 * least(({mean_tok}) / 8.0, 1.0))"
    )

    def _e6(e: str) -> str:
        return f"CAST(floor(({e}) * 1000000.0) AS BIGINT)"

    return {
        "n_tokens": n_tok,
        "n_stopwords": stop,
        "stop_ratio_e6": _e6(stop_ratio),
        "mean_token_len_e6": _e6(mean_tok),
        "quality_e6": _e6(score),
    }


# ----------------------------------------------------------------------
# Shingles (word n-grams) — the dedup unit
# ----------------------------------------------------------------------

def shingles_from_tokens_expr(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (space-joined) from a token-array
    column. ``toks`` MUST be a bound column (projected under its own
    alias), not an inline ``tokens_expr(...)``: Spark does not hoist
    non-lambda subexpressions out of LambdaFunction bodies, so an
    inline expression would be re-evaluated for every gram element —
    O(n·L²) per document instead of O(n·L) (measured >100× on
    2k-token documents; a bound multi-referenced alias is protected
    from CollapseProject inlining)."""
    idx = F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(toks, i + F.lit(j)) for j in range(n)]
        ),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles_from_tokens_sql(tok_col: str, n: int = 3) -> str:
    """Shingle list from an ALREADY-MATERIALIZED token-list column
    (DuckDB lambdas may reference outer columns but not subqueries, so
    the oracle SQL first binds tokens in a CTE, then calls this)."""
    parts = " || ' ' || ".join(f"{tok_col}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({tok_col}) >= {n} THEN "
        f"list_distinct(list_transform(range(1, len({tok_col}) - {n} + 2), "
        f"i -> {parts})) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


# ----------------------------------------------------------------------
# Rule-based quality FILTER (the Gopher/C4-style gate that consumes the
# quality signals): per doc a reason bitmask of failed rules + the kept
# verdict. Rules (qualitative Gopher analogs):
#   1  token count outside [10, 1000]
#   2  mean token length outside [2, 10]
#   4  stopword ratio < 0.02  (non-language-like text)
#   8  distinct-token ratio < 0.35  (repetition / boilerplate)
# ----------------------------------------------------------------------

QF_MIN_TOK, QF_MAX_TOK = 10, 1000
QF_MEAN_LO_E6, QF_MEAN_HI_E6 = 2_000_000, 10_000_000
QF_STOP_MIN_E6 = 20_000
QF_DISTINCT_MIN_E6 = 350_000


def quality_filter_cols_expr(col: Column) -> dict[str, Column]:
    qc = quality_cols_expr(col)
    toks = tokens_expr(col)
    n_tok = qc["n_tokens"]
    distinct_ratio = F.when(
        n_tok > 0,
        F.size(F.array_distinct(toks)).cast("double") / n_tok.cast("double"),
    ).otherwise(F.lit(0.0))
    distinct_e6 = F.floor(distinct_ratio * F.lit(1000000.0)).cast("long")
    reasons = (
        F.when((n_tok < QF_MIN_TOK) | (n_tok > QF_MAX_TOK), F.lit(1))
        .otherwise(F.lit(0))
        + F.when(
            (qc["mean_token_len_e6"] < QF_MEAN_LO_E6)
            | (qc["mean_token_len_e6"] > QF_MEAN_HI_E6), F.lit(2)
        ).otherwise(F.lit(0))
        + F.when(qc["stop_ratio_e6"] < QF_STOP_MIN_E6, F.lit(4))
        .otherwise(F.lit(0))
        + F.when(distinct_e6 < QF_DISTINCT_MIN_E6, F.lit(8))
        .otherwise(F.lit(0))
    ).cast("int")
    return {
        "n_tokens": n_tok,
        "distinct_ratio_e6": distinct_e6,
        "reasons": reasons,
        "kept": reasons == 0,
    }


def quality_filter_cols_sql(expr: str) -> dict[str, str]:
    qc = quality_cols_sql(expr)
    toks = tokens_sql(expr)
    n_tok = qc["n_tokens"]
    distinct_ratio = (
        f"CASE WHEN ({n_tok}) > 0 THEN "
        f"CAST(len(list_distinct({toks})) AS DOUBLE) / CAST({n_tok} AS DOUBLE) "
        f"ELSE 0.0 END"
    )
    distinct_e6 = f"CAST(floor(({distinct_ratio}) * 1000000.0) AS BIGINT)"
    reasons = (
        f"CAST((CASE WHEN ({n_tok}) < {QF_MIN_TOK} OR ({n_tok}) > {QF_MAX_TOK} "
        f"THEN 1 ELSE 0 END) "
        f"+ (CASE WHEN ({qc['mean_token_len_e6']}) < {QF_MEAN_LO_E6} "
        f"OR ({qc['mean_token_len_e6']}) > {QF_MEAN_HI_E6} THEN 2 ELSE 0 END) "
        f"+ (CASE WHEN ({qc['stop_ratio_e6']}) < {QF_STOP_MIN_E6} "
        f"THEN 4 ELSE 0 END) "
        f"+ (CASE WHEN ({distinct_e6}) < {QF_DISTINCT_MIN_E6} "
        f"THEN 8 ELSE 0 END) AS INTEGER)"
    )
    return {
        "n_tokens": n_tok,
        "distinct_ratio_e6": distinct_e6,
        "reasons": reasons,
        "kept": f"({reasons}) = 0",
    }


# ----------------------------------------------------------------------
# Duplicate-n-gram repetition (Gopher repetition-signal analog: the
# fraction of word-n-gram OCCURRENCES that are repeats of an earlier
# occurrence within the same document). Pure per-row expressions — no
# shuffle, no UDF; scales as a map over the corpus.
# ----------------------------------------------------------------------

REP_NGRAM_N = 3
REP_DUP_FRAC_MAX = 0.05  # flag threshold (fixture-scaled)


def repetition_cols_expr(col: Column, n: int = REP_NGRAM_N,
                         toks: Column | None = None) -> dict[str, Column]:
    """Repetition-signal columns. Callers on anything longer than toy
    documents must pass ``toks`` as a BOUND token-array column
    (projected under its own alias): the gram lambda references the
    token array per element, and an inline tokenizer would re-run the
    regex split per gram — O(n·L²) per document (see
    shingles_from_tokens_expr)."""
    if toks is None:
        toks = tokens_expr(col)
    has = (F.length(F.trim(col)) > 0) & (F.size(toks) >= n)
    total = F.when(has, F.size(toks) - F.lit(n) + 1).otherwise(F.lit(0))
    idx = F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.get(toks, i + F.lit(j)) for j in range(n)]
        ),
    )
    ndist = F.when(has, F.size(F.array_distinct(grams))).otherwise(F.lit(0))
    total_l = total.cast("long")
    ndist_l = ndist.cast("long")
    dup_frac = F.when(
        total_l > 0,
        (total_l - ndist_l).cast("double") / total_l.cast("double"),
    ).otherwise(F.lit(0.0))
    return {
        "n_grams": total_l,
        "n_distinct": ndist_l,
        "dup_frac": dup_frac,
        "flagged": dup_frac > F.lit(REP_DUP_FRAC_MAX),
    }


def repetition_sql(text_expr: str, n: int = REP_NGRAM_N) -> str:
    """Full oracle SELECT body over `documents` for q_repetition_ngrams
    (token list bound in a CTE first — DuckDB lambda scoping)."""
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return f"""
WITH tok AS (
  SELECT doc_id, {tokens_sql(text_expr)} AS t,
         length(trim({text_expr})) AS lt
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN lt > 0 AND len(t) >= {n} THEN len(t) - {n} + 1
              ELSE 0 END AS n_grams,
         CASE WHEN lt > 0 AND len(t) >= {n} THEN
           len(list_distinct(list_transform(
             range(1, len(t) - {n} + 2), i -> {parts})))
         ELSE 0 END AS n_distinct
  FROM tok
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CASE WHEN n_grams > 0
            THEN CAST(n_grams - n_distinct AS DOUBLE)
                 / CAST(n_grams AS DOUBLE)
            ELSE 0.0 END AS dup_frac,
       (CASE WHEN n_grams > 0
             THEN CAST(n_grams - n_distinct AS DOUBLE)
                  / CAST(n_grams AS DOUBLE)
             ELSE 0.0 END) > {REP_DUP_FRAC_MAX} AS flagged
FROM g
"""


# ----------------------------------------------------------------------
# PII patterns (emails / international phone numbers) — the scrub step
# of a training-data pipeline. Both patterns use only constructs with
# identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
# character classes, bounded/unbounded greedy repetition — no
# lookaround, no backreferences.
# ----------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9][0-9 ]{7,}[0-9]"
