"""Semantics tests for the training-data pipeline operators
(dedup / similarity / text analysis / multimodal plumbing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from urban_pointcloud_processing_spark.functions.text import (
    pred_lang_expr,
    str_hash_expr,
    token_count_expr,
)
from urban_pointcloud_processing_spark.operators import multimodal as M
from urban_pointcloud_processing_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_lsh_dedup,
    minhash_signatures,
    simhash_neardup,
)
from urban_pointcloud_processing_spark.operators.similarity import cosine_topk


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], ["doc_id", "text"]
    )


def test_str_hash_matches_python(spark):
    def py_hash(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % 1_000_000_007
        return acc

    samples = ["hello world", "a", "", "the quick brown fox"]
    df = spark.createDataFrame([(s,) for s in samples], ["s"])
    got = {
        r["s"]: r["h"]
        for r in df.select("s", str_hash_expr(F.col("s")).alias("h")).collect()
    }
    for s in samples:
        assert got[s] == py_hash(s), s


def test_exact_dedup_groups_identical_texts(spark):
    df = _docs(spark, ["aa bb", "aa bb", "cc dd", "aa bb"])
    rows = {r["canonical_id"]: r["n_docs"] for r in exact_dedup(df).collect()}
    assert rows == {0: 3, 2: 1}


def test_jaccard_identical_docs_is_one(spark):
    df = _docs(spark, ["w1 w2 w3 w4 w5", "w1 w2 w3 w4 w5", "x1 x2 x3 x4 x5"])
    rows = jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows] == [(0, 1, 1.0)]


def test_jaccard_df_cap_drops_boilerplate_shingles(spark):
    """Shingles with document frequency > df_cap are excluded from the
    self-join: two docs sharing ONLY a boilerplate shingle (present in
    every doc) produce no pair at df_cap below the df, and the same
    pair reappears with the cap lifted."""
    boiler = "click here to"
    texts = [f"{boiler} page{v}" for v in range(4)]
    df = _docs(spark, texts)
    # every doc's only shingles involve the 3-word boilerplate prefix:
    # "click here to", "here to pageN" — df("click here to") = 4
    capped = jaccard_pairs(df, n=3, threshold=0.01, df_cap=3).collect()
    assert capped == []
    uncapped = jaccard_pairs(df, n=3, threshold=0.01, df_cap=1000).collect()
    assert len(uncapped) == 6  # all 4-choose-2 pairs share the shingle


def test_lsh_candidates_include_identical_docs(spark):
    df = _docs(spark, ["w1 w2 w3 w4 w5", "w1 w2 w3 w4 w5", "y1 y2 y3 y4 y5"])
    sig = minhash_signatures(df, n=3)
    cand = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(sig).collect()}
    assert (0, 1) in cand
    verified = minhash_lsh_dedup(df, n=3, threshold=0.5).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in verified] == [(0, 1, 1.0)]


def test_simhash_pigeonhole_matches_bruteforce(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon zeta",  # identical → hamming 0
        "alpha beta gamma delta epsilon eta",   # near
        "one two three four five six",          # far
    ]
    df = _docs(spark, texts)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup(df, max_hamming=5).collect()
    }
    # identical docs must appear with hamming 0
    assert got[(0, 1)] == 0
    # unsupported bounds fail loudly instead of silently losing recall
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash_neardup(df, max_hamming=6)
    # pigeonhole candidates at the default bound never miss pairs with
    # hamming <= 3 — verified against the all-pairs set
    tight = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_neardup(df, max_hamming=3).collect()
    }
    brute = {p for p, h in got.items() if h <= 3}
    assert tight == brute


def test_cosine_topk_ranks_identical_vector_first(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    top = cosine_topk(emb, k=3, query_mod=4).collect()  # query = vec 0
    ranked = [(r["rank"], r["vec_id"]) for r in sorted(top, key=lambda r: r["rank"])]
    assert ranked[0] == (1, 1)  # identical vector first (cosine 1.0)
    assert ranked[1][1] == 2
    assert ranked[2][1] == 3


def test_lang_id_and_token_count(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog is a pet"),
            (1, "der hund und die katze ist ein tier"),
            (2, "zzz qqq"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["lang"], r["n"])
        for r in df.select(
            "doc_id",
            pred_lang_expr(F.col("text")).alias("lang"),
            token_count_expr(F.col("text")).alias("n"),
        ).collect()
    }
    assert got[0] == ("en", 8)
    assert got[1] == ("de", 8)
    assert got[2][0] == "und"


def test_decode_stub_and_media_features(spark):
    with pytest.raises(NotImplementedError):
        M.decode_image(b"abc")
    assert M.decode_image(b"abc", codec="fake") == (3, b"a")

    docs = _docs(spark, ["abc", "xyzw"])
    feats = {
        r["doc_id"]: r
        for r in M.media_features(M.synth_media(docs), frame_stride=24).collect()
    }
    assert feats[0]["n_bytes"] == 3
    assert feats[0]["first_byte"] == ord("a")
    assert feats[0]["byte_mean"] == round((97 + 98 + 99) / 3, 6)
    assert feats[1]["n_bytes"] == 4


def test_dedup_clusters_survivors(spark):
    """Every near-dup pair lands in one cluster; canonical = min id;
    exactly one survivor per cluster."""
    from urban_pointcloud_processing_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_dedup,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = dedup_clusters(docs, 3, 0.5).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(out) == docs.count()
    clusters = {}
    for r in out:
        clusters.setdefault(r["canonical_id"], []).append(r)
        assert r["canonical_id"] <= r["doc_id"]
        assert r["is_survivor"] == (r["doc_id"] == r["canonical_id"])
    for cid, members in clusters.items():
        assert sum(r["is_survivor"] for r in members) == 1
        assert all(r["cluster_size"] == len(members) for r in members)
    # pair endpoints always share a cluster
    for p in minhash_lsh_dedup(docs, 3, 0.5).collect():
        assert (
            by_id[p["doc_a"]]["canonical_id"]
            == by_id[p["doc_b"]]["canonical_id"]
        )
    assert any(not r["is_survivor"] for r in out)  # non-vacuous


def test_decontaminate_excludes_eval_slice(spark):
    from urban_pointcloud_processing_spark.operators.dedup import decontaminate

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = decontaminate(docs, 3, 97, 3).collect()
    assert all(r["doc_id"] % 97 != 0 for r in out)
    assert len(out) == docs.filter("doc_id % 97 != 0").count()
    flagged = [r for r in out if r["contaminated"]]
    assert flagged and all(r["n_hits"] >= 3 for r in flagged)
    assert all(r["n_hits"] < 3 for r in out if not r["contaminated"])


def test_boilerplate_frac_flags_shared_fragments(spark):
    """Docs sharing a boilerplate phrase (df > cap) get a positive
    common fraction; a unique doc stays at 0."""
    from urban_pointcloud_processing_spark.operators.dedup import (
        boilerplate_frac,
    )

    boiler = "click here to subscribe now"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, boiler + " epsilon zeta eta theta"),
            (3, boiler + " iota kappa lmbda mu"),
            (4, "totally unique content with no shared fragments at all"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in boilerplate_frac(docs, 3, 2).collect()}
    # the 3 shingles fully inside the boiler phrase appear in 3 docs
    # (> cap 2) → common on docs 1-3; doc 4 shares nothing
    for d in (1, 2, 3):
        assert got[d]["n_common"] == 3, got[d]
        assert got[d]["common_frac"] > 0.0
    assert got[4]["n_common"] == 0 and got[4]["common_frac"] == 0.0


def test_span_dedup_df_cap_parity_and_effect(spark):
    """span_dedup's hot-gram cap (the JACCARD_DF_CAP analog for span
    dedup): engine and oracle apply the identical cap and stay
    bit-exact, and on the fixture the cap actually drops
    high-document-frequency boilerplate grams (output differs from
    the uncapped run)."""
    from tests.parity import compare
    from urban_pointcloud_processing_spark.operators.dedup import (
        span_dedup,
        span_dedup_sql,
    )

    sf = "/root/testdata/sf0.001"
    rep = compare(
        spark, sf, "span_dedup_cap2",
        lambda s, d: span_dedup(
            s.read.parquet(f"{d}/documents.parquet"), 8, df_cap=2
        ),
        span_dedup_sql(8, 2),
    )
    assert rep["ok"], rep

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    uncapped = span_dedup(docs, 8).count()
    capped = span_dedup(docs, 8, df_cap=2).count()
    assert capped != uncapped, (
        "df_cap=2 should drop some hot grams on the fixture "
        f"(uncapped={uncapped}, capped={capped})"
    )


def test_java_tokens_matches_spark_trim_and_split(spark):
    """_java_tokens (the Python-side tokenizer of the shingle kernels)
    must split exactly like F.split(F.trim(text), r"\\s+"): Spark's trim
    strips only spaces, so leading/trailing tabs and newlines leave an
    empty first/last token."""
    from urban_pointcloud_processing_spark.operators.dedup import _java_tokens

    texts = [
        "one two three four\n", "\tlead tab one two", "  spaced  out  ",
        " \ttab after space", "trail tab\t", "\n", "\t \n", " ", "",
        "a\r\nb", "x\x0by\x0cz", None,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, text string")
    got = {
        r["i"]: r["toks"]
        for r in df.select(
            "i", F.split(F.trim("text"), r"\s+").alias("toks")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert _java_tokens(t) == got[i], repr(t)
