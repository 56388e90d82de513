"""Per-row invariant (BASELINE.json input_hint): byte-identical
extracted text per url, against an independent Python golden."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from urban_pointcloud_processing_spark.functions.html import extract_text_col
from urban_pointcloud_processing_spark.sources.pages import synthetic_html_pages


def test_html_extraction_byte_identical(spark):
    pages = synthetic_html_pages(spark, 500)
    out = pages.select(
        "page_id", "url", extract_text_col(F.col("html")).alias("text")
    ).collect()
    assert len(out) == 500
    for r in out:
        i = r["page_id"]
        tok = hashlib.sha1(f"42:{i}".encode()).hexdigest()[:8]
        golden = f"doc {i} tok {tok}"
        assert r["text"] == golden, (i, r["text"], golden)
        assert r["text"].encode("utf-8") == golden.encode("utf-8")


def test_html_entities_and_whitespace(spark):
    rows = [
        (0, b"<html><p>a &amp; b</p>\n\n<p>c &lt;d&gt;</p></html>"),
        (1, b"  <div>x</div>\t<div>y</div>  "),
        (2, b"&amp;lt;"),  # double-encoded: must decode to "&lt;" not "<"
    ]
    df = spark.createDataFrame(rows, ["i", "html"])
    got = {
        r["i"]: r["t"]
        for r in df.select("i", extract_text_col(F.col("html")).alias("t")).collect()
    }
    assert got[0] == "a & b c <d>"
    assert got[1] == "x y"
    assert got[2] == "&lt;"


def test_html_whitespace_alike_in_spark_and_duckdb(spark):
    """The UDF (Python re, str.strip) and the oracle (RE2, DuckDB trim)
    collapse and strip the same characters. RE2's \\s leaves out
    U+000B; Python's \\s and str.strip() also match U+00A0, U+0085,
    U+2028, U+3000 and U+001C."""
    import duckdb
    import pyarrow as pa

    from urban_pointcloud_processing_spark.functions.html import (
        extract_text_sql,
    )

    odd = ["\x0b", "\xa0", "\u2028", "\x85", "\x1c", "\u3000"]
    texts = (
        [f"a{c}b" for c in odd]
        + [f"{c}x{c}" for c in odd]
        + [f"<p>{c}</p> y <b>{c}</b>" for c in odd]
        + ["  a \t\n\x0c\r b  ", "&amp;\x0b&lt;", "", " "]
    )
    df = spark.createDataFrame(
        [(i, t.encode("utf-8")) for i, t in enumerate(texts)],
        "i int, html binary",
    )
    got = [
        tuple(r) for r in df.select(
            "i", extract_text_col(F.col("html"))
        ).orderBy("i").collect()
    ]
    docs = pa.table({"i": list(range(len(texts))), "html": texts})  # noqa: F841
    want = duckdb.sql(
        f"SELECT i, {extract_text_sql('html')} FROM docs ORDER BY i"
    ).fetchall()
    assert got == want
    assert got[0][1] == "a b"  # U+000B collapses
    assert got[1][1] == "a\xa0b"  # U+00A0 is not a separator
