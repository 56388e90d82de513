"""Seeded input generation for the benchmark workloads.

Every generator is a pure function of the seed and the size. Files go
under the benchmark's work directory (never into a shared test-data
directory). The schemas are the fixture schemas the engine declares in
``sources.pages.FIXTURE_SCHEMAS``; the document text follows the
fixture grammar: 10-100 words drawn from a 30-word vocabulary, joined
by single spaces, with a stated share of near-duplicates made by
appending `` dup`` to an earlier document. Whitespace other than a
single U+0020 never occurs, so the open tab/newline trim defect in
``operators.dedup._java_tokens`` is outside this benchmark's coverage.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per input kind, so changing one size never
    # shifts another input of the same seed
    return np.random.default_rng([seed, sum(map(ord, stream))])


def id_start(seed: int) -> int:
    """First page id of this seed's input. Page geometry is a hash of
    the id, so the seed picks which points exist. ``geocode`` multiplies
    the id by constants up to 3266489917 in 64-bit ANSI arithmetic, so
    ids above 2^63 / 3266489917 (about 2.8e9) overflow; ids stay below
    2.1e9."""
    return int(_rng(seed, "ids").integers(0, 2_000)) * 1_000_000


def write_orders(path: str, seed: int, start: int, n: int) -> int:
    """orders.parquet with o_orderkey = start .. start+n-1 (the page ids
    ``pages_from_orders`` geocodes). Returns the file size in bytes."""
    os.makedirs(path, exist_ok=True)
    rng = _rng(seed, f"orders{start}")
    dates = np.datetime64("1995-01-01") + rng.integers(0, 2404, n).astype(
        "timedelta64[D]"
    )
    table = pa.table({
        "o_orderkey": np.arange(start, start + n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, n // 10), n).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": pa.array(dates.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
        ),
    })
    out = f"{path}/orders.parquet"
    pq.write_table(table, out)
    return os.path.getsize(out)


def write_corpus(path: str, seed: int, n_docs: int, n_vecs: int,
                 dup_share: float) -> dict:
    """documents.parquet + embeddings.parquet. Returns row counts, bytes
    and the realised near-duplicate share."""
    os.makedirs(path, exist_ok=True)
    rng = _rng(seed, "documents")
    texts: list[str] = []
    n_dup = 0
    for i in range(n_docs):
        if i >= 10 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            n_dup += 1
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    pq.write_table(docs, f"{path}/documents.parquet")

    erng = _rng(seed, "embeddings")
    emb = erng.standard_normal((n_vecs, EMB_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    vecs = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": erng.integers(0, 10, n_vecs).astype(np.int32),
    })
    pq.write_table(vecs, f"{path}/embeddings.parquet")
    nbytes = sum(
        os.path.getsize(f"{path}/{t}.parquet")
        for t in ("documents", "embeddings")
    )
    return {
        "documents": n_docs, "embeddings": n_vecs, "bytes": nbytes,
        "near_dup_share": round(n_dup / n_docs, 4),
    }
