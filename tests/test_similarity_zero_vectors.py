"""Zero-norm embeddings against the oracle.

A zero vector has no direction: the oracle's cosine is ``x / 0`` =
NULL, and NULL ranks after every finite cosine (ties by id) in the
top-k, in the centroid argmax and in the probe order. The fixture
variant zeroes a plain vector (7), a centroid under ``centroid_mod``
20 (20) and a query under ``query_mod`` 50 (50), and every similarity
query must still match its oracle row for row.

The second variant drops every vec_id divisible by 10, so no row is a
query under ``query_mod`` 50 or a centroid under ``centroid_mod`` 20:
the searches must return an empty top-k, as the oracle does.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from urban_pointcloud_processing_spark import queries as Q

from .conftest import SF_DIR
from .parity import TABLES, compare

# the sf0.001 fixture next to the parity scale factor
SOURCE = os.path.join(os.path.dirname(SF_DIR), "sf0.001")
ZEROED = (7, 20, 50)
SIMILARITY = (
    "cosine_topk",
    "cosine_neardup",
    "cosine_neardup_lsh",
    "ivf_topk",
    "ivf_kmeans_topk",
    "ann_lsh_topk",
)


@pytest.fixture(scope="module")
def zero_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("zero_vectors")
    emb = pq.read_table(f"{SOURCE}/embeddings.parquet")
    col = emb.column("embedding")
    zero = pc.is_in(emb.column("vec_id"), pa.array(ZEROED, pa.int64()))
    dims = len(col[0])
    assert pc.sum(zero).as_py() == len(ZEROED)
    zeroed = pa.array(
        [[0.0] * dims if z else v for z, v in zip(zero.to_pylist(), col.to_pylist())],
        col.type,
    )
    return _fixture_dir(d, emb.set_column(
        emb.schema.get_field_index("embedding"), "embedding", zeroed
    ))


@pytest.fixture(scope="module")
def no_query_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("no_queries")
    emb = pq.read_table(f"{SOURCE}/embeddings.parquet")
    keep = pa.array([v % 10 != 0 for v in emb.column("vec_id").to_pylist()])
    assert 0 < pc.sum(keep).as_py() < len(emb)
    return _fixture_dir(d, emb.filter(keep))


def _fixture_dir(d, emb) -> str:
    """``d`` holding ``emb`` as the embeddings and the other sf0.001
    tables as symlinks."""
    pq.write_table(emb, d / "embeddings.parquet")
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SOURCE}/{t}.parquet", d / f"{t}.parquet")
    return str(d)


@pytest.mark.parametrize("name", SIMILARITY)
def test_zero_vector_parity(spark, zero_dir, name):
    report = compare(
        spark, zero_dir, name, Q.queries()[name], Q.oracle_sql()[name]
    )
    assert report.get("ok"), report


@pytest.mark.parametrize("name", SIMILARITY)
def test_no_query_rows_parity(spark, no_query_dir, name):
    report = compare(
        spark, no_query_dir, name, Q.queries()[name], Q.oracle_sql()[name]
    )
    assert report.get("ok"), report
