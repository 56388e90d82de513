"""Distance joins on coordinates that have no cell.

Every distance join keys both sides on ``tiling.cell_id``'s packed
BIGINT, which needs |x/max_dist| and |y/max_dist| below 2^30. A probe
row at +Inf, 1e300 or NaN and a build object at 1e300 get no cell and
pair with nothing, so each join returns exactly its result on the
ordinary rows. Without the range guard, an infinite or huge coordinate
overflowed the key and raised ARITHMETIC_OVERFLOW (ANSI mode) for the
whole query; NaN never reached a candidate because NaN <= max_dist² is
false, and stays here as a regression case.
"""

from __future__ import annotations

import pytest

from urban_pointcloud_processing_spark.operators.neighbors import (
    knn_candidates_shuffle,
    knn_idw,
    knn_label_fusion,
    knn_max,
    nearest_match,
)

MAX_DIST = 5.0
PROBE_SCHEMA = "page_id long, x double, y double"
BUILD_SCHEMA = "obj_id long, x double, y double, z double, bgt_type string, label int"

PROBES = [(i, (i * 7 % 30) + 0.5, (i * 11 % 30) + 0.25) for i in range(40)]
BUILDS = [
    (100 + j, (j * 13 % 30) + 0.1, (j * 17 % 30) + 0.3, float(j), f"t{j % 3}", j % 3 + 1)
    for j in range(15)
]
EDGES = {
    "probe_inf": ([(900, float("inf"), 1.0)], []),
    "probe_1e300": ([(901, 1e300, 1.0)], []),
    "probe_nan": ([(902, float("nan"), 1.0)], []),
    "build_1e300": ([], [(199, 1e300, 1.0, 7.0, "t0", 1)]),
}


def _nb(build):
    return build.withColumnRenamed("obj_id", "nb_id")


CALLS = {
    "nearest_match": lambda p, b: nearest_match(p, b, MAX_DIST),
    "knn_idw": lambda p, b: knn_idw(p, b, k=3, max_dist=MAX_DIST),
    "knn_max": lambda p, b: knn_max(p, b, k=3, max_dist=MAX_DIST),
    "knn_label_fusion": lambda p, b: knn_label_fusion(
        p, _nb(b), k=3, max_dist=MAX_DIST, salt_target=None),
    "knn_label_fusion_salted": lambda p, b: knn_label_fusion(
        p, _nb(b), k=3, max_dist=MAX_DIST, salt_target=2),
    "knn_candidates_shuffle": lambda p, b: knn_candidates_shuffle(
        p, _nb(b), MAX_DIST, build_id="nb_id", salt_target=None),
    "knn_candidates_shuffle_salted": lambda p, b: knn_candidates_shuffle(
        p, _nb(b), MAX_DIST, build_id="nb_id", salt_target=2),
}


def _rows(spark, name, probes, builds) -> set:
    p = spark.createDataFrame(probes, PROBE_SCHEMA)
    b = spark.createDataFrame(builds, BUILD_SCHEMA)
    return {tuple(r) for r in CALLS[name](p, b).collect()}


@pytest.fixture(scope="module")
def ordinary(spark) -> dict[str, set]:
    """Each call's result on the ordinary rows alone."""
    out = {name: _rows(spark, name, PROBES, BUILDS) for name in CALLS}
    assert all(out.values()), "the ordinary rows must produce candidates"
    return out


@pytest.mark.parametrize("edge", sorted(EDGES))
@pytest.mark.parametrize("name", sorted(CALLS))
def test_cellless_rows_pair_with_nothing(spark, ordinary, name, edge):
    extra_p, extra_b = EDGES[edge]
    got = _rows(spark, name, PROBES + extra_p, BUILDS + extra_b)
    assert got == ordinary[name]
