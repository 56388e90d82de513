"""Cable-merging semantics on constructed synthetic cables (the
fixture-generator test strategy of reference las_utils.create_pole_las),
run through the engine's one merge, ``merge_cables_cc``."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from urban_pointcloud_processing_spark.operators.cable_merge import merge_cables_cc


def _cable(cid: int, x0: float, x1: float, y: float, sag: float = 0.2,
           n: int = 20) -> pd.DataFrame:
    """Points along a sagging span from (x0,y) to (x1,y): a parabola in
    z with the given mid-span sag."""
    xs = np.linspace(x0, x1, n)
    mid = (x0 + x1) / 2
    half = (x1 - x0) / 2
    z = 10.0 - sag * (1 - ((xs - mid) / half) ** 2)
    return pd.DataFrame(
        {"cluster_id": cid, "x": xs, "y": y, "z": z}
    )


def _halves() -> pd.DataFrame:
    """Two halves of ONE span (same line, touching, shared parabola)."""
    xs = np.linspace(0.0, 40.0, 40)
    z = 10.0 - 0.2 * (1 - ((xs - 20.0) / 20.0) ** 2)
    return pd.DataFrame({
        "cluster_id": np.where(xs < 20.0, 1, 2), "x": xs, "y": 5.0, "z": z,
    })


def _perpendicular() -> pd.DataFrame:
    """A span, a perpendicular cable crossing nearby (angle gate) and a
    collinear one 30 m on (gap > max_gap)."""
    perp = pd.DataFrame({
        "cluster_id": 2, "x": 21.0,
        "y": np.linspace(0.0, 20.0, 20), "z": 10.0,
    })
    return pd.concat([_cable(1, 0.0, 20.0, 5.0), perp,
                      _cable(3, 50.0, 70.0, 5.0)])


def _chain() -> pd.DataFrame:
    """Three consecutive collinear segments."""
    return pd.concat([
        _cable(7, 0.0, 15.0, 3.0, sag=0.0),
        _cable(5, 16.0, 30.0, 3.0, sag=0.0),
        _cable(9, 31.0, 45.0, 3.0, sag=0.0),
    ])


def _rough() -> pd.DataFrame:
    """Aligned and close, but one half's z is jagged (curve gate)."""
    rough = _halves()
    rng = np.random.default_rng(7)
    second = rough.cluster_id == 2
    rough.loc[second, "z"] += rng.uniform(-3, 3, second.sum())
    return rough


@pytest.mark.parametrize(
    "make, want",
    [
        (_halves, {1: 1, 2: 1}),
        (_perpendicular, {1: 1, 2: 2, 3: 3}),
        (_chain, {5: 5, 7: 5, 9: 5}),
        (_rough, {1: 1, 2: 2}),
    ],
    ids=["collinear-halves", "perpendicular-and-far", "chain-to-min-id",
         "rough-z"],
)
def test_merge_cables_cc(spark, make, want):
    df = spark.createDataFrame(make())
    got = {r["cluster_id"]: r["merged_id"] for r in merge_cables_cc(df).collect()}
    assert got == want


def test_merge_cables_cc_bucketed_path_matches_broadcast(spark):
    """The endpoint-cell candidate join admits every pair the exact
    gates accept: the result equals the one the all-pairs broadcast
    self-join gave (a 3-span chain and a separate 2-span row)."""
    pdf = pd.concat([
        _cable(1, 0.0, 18.0, 2.0, sag=0.0),
        _cable(2, 20.0, 38.0, 2.0, sag=0.0),
        _cable(3, 40.0, 58.0, 2.0, sag=0.0),   # chains 1-2-3
        _cable(7, 0.0, 18.0, 80.0, sag=0.0),   # far row
        _cable(9, 20.5, 38.5, 80.0, sag=0.0),  # merges with 7: gap 2.5 m
    ])
    got = {
        r["cluster_id"]: r["merged_id"]
        for r in merge_cables_cc(spark.createDataFrame(pdf)).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}
