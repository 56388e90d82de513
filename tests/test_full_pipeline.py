"""The canonical 15-stage pipeline composite (plans/full_pipeline.py).

Reference behavior re-created: notebooks/`0. Complete solution.ipynb`
process_sequence folded with mask = labels == 0 (pipeline.py:88-95).
Cross-engine value-exactness is covered by the driver oracle
(pipeline_full / pipeline_full_hist); these tests pin the fold
mechanics that the oracle can't isolate."""

from __future__ import annotations

from pyspark.sql import functions as F

from urban_pointcloud_processing_spark.labels import Labels
from urban_pointcloud_processing_spark.plans.full_pipeline import (
    _claims_grower,
    full_pipeline_labels,
)

SF_DIR = "/root/testdata/sf0.001"


def test_grower_claims_unlabelled_members_of_seeded_components(spark):
    """A component whose seed fraction exceeds the threshold grows the
    label onto its UNLABELLED members only; an unseeded component stays
    untouched (layer_lcc.py:70-136)."""
    L = int(Labels.BUILDING)
    rows = []
    # component A: 10 points in a row, 2 seeded with L -> frac 0.2 > 0.1
    for i in range(10):
        rows.append((i, 100.0 + i, 50.5, 3.0, L if i < 2 else 0))
    # component B: 5 points far away, no seeds
    for i in range(5):
        rows.append((100 + i, 300.0 + i, 80.5, 3.0, 0))
    df = spark.createDataFrame(rows, ["page_id", "x", "y", "z", "label"])
    # gz = 2.0 everywhere puts z=3.0 inside GROW_BAND (0.5, 2.5)... dz=1.0
    df = df.withColumn("gz", F.lit(2.0))
    claims = {r["page_id"]: r["lbl"] for r in _claims_grower(df, L).collect()}
    assert set(claims.values()) == {L}
    assert set(claims) == set(range(2, 10))  # A's unlabelled members only


def test_full_pipeline_first_writer_wins_and_claims(spark):
    """End-to-end at sf0.001: one label per page, labels drawn from the
    taxonomy, and the early stages all claim (the sparse fixture can't
    light the pole/furniture stages — sf0.01 does, see the driver
    CORRECTNESS rows)."""
    out = full_pipeline_labels(spark, SF_DIR)
    rows = out.groupBy("label").count().collect()
    hist = {r["label"]: r["count"] for r in rows}
    assert sum(hist.values()) == 1500
    assert set(hist) <= set(Labels.STR_DICT)
    for expected in (Labels.ROAD, Labels.GROUND, Labels.BUILDING,
                     Labels.CABLE, Labels.NOISE):
        assert hist.get(int(expected), 0) > 0, expected
    # exactly one row per page (the fold never duplicates)
    assert out.select("page_id").distinct().count() == 1500


def test_full_pipeline_labels_memoised_per_session(spark):
    """A second call in the same session returns the same checkpointed
    DataFrame and submits no Spark job."""
    first = full_pipeline_labels(spark, SF_DIR)
    sc = spark.sparkContext
    group = "test-full-pipeline-labels-memo"
    sc.setJobGroup(group, group)
    try:
        again = full_pipeline_labels(spark, SF_DIR)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert again is first
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_fused_families_match_sequential_chain(spark):
    """The pole (7-9) and furniture (10-11) stage families run as ONE
    fused detection each (VERDICT r03 item 3). Furniture fusing is
    exact by construction (whole-component claims leave the remaining
    CC partition unchanged); pole fusing detects over the pre-family
    unlabelled set, so this test pins output identity against the
    strictly sequential reference chain on the fixture: the same
    stages with each family replaced by its per-type steps — the
    family detector called with one (stage, bgt_type, label) at a time,
    the mask recomputed before every one (src/upcp/pipeline.py:88-95) —
    run through the same ``Pipeline.run``."""
    import urban_pointcloud_processing_spark.plans.full_pipeline as fp
    from urban_pointcloud_processing_spark.plans.pipeline import Pipeline

    def per_type(prefix, claims, family):
        return [
            (f"{prefix}_{spec[1]}", [int(spec[2])],
             lambda lbl, spec=spec: fp._fold_family(
                 lbl, claims(fp._unl(lbl), (spec,))))
            for spec in family
        ]

    families = {
        "pole_family": per_type("pole", fp.pole_claims, fp.POLE_STAGES),
        "furniture_family": per_type(
            "furniture", fp.furniture_claims, fp.FURN_STAGES),
    }
    chain = [s for stage in fp.pipeline_stages()
             for s in families.get(stage[0], [stage])]
    assert len(chain) == 15

    base = (
        fp._base(spark, SF_DIR).withColumn("label", F.lit(0)).localCheckpoint()
    )
    lbl = Pipeline([fp.StageProcessor(*s) for s in chain]).run(base)
    seq = {r["page_id"]: r["label"]
           for r in lbl.select("page_id", "label").collect()}

    fused = {r["page_id"]: r["label"]
             for r in full_pipeline_labels(spark, SF_DIR).collect()}
    assert fused == seq


def test_component_near_both_furniture_types(spark, monkeypatch):
    """A band cluster at the midpoint of registry objects bank 8 and
    afvalbak 14 (30.2 m apart) lies within 20 m of both. The standalone
    street_furniture_fuser emits each member page once with CITY_BENCH
    (80); the furniture family fold gives it RUBBISH_BIN (81), because
    the afvalbak stage (10) precedes the bank stage (11)."""
    import urban_pointcloud_processing_spark.plans.full_pipeline as fp
    from urban_pointcloud_processing_spark import queries as Q
    from urban_pointcloud_processing_spark.sources.layers import point_layer

    objs = {i: (x, y) for _, i, x, y, _ in point_layer()}
    mx = (objs[8][0] + objs[14][0]) / 2
    my = (objs[8][1] + objs[14][1]) / 2
    gz = 2.0
    # a 3 × 3 grid 1 m apart (extent 2 m), 0.5 m above ground, one
    # point 0.8 m up (cluster height 0.8 m); page 9 is above the band
    rows = [(i * 3 + j, mx - 1.0 + i, my - 1.0 + j,
             gz + (0.8 if (i, j) == (1, 1) else 0.5), gz)
            for i in range(3) for j in range(3)]
    rows.append((9, mx, my, gz + 3.0, gz))
    pages = spark.createDataFrame(rows, "page_id long, x double, y double, "
                                        "z double, gz double")
    members = list(range(9))

    monkeypatch.setattr(Q, "_pages_gz", lambda spark, sf_dir: pages)
    got = [(r["page_id"], r["label"])
           for r in Q.q_street_furniture_fuser(spark, SF_DIR).collect()]
    assert sorted(got) == [(p, int(Labels.CITY_BENCH)) for p in members]

    step = {name: s for name, _, s in fp.pipeline_stages()}["furniture_family"]
    folded = {r["page_id"]: r["label"]
              for r in step(pages.withColumn("label", F.lit(0))).collect()}
    assert folded == {**{p: int(Labels.RUBBISH_BIN) for p in members}, 9: 0}


def test_pipeline_kill_and_resume_from_stage_k(spark):
    """north_rule resumability for the ACTUAL 15-stage pipeline: run
    with parquet stage tables, kill mid-run (simulated by a stage that
    raises), rerun over the same checkpoint dir — the rerun must skip
    every completed stage and produce output identical to the
    uninterrupted in-session fold. Reference analog: the batch
    processor skips completed tiles on rerun
    (scripts/ahn_batch_processor.py:53-57)."""
    import shutil
    import tempfile

    import urban_pointcloud_processing_spark.plans.full_pipeline as fp
    from urban_pointcloud_processing_spark.plans.lineage import read_lineage

    tmp = tempfile.mkdtemp(prefix="upcp_fp_ckpt_")
    try:
        stages = fp.pipeline_stages()
        kill_at = 5  # die entering the 6th stage (car_fuser)

        class _Killed(RuntimeError):
            pass

        broken = [
            (n, labs, (lambda _lbl: (_ for _ in ()).throw(_Killed())))
            if i == kill_at else (n, labs, s)
            for i, (n, labs, s) in enumerate(stages)
        ]
        orig = fp.pipeline_stages
        fp.pipeline_stages = lambda: broken
        try:
            try:
                fp.full_pipeline_labels_resumable(spark, SF_DIR, tmp, "r1")
                raise AssertionError("kill did not fire")
            except _Killed:
                pass
        finally:
            fp.pipeline_stages = orig

        # resume: completed prefix is skipped, the rest recomputes
        out, resumed = fp.full_pipeline_labels_resumable(
            spark, SF_DIR, tmp, "r2"
        )
        assert resumed == [n for n, _, _ in stages[:kill_at]]
        got = {r["page_id"]: r["label"] for r in out.collect()}

        cold = {
            r["page_id"]: r["label"]
            for r in full_pipeline_labels(spark, SF_DIR).collect()
        }
        assert got == cold

        # lineage: per-tile rows for every non-skipped stage, both runs
        lin = read_lineage(spark, f"{tmp}/_lineage")
        names = {r["stage_name"] for r in lin.select("stage_name").distinct().collect()}
        assert names == {n for n, _, _ in stages}
        assert lin.filter(F.col("stage_name") == "ground_refine").count() > 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
