"""Pipeline driver: ordered fold of labelling operators.

Reference: src/upcp/pipeline.py:18-196 — applies processors in priority
order to one tile at a time, recomputing ``mask = labels == 0`` before
each so later operators never overwrite earlier ones
(first-writer-wins, pipeline.py:88-95).

Spark re-expression (SURVEY.md §1.4): an ordered fold over immutable
DataFrames. Each processor contributes a claim; the fold applies

    label := CASE WHEN label == target AND claim THEN op.label
                  ELSE label END

so first-writer-wins falls out of the CASE ordering. Two folds share
one processor list:

- ``run_fused`` builds ONE lazy plan with a flat CASE — Catalyst sees
  every stage and fuses the scans (single-predicate processors only).
- ``run`` is the materialising stage runner, and the only one: every
  stage boundary is a localCheckpoint, or, with ``checkpoint_dir``, a
  parquet stage table plus per-tile lineage (rows claimed, wall time)
  so a rerun resumes mid-chain, mirroring the reference's
  per-processor logging (pipeline.py:92-95) and its intermediate
  tile writes. The 15-stage reference chain
  (``plans.full_pipeline``) runs through it.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..labels import Labels


class Processor:
    """A labelling stage. Subclasses either override ``claim`` (pure
    column predicate over the enriched frame) or ``enrich`` + ``claim``
    when the stage needs a join (PIP, raster, components), or override
    ``apply`` outright (``StageProcessor``).

    ``target_label`` is the label value a row must currently have for
    this stage to touch it — 0 (unlabelled) for most stages; e.g. the
    road fuser targets GROUND rows (reference road_fuser.py:81).

    Row contract: ``apply`` rewrites ``label`` only; it never adds or
    drops rows. ``Pipeline.run`` relies on it — stage 0's lineage
    counts its output as its input instead of re-running the
    un-materialised base plan.
    """

    label: int = Labels.UNKNOWN
    target_label: int = Labels.UNKNOWN
    name: str = "processor"

    def enrich(self, df: DataFrame) -> DataFrame:
        return df

    def claim(self, df: DataFrame):
        raise NotImplementedError

    def apply(self, df: DataFrame) -> DataFrame:
        df = self.enrich(df)
        return df.withColumn(
            "label",
            F.when(
                (F.col("label") == F.lit(self.target_label)) & self.claim(df),
                F.lit(self.label),
            ).otherwise(F.col("label")),
        )


@dataclass
class StageMetric:
    name: str
    rows_claimed: int
    wall_sec: float


def stage_table_committed(spark, path: str) -> bool:
    """True iff ``path`` holds a fully job-committed stage table:
    requires the ``_SUCCESS`` marker, not just readable parquet — a
    job killed mid-commit (or fileoutputcommitter algorithm v2) can
    leave a partially written but readable directory, and resuming
    from it would silently drop label state (ADVICE r04). Probed
    through the Hadoop FileSystem API so it works identically for
    local paths here and hdfs:///s3a:// stage tables on a cluster;
    any probe failure reads as uncommitted (fail closed ⇒ recompute,
    mode="overwrite" replaces the partial output)."""
    try:
        jpath = spark._jvm.org.apache.hadoop.fs.Path(path + "/_SUCCESS")
        fs = jpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration()
        )
        return bool(fs.exists(jpath))
    except Exception:
        return False


@dataclass
class Pipeline:
    """Ordered processor list with two folds (see the module docstring).

    ``run`` materialises every stage and records one ``StageMetric``
    (rows carrying the stage's labels, wall time) per computed stage.
    With ``checkpoint_dir`` each stage persists to
    ``stage_{i:02d}_{name}`` and appends per-tile lineage to
    ``_lineage``; a rerun over the same directory skips every committed
    stage (``resumed_stages``) — the idempotent-resume semantics of
    scripts/ahn_batch_processor.py:53-57.
    """

    processors: list[Processor]
    checkpoint_dir: str | None = None
    run_id: str = "run0"
    metrics: list[StageMetric] = field(init=False, default_factory=list)
    resumed_stages: list[str] = field(init=False, default_factory=list)

    def run(self, pages: DataFrame) -> DataFrame:
        from .lineage import append_stage_lineage

        df = pages
        if "label" not in df.columns:
            df = df.withColumn("label", F.lit(Labels.UNKNOWN))
        spark = df.sparkSession
        ckpt = self.checkpoint_dir
        for i, proc in enumerate(self.processors):
            path = f"{ckpt}/stage_{i:02d}_{proc.name}"
            if ckpt and stage_table_committed(spark, path):
                try:
                    done = spark.read.parquet(path)
                    done.head(1)  # force footer read: empty/corrupt → recompute
                    df = done
                    self.resumed_stages.append(proc.name)
                    continue
                except Exception:
                    pass
            t0 = time.time()
            labs = (proc.label if isinstance(proc.label, (list, tuple))
                    else [proc.label])
            # the claimed-row count rides along in the materialising job
            seen = Observation()
            out = proc.apply(df).observe(seen, F.count_if(
                F.col("label").isin([int(x) for x in labs])).alias("n"))
            if ckpt:
                out.write.mode("overwrite").parquet(path)
                out = spark.read.parquet(path)
            else:
                out = out.localCheckpoint()
            wall = time.time() - t0
            self.metrics.append(StageMetric(proc.name, seen.get["n"], wall))
            if ckpt:
                append_stage_lineage(
                    f"{ckpt}/_lineage", self.run_id, i, proc.name,
                    before=df if i > 0 else out, after=out,
                    label=proc.label, wall_sec=wall,
                )
            df = out
        return df

    def run_fused(self, pages: DataFrame) -> DataFrame:
        """Single flat-CASE fold — same first-writer-wins semantics as
        ``run`` but each claim expression appears at most twice in the
        plan instead of doubling per stage.

        Why: the naive fold ``label := CASE WHEN label==t AND claim …
        ELSE label END`` references the previous label column twice
        (condition + else); after Catalyst collapses the projections the
        stage-1 expression is inlined 2^(k-1) times by stage k —
        exponential blowup that kicks the plan out of efficient codegen
        when claims are large inlined predicates (the map-only PIP
        flags). The flat CASE is the algebraic normal form:

        - a stage targeting UNLABELLED appends branch (claim, label) at
          the end (earlier branches win ⇒ first-writer-wins);
        - a stage re-targeting label L (e.g. the road fuser retargets
          GROUND, road_fuser.py:81) inserts (branch_cond AND claim,
          label) immediately before every branch that writes L.
        """
        df = pages
        branches: list[tuple] = []
        for proc in self.processors:
            df = proc.enrich(df)
            c = proc.claim(df)
            if proc.target_label == Labels.UNKNOWN:
                branches.append((c, proc.label))
            else:
                out: list[tuple] = []
                for cond, val in branches:
                    if val == proc.target_label:
                        out.append((cond & c, proc.label))
                    out.append((cond, val))
                branches = out
        label = F.lit(int(Labels.UNKNOWN))
        for cond, val in reversed(branches):
            label = F.when(cond, F.lit(int(val))).otherwise(label)
        drop = [
            p.flag for p in self.processors
            if getattr(p, "flag", None) and p.flag in df.columns
        ]
        return df.withColumn("label", label).drop(*drop)

    def label_statistics(self, labelled: DataFrame) -> DataFrame:
        """Reference analysis_tools.get_label_stats (analysis/analysis_tools.py:8-18).
        One scan: the total is a window sum over the grouped rows."""
        total = F.sum("n_points").over(Window.partitionBy())
        return (
            labelled.groupBy("label")
            .agg(F.count("*").alias("n_points"))
            .withColumn("perc", F.round(F.col("n_points") / total * 100, 2))
            .orderBy("label")
        )
