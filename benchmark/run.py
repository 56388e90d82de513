#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client against the engine.

    python3 benchmark/run.py --workload tile_fusion --seed 1 --seconds 8 --trace 0

Runs on ``local[<cores>]`` with one client: the next pass is submitted
only after the previous one finished, and every pass builds a fresh
plan. Set-up is timed once, cold: engine package import, JVM launch and
session start, and a warm-up query. The workload then builds its seeded
inputs under ``.bench_work/`` and checks the engine against the
registered DuckDB oracle, and two untimed passes follow: the first sets
the reference output digest, the second must reproduce it. Timed passes
follow until ``--seconds`` have passed and the workload's minimum pass
count ran; each must reproduce the reference digest (computed after the
pass's time is taken), run at least one Spark job, and reuse no stage
of an earlier pass.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones: untraced passes for a quarter of ``--seconds``, then as many with
spans around every layer's public functions plus Spark's counters per
pass, then isolated probe calls. The last
stdout line is the result JSON; the line before it holds diagnostics.
Exit code 1 means a check failed, 2 that the engine is not present.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "urban_pointcloud_processing_spark"
WORK = ROOT / ".bench_work"
DRIVER_MEMORY = "4g"
# A fixed young generation: G1 otherwise sizes eden from its pause
# times, which follow the host's load, so the driver's peak RSS swung
# by 0.14 of its median between runs of the same workload.
DRIVER_YOUNG_GEN = "768m"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="smoke-test input sizes")
    return p.parse_args(argv)


def configure_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside WORK, and
    let the Python workers import the engine from any directory."""
    conf, tmp, local = WORK / "conf", WORK / "tmp", WORK / "spark-local"
    for d in (conf, tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    # no JVM (the driver, or spark-submit's launcher) writes under /tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    (conf / "spark-defaults.conf").write_text("\n".join([
        f"spark.local.dir {local}",
        f"spark.sql.warehouse.dir {WORK / 'warehouse'}",
        f"spark.driver.extraJavaOptions {jvm_opts} -Xmn{DRIVER_YOUNG_GEN}",
        "spark.ui.showConsoleProgress false",
        "spark.ui.retainedJobs 100000",
        "spark.ui.retainedStages 100000",
        "spark.sql.ui.retainedExecutions 100000",
        "",
    ]))
    (conf / "log4j2.properties").write_text("\n".join([
        "rootLogger.level = error",
        "rootLogger.appenderRef.stderr.ref = console",
        "appender.console.type = Console",
        "appender.console.name = console",
        "appender.console.target = SYSTEM_ERR",
        "appender.console.layout.type = PatternLayout",
        "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n",
        "",
    ]))
    paths = [str(ROOT), str(HERE), os.environ.get("PYTHONPATH", "")]
    os.environ.update({
        "SPARK_CONF_DIR": str(conf),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(p for p in paths if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = None
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)


def environment(cores: int) -> dict:
    import pyspark

    with open("/proc/meminfo") as fh:
        mem = int(fh.readline().split()[1]) * 1024
    return {"nproc": cores, "ram_bytes": mem, "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "driver_max_heap": DRIVER_MEMORY,
            "driver_young_gen": DRIVER_YOUNG_GEN,
            "loadavg_before": os.getloadavg()}


def warmup(spark) -> None:
    """Smallest query that still generates code, forks the Python workers
    and imports the engine inside them (PIP Arrow kernel)."""
    from urban_pointcloud_processing_spark.sources.layers import polygon_edges_df
    from urban_pointcloud_processing_spark.sources.pages import synthetic_pages
    from workloads import pip_stage, raster_stage

    pages = synthetic_pages(spark, 20_000)
    pip_stage(raster_stage(spark, pages), polygon_edges_df(spark)).count()


class Bench:
    """What a workload sees: session, status store, paths, seed, spans."""

    def __init__(self, spark, seed: int, cores: int):
        from sparkstats import StatusStore

        self.spark, self.sc = spark, spark.sparkContext
        self.store = StatusStore(spark)
        self.seed, self.cores, self.tracer = seed, cores, None
        self.inputs = str(WORK / "inputs" / f"seed{seed}")
        os.makedirs(self.inputs, exist_ok=True)

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)


def setup(cores: int):
    """Cold set-up, timed: the first import of the engine package, the
    JVM launch and session start, and the warm-up query."""
    t0 = time.perf_counter()
    from urban_pointcloud_processing_spark.session import get_spark

    spark = get_spark(master=f"local[{cores}]", driver_memory=DRIVER_MEMORY)
    warmup(spark)
    return spark, time.perf_counter() - t0


def run_passes(bench, wl, seconds: float, traced: bool,
               min_passes: int = 1) -> list[dict]:
    """Closed loop: passes until ``seconds`` have elapsed and at least
    ``min_passes`` ran.
    Each pass runs in its own job group; the checks that need the status
    store run after the pass, outside its timing."""
    from sparkstats import runtime_counters

    passes = []
    t_end = time.perf_counter() + seconds
    while len(passes) < min_passes or time.perf_counter() < t_end:
        i = len(passes)
        group = f"bench-{'traced' if traced else 'plain'}-{i}"
        before = bench.store.max_stage_id()
        bench.spark._jvm.System.gc()   # every pass starts from a collected heap
        n_spans = len(bench.tracer.spans) if bench.tracer else 0
        bench.sc.setJobGroup(group, group)
        w0, t0 = time.time(), time.perf_counter()
        err, rows, out = None, 0, None
        try:
            rows, out = wl.run_pass(i)
        except Exception:
            err = traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        w1 = time.time()
        if err is None:
            out = wl.output_digest(out)
        jobs = bench.store.jobs(group)
        reused = sorted({s for j in jobs for s in j["stageIds"] if s <= before})
        if err is None and not jobs:
            err = "no Spark job ran"
        elif err is None and reused:
            err = f"stages of earlier passes reused: {reused[:5]}"
        elif err is None and out != wl.reference:
            err = f"digest {out} != reference {wl.reference}"
        rec = {"i": i, "seconds": dt, "rows": rows, "error": err}
        if traced:
            spans = bench.tracer.spans[n_spans:]
            rec["counters"] = runtime_counters(
                jobs, bench.store.stages(), w0 * 1e3, w1 * 1e3, bench.cores)
            rec["counters"].update(
                bench.store.python_metrics({j["jobId"] for j in jobs}))
            rec.update(wl.pass_layers(spans, w0, w1))
        passes.append(rec)
    return passes


def end_to_end(passes, setup_s, peak_rss) -> dict:
    secs = [p["seconds"] for p in passes]
    return {
        "rows_per_s": {"value": sum(p["rows"] for p in passes) / sum(secs),
                       "unit": "rows/s"},
        "pass_s": {"value": statistics.median(secs), "unit": "s"},
        "peak_rss_mb": {"value": peak_rss / 2**20, "unit": "MiB"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def per_layer(plain, traced, probes, units) -> tuple[dict, list[str]]:
    """Medians over the traced passes, the probe values, and the tracing
    overhead. Returns the metrics and the names no layer produced: the
    layers this workload never enters, which read as zero work."""
    out = {}
    for key in traced[0]["counters"]:
        out[key] = statistics.median(p["counters"][key] for p in traced)
    out.update(probes)
    out["trace.overhead"] = (
        statistics.median(p["seconds"] for p in traced)
        / statistics.median(p["seconds"] for p in plain) - 1.0)
    metrics = {name: {"value": float(out.get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    return metrics, sorted(set(units) - set(out))


def layer_units() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def shutdown(spark) -> None:
    """Stop Spark, close the gateway and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    from sparkstats import descendants

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"engine package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    configure_environment()
    from workloads import WORKLOADS, CheckFailed

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    from sparkstats import RssSampler
    from tracing import Tracer

    diag = {"workload": args.workload, "seed": args.seed,
            "closed_loop_clients": 1, "env": environment(cores)}
    spark = None
    correct, failed, attempted, metrics = True, 0, 0, {}
    try:
        spark, setup_s = setup(cores)
        bench = Bench(spark, args.seed, cores)
        wl = WORKLOADS[args.workload](bench, args.tiny)
        bench.sc.setJobGroup("bench-prepare", "bench-prepare")
        t0 = time.perf_counter()
        diag["inputs"] = wl.prepare()
        wl.reference = wl.output_digest(wl.run_pass(-1)[1])
        # one more untimed pass: the passes right after the cold one
        # still run 10-30% slower while the JIT catches up
        if wl.output_digest(wl.run_pass(-2)[1]) != wl.reference:
            raise CheckFailed("untimed passes differ in output")
        diag["prepare_s"] = time.perf_counter() - t0
        if args.trace:
            # a quarter of the time each way keeps the traced run, which
            # also runs the probes, well inside the 180 s a run may take
            plain = run_passes(bench, wl, args.seconds / 4, traced=False)
            tracer = bench.tracer = Tracer(f"{args.workload}-{args.seed}")
            tracer.install()
            traced = run_passes(bench, wl, args.seconds / 4, traced=True)
            bench.sc.setJobGroup("bench-probe", "bench-probe")
            with tracer.span("probe"):
                probes = wl.probe(traced)
            tracer.uninstall()
            passes = plain + traced
            spans_path = WORK / "trace" / f"{args.workload}-seed{args.seed}.jsonl"
            spans_path.parent.mkdir(parents=True, exist_ok=True)
            tracer.write(str(spans_path))
            diag["spans_file"] = str(spans_path.relative_to(ROOT))
            metrics, diag["not_entered"] = per_layer(
                plain, traced, probes, layer_units())
        else:
            with RssSampler() as rss:
                passes = run_passes(bench, wl, args.seconds, traced=False,
                                    min_passes=wl.min_passes)
            metrics = end_to_end(passes, setup_s, rss.peak)
            diag["peak_rss_parts_mb"] = {k: v / 2**20 for k, v in rss.parts.items()}
        attempted = len(passes)
        failed = sum(p["error"] is not None for p in passes)
        correct = failed == 0
        diag["passes"] = [{k: p[k] for k in ("seconds", "error")} for p in passes]
    except Exception as exc:  # a failed check or engine error fails the run
        correct, failed, attempted = False, failed + 1, attempted + 1
        diag["error"] = (str(exc) if isinstance(exc, CheckFailed)
                         else traceback.format_exc(limit=5))
    finally:
        diag["env"]["loadavg_after"] = os.getloadavg()
        shutdown(spark)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
