"""Spark's own counters, read from the driver's status stores.

The application status store stays live with ``spark.ui.enabled=false``.
Job and stage records are serialised to JSON inside the JVM (Jackson
with the Scala module, the same encoding as Spark's REST API), so one
py4j call returns every record. SQL metrics of the Python nodes come
from the SQL status store's plan graph.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time

PY_NODE = re.compile(r"Python|InPandas|InArrow")
PY_METRICS = {
    "data sent to Python workers": "python.bytes_out",
    "data returned from Python workers": "python.bytes_in",
    "number of output rows": "python.rows",
    "time to run Python workers": "python.worker_s",
}
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: '1,234', '7.8 MiB', '44 ms', or
    the 'total (min, med, max ...)' form whose total starts line two."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (")[0].strip().split()
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


class StatusStore:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._jvm = jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper.registerModule(scala.__getattr__("MODULE$"))

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def jobs(self, group: str) -> list[dict]:
        every = json.loads(
            self._mapper.writeValueAsString(self._store().jobsList(None))
        )
        return [j for j in every if j.get("jobGroup") == group]

    def stages(self) -> list[dict]:
        jvm = self._jvm
        seq = self._store().stageList(
            jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        return json.loads(self._mapper.writeValueAsString(seq))

    def max_stage_id(self) -> int:
        return max((s["stageId"] for s in self.stages()), default=-1)

    def task_spread(self, stage_id: int, attempt: int = 0) -> float | None:
        """Slowest task / median task run time of one stage."""
        quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        summary = self._store().taskSummary(stage_id, attempt, quantiles)
        if summary.isEmpty():
            return None
        run = json.loads(self._mapper.writeValueAsString(summary.get()))
        med, top = run["executorRunTime"]
        return top / med if med > 0 else None

    def python_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Python-node SQL metrics summed over every SQL execution that
        ran one of ``job_ids``."""
        out = {name: 0.0 for name in PY_METRICS.values()}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            ids = json.loads(self._mapper.writeValueAsString(ex.jobs().keys()))
            if not job_ids.intersection(ids):
                continue
            eid = ex.executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not PY_NODE.search(node.name()):
                    continue
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = PY_METRICS.get(metric.name())
                    acc = metric.accumulatorId()
                    if key and values.contains(acc):
                        out[key] += parse_metric(values.apply(acc))
        return out


def runtime_counters(jobs: list[dict], stages: list[dict], t0_ms: float,
                     t1_ms: float, cores: int) -> dict[str, float]:
    """Counters of one pass: its jobs, the stages they executed, and the
    wall time no job was running (``driver.idle_s``)."""
    ran = {sid for j in jobs for sid in j["stageIds"]}
    done = [s for s in stages
            if s["stageId"] in ran and s["status"] == "COMPLETE"]
    busy, cursor = 0.0, t0_ms
    for start, end in sorted(
        (j["submissionTime"], j.get("completionTime") or t1_ms) for j in jobs
    ):
        start, end = max(start, cursor), min(end, t1_ms)
        if end > start:
            busy += end - start
            cursor = end
    wall = max(t1_ms - t0_ms, 1e-9)

    def total(key):
        return float(sum(s.get(key) or 0 for s in done))

    run_s = total("executorRunTime") / 1e3
    return {
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(done)),
        "spark.tasks": total("numTasks"),
        "driver.idle_s": (wall - busy) / 1e3,
        "exec.cpu_s": total("executorCpuTime") / 1e9,
        "exec.run_s": run_s,
        "exec.gc_s": total("jvmGcTime") / 1e3,
        "exec.core_util": run_s / (wall / 1e3 * cores),
        "scan.bytes": total("inputBytes"),
        "scan.rows": total("inputRecords"),
        "exchange.write_bytes": total("shuffleWriteBytes"),
        "exchange.read_bytes": total("shuffleReadBytes"),
        "exchange.records": total("shuffleWriteRecords"),
        "exchange.fetch_wait_s": total("shuffleFetchWaitTime") / 1e3,
        "spill.bytes": total("diskBytesSpilled") + total("memoryBytesSpilled"),
        "driver.result_bytes": total("resultSize"),
    }


RSS_PERIOD_S = 0.1


def _children(pid: int) -> list[int]:
    kids = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                kids += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return kids


def descendants(pid: int) -> list[int]:
    out, todo = [], _children(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            todo += _children(p)
        except OSError:
            pass
    return out


def process_rss(pid: int, parent: int) -> tuple[str, int] | None:
    """(name, resident bytes) of process ``pid``. None if it has exited,
    if the id now belongs to a thread (ids are reused across both), or
    if it is a JVM fork that has not yet exec'd its program: such a
    child still shares the JVM's pages, so counting it would count the
    JVM twice. The one JVM counted is the direct child of ``parent``."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            fields = dict(line.split(":", 1) for line in fh if ":" in line)
        exe = os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None
    if int(fields["Tgid"]) != pid:
        return None
    if exe.endswith("/java") and int(fields["PPid"]) != parent:
        return None
    rss_kib = int(fields.get("VmRSS", "0 kB").split()[0])
    return fields["Name"].strip(), rss_kib * 1024


class RssSampler:
    """Peak summed RSS of this process's descendants (the driver JVM and
    the Python workers it forks), sampled every ``RSS_PERIOD_S`` seconds
    while armed. ``parts`` splits the peak sample by process name."""

    def __init__(self):
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            parts: dict[str, int] = {}
            for info in filter(None, (process_rss(p, me) for p in descendants(me))):
                parts[info[0]] = parts.get(info[0], 0) + info[1]
            total = sum(parts.values())
            if total > self.peak:
                self.peak, self.parts = total, parts
            time.sleep(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
