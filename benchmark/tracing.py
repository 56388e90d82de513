"""Spans around the calls into each layer's public functions.

The traced run wraps, from outside the package, every public function
of the layer modules and the public methods of their classes, and
rebinds every reference the package holds to them (``from x import f``
copies included). A span records name, start, end, parent span and run
id; spans stay in memory and are written out when the run ends. A
wrapper pickles as the function it wraps, so a Python UDF that closes
over one ships the original to the workers, where nothing is traced.
"""

from __future__ import annotations

import importlib
import inspect
import json
import sys
import threading
import time

import pyspark.sql.readwriter

PKG = "urban_pointcloud_processing_spark"
LAYERS = {
    "session": "session",
    "sources.pages": "sources", "sources.raster": "sources",
    "sources.layers": "sources",
    "geocode": "geocode", "tiling": "tiling",
    "functions.pip": "functions.pip", "functions.text": "functions.text",
    "operators.fusers": "operators.fusers",
    "operators.neighbors": "operators.neighbors",
    "operators.skew": "operators.skew",
    "operators.components": "operators.components",
    "operators.dedup": "operators.dedup",
    "operators.similarity": "operators.similarity",
    "plans.pipeline": "plans.pipeline",
    "plans.full_pipeline": "plans.full_pipeline",
    "plans.stage_tables": "plans.stage_tables",
    "plans.lineage": "plans.lineage",
}
# connected-components entry points, wherever they live
CC_FUNCS = {"grid_components", "grid_components_two_level",
            "graph_components_minlabel"}


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str, layer: str = "bench"):
        return _Span(self, name, layer)

    # -- instrumentation ------------------------------------------------
    def install(self) -> None:
        originals: dict[int, _Traced] = {}
        for mod_name, layer in LAYERS.items():
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    originals[id(obj)] = _Traced(self, obj, f"{mod_name}.{name}", layer)
                elif inspect.isclass(obj):
                    for meth, fn in list(vars(obj).items()):
                        if inspect.isfunction(fn) and (
                            meth == "__call__" or not meth.startswith("_")
                        ):
                            self._set(obj, meth, _Traced(
                                self, fn, f"{mod_name}.{name}.{meth}", layer))
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PKG) or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                wrapped = originals.get(id(obj))
                if wrapped is not None and wrapped.fn is obj:
                    self._set(mod, name, wrapped)
        writer = pyspark.sql.readwriter.DataFrameWriter
        self._set(writer, "parquet", _Traced(
            self, writer.parquet, "pyspark.DataFrameWriter.parquet", "persist"))

    def uninstall(self) -> None:
        for owner, name, value in reversed(self._restore):
            setattr(owner, name, value)
        self._restore.clear()

    def _set(self, owner, name, value) -> None:
        self._restore.append((owner, name, getattr(owner, name)))
        setattr(owner, name, value)

    # -- reading spans ----------------------------------------------------
    def self_times(self, spans: list[dict]) -> list[dict]:
        """Each span with ``self_s``: its duration minus the time its
        direct children cover."""
        child = {}
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [dict(s, self_s=s["end"] - s["start"] - child.get(s["id"], 0.0))
                for s in spans]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.self_times(self.spans):
                fh.write(json.dumps(s) + "\n")


def cc_layers(spans: list[dict], jobs: list[dict]) -> dict:
    """``cc.s``: time inside outermost connected-components calls;
    ``cc.jobs``: Spark jobs submitted during them."""
    outer = [s for s in spans if s["name"].rsplit(".", 1)[-1] in CC_FUNCS]
    ids = {s["id"] for s in outer}
    outer = [s for s in outer if s["parent"] not in ids]
    inside = [j for j in jobs if any(
        s["start"] * 1e3 <= j["submissionTime"] <= s["end"] * 1e3 for s in outer)]
    return {"cc.s": sum(s["end"] - s["start"] for s in outer),
            "cc.jobs": float(len(inside))}


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        stack = self.tracer._local.__dict__.setdefault("stack", [])
        self.record = {
            "id": len(self.tracer.spans), "run_id": self.tracer.run_id,
            "name": self.name, "layer": self.layer,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(), "end": None,
        }
        self.tracer.spans.append(self.record)
        stack.append(self.record)
        return self.record

    def __exit__(self, *exc):
        self.record["end"] = time.time()
        self.tracer._local.stack.pop()


class _Traced:
    def __init__(self, tracer: Tracer, fn, name: str, layer: str):
        self.tracer, self.fn, self.name, self.layer = tracer, fn, name, layer
        self.__wrapped__ = fn
        self.__name__ = getattr(fn, "__name__", name)
        self.__doc__ = fn.__doc__

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.name, self.layer):
            return self.fn(*args, **kwargs)

    def __get__(self, obj, cls=None):
        if obj is None:
            return self
        return lambda *a, **k: self(obj, *a, **k)

    def __reduce__(self):
        return (_original, (self.fn.__module__, self.fn.__qualname__))


def _original(module: str, qualname: str):
    obj = importlib.import_module(module)
    for part in qualname.split("."):
        obj = getattr(obj, part)
    return getattr(obj, "fn", obj)
