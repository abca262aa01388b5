"""Layer attribution for the traced run (``--trace 1`` only).

A *layer* is one package module (or a group of them, see ``LAYERS``).
While installed, the tracer replaces every public module-level function
of those modules with a wrapper that opens a *span*: it records wall
time and sets the Spark job group to the span's id, so every job an
action starts inside the span, and every AQE broadcast or subquery job
that inherits the group, is charged to that layer. Builders are lazy,
so a job is charged to the span active at its *action*. One refinement
covers the engine facade, whose methods are not layer functions: an
action taken outside every layer span on a frame that a layer function
returned is charged to that layer (``cog_results.count()`` inside
``EnvStacEngine.process`` is ``sinks.raster`` work). Anything else
lands in the ``engine`` pseudo-layer. ``job_layers`` keeps that record;
``dump`` writes it and the spans out when the run ends.

After the timed loop the tracer reads jobs and stages from the driver's
status REST API and folds them into seven numbers per layer.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import time
import urllib.request
from datetime import datetime, timezone

PKG = "environmental_stac_generator_spark"

# layer -> modules charged to it
LAYERS: dict[str, tuple[str, ...]] = {
    "sources.netcdf": ("sources.netcdf",),
    "operators.forecast": ("operators.forecast",),
    "plans.stac_catalog": ("plans.stac_catalog",),
    "sinks.raster": ("sinks.raster",),
    "sinks.stac_json": ("sinks.stac_json",),
    "sinks.jdbc_upsert": ("sinks.jdbc_upsert",),
    "sinks.shards": ("sinks.shards",),
    "plans.curation_pipeline": ("plans.curation_pipeline",),
    "queries.dedup": ("queries.dedup",),
    "queries.similarity": ("queries.similarity", "queries.ann_index"),
    "queries.text": ("queries.text",),
    "queries.curation": ("queries.curation",),
    "tables": ("tables",),
}
# the facade and anything called outside every layer
ENGINE = "engine"
# layers reported with all seven metrics; `tables` reports self time only
FULL_LAYERS = [name for name in LAYERS if name != "tables"] + [ENGINE]
LAYER_METRICS = (
    ("self_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("executor_run_s", "s"),
    ("shuffle_mb", "MB"),
    ("task_skew", "ratio"),
    ("failed_tasks", "count"),
)

_ACTIONS = (
    "count", "collect", "toPandas", "foreachPartition", "foreach",
    "first", "take", "head",
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0
        self.t_removed = 0.0
        # (job id, job group, layer) for every job charged, filled by collect()
        self.job_layers: list[tuple[int, str, str]] = []

    # ---- spans ----

    def _open(self, layer: str) -> dict | None:
        top = self._stack[-1] if self._stack else None
        if top is not None and top["layer"] == layer:
            return None  # same layer nested: one span
        span = {
            "id": len(self.spans),
            "layer": layer,
            "parent": None if top is None else top["id"],
            "start": time.time(),
            "end": None,
            "children": [],
        }
        self.spans.append(span)
        if top is not None:
            top["children"].append(span)
        self._stack.append(span)
        self._set_group(span)
        return span

    def _close(self, span: dict | None) -> None:
        if span is None:
            return
        span["end"] = time.time()
        self._stack.pop()
        self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", f"pb-{span['id']}")
            self.sc.setLocalProperty("spark.job.description", span["layer"])

    @contextlib.contextmanager
    def span(self, layer: str):
        """Open a span for ``layer`` (nested same-layer calls share one)."""
        t = time.perf_counter()
        opened = self._open(layer)
        self.overhead_s += time.perf_counter() - t
        try:
            yield
        finally:
            t = time.perf_counter()
            self._close(opened)
            self.overhead_s += time.perf_counter() - t

    def _in_layer(self) -> bool:
        return bool(self._stack) and self._stack[-1]["layer"] != ENGINE

    # ---- wrappers ----

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(layer):
                out = fn(*args, **kwargs)
            if _is_frame(out):
                out._perfbench_layer = layer
            return out

        return wrapper

    def _wrap_action(self, method):
        @functools.wraps(method)
        def action(df, *args, **kwargs):
            layer = getattr(df, "_perfbench_layer", None)
            if layer is None or self._in_layer():
                return method(df, *args, **kwargs)
            with self.span(layer):
                return method(df, *args, **kwargs)

        return action

    def install(self) -> None:
        t = time.perf_counter()
        for layer, modules in LAYERS.items():
            for short in modules:
                mod = importlib.import_module(f"{PKG}.{short}")
                for name, obj in list(vars(mod).items()):
                    if (
                        name.startswith("_")
                        or not inspect.isfunction(obj)
                        or obj.__module__ != mod.__name__
                    ):
                        continue
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, self._wrap(obj, layer))
        frame_cls = type(self.spark.range(0))  # the concrete (classic) class
        for name in _ACTIONS:
            orig = getattr(frame_cls, name)
            self._patched.append((frame_cls, name, orig))
            setattr(frame_cls, name, self._wrap_action(orig))
        self.overhead_s += time.perf_counter() - t

    def uninstall(self) -> None:
        self.t_removed = time.time()
        while self._patched:
            owner, name, orig = self._patched.pop()
            setattr(owner, name, orig)
        self._set_group(None)

    # ---- status REST API ----

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as resp:
            return json.loads(resp.read())

    def _jobs(self) -> list[dict]:
        """Our jobs, once the listener bus has delivered all of them."""
        prev = -1
        for _ in range(50):
            jobs = [
                j for j in self._get("/jobs")
                if str(j.get("jobGroup", "")).startswith("pb-")
            ]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
            if done and len(jobs) == prev:
                return jobs
            prev = len(jobs)
            time.sleep(0.2)
        return jobs

    def collect(self) -> dict[str, dict]:
        """Per-layer metrics for the spans recorded so far."""
        t = time.perf_counter()
        jobs = self._jobs()
        stages: dict[int, list[dict]] = {}
        for st in self._get("/stages"):
            stages.setdefault(st["stageId"], []).append(st)
        by_span: dict[int, list[dict]] = {}
        for j in jobs:
            by_span.setdefault(int(j["jobGroup"][3:]), []).append(j)

        acc = {
            layer: {
                "self_s": 0.0, "driver_s": 0.0, "jobs": 0,
                "executor_run_s": 0.0, "shuffle_mb": 0.0,
                "task_skew": 1.0, "failed_tasks": 0,
            }
            for layer in [*LAYERS, ENGINE]
        }
        seen_stages: set[tuple[int, int]] = set()
        for span in self.spans:
            a = acc[span["layer"]]
            own = _subtract(
                [(span["start"], span["end"])],
                [(c["start"], c["end"]) for c in span["children"]],
            )
            span_jobs = by_span.get(span["id"], [])
            busy = [
                (_ts(j["submissionTime"]), _ts(j.get("completionTime")) or self.t_removed)
                for j in span_jobs
            ]
            own_s = _length(own)
            a["self_s"] += own_s
            a["driver_s"] += own_s - _length(_intersect(own, _union(busy)))
            a["jobs"] += len(span_jobs)
            for j in span_jobs:
                self.job_layers.append((j["jobId"], j["jobGroup"], span["layer"]))
                for sid in j["stageIds"]:
                    for st in stages.get(sid, []):
                        key = (sid, st["attemptId"])
                        if key in seen_stages or st["status"] == "SKIPPED":
                            continue
                        seen_stages.add(key)
                        a["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
                        a["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
                        a["failed_tasks"] += st.get("numFailedTasks", 0)
                        if st.get("numTasks", 0) >= 2:
                            a["task_skew"] = max(a["task_skew"], self._skew(key))
        self.overhead_s += time.perf_counter() - t
        return acc

    def dump(self, path) -> None:
        spans = [
            {k: s[k] for k in ("id", "layer", "parent", "start", "end")}
            for s in self.spans
        ]
        path.write_text(json.dumps({"spans": spans, "jobs": self.job_layers}))

    def _skew(self, key: tuple[int, int]) -> float:
        q = self._get(f"/stages/{key[0]}/{key[1]}/taskSummary?quantiles=0.5,1.0")
        med, top = q["duration"]
        return max(top, 1.0) / max(med, 1.0)


def _is_frame(obj) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(obj, DataFrame)


def _ts(text: str | None) -> float | None:
    if not text:
        return None
    dt = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def _intersect(a, b) -> list[tuple[float, float]]:
    out = []
    for s1, e1 in a:
        for s2, e2 in b:
            s, e = max(s1, s2), min(e1, e2)
            if s < e:
                out.append((s, e))
    return out


def _subtract(a, b) -> list[tuple[float, float]]:
    out = list(a)
    for s2, e2 in _union(b):
        nxt = []
        for s1, e1 in out:
            if e2 <= s1 or s2 >= e1:
                nxt.append((s1, e1))
                continue
            if s1 < s2:
                nxt.append((s1, s2))
            if e2 < e1:
                nxt.append((e2, e1))
        out = nxt
    return out


def _length(iv) -> float:
    return sum(e - s for s, e in iv)
