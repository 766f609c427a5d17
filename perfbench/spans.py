"""Spans and counters around calls into the engine's layers.

Nothing here edits the engine. ``Tracer.install`` wraps the public
functions listed in ``TRACED`` and rebinds every module attribute that
holds one of them — plans import operators by name, so patching only the
defining module would miss most calls. Spans (name, layer, start, end,
parent, op id) stay in memory and are written out once at the end.

Spark-side numbers come from the job group the benchmark sets per op:
job and stage records are read from the Spark application's status REST API
(``/api/v1``) after the listener bus has drained. Each span also sets
``spark.job.description`` to its id, so every job is attributed to the
innermost span that started it. Reading the status store starts no
Spark job.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone

PKG = "udacitycapstonedataengineer_spark"

# span name -> (layer, [(module, function), ...])
TRACED = {
    "sources.readers.load": ("sources.readers", [("sources.readers", "load_table"), ("sources.readers", "load_tables")]),
    "sources.writers.write": ("sources.writers", [("sources.writers", "write_parquet")]),
    "plans.pipeline": ("plans", [("plans.pipeline", "run_pipeline")]),
    "plans.star": ("plans", [("plans.star", "build_star")]),
    "operators.clustering.kmeans_fit": ("operators", [("operators.clustering", "kmeans_fit")]),
    "operators.pq.pq_train": ("operators", [("operators.pq", "pq_train")]),
    "operators.ivfpq.ivfpq_build": ("operators", [("operators.ivfpq", "ivfpq_build")]),
    "operators.ivfpq.query": ("operators", [
        ("operators.ivfpq", "ivfpq_topk"),
        ("operators.ivfpq", "ivfpq_topk_multi"),
        ("operators.ivfpq", "ivfpq_recall_curve"),
    ]),
    "operators.semdedup.semdedup_pairs": ("operators", [("operators.semdedup", "semdedup_pairs")]),
    "operators.quality.check_star": ("operators", [("operators.quality", "check_star")]),
    "operators.cleaning.row_accounting": ("operators", [("operators.cleaning", "row_accounting")]),
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self._patched: list[tuple[object, str, object]] = []
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self._api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        jvm = self.sc._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()

    def jvm_counters(self) -> tuple[int, float]:
        """(generated classes compiled by Spark's codegen, JVM JIT compile
        seconds) since the JVM started."""
        return self._codegen.getCount(), self._jit.getTotalCompilationTime() / 1000

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "op": self.op,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty("spark.job.description", f"perfbench-span:{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.stack.pop()
            self.sc.setLocalProperty(
                "spark.job.description",
                f"perfbench-span:{self.stack[-1]}" if self.stack else None,
            )

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every function in ``TRACED`` wherever it is bound."""
        for name, (layer, targets) in TRACED.items():
            for mod_name, fn_name in targets:
                fn = getattr(importlib.import_module(f"{PKG}.{mod_name}"), fn_name)
                wrapper = self._wrap(fn, name, layer)
                for mod in [m for k, m in sys.modules.items() if k.startswith(PKG) and m]:
                    for attr, value in list(vars(mod).items()):
                        if value is fn:
                            self._patched.append((mod, attr, fn))
                            setattr(mod, attr, wrapper)

    def uninstall(self) -> None:
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()

    # -- Spark status store ---------------------------------------------
    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._api}/{path}", timeout=30) as r:
            return json.load(r)

    def spark_record(self, group: str) -> dict:
        """Jobs and stage metrics of one op's job group."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        jobs = [j for j in self._get("jobs") if j["jobId"] in ids]
        for _ in range(100):  # the status store lags the listener slightly
            if len(jobs) == len(ids) and all(j.get("completionTime") for j in jobs):
                break
            time.sleep(0.05)
            jobs = [j for j in self._get("jobs") if j["jobId"] in ids]
        stages = []
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for attempt in self._get(f"stages/{sid}?details=false"):
                if attempt["status"] != "SKIPPED":
                    stages.append(attempt)
        return {"jobs": jobs, "stages": stages}


def ts(value: str) -> float:
    """Epoch seconds of a status-API timestamp (``...T02:31:34.123GMT``)."""
    dt = datetime.strptime(value.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def span_job(job: dict) -> int | None:
    desc = job.get("description") or ""
    return int(desc.split(":", 1)[1]) if desc.startswith("perfbench-span:") else None
