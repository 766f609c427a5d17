"""Per-layer metrics of a traced run, from spans and Spark job records.

Times and counts are per op (traced ops only), so runs with a different
number of passes compare directly. Operator and writer times are given
as shares of op wall time: a workload that never calls a layer reports a
0 share, and a time that reads 0.0 on every run would look like a frozen
clock. Layer metrics present on every workload are also given in seconds.
"""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict

from spans import covered, span_job, ts

# span name -> per-layer metric stem
SHARES = {
    "operators.clustering.kmeans_fit": "calls",
    "operators.pq.pq_train": "calls",
    "operators.ivfpq.ivfpq_build": "calls",
    "operators.ivfpq.query": "calls",
    "operators.semdedup.semdedup_pairs": "calls",
    "operators.quality.check_star": "jobs",
    "operators.cleaning.row_accounting": "jobs",
    "sources.writers.write": "jobs",
}
SELF_LAYERS = ("plans", "operators", "sources.readers", "sources.writers", "spark")
BUILD_SPANS = ("plans.query", "plans.star")


def _chain(sid, byid: dict):
    """The span ``sid`` and its ancestors."""
    while sid is not None:
        yield byid[sid]
        sid = byid[sid]["parent"]


def jobs_by_span(jobs: list[dict], byid: dict) -> Counter:
    """Jobs per span name, each job counted under the span that started
    it and under every enclosing span (once per name)."""
    out = Counter()
    for job in jobs:
        out.update({s["name"] for s in _chain(span_job(job), byid)})
    return out


def op_counts(rec: dict, spans: list[dict]) -> dict[str, int]:
    """Spark jobs, stages and tasks of one traced op, and the jobs its
    plan construction started."""
    jobs, stages = rec["spark"]["jobs"], rec["spark"]["stages"]
    under = jobs_by_span(jobs, {s["id"]: s for s in spans})
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numTasks"] for s in stages),
        "build_jobs": sum(under[b] for b in BUILD_SPANS),
    }


def per_layer(untraced: list, traced: list, spans: list[dict], cpus: int) -> dict:
    ops = [r for p in traced for r in p]
    n = len(ops)
    wall = sum(r["w1"] - r["w0"] for r in ops)
    byid = {s["id"]: s for s in spans}
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]

    incl, calls, self_time = defaultdict(float), Counter(), defaultdict(float)
    for s in spans:
        calls[s["name"]] += 1
        dur = s["end"] - s["start"]
        self_time[s["layer"]] += dur - child_time[s["id"]]
        if not any(a["name"] == s["name"] for a in _chain(s["parent"], byid)):
            incl[s["name"]] += dur  # outermost call only: no double count

    sp, jobs_under = defaultdict(float), Counter()
    for r in ops:
        rec = r["spark"]
        jobs_under += jobs_by_span(rec["jobs"], byid)
        intervals = [
            (max(ts(j["submissionTime"]), r["w0"]), min(ts(j["completionTime"]), r["w1"]))
            for j in rec["jobs"] if j.get("submissionTime") and j.get("completionTime")
        ]
        exec_s = covered([iv for iv in intervals if iv[1] > iv[0]])
        st = rec["stages"]
        sp["exec_s"] += exec_s
        sp["driver_gap_s"] += (r["w1"] - r["w0"]) - exec_s
        sp["jobs"] += len(rec["jobs"])
        sp["stages"] += len(st)
        sp["tasks"] += sum(s["numTasks"] for s in st)
        sp["failed_tasks"] += sum(s["numFailedTasks"] for s in st)
        sp["task_run_s"] += sum(s["executorRunTime"] for s in st) / 1000
        sp["shuffle_read_bytes"] += sum(s["shuffleReadBytes"] for s in st)
        sp["shuffle_write_bytes"] += sum(s["shuffleWriteBytes"] for s in st)
        sp["spill_bytes"] += sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in st)
        sp["input_bytes"] += sum(s["inputBytes"] for s in st)
        sp["codegen_compiles"] += r["codegen"]
        sp["jit_compile_s"] += r["jit_s"]

    build_s = sum(incl[b] for b in BUILD_SPANS)
    out = {
        "sources.readers.load_s": (incl["sources.readers.load"] / n, "s"),
        "sources.readers.calls": (calls["sources.readers.load"] / n, "count"),
        "plans.build_s": (build_s / n, "s"),
        "plans.build_jobs": (sum(jobs_under[b] for b in BUILD_SPANS) / n, "count"),
        "plans.build_share": (build_s / wall, "ratio"),
        "plans.leaked_persists": (statistics.mean(r["leaked_persists"] for r in ops), "count"),
    }
    for name, counter in SHARES.items():
        out[f"{name}_share"] = (incl[name] / wall, "ratio")
        value = calls[name] if counter == "calls" else jobs_under[name]
        out[f"{name}_{counter}"] = (value / n, "count")
    written = sum(r.get("bytes", 0) for r in ops)
    out["sources.writers.files_written"] = (sum(r.get("files", 0) for r in ops) / n, "count")
    out["sources.writers.bytes_written"] = (written / n, "bytes")
    out["sources.writers.bytes_per_input_byte"] = (
        written / sp["input_bytes"] if sp["input_bytes"] else 0.0, "ratio")
    for layer in SELF_LAYERS:
        out[f"{layer}.self_share"] = (self_time[layer] / wall, "ratio")
    for key in ("exec_s", "driver_gap_s", "task_run_s", "jit_compile_s"):
        out[f"spark.{key}"] = (sp[key] / n, "s")
    for key in ("jobs", "stages", "tasks", "failed_tasks", "codegen_compiles"):
        out[f"spark.{key}"] = (sp[key] / n, "count")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = (sp[key] / n, "bytes")
    out["spark.slot_busy_share"] = (sp["task_run_s"] / (wall * cpus), "ratio")

    pass_t = statistics.median(sum(r["latency"] for r in p) for p in traced)
    pass_u = statistics.median(sum(r["latency"] for r in p) for p in untraced)
    jobs_t = sum(r["jobs"] for p in traced for r in p)
    jobs_u = sum(r["jobs"] for p in untraced for r in p)
    out["trace.pass_s"] = (pass_t, "s")
    out["trace.untraced_pass_s"] = (pass_u, "s")
    out["trace.overhead_ratio"] = (pass_t / pass_u, "ratio")
    out["trace.added_jobs"] = ((jobs_t - jobs_u) / len(traced), "count")
    out["trace.spans_per_op"] = (len([s for s in spans if s["op"] in {r["op"] for r in ops}]) / n, "count")
    return out
