"""perfbench: the engine's A/B performance benchmark.

    python3 perfbench/run.py --workload model_build --seed 1 --seconds 5 --trace 0

One client, closed loop, one ``local[N]`` session (N = min(4, CPUs)) over
the sf0.1 fixtures vendored in ``perfbench/data``. A run starts the
session, registers the tables, runs one untimed warm-up pass (which also
collects the outputs checked against DuckDB), then times whole passes
over the workload's operation list until ``--seconds`` seconds have been
measured. The seed sets the order of operations in each pass.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layers (see ``spans.py``), alternates untraced and traced
passes, and prints the per-layer metrics. The last line of stdout is the
result object; the line before it records the pinned session, the op
counts and the leak sweep. See README.md for the metric map.
"""

import time

T_PROC = time.perf_counter()  # process start, before the heavy imports

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.1"
WORK = ROOT / ".bench_build" / "perfbench"
PKG = "udacitycapstonedataengineer_spark"

CPUS = min(4, len(os.sched_getaffinity(0)))
SESSION = {
    "master": f"local[{CPUS}]",
    "spark.sql.shuffle.partitions": str(CPUS),
    "spark.driver.memory": "2g",
    # fixed-size young generation: G1 stops resizing it from measured
    # pause times, so the JVM's peak RSS follows what the program keeps
    # alive rather than GC timing
    "spark.driver.extraJavaOptions": "-XX:+UseG1GC -Xmn384m",
}
PIPELINE = "run_pipeline"
WORKLOADS = {
    # construction-dominated: model fits and connected-component rounds
    # are driver-side Spark actions
    "model_build": ("ann_topk_ivfpq", "semdedup_survivors"),
    # the reference ETL: the only workload that writes
    "etl_star": (PIPELINE,),
}
SWEEP = "after every op: catalog.clearCache() and a blocking unpersist of every persistent RDD"


def isolate() -> None:
    """Keep every file the run writes inside the checkout."""
    for d in ("tmp", "local", "warehouse", "etl", "trace"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    sys.path.insert(0, str(ROOT))


def data_digest() -> str:
    sums = (DATA / "SHA256SUMS").read_text()
    for line in sums.splitlines():
        digest, name = line.split()
        if hashlib.sha256((DATA / name).read_bytes()).hexdigest() != digest:
            raise SystemExit(f"{DATA / name} does not match SHA256SUMS")
    return hashlib.sha256(sums.encode()).hexdigest()


def vm_hwm_kb(pid: int) -> int:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    return int(Path("/proc/stat").read_text().split("\n", 1)[0].split()[8])


def host_loop_rate() -> float:
    """Iterations per second of a fixed pure-Python loop. On a shared VM
    the host's speed can drift by 2x within half an hour; this reading,
    printed with each run, shows which runs ran on a slow host."""
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 0.5:
        sum(range(10000))
        n += 1
    return n / (time.perf_counter() - t0)


def quantile(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def output_files(path: Path) -> tuple[int, int]:
    """(parquet files, their bytes) under a sink directory."""
    files = [p for p in path.rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files)


class Bench:
    def __init__(self, spark, workload: str, seed: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.ops = WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.queries = importlib.import_module(f"{PKG}.plans.queries").QUERIES
        self.pipeline = importlib.import_module(f"{PKG}.plans.pipeline")
        self.tracer = None  # set while a traced pass runs
        self.n = 0
        self.failures: list[str] = []

    def order(self) -> list[str]:
        return self.rng.sample(self.ops, len(self.ops))

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def run_op(self, name: str, collect: bool = False) -> dict:
        """Run one op: query build + execution, or one pipeline run.
        ``collect`` keeps the output (pandas frame or the pipeline's sink
        dir and metrics) for the oracle check."""
        self.n += 1
        group = f"perfbench-op-{self.n}"
        self.sc.setJobGroup(group, name)
        if self.tracer:
            self.tracer.op = self.n
        out = WORK / "etl" / ("check" if collect else f"op{self.n}")
        shutil.rmtree(out, ignore_errors=True)
        rec = {"op": self.n, "name": name, "group": group, "result": None, "error": None}
        jvm0 = self.tracer.jvm_counters() if self.tracer else None
        rec["w0"], t0 = time.time(), time.perf_counter()
        try:
            if name == PIPELINE:
                rec["result"] = self.pipeline.run_pipeline(self.spark, str(DATA), str(out))
            else:
                with self._span("plans.query", "plans"):
                    df = self.queries[name](self.spark, str(DATA))
                with self._span("spark.sink", "spark"):
                    if collect:
                        rec["result"] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            self.failures.append(f"{name}: {rec['error']}")
        rec["latency"], rec["w1"] = time.perf_counter() - t0, time.time()
        if jvm0:
            jvm1 = self.tracer.jvm_counters()
            rec["codegen"], rec["jit_s"] = jvm1[0] - jvm0[0], jvm1[1] - jvm0[1]
        if self.tracer and name == PIPELINE:
            rec["files"], rec["bytes"] = output_files(out)
        if name == PIPELINE and not collect:
            shutil.rmtree(out, ignore_errors=True)
        rec["leaked_persists"] = self.sweep()
        return rec

    def sweep(self) -> int:
        """Count, then drop, the persisted state an op left behind."""
        jsc = self.sc._jsc
        leaked = jsc.getPersistentRDDs().size()
        self.spark.catalog.clearCache()
        for jrdd in list(jsc.getPersistentRDDs().values()):
            jrdd.unpersist(True)
        return leaked

    def run_pass(self, collect: bool = False) -> list[dict]:
        return [self.run_op(name, collect) for name in self.order()]


def start_session():
    from udacitycapstonedataengineer_spark.session import get_spark
    from udacitycapstonedataengineer_spark.sources.readers import load_tables

    extra = {k: v for k, v in SESSION.items() if k.startswith("spark.") and "shuffle" not in k}
    extra.update({
        "spark.ui.port": "0",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    })
    spark = get_spark(
        app_name="perfbench",
        master=SESSION["master"],
        shuffle_partitions=int(SESSION["spark.sql.shuffle.partitions"]),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, str(DATA))
    return spark


def stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None


def mismatch(got, want, name: str) -> str | None:
    """None when ``got`` matches ``want`` under the repo's oracle semantics."""
    from tests.oracle_check import compare_frames

    try:
        compare_frames(got, want, name)
    except AssertionError as e:
        return str(e)
    return None


def check(bench: Bench, warm: list[dict], timed: list[dict], digest: str) -> int:
    """Compare the warm-up outputs with DuckDB; returns the failed count."""
    from udacitycapstonedataengineer_spark.plans.queries import ORACLE
    from udacitycapstonedataengineer_spark.sources.readers import TABLES

    import oracle

    cache = WORK / "oracle"
    failed = 0

    def fail(rec: dict, why: str) -> None:
        nonlocal failed
        failed += 1
        bench.failures.append(f"{rec['name']} (op {rec['op']}): {why}")

    if bench.ops != (PIPELINE,):
        con = oracle.connect(DATA, TABLES, WORK)
        for rec in warm:
            if rec["error"]:
                failed += 1
                continue
            sql = ORACLE[rec["name"]]
            want = oracle.cached(cache, [digest, sql], lambda: con.execute(sql).fetchdf())
            why = mismatch(rec["result"], want, rec["name"])
            if why:
                fail(rec, f"oracle mismatch: {why}")
        return failed + sum(1 for r in timed if r["error"])

    con = oracle.connect(DATA, TABLES, WORK, cleaned=True)
    expected = oracle.cached(
        cache, [digest, oracle.PIPELINE_METRICS_SQL],
        lambda: con.execute(oracle.PIPELINE_METRICS_SQL).fetchdf().iloc[0].to_dict(),
    )
    expected = {k: int(v) for k, v in expected.items()}
    for rec in warm + timed:
        if rec["error"]:
            failed += 1
        elif rec["result"] != expected:
            fail(rec, f"metrics {rec['result']} != DuckDB {expected}")
    rec = warm[0]
    if rec["error"]:
        return failed
    sink = WORK / "etl" / "check"
    for table, twin in (("priority_dim", "priority_dim"), ("country_dim", "country_dim"), ("fact", "fact_orders")):
        got = con.execute(f"SELECT * FROM read_parquet('{sink / table}/*.parquet')").fetchdf()
        sql = ORACLE[twin]
        want = oracle.cached(cache, [digest, "cleaned", sql], lambda: con.execute(sql).fetchdf())
        why = mismatch(got, want, table)
        if why:
            fail(rec, f"sink {table}: {why}")
    n_cal, n_parts = con.execute(
        f"SELECT count(*), count(DISTINCT (arrival_year, arrival_month, arrival_week)) "
        f"FROM read_parquet('{sink / 'calendar_dim'}/**/*.parquet', hive_partitioning = true)"
    ).fetchone()
    n_dirs = len({p.parent for p in (sink / "calendar_dim").rglob("*.parquet")})
    if n_cal != expected["calendar_dim"] or n_parts != n_dirs:
        fail(rec, f"sink calendar_dim: {n_cal} rows in {n_dirs} partition dirs, "
                  f"expected {expected['calendar_dim']} rows in {n_parts}")
    return failed


def timed_passes(bench: Bench, seconds: float) -> tuple[list[list[dict]], int]:
    """Whole passes until ``seconds`` have been measured. Also returns
    the Python process's and the JVM's peak RSS in kB since they started,
    so over set-up, the warm-up pass and the first timed pass: it is read
    when that pass ends, so it does not depend on how many passes fit."""
    pids = (os.getpid(), bench.sc._gateway.proc.pid)
    t0 = time.perf_counter()
    passes = [bench.run_pass()]
    rss_kb = sum(vm_hwm_kb(pid) for pid in pids)
    while time.perf_counter() - t0 < seconds:
        passes.append(bench.run_pass())
    return passes, rss_kb


def traced_passes(bench: Bench, seconds: float, tracer) -> tuple[list, list]:
    """One untraced then one traced pass, repeated while within
    ``seconds``; returns (untraced, traced) with Spark records attached."""
    untraced, traced, t0 = [], [], time.perf_counter()
    while not traced or time.perf_counter() - t0 < seconds:
        for on in (False, True):
            if on:
                tracer.install()
                bench.tracer = tracer
            ops = bench.run_pass()
            bench.tracer = None
            tracer.uninstall()
            for rec in ops:
                rec["jobs"] = len(bench.sc.statusTracker().getJobIdsForGroup(rec["group"]))
                if on:
                    rec["spark"] = tracer.spark_record(rec["group"])
            (traced if on else untraced).append(ops)
    return untraced, traced


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    isolate()
    steal0 = steal_ticks()
    digest = data_digest()
    spark = start_session()
    t_session = time.perf_counter()
    bench = Bench(spark, args.workload, args.seed)
    warm = bench.run_pass(collect=True)
    t_setup = time.perf_counter()

    if args.trace:
        from spans import Tracer

        import layers

        tracer = Tracer(spark)
        untraced, traced = traced_passes(bench, args.seconds, tracer)
        timed = [r for p in untraced + traced for r in p]
        pass_times = [sum(r["latency"] for r in p) for p in untraced + traced]
        metrics = layers.per_layer(untraced, traced, tracer.spans, CPUS)
        metrics["session.start_s"] = (t_session - T_PROC, "s")
        metrics["session.warmup_s"] = (t_setup - t_session, "s")
        with open(WORK / "trace" / f"{args.workload}-seed{args.seed}.jsonl", "w") as f:
            for span in tracer.spans:
                f.write(json.dumps(span) + "\n")
    else:
        passes, rss_kb = timed_passes(bench, args.seconds)
        timed = [r for p in passes for r in p]
        lat = [r["latency"] for r in timed]
        metrics = {
            "setup_s": (t_setup - T_PROC, "s"),
            "pass_s": (statistics.median(sum(r["latency"] for r in p) for p in passes), "s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_p90_s": (quantile(lat, 0.9), "s"),
            "peak_rss_mb": (rss_kb / 1024, "MB"),
        }
        pass_times = [sum(r["latency"] for r in p) for p in passes]

    stop(spark)
    steal = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / os.cpu_count() / (time.perf_counter() - T_PROC)
    failed = check(bench, warm, timed, digest)
    attempted = len(warm) + len(timed)

    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "session": SESSION, "data_sha256sums": digest,
        "warmup_s": t_setup - t_session, "pass_times_s": pass_times,
        "warmup_ops": len(warm), "timed_ops": len(timed), "timed_passes": len(pass_times),
        "op_order_first_pass": [r["name"] for r in timed[: len(bench.ops)]],
        "op_latency_s": {n: [r["latency"] for r in timed if r["name"] == n] for n in bench.ops},
        "leaked_persists_per_op": statistics.mean(r["leaked_persists"] for r in timed),
        "sweep": SWEEP, "error_rate": failed / attempted, "failures": bench.failures[:20],
        "host": {"steal_share": steal, "loop_per_s": host_loop_rate()},
        "note": "op_p90_s is the p90 of the timed ops of this run; n = timed_ops",
    }
    print(json.dumps(info), flush=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
