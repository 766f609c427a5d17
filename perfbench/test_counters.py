"""Self-check of the benchmark's deterministic counters.

    python3 -m pytest perfbench/test_counters.py -q     # ~3 min, local[4]

Per op, the Spark jobs, stages and tasks and the jobs started during plan
construction must repeat exactly across two passes and across two seeds;
the seed may change only the order of operations; tracing must add no
Spark job.
"""

from collections import Counter, defaultdict

import pytest

import run
from layers import op_counts
from spans import Tracer


@pytest.fixture(scope="module")
def spark():
    run.isolate()
    session = run.start_session()
    yield session
    run.stop(session)


def _traced_pass(bench, tracer):
    tracer.install()
    bench.tracer = tracer
    try:
        ops = bench.run_pass()
    finally:
        bench.tracer = None
        tracer.uninstall()
    return {r["name"]: op_counts(r | {"spark": tracer.spark_record(r["group"])}, tracer.spans) for r in ops}


def _untraced_jobs(bench):
    ops = bench.run_pass()
    return {r["name"]: len(bench.sc.statusTracker().getJobIdsForGroup(r["group"])) for r in ops}


def test_seed_changes_only_the_order():
    for ops in run.WORKLOADS.values():
        orders = defaultdict(list)
        for seed in (1, 2):
            bench = run.Bench.__new__(run.Bench)
            bench.ops, bench.rng = ops, run.random.Random(seed)
            orders[seed] = [bench.order() for _ in range(3)]
            assert all(Counter(o) == Counter(ops) for o in orders[seed])
        if len(ops) > 1:
            assert orders[1] != orders[2]


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_counters_repeat_and_tracing_adds_no_jobs(spark, workload):
    tracer = Tracer(spark)
    first = run.Bench(spark, workload, seed=1)
    first.n = 1000 * sorted(run.WORKLOADS).index(workload)  # unique job groups
    first.run_pass()  # warm-up
    a, b = _traced_pass(first, tracer), _traced_pass(first, tracer)
    other = run.Bench(spark, workload, seed=2)
    other.n = first.n + 100
    c = _traced_pass(other, tracer)
    untraced = _untraced_jobs(other)
    assert a == b, "counters differ across passes"
    assert a == c, "counters differ across seeds"
    assert untraced == {name: counts["jobs"] for name, counts in a.items()}, "tracing changed the job count"
    assert all(counts["jobs"] > 0 for counts in a.values())
