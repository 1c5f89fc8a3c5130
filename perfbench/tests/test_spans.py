"""Tests of the benchmark's counter path: spans, job groups and the counts
read back from Spark's status store.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import threading

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from perfbench.harness import Watchdog  # noqa: E402
from perfbench.spans import Tracer, per_call  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from advanced_technologies_of_china_graph_database_construction_spark import get_spark

    from perfbench.run import stop_spark, submit_args

    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(str(tmp_path_factory.mktemp("jvm")))
    s = get_spark("perfbench-tests")
    yield s
    stop_spark(s)


def _group_by_mod(spark, n: int, mod: int) -> list:
    from pyspark.sql import functions as F

    return spark.range(n).groupBy((F.col("id") % mod).alias("k")).count().collect()


def test_groupby_counts_jobs_tasks_and_shuffle(spark):
    tracer = Tracer(spark, True)
    with tracer.span("probe"):
        rows = _group_by_mod(spark, 1000, 7)
    assert len(rows) == 7
    (sp,) = tracer.spans("probe")
    # AQE runs the shuffle map stage as its own job, then the result job
    assert sp.total("jobs") == 2
    assert sp.total("shuffle_write_bytes") > 0
    assert sp.total("tasks") >= 2
    assert 0 <= sp.driver_wait_s() <= sp.wall_s


def test_untraced_span_reads_nothing(spark):
    tracer = Tracer(spark, False)
    with tracer.span("probe"):
        _group_by_mod(spark, 100, 3)
    (sp,) = tracer.spans("probe")
    assert sp.own == {} and sp.group is None
    assert per_call(tracer, "probe", ("jobs",)) == {"probe.jobs": 0}


def test_nested_spans_split_jobs_between_parent_and_child(spark):
    tracer = Tracer(spark, True)
    with tracer.span("outer"):
        _group_by_mod(spark, 100, 3)
        with tracer.span("inner"):
            _group_by_mod(spark, 100, 5)
    (outer,) = tracer.spans("outer")
    (inner,) = tracer.spans("inner")
    assert outer.own["jobs"] == 2 and inner.own["jobs"] == 2
    assert outer.total("jobs") == 4
    assert outer.self_s() <= outer.wall_s


def test_concurrent_clients_attribute_each_job_to_one_span(spark):
    tracer = Tracer(spark, True)
    errors = []

    def client(mod: int):
        try:
            for _ in range(4):
                with tracer.span(f"client{mod}"):
                    _group_by_mod(spark, 2000, mod)
        except Exception as exc:  # noqa: BLE001 — surfaced by the assert below
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(m,)) for m in (3, 4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads) and not errors
    spans = tracer.spans("client3") + tracer.spans("client4")
    assert len(spans) == 8
    tracker = spark.sparkContext._jsc.statusTracker()
    seen = {}
    for sp in spans:
        for job in tracker.getJobIdsForGroup(sp.group):
            assert job not in seen, f"job {job} in two spans"
            seen[job] = sp.name
        assert sp.own["jobs"] == 2
    assert len(seen) == 16


def _counts(tracer, names) -> dict:
    out = {}
    for name in names:
        out.update(per_call(tracer, name, ("jobs", "tasks", "shuffle_write_bytes")))
    return out


def _assert_repeat(first: dict, second: dict) -> None:
    """Jobs and tasks repeat exactly.  Shuffle bytes may differ by a few
    bytes: a stage after a shuffle reads the map outputs in whatever order
    the fetches complete, so the rows it writes to the next shuffle come
    in a different order and compress to a slightly different size."""
    assert first.keys() == second.keys()
    for key in first:
        if key.endswith(".shuffle_write_bytes"):
            assert abs(first[key] - second[key]) <= 0.01 * max(first[key], 1), key
        else:
            assert first[key] == second[key], key


def _twice(spark, tmp_path, workload_cls, names) -> tuple[dict, dict]:
    """Per-layer counts of two traced passes of one workload on one seed."""
    watchdog = Watchdog(spark)
    try:
        wl = workload_cls(spark, 5, str(tmp_path), watchdog)
        wl.setup()
        runs = []
        for _ in range(2):
            tracer = Tracer(spark, True)
            ops = wl.run_pass(tracer)
            assert all(o.error is None for o in ops), [o.error for o in ops]
            assert wl.verify(ops) == []
            runs.append(_counts(tracer, names))
        wl.teardown()
    finally:
        watchdog.close()
    return runs[0], runs[1]


def test_build_counts_repeat_on_one_seed(spark, tmp_path, monkeypatch):
    from perfbench.workloads import build

    monkeypatch.setattr(build.Corpus.__init__, "__defaults__", (300, 10))
    _assert_repeat(*_twice(spark, tmp_path, build.Build, build.BUILD_OPS + build.REFRESH_OPS))


def test_analytics_counts_repeat_on_one_seed(spark, tmp_path, monkeypatch):
    from perfbench.workloads import analytics

    monkeypatch.setattr(analytics.make_graph, "__defaults__", (60, 8, (2, 3)))
    _assert_repeat(*_twice(spark, tmp_path, analytics.Analytics, analytics.OPS))


def test_qa_pass_is_routed_correct_and_cleaned_up(spark, tmp_path, monkeypatch):
    """One pass of ``qa`` on small tables: every question plans to its
    template and matches the DuckDB reference, the nl.* layers are
    traced, and teardown removes the graph stores the setup built."""
    from perfbench.workloads import qa

    for name, value in (("N_ORDERS", 600), ("N_CUSTOMERS", 80), ("N_PARTS", 150),
                        ("N_SUPPLIERS", 10), ("N_TEXTS", 100)):
        monkeypatch.setattr(qa, name, value)
    watchdog = Watchdog(spark)
    wl = qa.QA(spark, 5, str(tmp_path), watchdog)
    try:
        wl.setup()
        tracer = Tracer(spark, True)
        with wl.traced(tracer):
            ops = wl.run_pass(tracer)
        assert sorted(o.expect["kind"] for o in ops) == sorted(qa.KINDS)
        assert all(o.error is None for o in ops), [o.error for o in ops]
        assert wl.verify(ops) == []
        m = wl.layer_metrics(tracer, ops)
        assert m["nl.api.handle_request.jobs"] > 0
        assert m["nl.engine.answer.stages_tried"] >= 1
        assert m["nl.planner.plan.ms"] > 0
    finally:
        wl.teardown()
        watchdog.close()
    assert not [d for d in os.listdir(wl.store_root) if d.startswith("qa-sf-")]
