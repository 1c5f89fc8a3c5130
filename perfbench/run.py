#!/usr/bin/env python3
"""spark-graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Starts the engine's own Spark session, sets the workload up from the seed
(each time on fresh inputs), measures whole passes for ``--seconds``,
checks every output, and prints one JSON line last: ``{"correct",
"attempted", "failed", "metrics"}``.  With ``--trace 0`` the metrics are
the end-to-end ones; with ``--trace 1`` they are the per-layer ones, from
a traced window, plus the tracing overhead measured in it.  A line with the details
(machine state, sample counts, what went wrong) comes just before the
result.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "advanced_technologies_of_china_graph_database_construction_spark"

END_TO_END = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s"}
# Spark's status store keeps 1000 jobs and stages by default; a traced
# window submits more, and the tracer reads every one of them back
RETAIN = 1_000_000


def submit_args(tmp: str) -> str:
    return (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.ui.retainedJobs={RETAIN} --conf spark.ui.retainedStages={RETAIN} "
        "pyspark-shell"
    )


def layer_catalog() -> dict:
    """Every per-layer metric a traced run prints: name -> (unit, better).
    The workloads share one catalog; a layer a workload does not call
    reports 0."""
    from perfbench.workloads import analytics, build, qa

    cat = {}
    for mod in (qa, analytics, build):
        cat.update(mod.LAYER_METRICS)
    cat["workload.pass.self_s"] = ("s", "lower")
    cat["session.jvm_peak_rss_mb"] = ("MB", "lower")
    cat["trace.overhead.pass_s"] = ("s", "lower")
    cat["trace.overhead.pass_cpu_s"] = ("s", "lower")
    return cat


def workload_class(name: str):
    from perfbench.workloads import batch, qa

    return {"qa": qa.QA, "batch": batch.Batch}[name]


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — make sure it is gone
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("qa", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: engine package {PKG} not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # Everything the run writes stays under its own work directory.  Its
    # name depends only on the arguments: file paths flow into the data
    # (ingest provenance), so shuffle bytes repeat only if paths do.
    work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)  # left by a run that was killed
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 4))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit_args(tmp)

    from perfbench.harness import (
        Watchdog, cpu_ticks, jvm_peak_rss_mb, jvm_pid, machine_state, measure, steal_share, tree_cpu_s,
    )
    from perfbench.spans import Tracer

    from advanced_technologies_of_china_graph_database_construction_spark import get_spark

    units = (
        {k: unit for k, (unit, _) in layer_catalog().items()}
        if args.trace else END_TO_END
    )
    details = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    spark = watchdog = wl = None
    ops, wrong, values = [], [], {}
    ticks = cpu_ticks()
    try:
        t0 = time.time()
        spark = get_spark(f"perfbench-{args.workload}")
        session_s = time.time() - t0
        details.update(machine=machine_state(spark), session_start_s=session_s)
        watchdog = Watchdog(spark)
        wl = workload_class(args.workload)(spark, args.seed, work, watchdog)
        reps = []
        for _ in range(wl.setup_reps):
            t = time.time()
            wl.setup()
            reps.append(time.time() - t)
        details["setup_reps_s"] = reps
        if args.trace:
            # the traced window sees what an untraced run sees (the cold
            # pass of a batch workload); the tracer times its own
            # bookkeeping in it, which is what tracing adds to a pass
            jvm = jvm_pid(spark)
            tracer = Tracer(spark, True, cpu_clock=lambda: tree_cpu_s(jvm))
            with wl.traced(tracer):
                m = measure(wl, tracer, args.seconds)
        else:
            tracer = Tracer(spark, False)
            m = measure(wl, tracer, args.seconds)
        ops = m["ops"]
        wrong = wl.verify(ops)
        if args.trace:
            values = wl.layer_metrics(tracer, ops)
            values["workload.pass.self_s"] = m["pass_self_s"]
            values["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
            values["trace.overhead.pass_s"] = m["trace_s"]
            values["trace.overhead.pass_cpu_s"] = m["trace_cpu_s"]
        else:
            values = {"setup_s": session_s + statistics.median(reps),
                      "pass_s": m["pass_s"], "pass_cpu_s": m["pass_cpu_s"]}
        details["window"] = {k: v for k, v in m.items() if k not in ("ops", "passes")}
        details["window"]["passes"] = len(m["passes"])
        details["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        details["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
    except Exception:  # noqa: BLE001 — report a failed run, not a missing one
        traceback.print_exc()
        details["error"] = traceback.format_exc(limit=3)
    finally:
        steps = [wl and wl.teardown, watchdog and watchdog.close, spark and (lambda: stop_spark(spark))]
        for step in filter(None, steps):
            try:
                step()
            except Exception:  # noqa: BLE001 — keep tearing down
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)

    failed = [o for o in ops if o.error is not None]
    n_failed = len(failed) if ops else 1
    details["failures"] = [f"{o.name}: {o.error}" for o in failed[:10]] + wrong[:10]
    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": n_failed == 0 and not wrong and "error" not in details,
        "attempted": max(len(ops), 1),
        "failed": n_failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": unit} for k, unit in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
