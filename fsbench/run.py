#!/usr/bin/env python3
"""Feature-store benchmark: one workload, one seed, one result line.

    python3 fsbench/run.py --workload training_set --seed 1 --seconds 20 --trace 0

Run from the repository root. Drives the engine's public API
(``FeatureStore``, ``operators.asof``, ``streaming.stats``) through a
fixed, seeded op sequence on fresh stores, checks every answer against
oracles computed from the generated inputs, and prints as its last
stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same sequence with Spark's event log on and one job group per call and
reports the per-layer metrics instead. Earlier stdout lines carry the
run's context (host probes, failures, the traced run's own end-to-end
figures). All scratch state lives under ``.fsbench_scratch/`` in the
working directory and is removed before exit. See ``fsbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _environment(root: str) -> None:
    """Pin the process to UTC and keep every file Spark and the JVM
    write under ``root``."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(root, "tmp")
    local = os.path.join(root, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it. The
    JVM is stopped even when the session cannot be (a call interrupted
    by SIGTERM leaves the gateway unusable)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001


def main() -> int:
    args = _parse()
    started = time.perf_counter()
    checkout = os.getcwd()
    sys.path.insert(1, checkout)  # after fsbench/, so its modules win
    try:
        import blackroad_feature_store_spark  # noqa: F401
    except ImportError as exc:
        print(f"fsbench: the engine package is not importable from {checkout}: {exc}",
              file=sys.stderr)
        return 2

    import eventlog
    from inputs import make_inputs
    from workload import WORKLOADS, Run, phase_counts

    if args.workload not in WORKLOADS:
        print(f"fsbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    from blackroad_feature_store_spark.session import get_spark

    # SIGTERM unwinds through the ``finally`` below: the JVM is stopped
    # and the scratch root removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(checkout, ".fsbench_scratch")
    root = os.path.join(scratch, f"run-{os.getpid()}")
    os.makedirs(root)
    spark = None
    try:
        _environment(root)
        counts = phase_counts(args.workload, args.seconds, bool(args.trace))
        inputs = make_inputs(args.seed, os.path.join(root, "inputs"), max(1, counts["serve"]))
        events = os.path.join(root, "events")
        extra = None
        if args.trace:
            os.makedirs(events)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
            }
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"fsbench-{args.workload}", extra_conf=extra)
        spark_start_s = time.perf_counter() - t0
        run = Run(spark, inputs, os.path.join(root, "work"), args.workload,
                  args.seconds, bool(args.trace))
        run.execute()
        e2e = run.end_to_end()
        _stop_spark(spark)
        spark = None
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "phases": counts,
            "phase_s": {k: round(v, 3) for k, v in
                        {"spark_start": spark_start_s, **run.phase_s,
                         "total": time.perf_counter() - started}.items()},
            "calls": run.calls(),
            "setup_runs_s": run.setup_s,
            "host": {k: v for k, v in run.per_layer({}).items() if k.startswith("host.")},
            "errors": run.rec.errors,
            "mismatches": run.mismatches[:20],
        }
        if args.trace:
            context["end_to_end_traced"] = e2e
            metrics = run.per_layer(eventlog.op_metrics(events, run.rec.spans))
        else:
            metrics = e2e
        print(json.dumps(context))
        print(json.dumps({
            "correct": not run.mismatches,
            "attempted": run.rec.attempted,
            "failed": run.rec.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(root, ignore_errors=True)
            try:
                os.rmdir(scratch)
            except OSError:
                pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
