"""Benchmark of the civic-data engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (closed loop, one client, one process, one
``data_spark.session.get_spark()`` session on ``local[<cpus>]``):

- ``fec_incremental`` — one op is one 1000-row ``run_incremental_docs``
  batch over derived tables that set-up builds from seeded FEC landing
  files (the ``loaded_*`` anti-join drain).
- ``query_mix`` — one op is one read-only inventory query run to
  completion on seeded TPC-H-ish tables, in whole seed-ordered cycles.
- ``fec_bulk_elt`` — one op is a full ``run_bulk_import`` +
  ``run_derivations`` cycle (not listed in BENCHMARK.json: one run takes
  over a minute; a traced ``fec_incremental`` run covers its layers
  with one bulk build in set-up).

A new cycle starts while less than ``--seconds`` have passed since the
first began (closed loop; at least two cycles). Every op's
output is checked after its timed window; a failed check counts in
``failed``. ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
alternates untraced and traced cycles (an odd seed traces the first)
and prints the per-layer metrics (spans are written to
``perfbench/_out/``). The last stdout line is the result JSON; the line
before it holds non-gated details (host stamp, sample counts, peak RSS
of the Python driver plus the JVM). All scratch data lives in
``perfbench/_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _env(work: str) -> None:
    """Pin the session to this host's CPUs and a 2 GiB driver heap (the
    inputs are small; the host's memory is shared), and keep every file
    Spark or the JVM writes inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _p(values: list[float], q: float) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def end_to_end(ops, setup_s: float) -> dict:
    ms = [o.ms for o in ops]
    busy_s = sum(ms) / 1000.0
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (statistics.median(ms), "ms"),
        "op_p90_ms": (_p(ms, 0.9), "ms"),
        "ops_per_s": (len(ops) / busy_s, "1/s"),
        "rows_per_s": (sum(o.rows for o in ops) / busy_s, "rows/s"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size multiplier (the smoke tests shrink it)")
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    import host
    import layers
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    others = host.wait_for_no_spark_jvm(30.0)
    if others:
        print(
            f"perfbench: refusing to start, Spark JVM(s) already running: pids {others}. "
            "Concurrent Spark JVMs starve each other; stop them first.",
            file=sys.stderr,
        )
        return 3

    work = os.path.join(HERE, "_work")
    shutil.rmtree(work, ignore_errors=True)
    _env(work)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    stamp_start = host.stamp(cpus)

    from data_spark.session import get_spark

    t_setup = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    try:
        tracer = Tracer(spark) if args.trace else None
        if tracer is not None:
            tracer.install()
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, args.scale, tracer)
        wl.setup()
        setup_s = time.perf_counter() - t_setup
        if tracer is not None:
            tracer.uninstall()

        ops, cycles, t_start = [], 0, time.perf_counter()
        while cycles < 2 or time.perf_counter() - t_start < args.seconds:
            traced = bool(args.trace) and (cycles + args.seed) % 2 == 1
            if traced:
                tracer.install()
            ops += wl.cycle(traced)
            cycles += 1
            if traced:
                tracer.uninstall()
        rss_driver, rss_jvm = host.peak_rss_mb(jvm_pid)

        plain = [o for o in ops if not o.traced]
        failed = sum(not o.ok for o in ops) + (0 if wl.setup_ok else 1)
        if args.trace:
            metrics = layers.per_layer(tracer, ops)
            tracer.dump(os.path.join(HERE, "_out", f"trace_{args.workload}_{args.seed}.json"))
        else:
            metrics = end_to_end(plain, setup_s)
        stamp_end = host.stamp(cpus)
        by_name: dict[str, list[float]] = {}
        for o in plain:
            by_name.setdefault(o.name, []).append(o.ms)
        details = {
            "workload": args.workload, "seed": args.seed, "samples": len(plain),
            "traced_samples": len(ops) - len(plain), "cpus": cpus,
            # not gated: the JVM's heap commit varies too much between identical runs
            "peak_rss_mb": {"value": rss_driver + rss_jvm, "unit": "MB", "driver": rss_driver, "jvm": rss_jvm},
            "op_p50_ms_by_name": {n: statistics.median(v) for n, v in by_name.items()},
            "host_start": stamp_start, "host_end": stamp_end,
            "steal_pct": host.steal_pct(stamp_start, stamp_end),
        }
    finally:
        host.stop_spark(spark, jvm_pid)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops) + (0 if wl.setup_ok else 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
