"""Benchmark entry point.

    python3 perfbench/run.py --workload query_hot --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. It starts a Spark ``local[N]``
session (N = min(2, cores)), sets up the workload from the seed, measures it
for about ``--seconds`` seconds with one closed-loop client, checks every
result, and prints a detailed report line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. Everything it writes lives under ``.perfbench_work/`` in
the checkout and is removed on exit; every process it started (driver JVM,
Python workers) has ended before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

HEAP = "1g"  # driver JVM heap; in local mode the executors share it

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "peak_pss_mb": "MB",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str, events: str, trace: bool) -> None:
    """Keep every Spark, JVM and Python temporary file inside ``work`` and
    give the Python workers the checkout on their path. Must run before the
    JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the engine default heap (48g) overcommits small hosts; a fixed,
    # pre-touched heap keeps the JVM's share of peak RSS the same every run
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                                         f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args + ["pyspark-shell"]))


def main(argv=None) -> int:
    args = _parse(argv)
    missing = [p for p in ("lucene_spark/__init__.py", "tests/oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a lucene_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    sys.path.append(os.path.join(ROOT, "tests"))
    import workloads as wl
    from common import MemorySampler, host_snapshot, kind_gmean_ms, p50_by_kind, stop_spark

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    events = os.path.join(work, "events")
    _prepare_env(work, events, bool(args.trace))
    run = wl.Run(args.seed, args.seconds, bool(args.trace), work, events)
    host_before = host_snapshot()
    t_start = time.perf_counter()
    spark = None
    # a terminated run still stops Spark and its processes on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with MemorySampler() as mem:
            try:
                spark = wl.start_session(run)
                wl.WORKLOADS[args.workload](run, spark)
            finally:
                stop_spark(spark)
        host_after = host_snapshot()
        layers = wl.layer_metrics(run) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    e2e = {
        "setup_s": run.setup_s,
        "op_p50_ms": kind_gmean_ms(run.op_kind, run.op_s),
        "peak_pss_mb": mem.peak_bytes / 1e6,
    }
    if args.trace:
        layers.update({
            "setup.warmup_ops": float(run.report.get("warmup_ops", 0)),
            "trace.op_p50_ms": e2e["op_p50_ms"], "trace.setup_s": run.setup_s,
            "host.loadavg_before": host_before["loadavg_1m"],
            "host.loadavg_after": host_after["loadavg_1m"],
            "host.alu_mips_before": host_before["alu_mips"],
            "host.alu_mips_after": host_after["alu_mips"],
        })
        metrics = {k: {"value": layers[k], "unit": u} for k, u in wl.PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    detail = {
        "workload": args.workload, "why": wl.WHY[args.workload], "seed": args.seed,
        "trace": bool(args.trace), "n_docs": wl.N_DOCS,
        "cores": wl.CORES, "client": "1 closed-loop",
        "wall_s": time.perf_counter() - t_start,
        "host_before": host_before, "host_after": host_after,
        "ops": len(run.op_s),
        "end_to_end": {k: {"value": e2e[k], "unit": u,
                           "n": len(run.op_s) if k.startswith("op_") else 1}
                       for k, u in END_TO_END.items()},
        "p50_ms_by_kind": p50_by_kind(run.op_kind, run.op_s),
        "setup_parts": run.setup_parts, **run.report,
        "problems": run.problems,
    }
    print(json.dumps(detail, default=float))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
