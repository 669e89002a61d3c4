"""seq-spark benchmark: one command per workload, every answer checked.

    python3 perfbench/run.py --workload ingest_mixed --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads: ``ingest_mixed`` and
``batch_analytics`` (see perfbench/README.md). With ``--trace 0`` the last
stdout line carries the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` it carries the per-layer metrics from a traced run. The line
before it is a JSON report with per-op-type detail. Exit code 1 means a
wrong answer (or a failed set-up); 2 means the checkout is incomplete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("ingest_mixed", "batch_analytics")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", default=None,
                    help="work directory (default .bench_work/<workload>-<seed>)")
    return ap.parse_args(argv)


def host_env(work: str) -> None:
    """Spark sized to this host, with every temporary file under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    driver_gib = max(1, min(4, mem_kib // (4 << 20)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # the JVMs' perf counters would go to /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-memory {driver_gib}g "
            "--conf spark.driver.extraJavaOptions="
            f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "pyspark-shell"),
    })


def stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.ops import descendants

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - killed below
                proc.kill()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while descendants() and time.time() < deadline:
        for pid in descendants():
            try:
                os.kill(pid, 15)
            except OSError:
                pass
        time.sleep(0.2)
    for pid in descendants():
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "seqspark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: seqspark/ and __spark_entry__.py not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    args.work = os.path.abspath(args.work or os.path.join(
        ROOT, ".bench_work", f"{args.workload}-{args.seed}"))
    shutil.rmtree(args.work, ignore_errors=True)
    host_env(args.work)

    from perfbench import report
    from perfbench.ops import tree_peak_rss_mb
    from perfbench.trace import make_tracer

    if args.workload == "batch_analytics":
        from perfbench.batch import batch_analytics as run
    else:
        from perfbench.serve import ingest_mixed as run
    tracer = make_tracer(bool(args.trace))
    t0 = time.perf_counter()
    try:
        res = run(args, tracer)
        res["total_s"] = time.perf_counter() - t0
        res["peak_rss_mb"] = tree_peak_rss_mb()
    finally:
        stop_spark()
    out, detail = report.summarize(args, res, tracer)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps(out))
    shutil.rmtree(args.work, ignore_errors=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
