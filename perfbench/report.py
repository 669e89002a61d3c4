"""Turn a workload's op log into the metrics line and the detail report."""

from __future__ import annotations

import math
from typing import Dict, List, Tuple

from .ops import median

#: end-to-end metric → unit. Latencies are built from per-op-type medians,
#: so a run cut between two op types weighs every type the same:
#: ``read_ms`` is the geometric mean of the read types' medians (every op
#: type but bulk: requests on ingest_mixed, entries on batch_analytics) and
#: ``cycle_ms`` the sum of every type's median, i.e. one ingest cycle or one
#: batch pass. Peak RSS varies with JVM garbage collection by more than a
#: tenth from run to run, so it is a per-layer metric of the traced run.
E2E_UNITS = {
    "setup_s": "s",
    "read_ms": "ms",
    "cycle_ms": "ms",
    "cpu_ms_per_op": "ms",
}


def op_table(log) -> Dict[str, dict]:
    """Per op type: attempted, failed, the first error and the median."""
    out = {}
    for kind, ops in sorted(log.by_kind().items()):
        done = [o.ms for o in ops if o.error is None]
        errs = [o.error for o in ops if o.error is not None]
        row = {"ops_attempted": len(ops), "ops_failed": len(errs),
               "p50_ms": median(done), "n": len(done)}
        if errs:
            row["first_error"] = errs[0]
        out[kind] = row
    return out


def summarize(args, res: dict, tracer) -> Tuple[dict, dict]:
    log = res["log"]
    ops = log.ops
    done = [o for o in ops if o.error is None]
    table = op_table(log)
    p50 = {k: r["p50_ms"] for k, r in table.items() if r["n"]}
    reads = [v for k, v in p50.items() if k != "bulk"]
    e2e = {
        "setup_s": res["setup_s"],
        "read_ms": math.exp(sum(map(math.log, reads)) / len(reads)) if reads else 0.0,
        "cycle_ms": sum(p50.values()),
        "cpu_ms_per_op": log.cpu_ms_per_op(),
    }
    wrong: List[tuple] = res["wrong"]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": table, "setup_s": res["setup_s"], "wall_s": res["wall_s"],
        "total_s": res["total_s"],
        "ops_per_s": len(done) / res["wall_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "wrong_answers": len(wrong), "first_wrong": wrong[:3],
        "counters": res.get("counters", {}), "extra": res.get("extra", {}),
    }
    if args.trace:
        metrics, layer_detail = tracer.per_layer(log, res)
        detail["layers"] = layer_detail
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    out = {"correct": not wrong and bool(done), "attempted": len(ops),
           "failed": len(ops) - len(done), "metrics": metrics}
    return out, {"report": detail}
