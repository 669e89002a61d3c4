"""Tracing: spans recorded by wrappers the benchmark installs around the
public functions of each layer, and the per-layer metrics derived from them.

A wrapper patches the attribute its caller looks up (``server.py`` imports
``parse_bulk_body`` by name, so ``seqspark.server.parse_bulk_body`` is the
one patched). Spans live in memory; metrics are derived when the run ends.

Requests of each op type alternate between traced and untraced inside one
run (per type, so a fixed per-cycle mix cannot alias every request of a
type onto one side). The per-layer numbers come from traced requests, and
``bench.tracing_overhead_pct`` compares their client latency with the
untraced requests of the same op type.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import threading
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from .batch import ENTRIES as ENTRY_NAMES
from .ops import median

#: span name → layer whose self time it counts as
LAYER_OF = {
    "server.core": "server", "server.table": "table", "table.build": "table",
    "seqql.parse": "seqql", "compile.predicate": "compile",
    "engine": "engine", "spark.action": "spark",
    "bulk.parse": "bulk", "bulk.to_df": "bulk", "store.append": "store",
    "store.maintain": "store", "index.refresh": "index",
    "index.refresh_stale": "index", "entry": "entry",
}
LAYERS = ["transport", "server", "table", "seqql", "compile", "engine",
          "spark", "bulk", "store", "index", "entry"]

#: client op kind → server core route
ROUTE_OF = {"search": "search", "probe": "search", "grpc": "search",
            "complex": "complex", "fetch": "fetch", "bulk": "bulk"}

#: per-layer metrics of BENCHMARK.json, in its order: the times here are
#: measured on both workloads; the rest are counts, ratios and sizes
PER_LAYER_UNITS: Dict[str, str] = {
    "server.in_bytes": "bytes", "server.out_bytes": "bytes",
    "server.table_miss_ratio": "ratio", "seqql.parse_ms": "ms",
    "seqql.parses_per_op": "count", "compile.compile_ms": "ms",
    "engine.build_ms": "ms", "engine.plan_cache_hit_ratio": "ratio",
    "spark.exec_ms": "ms", "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.search_jobs_per_op": "count", "spark.complex_jobs_per_op": "count",
    "store.flushes_per_bulk": "count", "store.compactions": "count",
    "store.bytes_rewritten_per_input_byte": "ratio",
    "store.files_per_bucket": "count", "index.buckets_rebuilt": "count",
    "index.two_phase_share": "ratio",
    **{f"entry.{n}_jobs": "count" for n in ENTRY_NAMES},
    "bench.tracing_overhead_pct": "%", "bench.peak_rss_mb": "MiB",
}
#: times of layers that only one workload exercises (a constant 0 on the
#: other), and the by-construction coverage check: in the report line only
REPORT_LAYER_UNITS: Dict[str, str] = {
    "server.http_overhead_ms": "ms", "wire.grpc_overhead_ms": "ms",
    "server.table_ms": "ms", "server.encode_ms": "ms",
    "bulk.parse_ms": "ms", "bulk.to_df_ms": "ms", "store.append_ms": "ms",
    "store.append_wait_ms": "ms", "store.maintain_ms": "ms",
    "index.refresh_ms": "ms",
    **{f"entry.{n}_ms": "ms" for n in ENTRY_NAMES},
    "bench.layer_coverage_pct": "%",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    rid: Optional[str] = None
    label: str = ""
    children: List[int] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class NullTracer:
    """Untraced runs: no wrappers, no spans."""

    @contextlib.contextmanager
    def entry(self, name):
        yield

    @contextlib.contextmanager
    def timed(self, spark):
        yield


class Tracer(NullTracer):
    def __init__(self):
        self.spans: List[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = itertools.count()
        self._undo: List[Callable[[], None]] = []
        self._active = False
        #: request roots seen per label, for the traced/untraced alternation
        self._seen: Dict[str, list] = {}
        self.sc = None
        #: per-call counters kept at the layer boundary
        self.table_calls = 0
        self.table_builds = 0
        self.frames_seen: set = set()
        self.frames_keep: list = []
        self.plan_calls = 0
        self.plan_hits = 0
        self.buckets_rebuilt = 0
        self.jobs: Dict[str, tuple] = {}

    # ------------------------------------------------------------ spans

    def _take(self, label: str, alternate: bool) -> bool:
        """Whether a new root span with ``label`` is traced."""
        if not self._active:
            return False
        if not alternate:
            return True
        with self._lock:
            # labels start on alternate sides, so the first (coldest)
            # request of every type does not always land on the traced one
            first, n = self._seen.setdefault(label, [len(self._seen), 0])
            self._seen[label][1] = n + 1
        return (first + n) % 2 == 0

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, label: str = "",
             alternate: bool = False):
        """Record ``name`` around the block. A root span opens a traced
        request (every other one per label when ``alternate``) and tags its
        Spark jobs with the request id; other spans record only inside a
        traced request."""
        st = self._stack()
        if root and not st and self._take(label, alternate):
            rid = f"bench-{next(self._ids)}"
        elif st:
            rid = None
        else:
            yield
            return
        sp = Span(name, time.perf_counter(), label=label)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
            if st:
                sp.parent = st[-1]
                sp.rid = self.spans[st[-1]].rid
                self.spans[st[-1]].children.append(idx)
            else:
                sp.rid = rid
        if rid is not None and self.sc is not None:
            self.sc.setJobGroup(rid, name)
        st.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            st.pop()
            if rid is not None and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def entry(self, name):
        with self.span("entry", root=True, label=name, alternate=True):
            yield

    # --------------------------------------------------------- wrappers

    def wrap(self, owner, attr: str, name: str, root: bool = False,
             after: Optional[Callable] = None, alternate: bool = False) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper; ``after``
        sees each call's result."""
        static = inspect.getattr_static(owner, attr)
        is_cm = isinstance(static, classmethod)
        fn = static.__func__ if is_cm else getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name, root=root, label=attr, alternate=alternate):
                out = fn(*a, **kw)
            if after is not None:
                after(out)
            return out

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        self._undo.append(lambda: setattr(owner, attr, static))

    def install(self, spark) -> None:
        import seqspark.engine as engine_mod
        import seqspark.server as server_mod
        from seqspark.engine import SearchTable
        from seqspark.index import StoreIndex
        from seqspark.server import SeqSparkServer
        from seqspark.store import DocStore

        self.sc = spark.sparkContext
        w = self.wrap
        for route in ("search", "complex", "fetch", "bulk"):
            w(SeqSparkServer, route, "server.core", root=True, alternate=True)
        w(SeqSparkServer, "_table", "server.table", after=self._count_table)
        w(SearchTable, "from_store", "table.build", after=self._count_build)
        w(SearchTable, "parse", "seqql.parse")
        w(SearchTable, "predicate", "compile.predicate")
        w(engine_mod, "compile_node", "compile.predicate")
        for m in ("search", "aggregate"):
            w(SearchTable, m, "engine", after=self._count_plan)
        for m in ("total", "histogram", "complex_search", "fetch",
                  "two_phase_search"):
            if hasattr(SearchTable, m):
                w(SearchTable, m, "engine")
        df_cls = type(spark.range(1))
        for m in ("collect", "head", "count", "toLocalIterator"):
            w(df_cls, m, "spark.action")
        w(server_mod, "parse_bulk_body", "bulk.parse")
        w(server_mod, "bulk_to_df", "bulk.to_df")
        w(DocStore, "append", "store.append")
        w(DocStore, "maintain", "store.maintain", root=True)
        w(SeqSparkServer, "refresh_index", "index.refresh", root=True)
        w(StoreIndex, "refresh_stale", "index.refresh_stale",
          after=self._count_rebuilt)

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    def _count_table(self, _out) -> None:
        if self._stack():
            self.table_calls += 1

    def _count_build(self, _out) -> None:
        if self._stack():
            self.table_builds += 1

    def _count_plan(self, df) -> None:
        if not self._stack():
            return
        self.plan_calls += 1
        if id(df) in self.frames_seen:
            self.plan_hits += 1
        else:
            self.frames_seen.add(id(df))
            self.frames_keep.append(df)  # pins ids for the run

    def _count_rebuilt(self, out) -> None:
        if self._stack():
            self.buckets_rebuilt += len(out or ())

    @contextlib.contextmanager
    def timed(self, spark):
        """Install the wrappers around the timed region."""
        self.install(spark)
        self._active = True
        try:
            yield
        finally:
            self._active = False
            self.uninstall()
            self._collect_jobs()

    def _collect_jobs(self) -> None:
        """Jobs, stages and tasks per traced request, from the status
        tracker of the job group each root span set."""
        if self.sc is None:
            return
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.parent is not None or sp.rid is None:
                continue
            jobs = stages = tasks = 0
            for jid in tracker.getJobIdsForGroup(sp.rid):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    stages += 1
                    si = tracker.getStageInfo(sid)
                    tasks += si.numTasks if si is not None else 0
            self.jobs[sp.rid] = (jobs, stages, tasks)

    # ---------------------------------------------------------- metrics

    def _self_ms(self, idx: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[idx]
        ivs = sorted((self.spans[c].start, self.spans[c].end) for c in sp.children)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            s, e = max(s, sp.start), min(e, sp.end)
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, (sp.end - sp.start) - covered) * 1000.0

    def _layers_of(self, root: int) -> Dict[str, float]:
        out: Dict[str, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            layer = LAYER_OF[self.spans[i].name]
            out[layer] = out.get(layer, 0.0) + self._self_ms(i)
            todo.extend(self.spans[i].children)
        return out

    def _by_name(self, root: int) -> Dict[str, float]:
        out: Dict[str, float] = {}
        todo = [root]
        while todo:
            i = todo.pop()
            sp = self.spans[i]
            out[sp.name] = out.get(sp.name, 0.0) + self._self_ms(i)
            out["n." + sp.name] = out.get("n." + sp.name, 0) + 1
            todo.extend(sp.children)
        return out

    def match(self, log) -> list:
        """Pair each client op with the root span it caused: same route,
        inside the op's interval, earliest start after the op's."""
        roots: Dict[str, list] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is None and sp.name in ("server.core", "entry"):
                roots.setdefault(sp.label, []).append(i)
        used, pairs = set(), []
        for op in sorted(log.ops, key=lambda o: o.t0):
            if op.error is not None:
                continue
            key = (op.spec["name"] if op.kind.startswith("entry.")
                   else ROUTE_OF.get(op.kind))
            best = None
            for i in roots.get(key, ()):
                sp = self.spans[i]
                if i in used or sp.start < op.t0 or sp.end > op.t1:
                    continue
                if best is None or sp.start < self.spans[best].start:
                    best = i
            if best is not None:
                used.add(best)
            pairs.append((op, best))
        return pairs

    def per_layer(self, log, res: dict):
        """``(metrics, detail)``: every per-layer metric of BENCHMARK.json
        (0 where the workload leaves a layer idle) and the per-op self-time
        table. Time a traced op spends outside every wrapped call counts as
        its root's self time (``server`` or ``entry``), so each op type's
        layers add up to its latency by construction."""
        pairs = self.match(log)
        traced = [(op, i) for op, i in pairs if i is not None]
        rows: Dict[str, List[dict]] = {}
        for op, i in traced:
            lay = self._layers_of(i)
            lay["transport"] = op.ms - self.spans[i].ms
            names = self._by_name(i)
            rows.setdefault(op.kind, []).append(
                {"op": op, "root": i, "layers": lay, "names": names})

        def mean(xs):
            xs = list(xs)
            return sum(xs) / len(xs) if xs else 0.0

        all_rows = [r for rs in rows.values() for r in rs]
        http = [r for r in all_rows
                if r["op"].kind in ("search", "probe", "complex", "fetch", "bulk")]
        grpc = rows.get("grpc", [])
        core = [r for r in all_rows if not r["op"].kind.startswith("entry.")]
        bulks = rows.get("bulk", [])
        m: Dict[str, float] = {}
        m["server.http_overhead_ms"] = mean(r["layers"]["transport"] for r in http)
        m["server.in_bytes"] = mean(r["op"].in_bytes for r in http)
        m["server.out_bytes"] = mean(r["op"].out_bytes for r in http)
        m["wire.grpc_overhead_ms"] = mean(r["layers"]["transport"] for r in grpc)
        m["server.table_ms"] = mean(r["layers"].get("table", 0) for r in core)
        m["server.table_miss_ratio"] = (self.table_builds / self.table_calls
                                        if self.table_calls else 0.0)
        m["server.encode_ms"] = mean(r["layers"].get("server", 0) for r in core
                                     if r["op"].kind != "bulk")
        m["seqql.parse_ms"] = mean(r["layers"].get("seqql", 0) for r in all_rows)
        m["seqql.parses_per_op"] = mean(r["names"].get("n.seqql.parse", 0)
                                        for r in all_rows)
        m["compile.compile_ms"] = mean(r["layers"].get("compile", 0) for r in all_rows)
        m["engine.build_ms"] = mean(r["layers"].get("engine", 0) for r in all_rows)
        m["engine.plan_cache_hit_ratio"] = (self.plan_hits / self.plan_calls
                                            if self.plan_calls else 0.0)
        m["spark.exec_ms"] = mean(r["layers"].get("spark", 0) for r in all_rows)
        jobs = [self.jobs.get(self.spans[r["root"]].rid, (0, 0, 0)) for r in all_rows]
        m["spark.jobs_per_op"] = mean(j[0] for j in jobs)
        m["spark.stages_per_op"] = mean(j[1] for j in jobs)
        m["spark.tasks_per_op"] = mean(j[2] for j in jobs)
        for kind in ("search", "complex"):
            m[f"spark.{kind}_jobs_per_op"] = mean(
                self.jobs.get(self.spans[r["root"]].rid, (0,))[0]
                for r in rows.get(kind, []))
        m["bulk.parse_ms"] = mean(r["names"].get("bulk.parse", 0) for r in bulks)
        m["bulk.to_df_ms"] = mean(r["names"].get("bulk.to_df", 0) for r in bulks)
        m["store.append_ms"] = mean(r["layers"].get("store", 0) for r in bulks)
        m["store.append_wait_ms"] = mean(r["layers"].get("server", 0) for r in bulks)
        c = res.get("counters", {})
        m["store.flushes_per_bulk"] = (c.get("bulk_flushes_total", 0)
                                       / c["bulk_total"] if c.get("bulk_total") else 0.0)
        ex = res.get("extra", {})
        maint = ex.get("maintenance", [])
        m["store.maintain_ms"] = mean(self.spans[i].ms for i, s in enumerate(self.spans)
                                      if s.name == "store.maintain" and s.parent is None)
        m["store.compactions"] = float(sum(x["compacted"] for x in maint))
        m["store.bytes_rewritten_per_input_byte"] = (
            sum(x["rewritten_bytes"] for x in maint) / ex["input_bytes"]
            if ex.get("input_bytes") else 0.0)
        m["store.files_per_bucket"] = float(ex.get("files_per_bucket", 0.0))
        m["index.refresh_ms"] = mean(self.spans[i].ms for i, s in enumerate(self.spans)
                                     if s.name == "index.refresh" and s.parent is None)
        m["index.buckets_rebuilt"] = float(self.buckets_rebuilt)
        m["index.two_phase_share"] = (c.get("two_phase_searches_total", 0)
                                      / c["search_total"] if c.get("search_total") else 0.0)
        for n in ENTRY_NAMES:
            er = rows.get(f"entry.{n}", [])
            m[f"entry.{n}_ms"] = median([r["op"].ms for r in er])
            m[f"entry.{n}_jobs"] = mean(
                self.jobs.get(self.spans[r["root"]].rid, (0,))[0] for r in er)
        lat = sum(r["op"].ms for r in all_rows)
        m["bench.layer_coverage_pct"] = (100.0 * sum(sum(r["layers"].values())
                                                     for r in all_rows) / lat
                                         if lat else 0.0)
        # traced vs untraced client latency, per op type, weighted by ops
        over, weight = 0.0, 0
        table = {}
        for kind, rs in sorted(rows.items()):
            traced_ms = [r["op"].ms for r in rs]
            plain = [op.ms for op, i in pairs if i is None and op.kind == kind]
            lays = {k: mean(r["layers"].get(k, 0.0) for r in rs) for k in LAYERS}
            table[kind] = {
                "traced_n": len(traced_ms), "untraced_n": len(plain),
                "traced_p50_ms": median(traced_ms),
                "untraced_p50_ms": median(plain),
                "mean_ms": mean(traced_ms),
                "self_ms": {k: v for k, v in lays.items() if v},
                "coverage_pct": 100.0 * sum(lays.values()) / mean(traced_ms)
                if traced_ms else 0.0,
            }
            if plain and traced_ms:
                over += (median(traced_ms) / median(plain) - 1.0) * 100.0 * len(rs)
                weight += len(rs)
        m["bench.tracing_overhead_pct"] = over / weight if weight else 0.0
        m["bench.peak_rss_mb"] = res["peak_rss_mb"]
        metrics = {k: {"value": float(m[k]), "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
        detail = {"layer_metrics": {k: {"value": float(m[k]), "unit": u}
                                    for k, u in REPORT_LAYER_UNITS.items()},
                  "self_time_table": table, "spans": len(self.spans),
                  "traced_ops": len(traced), "ops": len(pairs),
                  "op_log": [(op.kind, round(op.ms, 1), i is not None)
                             for op, i in pairs]}
        return metrics, detail


def make_tracer(enabled: bool):
    return Tracer() if enabled else NullTracer()
