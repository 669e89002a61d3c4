"""``ingest_mixed``: the production runtime driven over HTTP and gRPC, bulks
beside reads, every answer checked against :class:`corpus.Oracle`."""

from __future__ import annotations

import os
import random
import time
from typing import List, Optional, Tuple

from . import corpus as C
from .ops import Deadline, Op, OpLog, http_json, http_post, server_counters

#: drift window wide enough that no generated timestamp is clamped
DRIFT_FLAGS = ["--allowed-time-drift", "36500d",
               "--future-allowed-time-drift", "36500d"]
#: the CLI's own maintenance loop never fires inside a run; the benchmark
#: runs the loop's body itself, once per bulk
MAINT_FLAGS = ["--maintenance-period", "24h"]

PAGE = 20
HIST_MS = C.HOUR_MS
BASE_DOCS = 1_000
BULK_DOCS = 100
#: event time a live shipper advances per bulk
BULK_SPAN_MS = 20_000
T0_MS = C.T0_MS + 48 * C.HOUR_MS
BULK_ACTION = '{"index":{}}\n'
#: the reads of every cycle; literals are fixed so that each op type costs
#: the same in every cycle and its median does not depend on how many
#: cycles a run completes (the answers still change as bulks land).
#: The /search is text-only, so fully index-covered, and one word is rare
#: enough for the index to route it: the two-phase shape.
SEARCH_Q = C.Query((("message", C.WORDS[1]), ("message", C.WORDS[30])))
GRPC_Q = C.Query((("level", "info"),))
COMPLEX_Q = C.Query((("level", "warn"),))
#: cycles run before the timed region, in set-up
WARM_CYCLES = 1


def start_runtime(work: str):
    """The CLI's runtime (``seqspark.__main__.main``), not blocking, with
    the index armed and otherwise default flags."""
    from seqspark.__main__ import main

    os.makedirs(work, exist_ok=True)
    mpath = os.path.join(work, "mapping.yaml")
    with open(mpath, "w") as f:
        f.write(C.MAPPING_YAML)
    return main(["--data-dir", os.path.join(work, "store"), "--mapping", mpath,
                 "--index-dir", os.path.join(work, "index"),
                 *DRIFT_FLAGS, *MAINT_FLAGS], block=False)


def bulk_body(docs: List[C.Doc]) -> bytes:
    return "".join(BULK_ACTION + d.raw + "\n" for d in docs).encode()


def check_stored_mids(rt, docs: List[C.Doc]) -> None:
    """Every stored ``mid`` equals its generated millisecond timestamp."""
    got = sorted(r[0] for r in rt.store.read().select("mid").collect())
    want = sorted(d.mid for d in docs)
    if got != want:
        raise RuntimeError(
            f"stored mids differ from generated timestamps "
            f"({len(got)} stored, {len(want)} generated)")


# ------------------------------------------------------------- checking


def check_page(resp: dict, want: List[Tuple[int, str]]) -> Optional[str]:
    got = [(int(d["mid"]), d["data"]) for d in resp.get("docs", [])]
    if got == want:
        return None
    return (f"page mismatch: got {len(got)} docs {[m for m, _ in got[:4]]}..., "
            f"want {len(want)} {[m for m, _ in want[:4]]}...")


def check_complex(resp: dict, orc: C.Oracle, spec: dict) -> Optional[str]:
    q = spec["q"]
    bad = check_page(resp, orc.page(q, spec["size"]))
    if bad:
        return "complex docs: " + bad
    total = len(orc.matching(q))
    if resp.get("total") != total:
        return f"complex total {resp.get('total')} != {total}"
    if resp.get("histogram") != orc.histogram(q, HIST_MS):
        return "complex histogram buckets differ"
    got = {r["name"]: r["value"] for r in resp.get("aggs", [[]])[0]}
    want = orc.count_by(q, "service")
    if got != want:
        return f"complex count-by-service {got} != {want}"
    return None


def check_fetch(resp: dict, orc: C.Oracle, ids: List[List[int]]) -> Optional[str]:
    got = {(int(d["mid"]), int(d["rid"])): d["data"]
           for d in resp.get("docs", [])}
    want = {(m, r): orc.by_mid[m].raw for m, r in ids}
    if got != want:
        return f"fetch returned {sorted(got)[:3]}..., want {sorted(want)[:3]}..."
    return None


def grpc_page(resp: dict) -> dict:
    from seqspark.grpcapi import seq_id_parse

    docs = []
    for d in resp.get("docs", []):
        data = d["data"]
        docs.append({"mid": seq_id_parse(d["id"])[0],
                     "data": data.decode() if isinstance(data, bytes) else data})
    return {"docs": docs}


def verify(op: Op, orc: C.Oracle) -> Optional[str]:
    """Mismatch text for a wrong answer, None when ``op`` is correct."""
    s = op.spec
    if op.kind in ("search", "probe"):
        return check_page(op.resp, orc.page(s["q"], s["size"]))
    if op.kind == "grpc":
        return check_page(grpc_page(op.resp),
                          orc.page(s["q"], s["size"], s["from_ms"], s["to_ms"]))
    if op.kind == "complex":
        return check_complex(op.resp, orc, s)
    if op.kind == "fetch":
        return check_fetch(op.resp, orc, s["ids"])
    if op.kind == "bulk":
        items = op.resp.get("items", [])
        if op.resp.get("errors") or len(items) != s["n"]:
            return f"bulk not fully acked: {len(items)}/{s['n']} items"
        return None
    raise ValueError(op.kind)


# ---------------------------------------------------------------- client


def complex_req(q: C.Query, size: int) -> dict:
    return {"query": q.text(), "size": size, "with_total": True,
            "hist_interval_ms": HIST_MS,
            "aggs": [{"func": "count", "group_by": "service"}]}


def bulk_docs(seed: int, k: int) -> List[C.Doc]:
    """Bulk ``k``: ``BULK_DOCS`` app-log docs with distinct ms times in
    bulk ``k``'s slice of a live shipper's clock, marked ``mk<k>``."""
    rng = random.Random(seed * 1_000_003 + k)
    t = T0_MS + k * BULK_SPAN_MS
    offs = sorted(rng.sample(range(BULK_SPAN_MS), BULK_DOCS))
    return [C.app_log_doc(rng, t + o, f"mk{k}") for o in offs]


def base_docs(seed: int) -> List[C.Doc]:
    """The store's contents at start: two hours before the first bulk."""
    rng = random.Random(seed)
    offs = rng.sample(range(2 * C.HOUR_MS), BASE_DOCS)
    return [C.app_log_doc(rng, T0_MS - 2 * C.HOUR_MS + o, "base") for o in offs]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class IngestClient:
    """Strictly sequential. Each cycle: one bulk; a freshness probe for
    that bulk's marker, served while the append has the index disarmed;
    the maintenance body, which re-arms it; then a /search, a gRPC Search
    over the shipper's recent window, a /complex and a /fetch of the ids
    the /search returned, all index-routed. Every cycle has the same shape,
    so each op type's latencies come from one state."""

    def __init__(self, rt, seed: int, log: OpLog, first_bulk: int):
        from seqspark.wire.grpc import GrpcChannel

        self.rt, self.port, self.log = rt, rt.http.port, log
        self.ch = GrpcChannel("127.0.0.1", rt.grpc.port)
        self.seed, self.k = seed, first_bulk
        self.acked: List[int] = []  # bulk numbers acked, in order
        self.input_bytes = 0
        #: per maintenance pass: buckets compacted and the bytes they held
        self.maint: List[dict] = []
        self.last_ids: List[List[int]] = []

    def close(self) -> None:
        self.ch.close()

    def search(self, kind: str, spec: dict) -> None:
        body = {"query": spec["q"].text(), "size": spec["size"]}
        op = self.log.run(kind, spec, lambda: http_json(self.port, "/search", body))
        if op.error is None and op.resp.get("docs"):
            self.last_ids = [[d["mid"], d["rid"]] for d in op.resp["docs"][:5]]

    def grpc(self, spec: dict) -> None:
        from seqspark.wire import seqproxy as sp

        req = {"query": {"query": spec["q"].text(),
                         "from": sp.ms_to_ts(spec["from_ms"]),
                         "to": sp.ms_to_ts(spec["to_ms"])},
               "size": spec["size"]}
        path = "/seqproxyapi.v1.SeqProxyApi/Search"
        self.log.run("grpc", spec, lambda: (self.ch.unary(
            path, req, sp.SEARCH_REQUEST, sp.SEARCH_RESPONSE), 0, 0))

    def maintenance(self) -> None:
        """The body of the CLI's maintenance loop (default flags)."""
        store = self.rt.store
        root = store.path.removeprefix("file:")
        size = {b: dir_bytes(os.path.join(root, f"ts_bucket={b}"))
                for b in store.partitions()}
        compacted = store.maintain(max_files_per_partition=8)
        store.retain(max_total_bytes=1 << 30)
        self.rt.http.refresh_index()
        self.maint.append({"compacted": len(compacted),
                           "rewritten_bytes": sum(size[b] for b in compacted)})

    def cycle(self) -> None:
        k = self.k
        self.k += 1
        docs = bulk_docs(self.seed, k)
        body = bulk_body(docs)
        op = self.log.run("bulk", {"n": len(docs)}, lambda: http_post(
            self.port, "/_bulk", body, "application/x-ndjson"))
        if op.error is None:
            self.acked.append(k)
            self.input_bytes += len(body)
        state = {"acked": len(self.acked)}
        self.search("probe", {"q": C.Query((("stack", f"mk{k}"),)),
                              "size": BULK_DOCS, **state})
        self.maintenance()
        self.search("search", {"q": SEARCH_Q, "size": PAGE, **state})
        hi = T0_MS + self.k * BULK_SPAN_MS - 1
        self.grpc({"q": GRPC_Q, "size": PAGE,
                   "from_ms": hi - 10 * BULK_SPAN_MS, "to_ms": hi, **state})
        self.log.run("complex", {"q": COMPLEX_Q, "size": 10, **state},
                     lambda: http_json(self.port, "/complex",
                                       complex_req(COMPLEX_Q, 10)))
        ids = list(self.last_ids)
        self.log.run("fetch", {"ids": ids, **state},
                     lambda: http_json(self.port, "/fetch", {"ids": ids}))


def ingest_mixed(args, tracer) -> dict:
    base = base_docs(args.seed)
    preloaded = base + [d for k in range(WARM_CYCLES)
                        for d in bulk_docs(args.seed, k)]
    work = os.path.join(args.work, "runtime")
    t0 = time.perf_counter()
    rt = start_runtime(work)
    try:
        http_post(rt.http.port, "/_bulk", bulk_body(base), "application/x-ndjson")
        rt.http.refresh_index()
        warm = IngestClient(rt, args.seed, OpLog(), 0)
        try:
            for _ in range(WARM_CYCLES):
                warm.cycle()
        finally:
            warm.close()
        setup_s = time.perf_counter() - t0
        check_stored_mids(rt, preloaded)
        log = OpLog()
        client = IngestClient(rt, args.seed, log, WARM_CYCLES)
        c0 = server_counters(rt.http.port)
        with tracer.timed(rt.spark):
            t_start = time.perf_counter()
            log.deadline = t_start + args.seconds
            try:
                while True:
                    log.mark()
                    client.cycle()
            except Deadline:
                log.mark()
            wall = time.perf_counter() - t_start
        c1 = server_counters(rt.http.port)
        client.close()
        on_disk = (dir_bytes(os.path.join(work, "store"))
                   + dir_bytes(os.path.join(work, "index")))
        files = [rt.store.partition_file_count(b) for b in rt.store.partitions()]
    finally:
        rt.stop()
    # replay: each read is checked against the corpus as of its ack count
    orc = C.Oracle(preloaded)
    seen, wrong = 0, []
    for op in log.ops:
        if op.error is not None:
            continue
        while seen < op.spec.get("acked", seen):
            orc.add(bulk_docs(args.seed, client.acked[seen]))
            seen += 1
        bad = verify(op, orc)
        if bad:
            wrong.append((op.kind, bad))
    return {
        "log": log, "wall_s": wall, "setup_s": setup_s,
        "wrong": wrong,
        "counters": {k: c1.get(k, 0) - c0.get(k, 0) for k in c1},
        "extra": {
            "ingest_docs_per_s": len(client.acked) * BULK_DOCS / wall,
            "input_bytes": client.input_bytes,
            "store_bytes_per_input_byte": on_disk / (len(bulk_body(preloaded))
                                                     + client.input_bytes),
            "maintenance": client.maint,
            "files_per_bucket": sum(files) / max(1, len(files)),
        },
    }
