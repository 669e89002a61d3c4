"""Clients, the timed-operation log, and process accounting from ``/proc``."""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable, Dict, List, Optional


@dataclass
class Op:
    kind: str
    t0: float
    t1: float = 0.0
    error: Optional[str] = None
    #: what the oracle needs to check the answer (request spec + state)
    spec: Any = None
    resp: Any = None
    in_bytes: int = 0
    out_bytes: int = 0

    @property
    def ms(self) -> float:
        return (self.t1 - self.t0) * 1000.0


class Deadline(Exception):
    """The timed region is over: the client stops before its next op."""


@dataclass
class OpLog:
    """The timed ops of one run, in the order they started."""

    ops: List[Op] = field(default_factory=list)
    #: perf_counter time after which :meth:`run` starts no new op
    deadline: float = float("inf")
    #: (ops logged, tree CPU seconds) at each cycle start and at the end
    marks: List[tuple] = field(default_factory=list)

    def mark(self) -> None:
        """Note a cycle boundary (and the end of the timed region), so CPU
        can be charged to whole cycles."""
        self.marks.append((len(self.ops), tree_cpu_s()))

    def cpu_ms_per_op(self) -> float:
        """CPU per op over the complete cycles: the next-to-last mark starts
        the cycle the deadline cut, whose ops are only partly done. With no
        complete cycle, over the whole timed region."""
        n0, c0 = self.marks[0]
        n1, c1 = self.marks[-2] if self.marks[-2][0] > n0 else self.marks[-1]
        return (c1 - c0) * 1000.0 / max(1, n1 - n0)

    def run(self, kind: str, spec: Any, call: Callable[[], tuple]) -> Op:
        """Time ``call`` (returning ``(response, in_bytes, out_bytes)``);
        a raised error marks the op failed instead of escaping."""
        if time.perf_counter() >= self.deadline:
            raise Deadline()
        op = Op(kind, time.perf_counter(), spec=spec)
        try:
            op.resp, op.in_bytes, op.out_bytes = call()
        except Exception as e:  # noqa: BLE001 - counted as a failed op
            op.error = f"{type(e).__name__}: {e}"[:500]
        op.t1 = time.perf_counter()
        self.ops.append(op)
        return op

    def by_kind(self) -> Dict[str, List[Op]]:
        out: Dict[str, List[Op]] = {}
        for op in self.ops:
            out.setdefault(op.kind, []).append(op)
        return out


class HttpError(RuntimeError):
    pass


def http_post(port: int, path: str, body: bytes,
              ctype: str = "application/json", timeout: float = 120.0):
    """POST and decode the JSON answer: ``(obj, request bytes, response
    bytes)``. A non-200 status raises :class:`HttpError` with its body."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=body,
        headers={"Content-Type": ctype})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as r:
            raw = r.read()
    except urllib.error.HTTPError as e:
        raise HttpError(f"HTTP {e.code} {path}: {e.read()[:300]!r}") from None
    return json.loads(raw), len(body), len(raw)


def http_json(port: int, path: str, obj: dict):
    return http_post(port, path, json.dumps(obj).encode())


def http_get_text(port: int, path: str) -> str:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}",
                                timeout=60) as r:
        return r.read().decode()


def server_counters(port: int) -> Dict[str, float]:
    """``/metrics`` counters as ``{name: value}`` (prefix stripped)."""
    out = {}
    for line in http_get_text(port, "/metrics").splitlines():
        if line.startswith("seqspark_") and "{" not in line:
            name, _, val = line.partition(" ")
            out[name[len("seqspark_"):]] = float(val)
    return out


# ----------------------------------------------------------------- /proc


def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: Optional[int] = None) -> List[int]:
    """Every live process below ``pid`` (this process by default)."""
    kids = _children_map()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    # utime, stime (fields 14 and 15 of stat; 12 and 13 after the name)
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds of this process plus every live descendant (the JVM
    and its Python workers)."""
    return sum(_cpu_s(p) for p in [os.getpid(), *descendants()])


def _hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Peak resident set of this process plus its descendants, in MiB."""
    return sum(_hwm_kib(p) for p in [os.getpid(), *descendants()]) / 1024.0


def median(xs: List[float]) -> float:
    return statistics.median(xs) if xs else 0.0
