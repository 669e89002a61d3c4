"""Seeded app-log documents and the pure-Python oracle that checks answers
over them.

Every document gets a distinct millisecond timestamp, so the engine's order
``(mid, rid)`` is fully determined by ``mid`` and the oracle never has to
reproduce the ``rid`` hash to predict a page.
"""

from __future__ import annotations

import datetime
import json
import random
import re
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

T0_MS = 1_709_251_200_000  # 2024-03-01 00:00:00 UTC
HOUR_MS = 3_600_000
_EPOCH = datetime.date(1970, 1, 1)

SERVICES = ["auth", "billing", "cart", "catalog", "checkout", "gateway",
            "inventory", "mailer", "orders", "payments", "search", "users"]
LEVELS = ["debug", "info", "warn", "error"]
LEVEL_WEIGHTS = [30, 50, 15, 5]
STATUSES = ["200", "201", "204", "301", "304", "400", "404", "500", "503"]
STATUS_WEIGHTS = [60, 8, 4, 3, 5, 6, 8, 4, 2]

_ONSETS = ["b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v"]
_VOWELS = ["a", "e", "i", "o", "u"]
#: 280 two-syllable lower-case words: one text-tokenizer token each
WORDS = [a + v + b + w for a in _ONSETS[:7] for v in _VOWELS[:4]
         for b in _ONSETS[7:] for w in _VOWELS[:5:2]][:280]

TEXT_FIELDS = ("message", "stack")

MAPPING_YAML = (
    "mapping-list:\n"
    "  - {name: service, type: keyword}\n"
    "  - {name: level, type: keyword}\n"
    "  - {name: status, type: keyword}\n"
    "  - {name: latency_ms, type: keyword}\n"
    "  - {name: message, type: text}\n"
    "  - {name: stack, type: text}\n"
)


def ts_text(ms: int) -> str:
    """ES-format event time (``yyyy-MM-dd HH:mm:ss.SSS``, UTC)."""
    day, rest = divmod(ms, 86_400_000)
    d = _EPOCH + datetime.timedelta(days=day)
    h, rest = divmod(rest, 3_600_000)
    m, rest = divmod(rest, 60_000)
    return f"{d:%Y-%m-%d} {h:02d}:{m:02d}:{rest // 1000:02d}.{rest % 1000:03d}"


@dataclass
class Doc:
    mid: int
    raw: str
    service: str
    level: str
    #: text field → its token set
    text: Dict[str, frozenset]


def _words(rng: random.Random, n: int) -> List[str]:
    # half Pareto-ranked, half uniform: queries range from common to rare
    return [WORDS[min(int(rng.paretovariate(1.1)) - 1, len(WORDS) - 1)
                  if rng.random() < 0.5 else rng.randrange(len(WORDS))]
            for _ in range(n)]


def _stack_trace(rng: random.Random, marker: str) -> str:
    frames = []
    for _ in range(34):
        pkg = ".".join(rng.sample(WORDS, 3))
        frames.append(f"at {pkg}.{rng.choice(WORDS)}({rng.choice(WORDS)}"
                      f".java:{rng.randrange(1, 900)})")
    return f"{marker} exception in thread {rng.choice(WORDS)} " + " ".join(frames)


def tokens(text: str) -> frozenset:
    """Text-tokenizer tokens of generated (lower-case ASCII) text."""
    return frozenset(t for t in re.split(r"[^a-z0-9_*]+", text.lower()) if t)


def app_log_doc(rng: random.Random, mid: int, marker: str) -> Doc:
    """≈1.5 KiB app-log doc carrying a stored stack trace; ``marker`` is a
    text token of the stack, unique to the bulk that ships the doc."""
    service = rng.choice(SERVICES)
    level = rng.choices(LEVELS, LEVEL_WEIGHTS)[0]
    message = " ".join(_words(rng, 10))
    stack = _stack_trace(rng, marker)
    obj = {"timestamp": ts_text(mid), "service": service, "level": level,
           "status": rng.choices(STATUSES, STATUS_WEIGHTS)[0],
           "latency_ms": int(rng.lognormvariate(4.0, 1.0)) % 5000,
           "host": f"node-{rng.randrange(64):02d}",
           "trace_id": f"{rng.getrandbits(64):016x}",
           "path": f"/api/v1/{rng.choice(WORDS)}/{rng.randrange(10_000)}",
           "message": message, "stack": stack}
    return Doc(mid, json.dumps(obj), service, level,
               {"message": tokens(message), "stack": tokens(stack)})


@dataclass(frozen=True)
class Query:
    """A conjunction of (field, value) terms the workload sends and the
    oracle evaluates; a text value matches one token."""

    terms: Tuple[Tuple[str, str], ...]

    def text(self) -> str:
        """Legacy-dialect query string (the CLI's default dialect)."""
        return " AND ".join(f"{f}:{v}" for f, v in self.terms)


def _has(d: Doc, term: Tuple[str, str]) -> bool:
    f, v = term
    return v in d.text[f] if f in TEXT_FIELDS else getattr(d, f) == v


class Oracle:
    """Expected answers over a growing corpus, held newest first."""

    def __init__(self, docs: Sequence[Doc] = ()):
        self.by_mid: Dict[int, Doc] = {}
        self._postings: Dict[Tuple[str, str], List[Doc]] = {}
        self.add(docs)

    def add(self, docs: Sequence[Doc]) -> None:
        for d in docs:
            if d.mid in self.by_mid:
                raise ValueError(f"duplicate mid {d.mid}")
            self.by_mid[d.mid] = d
        self._postings = {}
        for d in sorted(self.by_mid.values(), key=lambda d: -d.mid):
            keys = [("service", d.service), ("level", d.level)]
            keys += [(f, w) for f, toks in d.text.items() for w in toks]
            for key in keys:
                self._postings.setdefault(key, []).append(d)

    def matching(self, q: Query, from_ms: Optional[int] = None,
                 to_ms: Optional[int] = None) -> List[Doc]:
        """Every doc matching ``q`` inside the inclusive window, newest
        first."""
        base = min((self._postings.get(t, []) for t in q.terms), key=len)
        return [d for d in base
                if (from_ms is None or d.mid >= from_ms)
                and (to_ms is None or d.mid <= to_ms)
                and all(_has(d, t) for t in q.terms)]

    def page(self, q: Query, size: int, from_ms: Optional[int] = None,
             to_ms: Optional[int] = None) -> List[Tuple[int, str]]:
        return [(d.mid, d.raw) for d in self.matching(q, from_ms, to_ms)[:size]]

    def histogram(self, q: Query, interval_ms: int) -> Dict[str, int]:
        out: Dict[str, int] = {}
        for d in self.matching(q):
            b = str(d.mid - d.mid % interval_ms)
            out[b] = out.get(b, 0) + 1
        return out

    def count_by(self, q: Query, fld: str) -> Dict[str, int]:
        out: Dict[str, int] = {}
        for d in self.matching(q):
            v = getattr(d, fld)
            out[v] = out.get(v, 0) + 1
        return out
