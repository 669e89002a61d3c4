"""The answer checks catch injected corruption.

    python3 -m pytest perfbench/test_oracle.py -q

Each test builds the correct response from the oracle, checks that it
passes, then corrupts it the way a wrong server answer would look: a
dropped doc, a count off by one, a reordered page, a wrong window edge,
different fetched bytes, a changed batch row.
"""

import copy
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import corpus as C  # noqa: E402
from perfbench.batch import rows_match  # noqa: E402
from perfbench.ops import Op  # noqa: E402
from perfbench.serve import HIST_MS, base_docs, bulk_docs, verify  # noqa: E402

Q = C.Query((("level", "info"),))
TEXT = C.Query((("message", C.WORDS[0]), ("message", C.WORDS[1])))


@pytest.fixture(scope="module")
def orc():
    return C.Oracle(base_docs(7) + bulk_docs(7, 0) + bulk_docs(7, 1))


def _docs(pairs):
    return [{"mid": m, "rid": m * 7, "data": raw} for m, raw in pairs]


def search_op(orc, q, size=20, kind="search"):
    return Op(kind, 0.0, spec={"q": q, "size": size},
              resp={"docs": _docs(orc.page(q, size))})


def complex_op(orc, q):
    resp = {
        "docs": _docs(orc.page(q, 10)),
        "total": len(orc.matching(q)),
        "histogram": orc.histogram(q, HIST_MS),
        "aggs": [[{"name": k, "value": float(v), "mid_ms": None, "not_exists": 0}
                  for k, v in orc.count_by(q, "service").items()]],
    }
    return Op("complex", 0.0, spec={"q": q, "size": 10}, resp=resp)


def test_correct_answers_pass(orc):
    probe = C.Query((("stack", "mk1"),))
    assert len(orc.matching(probe)) == 100
    assert verify(search_op(orc, probe, 100, "probe"), orc) is None
    assert verify(search_op(orc, TEXT), orc) is None
    assert verify(complex_op(orc, Q), orc) is None


def test_dropped_doc_is_caught(orc):
    op = search_op(orc, C.Query((("stack", "mk1"),)), 100, "probe")
    del op.resp["docs"][37]
    assert verify(op, orc) is not None


def test_reordered_page_is_caught(orc):
    op = search_op(orc, TEXT)
    d = op.resp["docs"]
    d[3], d[4] = d[4], d[3]
    assert verify(op, orc) is not None


def test_wrong_window_edge_is_caught(orc):
    hi = orc.matching(Q)[5].mid
    spec = {"q": Q, "size": 20, "from_ms": hi - C.HOUR_MS, "to_ms": hi}
    docs = [{"id": f"{m}", "data": raw}
            for m, raw in orc.page(Q, 20, hi - C.HOUR_MS, hi)]
    # the gRPC answer carries seq ids; this one includes the doc at `hi`
    from seqspark.grpcapi import seq_id_str

    for d in docs:
        d["id"] = seq_id_str(int(d["id"]), 1)
    op = Op("grpc", 0.0, spec=spec, resp={"docs": docs})
    assert verify(op, orc) is None
    op.spec = {**spec, "to_ms": hi - 1}  # `hi` itself is now outside
    assert verify(op, orc) is not None


@pytest.mark.parametrize("part", ["total", "histogram", "aggs"])
def test_count_off_by_one_is_caught(orc, part):
    op = complex_op(orc, Q)
    if part == "total":
        op.resp["total"] += 1
    elif part == "histogram":
        b = next(iter(op.resp["histogram"]))
        op.resp["histogram"][b] -= 1
    else:
        op.resp["aggs"][0][0]["value"] += 1
    assert verify(op, orc) is not None


def test_fetched_bytes_are_checked(orc):
    ids = [[d.mid, d.mid * 7] for d in orc.matching(Q)[:5]]
    resp = {"docs": _docs([(m, orc.by_mid[m].raw) for m, _ in ids])}
    op = Op("fetch", 0.0, spec={"ids": ids}, resp=resp)
    assert verify(op, orc) is None
    bad = copy.deepcopy(op)
    bad.resp["docs"][2]["data"] = bad.resp["docs"][2]["data"].replace("a", "b", 1)
    assert verify(bad, orc) is not None
    bad = copy.deepcopy(op)
    bad.resp["docs"].pop()
    assert verify(bad, orc) is not None


def test_batch_rows_are_compared_exactly():
    cols = ["a", "b"]
    want = [(1, 0.5), (2, 1.25)]
    assert rows_match(cols, want, cols, list(want))
    assert not rows_match(cols, want[:1], cols, want)
    assert not rows_match(cols, [(1, 0.5), (2, 1.250001)], cols, want)
    assert not rows_match(["a"], [(1,), (2,)], cols, want)
