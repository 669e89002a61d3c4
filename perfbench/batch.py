"""``batch_analytics``: fixed ``__spark_entry__.queries()`` entries through the
library, no server; rows checked against each entry's DuckDB ``oracle_sql()``.

The tables are generated from the seed with the schemas of the repository's
synthetic testdata (TPC-H-shaped tables, an ``events`` stream, ``documents``
and ``embeddings``), at roughly a fifth of its sf0.1 row counts.
"""

from __future__ import annotations

import math
import os
import time
from typing import Dict, List

import numpy as np

from .ops import Deadline, Op, OpLog

#: search, aggregation, TPC-H and pipeline entries; ``minhash_lsh_pairs``
#: is left out because at ≈19 s it would swamp a pass
ENTRIES = [
    "fulltext_and", "range_numeric", "order_limit_desc", "with_total",
    "two_phase_fetch", "agg_count_group", "agg_quantile", "date_histogram",
    "complex_search", "lineitem_pricing_summary", "shipping_priority",
    "simhash_candidates", "text_quality", "multimodal_decode",
    "ann_brute_topk",
]

#: the tables those entries read (multimodal_decode builds its own assets)
TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")

SCALE = {"customer": 3_000, "orders": 30_000, "lineitem": 120_000,
         "events": 20_000, "documents": 1_000, "embeddings": 1_000}

DOC_WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "table", "data", "agg", "value", "key", "stream", "window", "a",
             "spark", "part", "group", "big", "sort", "query", "fast", "the"]


def _ts(days_from: str, days: np.ndarray) -> np.ndarray:
    return (np.datetime64(days_from, "us")
            + days.astype("timedelta64[D]").astype("timedelta64[us]"))


def write_tables(seed: int, out_dir: str) -> Dict[str, int]:
    """Generate every table as ``<out_dir>/<name>.parquet``; returns row
    counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SCALE
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    ck = np.arange(n["customer"], dtype=np.int64)
    tables = {"customer": pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    })}
    ok = np.arange(n["orders"], dtype=np.int64)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], n["orders"], dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n["orders"]), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n["orders"])),
        "o_orderpriority": prio[rng.integers(0, 5, n["orders"])],
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, m, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, m, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, m, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, m)),
    })
    e = n["events"]
    offs = np.sort(rng.choice(30 * 86_400_000_000, e, replace=False))
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, e, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, e)],
        "value": np.round(rng.uniform(0.01, 490, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    tables["documents"] = _documents(rng, n["documents"])
    v = n["embeddings"]
    emb = rng.normal(0, 0.1, (v, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, v, dtype=np.int32),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}


def _documents(rng, n: int):
    import pyarrow as pa

    texts: List[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier doc, for the dedup entries
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        k = int(rng.integers(8, 90))
        texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, 30, k)))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def batch_session():
    """A session with the confs ``seqspark.__main__.main`` gives the CLI's
    session (master and shuffle partitions from SPARK_GRAFT_CPUS, AQE,
    UTC, no per-call debug capture, 64 MiB Arrow batches)."""
    from pyspark.sql import SparkSession

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    return (SparkSession.builder.master(f"local[{cpus}]")
            .appName("seqspark")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.python.sql.dataFrameDebugging.enabled", "false")
            .config("spark.sql.execution.arrow.maxBytesPerBatch",
                    str(64 << 20))
            .getOrCreate())


def norm(v):
    """``tools/oracle_check.py`` normalization: floats to 6 dp."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


def spark_rows(df_rows, cols: List[str]) -> list:
    return sorted(tuple(norm(r[c]) for c in cols) for r in df_rows)


def rows_match(cols: List[str], rows: list, ocols: List[str], orows: list) -> bool:
    """Same columns and the same normalized rows, as multisets."""
    return cols == ocols and rows == orows


def oracle_rows(con, sql: str) -> tuple:
    res = con.execute(sql).fetchdf()
    cols = sorted(res.columns)
    return cols, sorted(tuple(norm(v) for v in row)
                        for row in res[cols].itertuples(index=False))


class EntryRunner:
    def __init__(self, spark, sf_dir: str, tracer):
        import __spark_entry__ as em

        self.spark, self.sf_dir, self.tracer = spark, sf_dir, tracer
        fns = em.queries()
        self.fns = {name: fns[name] for name in ENTRIES}
        self.sql = em.oracle_sql()

    def run(self, name: str):
        """Build and drain one entry: ``(columns, rows)``."""
        with self.tracer.entry(name):
            df = self.fns[name](self.spark, self.sf_dir)
            rows = df.collect()
        return sorted(df.columns), rows

    def run_pass(self, log: OpLog) -> List[Op]:
        return [log.run(f"entry.{name}", {"name": name},
                        lambda name=name: (self.run(name), 0, 0))
                for name in ENTRIES]


def batch_analytics(args, tracer) -> dict:
    import duckdb

    sf_dir = os.path.join(args.work, "data")
    t0 = time.perf_counter()
    counts = write_tables(args.seed, sf_dir)
    spark = batch_session()
    runner = EntryRunner(spark, sf_dir, tracer)
    warm = runner.run_pass(OpLog())
    setup_s = time.perf_counter() - t0
    # the warm-up pass's rows are checked against DuckDB; every timed
    # pass must reproduce them exactly
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    wrong, expected = [], {}
    for name, op in zip(ENTRIES, warm):
        if op.error is not None:
            wrong.append((name, f"warm-up failed: {op.error}"))
            continue
        cols, rows = op.resp
        got = spark_rows(rows, cols)
        ocols, want = oracle_rows(con, runner.sql[name])
        if not rows_match(cols, got, ocols, want):
            wrong.append((name, f"oracle mismatch: {len(got)} rows vs {len(want)}"))
        expected[name] = got
    con.close()

    log = OpLog()
    passes: List[float] = []
    with tracer.timed(spark):
        t_start = time.perf_counter()
        log.deadline = t_start + args.seconds
        while True:
            tp = time.perf_counter()
            log.mark()
            try:
                runner.run_pass(log)
            except Deadline:
                log.mark()
                break
            passes.append(time.perf_counter() - tp)
        wall = time.perf_counter() - t_start
    for op in log.ops:
        if op.error is None:
            name = op.spec["name"]
            cols, rows = op.resp
            if name in expected and spark_rows(rows, cols) != expected[name]:
                wrong.append((name, "timed pass rows differ from the checked pass"))
            op.resp = None
    return {
        "log": log, "wall_s": wall, "setup_s": setup_s,
        "wrong": wrong, "extra": {"rows": counts, "passes_s": passes},
    }
