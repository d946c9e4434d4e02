"""The entry_queries workload: bench.BENCH_QUERIES over the tables in data/.

The workload is where the curate layers do nothing, and a run has to fit
the benchmark's run-time budget (a cold pass over all 18 bench queries
takes about a minute on 4 cores), so it runs 8 of them, one per plan
shape (QUERY_NAMES). Left out are the five that run curate layers, which
curate_web_job measures layer by layer (transcript_core,
doc_prepare_training, doc_exact_dedup, doc_lsh_pairs,
doc_fuzzy_components), and five whose plan shapes repeat one kept
(top_customers, doc_simhash, doc_repetition, doc_dup_spans, events_hourly).

Every query is built with ``__spark_entry__.queries()`` and collected to
the driver, which executes every output column like a noop sink and lets
the same execution be checked: its row count and order-insensitive hash
must equal the values derived once from ``oracle_sql()`` in DuckDB
(expected.json, see derive_expected.py).

The tables are the sf0.01 test tables of TESTDATA.md (seed 42), copied so
the benchmark reads only files of its own checkout. sf0.1 would take ~35 s per
pass on 4 cores, too long for the run-time budget of the benchmark.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os
import random
import time

import numpy as np
import pandas as pd

import bench

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


QUERY_NAMES = [
    "pricing_summary",  # aggregate-only scan
    "revenue_per_nation",  # multi-way join under AQE, then aggregate
    "order_dedup_per_customer",  # window dedup
    "custkey_set_ops",  # set operations
    "doc_quality_filter",  # text-signal leaf
    "doc_vocab_topk",  # Generate (explode), aggregate, top-k
    "ann_topk",  # compute-bound leaf on a spread scan
    "events_sessionize",  # window sessionization
]
assert set(QUERY_NAMES) <= set(bench.BENCH_QUERIES)


def _canon(v) -> str:
    """One canonical text per value, equal for equal values of both engines
    (an integral float and the same integer read the same)."""
    if v is None or v is pd.NaT or v is pd.NA:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "null"
        return str(int(f)) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, (pd.Timestamp, _dt.datetime, np.datetime64)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ts.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def result_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive sha256 over column names and row values."""
    cols = sorted(pdf.columns)
    rows = sorted(
        hashlib.sha256("\x1f".join(_canon(v) for v in row).encode()).digest()
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1f".join(cols).encode())
    for r in rows:
        h.update(r)
    return h.hexdigest()


def pass_order(seed: int, n_pass: int) -> list[str]:
    """Seed-shuffled query order; each pass of one run gets its own order."""
    order = list(QUERY_NAMES)
    random.Random(seed * 1009 + n_pass).shuffle(order)
    return order


def plan_shape(df) -> dict[str, int]:
    """audit_plan counters of a built, not yet executed, query."""
    from redpajama_processor_spark.plans.audit import audit_plan

    a = audit_plan(df)
    return {
        "exchanges": a["n_exchanges"],
        "broadcasts": a["n_broadcast"],
        "round_robin": a["plan"].count("RoundRobinPartitioning"),
    }


def run_pass(
    spark, order: list[str], expected: dict, label: bool = False, plans: dict | None = None
) -> dict:
    """Run and check every query once.

    Returns {"wall_s", "query_s": {name: s}, "rows", "failed": [names]};
    wall_s excludes the time spent checking results. label=True tags each
    query's jobs with ``query.<name>`` (traced runs). A ``plans`` dict
    receives each query's plan_shape, taken between building and executing
    the query and left out of its time.
    """
    import __spark_entry__ as entry

    queries = entry.queries()
    query_s: dict[str, float] = {}
    failed: list[str] = []
    rows = 0
    untimed_s = 0.0
    t_pass = time.perf_counter()
    for name in order:
        if label:
            spark.sparkContext.setJobDescription(f"query.{name}")
        t0 = time.perf_counter()
        df = queries[name](spark, DATA_DIR)
        if plans is not None:
            ta = time.perf_counter()
            plans[name] = plan_shape(df)
            t0 += time.perf_counter() - ta
            untimed_s += time.perf_counter() - ta
        pdf = df.toPandas()
        t1 = time.perf_counter()
        query_s[name] = t1 - t0
        if label:
            spark.sparkContext.setJobDescription(None)
        rows += len(pdf)
        want = expected[name]
        if len(pdf) != want["rows"] or result_hash(pdf) != want["sha256"]:
            failed.append(name)
        untimed_s += time.perf_counter() - t1
    return {
        "wall_s": time.perf_counter() - t_pass - untimed_s,
        "query_s": query_s,
        "rows": rows,
        "failed": failed,
    }


def load_tables(spark) -> None:
    """Open every table: list its files and read its schema."""
    for t in TABLES:
        spark.read.parquet(os.path.join(DATA_DIR, f"{t}.parquet")).schema
