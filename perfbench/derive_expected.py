#!/usr/bin/env python3
"""Derive the benchmark's expected results once and store them in expected.json.

    python3 perfbench/derive_expected.py census    # oracle.oracle_labels, ~1 min
    python3 perfbench/derive_expected.py queries   # oracle_sql() in DuckDB

``census`` runs the single-process oracle over the curate_web_job corpus of
every corpus seed and records its rule census, plus the share of fuzzy-dedup
input rows that are non-ASCII after cleaning. It records that share for the
plain corpus of seed 0 too, as the no-injection reference. ``queries`` runs the
DuckDB rendering of every entry query over perfbench/data/ and records the
row count and order-insensitive hash of each result. Re-run the matching
part after changing corpus.N_CONVS, corpus.CORPUS_SEEDS, the web-text
rewrite or the tables under data/.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import corpus  # noqa: E402


def _oracle_census(seed: int, web: bool) -> tuple[dict[str, int], float]:
    from redpajama_processor_spark.datagen import lm_corpus
    from redpajama_processor_spark.functions.perplexity import train_bigram_lm
    from redpajama_processor_spark.oracle import oracle_labels

    labels = oracle_labels(corpus.turns_pandas(seed, web), train_bigram_lm(lm_corpus()))
    counts = labels["drop_rule"].fillna("__kept__").value_counts()
    # fuzzy dedup sees the EN turns that are not exact duplicates
    fz = labels[(labels["language"] == "EN") & (labels["drop_rule"] != "exact_dup")]
    nonascii = fz["clean_text"].map(lambda t: not t.isascii()).mean()
    return {rule: int(n) for rule, n in sorted(counts.items())}, float(nonascii)


def derive_census(workers: int = 2) -> dict:
    jobs = [(s, True) for s in range(corpus.CORPUS_SEEDS)] + [(0, False)]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        futures = {job: pool.submit(_oracle_census, *job) for job in jobs}
        census, share = {}, {}
        for (s, web), fut in futures.items():
            counts, nonascii = fut.result()
            if web:
                census[str(s)] = counts
                share[str(s)] = round(nonascii, 4)
            else:
                share["plain_0"] = round(nonascii, 4)
            print(f"seed {s} web={web}: {counts} nonascii={nonascii:.4f}", flush=True)
    return {"n_convs": corpus.N_CONVS, "census": census, "fuzzy_nonascii_share": share}


def derive_queries() -> dict:
    import duckdb

    import __spark_entry__ as entry
    from perfbench import queries

    con = duckdb.connect()
    for table in queries.TABLES:
        path = os.path.join(queries.DATA_DIR, f"{table}.parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    sql = entry.oracle_sql()
    out = {}
    for name in queries.QUERY_NAMES:
        pdf = con.execute(sql[name]).df()
        out[name] = {"rows": len(pdf), "sha256": queries.result_hash(pdf)}
        print(name, out[name], flush=True)
    return {"queries": out}


def main() -> None:
    part = sys.argv[1] if len(sys.argv) > 1 else ""
    if part == "census":
        update = derive_census()
    elif part == "queries":
        update = derive_queries()
    else:
        sys.exit("usage: derive_expected.py census|queries")
    try:
        expected = corpus.load_expected()
    except FileNotFoundError:
        expected = {}
    expected.update(update)
    with open(corpus.EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
