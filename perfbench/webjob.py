"""The curate_web_job workload and its traced per-layer replay.

One job follows the non-bucketed path of jobs/curate_job.py:
``curate(stage_dir=<fresh dir>)`` over the parquet input, a parquet write
of the output and a re-read of the output for ``rule_census``. Every job
gets fresh stage and output directories and never passes ``stage_reuse``,
so a ``_SUCCESS`` marker left by an earlier job cannot skip work.

The traced replay makes the same public calls as ``curate()``,
materializes after each layer and labels each layer's jobs with
``setJobDescription``. It must give the same census as ``curate()``;
when it does not, ``curate()`` has changed and ``replay`` has to follow.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LAYERS = (
    "base_cut", "exact_dedup", "fz_input", "minhash", "lsh", "verify", "cc",
    "join_back", "signals", "conv_dup", "perplexity", "scrub", "sink",
)
LAYER_FIELDS = ("s", "run_s", "python_s", "shuffle_write_mb", "spill_mb", "rows_out")
COUNTS = (
    "minhash.nonascii_rows", "exact_dedup.dup_rows", "lsh.candidate_pairs",
    "verify.kept_pairs", "verify.precision", "cc.components", "cc.jobs",
)


class TraceMismatch(RuntimeError):
    """The traced replay and curate() disagree on the census."""


def census(df: DataFrame) -> dict[str, int]:
    from redpajama_processor_spark.pipeline import rule_census

    return {r["rule"]: r["count"] for r in rule_census(df).collect()}


def run_job(spark, input_dir: str, lm: dict, job_dir: str) -> tuple[dict, DataFrame]:
    """One job; returns (census of the written output, curate()'s frame)."""
    from redpajama_processor_spark.pipeline import curate

    out = curate(spark, spark.read.parquet(input_dir), lm, stage_dir=os.path.join(job_dir, "stage"))
    out_dir = os.path.join(job_dir, "out")
    out.write.mode("overwrite").parquet(out_dir)
    return census(spark.read.parquet(out_dir)), out


class Spans:
    """Wall time per layer; the layer's Spark jobs carry its name."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.s: dict[str, float] = {}

    @contextmanager
    def __call__(self, layer: str):
        self.sc.setJobDescription(layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.s[layer] = time.perf_counter() - t0
            self.sc.setJobDescription(None)


def _ckpt(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def replay(spark, input_dir: str, lm: dict, job_dir: str, span: Spans) -> dict:
    """curate(stage_dir=...) call by call, then the job's write and census.

    Returns {"census", "tables": {layer: materialized output}}.
    """
    from redpajama_processor_spark.functions import hashing as H
    from redpajama_processor_spark.functions import signals as S
    from redpajama_processor_spark.functions.langid import langid_udf
    from redpajama_processor_spark.functions.perplexity import DEFAULT_MAX_PPL, perplexity_udf
    from redpajama_processor_spark.functions.scrub import SCRUB_RULES, spark_scrub_cols
    from redpajama_processor_spark.functions.textclean import clean_text_col
    from redpajama_processor_spark.operators import dedup as D
    from redpajama_processor_spark.operators.convdup import CONV_DUP_MAX, conv_dup_ratio
    from redpajama_processor_spark.operators.stage import cut
    from redpajama_processor_spark.pipeline import (
        FUZZY_BANDS, FUZZY_JACCARD, FUZZY_NUM_PERM, doc_key_col,
    )

    stage_dir = os.path.join(job_dir, "stage")
    lm_b = spark.sparkContext.broadcast(lm)
    t: dict[str, DataFrame] = {}

    with span("base_cut"):
        df = spark.read.parquet(input_dir).withColumn("_key", doc_key_col())
        df = df.withColumn("language", langid_udf()(F.col("text")).getField("lang"))
        df = df.withColumn("clean_text", clean_text_col(F.col("text")))
        base = t["base_cut"] = cut(df, stage_dir, "base")
    with span("exact_dedup"):
        en = base.filter(F.col("language") == "EN").select(
            "_key", F.md5("clean_text").alias("_hash")
        )
        exact = D.keep_first_flags(en, "_key", out_col="is_exact_dup")
        df = t["exact_dedup"] = _ckpt(
            base.join(exact, "_key", "left").withColumn(
                "is_exact_dup", F.coalesce("is_exact_dup", F.lit(False))
            )
        )
    with span("fz_input"):
        surv = df.filter((F.col("language") == "EN") & (~F.col("is_exact_dup"))).select(
            F.col("_key").alias("doc_id"), F.col("clean_text").alias("text")
        )
        fz = t["fz_input"] = cut(surv, stage_dir, "fz_input")
    with span("minhash"):
        sigs = t["minhash"] = _ckpt(
            D.add_minhash(fz, "text", FUZZY_NUM_PERM, H.DEFAULT_NGRAM, use_numpy=True, base="xxhash")
        )
    with span("lsh"):
        buckets = D.lsh_buckets(sigs, FUZZY_NUM_PERM, FUZZY_BANDS, "doc_id", key_hash="xxhash")
        cand = t["lsh"] = _ckpt(D.buckets_to_edges(buckets, "doc_id"))
    with span("verify"):
        kept = D.verify_pairs_jaccard(
            cand, fz, "text", "doc_id", H.DEFAULT_NGRAM, FUZZY_JACCARD, hash_shingles=True
        ).select("src", "dst")
        pairs = t["verify"] = cut(kept, stage_dir, "fz_pairs")
    with span("cc"):
        comp = t["cc"] = _ckpt(D.connected_components(pairs, stage_dir=stage_dir, edges_cut=True))
    with span("join_back"):
        fz_labels = (
            fz.join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
            .withColumn("component", F.coalesce(F.col("component"), F.col("doc_id")))
            .select(
                F.col("doc_id").alias("_key"),
                (F.col("component") != F.col("doc_id")).alias("is_fuzzy_dup"),
                "component",
            )
        )
        df = t["join_back"] = _ckpt(
            df.join(fz_labels, "_key", "left").withColumns(
                {
                    "is_fuzzy_dup": F.coalesce("is_fuzzy_dup", F.lit(False)),
                    "component": F.coalesce("component", F.col("_key")),
                }
            )
        )
    with span("signals"):
        df = df.withColumns(
            {"_words": S.words_col(F.col("clean_text")), "_lines": F.split(F.col("clean_text"), r"\n")}
        )
        sig = S.spark_signal_cols(F.col("clean_text"), words=F.col("_words"), lines=F.col("_lines"))
        heur_keep, heur_rule = S.spark_keep_and_rule(
            {k: F.col(k) for k in S.SIGNAL_COLS}, include_stopword_rule=True
        )
        df = df.withColumns(dict(sig)).drop("_words", "_lines")
        df = t["signals"] = _ckpt(df.withColumns({"_heur_keep": heur_keep, "_heur_rule": heur_rule}))
    with span("conv_dup"):
        cdr = conv_dup_ratio(base.select("conv_id", "turn_idx", F.col("clean_text").alias("text")))
        df = t["conv_dup"] = _ckpt(
            df.join(cdr, ["conv_id", "turn_idx"], "left").withColumn(
                "conv_dup_ratio", F.coalesce("conv_dup_ratio", F.lit(0.0))
            )
        )
    with span("perplexity"):
        df = t["perplexity"] = _ckpt(
            df.withColumn("perplexity", perplexity_udf(lm_b)(F.col("clean_text")))
        )
    with span("scrub"):
        scr = spark_scrub_cols(F.col("clean_text"))
        df = t["scrub"] = _ckpt(
            df.withColumns(
                {"scrubbed_text": scr["scrubbed_text"]}
                | {f"n_{name}": scr[f"n_{name}"].cast("int") for name, _, _ in SCRUB_RULES}
            )
        )
    with span("sink"):
        drop_rule = (
            F.when(F.col("language") != "EN", F.lit("langid"))
            .when(F.col("is_exact_dup"), F.lit("exact_dup"))
            .when(F.col("is_fuzzy_dup"), F.lit("fuzzy_dup"))
            .when(~F.col("_heur_keep"), F.col("_heur_rule"))
            .when(F.col("conv_dup_ratio") > CONV_DUP_MAX, F.lit("conv_dup_line"))
            .when(F.col("perplexity") > DEFAULT_MAX_PPL, F.lit("perplexity"))
        )
        out = (
            df.withColumn("drop_rule", drop_rule)
            .withColumn("keep", F.col("drop_rule").isNull())
            .drop("_heur_keep", "_heur_rule")
        )
        out_dir = os.path.join(job_dir, "out")
        out.write.mode("overwrite").parquet(out_dir)
        result = t["sink"] = spark.read.parquet(out_dir)
        got = census(result)
    return {"census": got, "tables": t}


def replay_counts(tables: dict[str, DataFrame]) -> dict[str, float]:
    """rows_out per layer and the work / useful-ratio counts."""
    rows = {f"{layer}.rows_out": float(tables[layer].count()) for layer in LAYERS}
    cand = rows["lsh.rows_out"]
    kept = rows["verify.rows_out"]
    return rows | {
        "minhash.nonascii_rows": float(
            tables["fz_input"].filter(F.col("text").rlike("[^\\x00-\\x7F]")).count()
        ),
        "exact_dedup.dup_rows": float(tables["exact_dedup"].filter("is_exact_dup").count()),
        "lsh.candidate_pairs": cand,
        "verify.kept_pairs": kept,
        "verify.precision": kept / cand if cand else 0.0,
        "cc.components": float(
            tables["cc"].filter(F.col("id") != F.col("component")).select("component").distinct().count()
        ),
    }
