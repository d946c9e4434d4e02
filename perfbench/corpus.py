"""Benchmark input of the curate_web_job workload.

The workload curates datagen's synthetic transcript corpus of N_CONVS
conversations. The benchmark seed picks one of CORPUS_SEEDS generator
seeds: the expected rule census of each corpus comes from the
single-process oracle (``oracle.oracle_labels``), so it is derived once by
derive_expected.py and stored in expected.json instead of being recomputed
in every run.

N_CONVS is small because a job's cost is mostly per stage, not per row: on
a 4-core host a cold job over 200 conversations takes about as long as one
over 500, and one over 2,000 about twice as long. 500 keeps a run within
the benchmark's time budget.

The corpus is then rewritten: a hash-selected WEB_SHARE_PCT% of turns
carry a non-ASCII character that survives ``clean_text_col``. The
selection and the rewrite are functions of the text alone, so exact
duplicates stay exact duplicates. Curly quotes and en/em dashes are NOT
used: ``textclean.CHAR_MAP`` folds them to ASCII before MinHash sees the
text. Only BMP characters are used, so Python and JVM string lengths agree.
"""

from __future__ import annotations

import hashlib
import json
import os

N_CONVS = 500
CORPUS_SEEDS = 10
WEB_SHARE_PCT = 15
WEB_TOKENS = ("café", "naïve", "20°C", "€15", "→")

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def corpus_seed(seed: int) -> int:
    return seed % CORPUS_SEEDS


def web_text(text: str | None) -> str | None:
    """Insert one WEB_TOKENS word after the first word of a selected turn."""
    if text is None:
        return None
    h = int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")
    if h % 100 >= WEB_SHARE_PCT:
        return text
    tok = WEB_TOKENS[(h // 100) % len(WEB_TOKENS)]
    i = text.find(" ")
    return text + " " + tok if i < 0 else text[:i] + " " + tok + text[i:]


def turns_pandas(seed: int, web: bool = True):
    """The workload's turns, built in this process (``gen_turns_pandas``
    gives the same rows as ``gen_turns_spark``); web=False skips the
    rewrite (the plain corpus, for reference)."""
    from redpajama_processor_spark.datagen import gen_turns_pandas

    df = gen_turns_pandas(N_CONVS, seed=corpus_seed(seed))
    if web:
        df["text"] = df["text"].map(web_text)
    return df


def write_input(seed: int, path: str, files: int) -> int:
    """Write the workload's turns to ``path`` as ``files`` parquet files,
    typed as datagen.TURNS_SCHEMA; returns the row count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
        ("text", pa.string()), ("tool", pa.string()),
        # the session time zone is UTC, so a naive timestamp is a UTC instant
        ("ts", pa.timestamp("us", tz="UTC")),
    ])
    pdf = turns_pandas(seed)
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(len(pdf)), files)):
        part = pdf.iloc[rows][schema.names]
        pq.write_table(
            pa.Table.from_pandas(part, schema=schema, preserve_index=False),
            os.path.join(path, f"part-{i:05d}.parquet"),
        )
    return len(pdf)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def expected_census(seed: int) -> dict[str, int]:
    return load_expected()["census"][str(corpus_seed(seed))]
