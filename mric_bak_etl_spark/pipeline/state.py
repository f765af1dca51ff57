"""Processed-snapshot state: the pipeline's exactly-once bookkeeping.

Reference behavior (SURVEY.md §2A R7/R13): a one-line local text file holds
the last imported filename; the run exits early when the candidate equals it
(`src/bak_unload.ps1:57-65`) and commits the new name after a successful
load (`src/bak_unload.ps1:114-115`). Crash between load and commit → re-run
re-imports (at-least-once, idempotent because the load is a full replace).

Spark-first generalization: state is a *table* of processed names, not one
line — so the same anti-join pattern covers N-at-a-time backfills, and the
Structured Streaming runner gets the equivalent tracking from its file-source
checkpoint for free. Commit stays write-after-load, preserving the
reference's at-least-once + idempotent-replace semantics.

Scale notes (100 TB): the state table is tiny (one row per snapshot ever
seen) → always the broadcast side of the anti-join or flag join; the
candidate set never shuffles.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STATE_SCHEMA = T.StructType([T.StructField("name", T.StringType(), False)])


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Read the processed-names table; empty DataFrame when no state yet
    (mirrors the reference's Test-Path probe, `src/bak_unload.ps1:58`)."""
    if os.path.isdir(state_dir) and any(
        f.endswith(".parquet") for f in os.listdir(state_dir)
    ):
        return spark.read.schema(_STATE_SCHEMA).parquet(state_dir)
    return spark.createDataFrame([], _STATE_SCHEMA)


def filter_unprocessed(candidates: DataFrame, state: DataFrame) -> DataFrame:
    """R7: left anti-join candidates vs processed names — the 'already
    imported?' check. State is broadcast (it is tiny by construction)."""
    return candidates.join(F.broadcast(state), on="name", how="left_anti")


def flag_processed(candidates: DataFrame, state: DataFrame) -> DataFrame:
    """R7 as a column: left-join candidates to the broadcast processed names
    and add ``seen`` (true when the name was already imported). Unlike the
    anti-join it keeps every candidate, so one collect of a one-row
    candidate set answers both early exits."""
    flags = state.select("name", F.lit(True).alias("seen"))
    return candidates.join(F.broadcast(flags), on="name", how="left").select(
        *candidates.columns, F.coalesce("seen", F.lit(False)).alias("seen")
    )


def commit_state(spark: SparkSession, state_dir: str, names: DataFrame) -> None:
    """R13: append newly imported names AFTER a successful load.

    Append (not overwrite) keeps the full processed set; the write happens
    strictly after the snapshot load completes, preserving the reference's
    ordering (`src/bak_unload.ps1:103` load before `:115` commit) and hence
    its crash-replay safety.
    """
    names.select("name").write.mode("append").parquet(state_dir)
