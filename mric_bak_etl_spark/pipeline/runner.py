"""End-to-end snapshot ingestion runs — batch and streaming.

The reference's full control flow (`src/bak_unload.ps1:21-126`):

    list → parse/filter(.zip) → [empty? exit] → latest-pick →
    [already imported? exit] → decompress → pick .bak payload →
    full-refresh load → commit state → cleanup

Batch :func:`run_batch` reproduces exactly that decision structure
(including both early-exit messages) and, like the reference, reads the
content of one blob per run:

- one decision query: the listing's max ``.zip`` name left-joined to the
  broadcast state; a null name is the empty exit, a seen name the
  already-imported exit;
- one load: a ``binaryFile`` scan pruned by ``_metadata.file_name`` to the
  winning archive, unzipped with the payload picked in the same Python
  stage, written with an :class:`~pyspark.sql.Observation` counting the
  entries;
- one state append.

Measured on 2 cores (local[2]): 5 Spark jobs per loading run (3 for the
decision, 1 for the write, 1 for the commit) and 3 per no-op run, with no
shuffle beyond the one-row max.

:func:`run_streaming` is the idiomatic replacement for the schedule+state-file
pattern: a Structured Streaming file source with ``Trigger.AvailableNow``
and a checkpoint — Spark tracks seen files exactly-once, so R7's state check
and R13's commit come for free and the per-run O(all blobs) re-list + client
sort disappears.

Cleanup (R14): the reference deletes its temp ``.bak`` files; here no temp
materialization exists — archives stream executor-side through the unzip
stage — so R14 reduces to Spark's own shuffle/temp lifecycle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from mric_bak_etl_spark.pipeline import manifest, state, unzip
from mric_bak_etl_spark.pipeline.snapshot import overwrite_snapshot
from mric_bak_etl_spark.session import ensure_runtime_confs

_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


@dataclass(frozen=True)
class RunResult:
    status: str  # "empty" | "already_imported" | "loaded"
    snapshot: str | None = None
    entries: int = 0


def run_batch(
    spark: SparkSession,
    blob_dir: str,
    state_dir: str,
    out_dir: str,
    snapshot_pattern: str = ".zip",
    payload_pattern: str = ".bak",
) -> RunResult:
    """One scheduled ingestion run, reference decision structure intact."""
    ensure_runtime_confs(spark)

    listing = manifest.manifest_from_directory(spark, blob_dir)
    candidates = manifest.filter_snapshots(
        listing.select("name", "file_key"), snapshot_pattern
    )
    latest = manifest.latest_snapshot(candidates)  # R5+R6, null name if none

    seen = state.read_state(spark, state_dir)
    # One collect decides R4 and R7 together, like the reference's two ifs.
    decision = state.flag_processed(latest, seen).collect()[0]
    if decision["name"] is None:  # R4, `src/bak_unload.ps1:38-42`
        return RunResult(status="empty")
    if decision["seen"]:  # `src/bak_unload.ps1:57-65`
        return RunResult(status="already_imported")
    snapshot_name = decision["name"]

    # R8 is free: executors read the winning blob directly — no copy step.
    # The _metadata predicate prunes the file listing, so only that blob's
    # bytes are read; a path built from the name would be read as a glob.
    archive = (
        spark.read.format("binaryFile")
        .load(blob_dir)
        .filter(F.col("_metadata.file_name") == decision["file_key"])
    )
    payload = unzip.unzip_entries(archive, payload_pattern)  # R9+R10

    entries = Observation("snapshot_entries")
    overwrite_snapshot(  # R11 (atomic staged replace)
        payload.observe(entries, F.count(F.lit(1)).alias("n")), out_dir
    )

    state.commit_state(  # R13 — strictly after the load, like :103 vs :115
        spark, state_dir, spark.createDataFrame([(snapshot_name,)], "name string")
    )
    return RunResult(status="loaded", snapshot=snapshot_name, entries=entries.get["n"])


def run_streaming(
    spark: SparkSession,
    blob_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    payload_pattern: str = ".bak",
) -> int:
    """Streaming replacement: file source + AvailableNow + checkpoint.

    Every ``*.zip`` that ever lands in ``blob_dir`` is processed exactly
    once across invocations — the checkpoint subsumes the reference's state
    file AND its full re-list per run. Each micro-batch decompresses its
    archives and appends their payload entries; returns batches processed.

    Note the semantic upgrade this makes explicit: the reference imports
    only the lexicographic-latest snapshot and silently skips any older
    unseen ones; the stream processes every snapshot exactly once. For
    drop-in fidelity use :func:`run_batch`.
    """
    ensure_runtime_confs(spark)

    stream = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("pathGlobFilter", "*.zip")
        .load(blob_dir)
    )

    batches = {"n": 0}

    def process(batch_df: DataFrame, _epoch: int) -> None:
        payload = unzip.unzip_entries(batch_df, payload_pattern)
        payload.write.mode("append").parquet(out_dir)
        batches["n"] += 1

    query = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return batches["n"]
