"""Pipeline-fidelity tests (SURVEY.md §5.2): the reference's behaviors —
latest-of-N (incl. the 1-element edge case the reference special-cases),
skip-when-already-imported, crash-replay safety, and the streaming variant's
exactly-once file tracking."""

from __future__ import annotations

import io
import os
import warnings
import zipfile

import pytest
from pyspark.sql import functions as F

from mric_bak_etl_spark.pipeline import manifest, runner, unzip
from mric_bak_etl_spark.pipeline.runner import run_batch, run_streaming


def zip_bytes(members: list[tuple[str, bytes]]) -> bytes:
    buf = io.BytesIO()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # zipfile warns on duplicate names
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            for name, data in members:
                zf.writestr(name, data)
    return buf.getvalue()


def make_zip(path: str, members: dict[str, bytes]) -> None:
    with open(path, "wb") as f:
        f.write(zip_bytes(list(members.items())))


@pytest.fixture
def dirs(tmp_path):
    blob = tmp_path / "blobs"
    blob.mkdir()
    return {
        "blob": str(blob),
        "state": str(tmp_path / "state"),
        "out": str(tmp_path / "out"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def payload_texts(spark, out_dir):
    rows = spark.read.parquet(out_dir).collect()
    return sorted(bytes(r["entry_bytes"]).decode() for r in rows)


def test_empty_listing_early_exit(spark, dirs):
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert result.status == "empty"


def test_single_candidate_edge_case(spark, dirs):
    # The reference special-cases the 1-element listing because PowerShell
    # degrades 1-element arrays to scalars (src/bak_unload.ps1:44-52); our
    # max-based pick must handle it identically.
    make_zip(os.path.join(dirs["blob"], "backup_01.zip"), {"a.bak": b"only"})
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert result.status == "loaded"
    assert result.snapshot == "backup_01.zip"
    assert payload_texts(spark, dirs["out"]) == ["only"]


def test_latest_pick_skip_and_new_arrival(spark, dirs):
    make_zip(os.path.join(dirs["blob"], "backup_2024_06_30.zip"), {"o.bak": b"old"})
    make_zip(os.path.join(dirs["blob"], "backup_2024_07_01.zip"), {"n.bak": b"new"})
    make_zip(os.path.join(dirs["blob"], "notes.txt.gz"), {"x": b"not a snapshot"})

    first = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert first.status == "loaded"
    assert first.snapshot == "backup_2024_07_01.zip"  # lexicographic max
    assert payload_texts(spark, dirs["out"]) == ["new"]

    again = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert again.status == "already_imported"  # R7 short-circuit

    make_zip(os.path.join(dirs["blob"], "backup_2024_07_02.zip"), {"f.bak": b"fresh"})
    third = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert third.status == "loaded"
    assert third.snapshot == "backup_2024_07_02.zip"
    assert payload_texts(spark, dirs["out"]) == ["fresh"]  # full replace


def test_payload_pick_last_match_wins(spark, dirs):
    # Reference's foreach keeps the LAST .bak match (src/bak_unload.ps1:81-87).
    make_zip(
        os.path.join(dirs["blob"], "backup_03.zip"),
        {"a_first.bak": b"first", "z_last.bak": b"last", "readme.txt": b"x"},
    )
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert result.status == "loaded"
    assert payload_texts(spark, dirs["out"]) == ["last"]


def scan_file_counts(df) -> list[int]:
    """``numFiles`` of every file scan in ``df``'s executed plan; the
    metric is filled in when ``df`` runs."""
    counts = []

    def walk(node):
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if kind.endswith("QueryStageExec"):
            return walk(node.plan())
        metrics = node.metrics()
        if metrics.contains("numFiles"):
            counts.append(metrics.apply("numFiles").value())
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return counts


def test_refresh_reads_only_the_winning_archive(spark, dirs, monkeypatch):
    # The reference downloads one blob per run (src/bak_unload.ps1:69-70);
    # the load's scan must be pruned to that file, not the container.
    for day in range(1, 6):
        make_zip(
            os.path.join(dirs["blob"], f"backup_2024_07_0{day}.zip"),
            {"p.bak": f"day {day}".encode(), "readme.txt": b"decoy"},
        )
    make_zip(os.path.join(dirs["blob"], "notes.txt.gz"), {"x": b"not a snapshot"})
    written = []
    write = runner.overwrite_snapshot

    def capture(df, path):
        written.append(df)
        write(df, path)

    monkeypatch.setattr(runner, "overwrite_snapshot", capture)
    result = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert (result.status, result.snapshot, result.entries) == (
        "loaded", "backup_2024_07_05.zip", 1,
    )
    assert payload_texts(spark, dirs["out"]) == ["day 5"]
    (loaded,) = written
    loaded.collect()
    assert scan_file_counts(loaded) == [1]


def old_pick_payload(entries, pattern):
    """The semi-join pick that lived outside the unzip stage: matching
    entries semi-joined to the max matching name per archive."""
    matches = entries.filter(F.col("entry_name").contains(pattern))
    last_name = matches.groupBy("archive_path").agg(
        F.max("entry_name").alias("entry_name")
    )
    return matches.join(last_name, on=["archive_path", "entry_name"], how="left_semi")


def test_in_stage_payload_pick_matches_semi_join(spark):
    archives = spark.createDataFrame(
        [
            # Duplicate names: every copy of the last match is kept.
            ("/b/dup.zip", zip_bytes([
                ("a.bak", b"a"), ("z.bak", b"z1"), ("z.bak", b"z2"),
                ("readme.txt", b"r"),
            ])),
            # Directory entries never count, even when their name matches.
            ("/b/dirs.zip", zip_bytes([
                ("zz.bak/", b""), ("sub/", b""), ("sub/b.bak", b"sub"),
                ("a.bak", b"a"),
            ])),
            ("/b/none.zip", zip_bytes([("notes.txt", b"no payload")])),
            ("/b/empty.zip", zip_bytes([])),
        ],
        "path string, content binary",
    )

    def rows(df):
        return sorted(
            (r["archive_path"], r["entry_name"], r["entry_size"], bytes(r["entry_bytes"]))
            for r in df.collect()
        )

    got = rows(unzip.unzip_entries(archives, ".bak"))
    assert got == rows(old_pick_payload(unzip.unzip_entries(archives), ".bak"))
    assert got == [
        ("/b/dirs.zip", "sub/b.bak", 3, b"sub"),
        ("/b/dup.zip", "z.bak", 2, b"z1"),
        ("/b/dup.zip", "z.bak", 2, b"z2"),
    ]


def test_snapshot_name_with_space_and_percent(spark, dirs):
    # The load's scan key is Spark's URL-encoded _metadata.file_name; it must
    # select the same file as the listing's decoded name.
    make_zip(os.path.join(dirs["blob"], "backup 2024%06 [a].zip"), {"o.bak": b"old"})
    make_zip(os.path.join(dirs["blob"], "backup 2024%07 [b].zip"), {"n.bak": b"new"})
    first = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert (first.status, first.snapshot, first.entries) == (
        "loaded", "backup 2024%07 [b].zip", 1,
    )
    assert payload_texts(spark, dirs["out"]) == ["new"]
    again = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert again.status == "already_imported"


def test_crash_replay_between_load_and_commit(spark, dirs):
    # Crash after load but before state commit → next run re-imports; safe
    # because the load is an idempotent full replace (src/bak_unload.ps1:103
    # vs :115 ordering). Simulate by wiping the state dir post-run.
    make_zip(os.path.join(dirs["blob"], "backup_04.zip"), {"p.bak": b"payload"})
    assert run_batch(spark, dirs["blob"], dirs["state"], dirs["out"]).status == "loaded"

    import shutil

    shutil.rmtree(dirs["state"])  # state commit "lost in the crash"
    replay = run_batch(spark, dirs["blob"], dirs["state"], dirs["out"])
    assert replay.status == "loaded"  # at-least-once
    assert payload_texts(spark, dirs["out"]) == ["payload"]  # still correct


def test_streaming_exactly_once(spark, dirs):
    make_zip(os.path.join(dirs["blob"], "backup_a.zip"), {"a.bak": b"alpha"})
    make_zip(os.path.join(dirs["blob"], "backup_b.zip"), {"b.bak": b"beta"})

    run_streaming(spark, dirs["blob"], dirs["ckpt"], dirs["out"])
    assert payload_texts(spark, dirs["out"]) == ["alpha", "beta"]

    # Re-invoke: checkpoint remembers both files → nothing re-processed.
    run_streaming(spark, dirs["blob"], dirs["ckpt"], dirs["out"])
    assert payload_texts(spark, dirs["out"]) == ["alpha", "beta"]

    # New arrival → only the new file flows through.
    make_zip(os.path.join(dirs["blob"], "backup_c.zip"), {"c.bak": b"gamma"})
    run_streaming(spark, dirs["blob"], dirs["ckpt"], dirs["out"])
    assert payload_texts(spark, dirs["out"]) == ["alpha", "beta", "gamma"]


def test_manifest_listing_parse_roundtrip(spark):
    # R2 parse on the reference's exact line format (src/bak_unload.ps1:29-35).
    lines = spark.createDataFrame(
        [
            ("INFO: backup_2024_07_01.zip; Content Length: 123",),
            ("INFO: misc.txt; Content Length: 9",),
        ],
        "value string",
    )
    names = manifest.parse_listing_lines(lines)
    got = sorted(r["name"] for r in names.collect())
    assert got == ["backup_2024_07_01.zip", "misc.txt"]
    kept = manifest.filter_snapshots(names).collect()
    assert [r["name"] for r in kept] == ["backup_2024_07_01.zip"]


def test_dynamic_partition_overwrite_leaves_siblings_untouched(spark, tmp_path):
    """s15 mechanism (not just values): after a dynamic-mode overwrite of
    one partition, sibling partition DIRECTORIES keep the exact same
    files byte-for-byte; static mode would have dropped them. The
    catalog oracle checks the aggregate — this pins the file-level
    contract the aggregate could in principle miss (e.g. a rewrite that
    recreates siblings with equal contents still violates the
    partition-grain write-cost promise)."""
    import hashlib
    import os

    base = str(tmp_path / "dyn")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0), (4, "c", 40.0)],
        "id long, part string, v double",
    )
    df.write.partitionBy("part").parquet(base)

    def snapshot(part):
        d = os.path.join(base, f"part={part}")
        out = {}
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                with open(os.path.join(d, fn), "rb") as f:
                    out[fn] = hashlib.sha256(f.read()).hexdigest()
        return out

    before_a, before_c = snapshot("a"), snapshot("c")

    fix = spark.createDataFrame([(3, "b", 99.0)], "id long, part string, v double")
    (
        fix.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("part")
        .parquet(base)
    )

    assert snapshot("a") == before_a  # same files, same bytes
    assert snapshot("c") == before_c
    got = {
        (r["id"], r["v"]) for r in spark.read.parquet(base).collect()
    }
    assert got == {(1, 10.0), (2, 20.0), (3, 99.0), (4, 40.0)}
