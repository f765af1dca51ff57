"""Per-layer metrics of a traced run.

Each metric is named after the layer it measures and, in the comments,
the end-to-end metric it should move. Per-op figures are means over the
measured ops (queries, or ``run_batch``/``run_streaming`` calls); a layer a
workload never enters reads 0, and the reason is kept in the run record.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import statistics

import eventlog

MB = float(1 << 20)

INGEST_LIST = ("manifest.manifest_from_directory", "manifest.filter_snapshots",
               "manifest.is_empty")


def _epoch(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _untraced_reference(bench) -> float | None:
    """Median pass time of the latest untraced run of the same workload and
    seed (so the same op order) on the same package sources."""
    pattern = f"{bench.workload}-seed{bench.args.seed}-trace0-*.json"
    paths = sorted(glob.glob(os.path.join(bench._dir("results"), pattern)),
                   key=os.path.getmtime)
    for path in reversed(paths):
        try:
            with open(path) as fh:
                record = json.load(fh)
            if record["setup"]["package_digest"] == bench.package_digest:
                return float(record["detail"]["end_to_end"]["pass_s"])
        except (OSError, KeyError, ValueError):
            continue
    return None


def per_layer(bench) -> dict:
    notes: dict[str, str] = {}
    m = bench.measure
    spans = bench.spans
    log = eventlog.parse(bench.event_dir, spans)

    # Only jobs of measured spans count; warm-up and check passes of the same
    # op carry other job groups.
    span_groups = {g for g, _, _ in spans}
    measured = {g: s for g, s in log.by_group.items() if g in span_groups}
    n_ops = max(1, m["ops"])
    op_wall = sum(m["latencies"]) if bench.workload != "ingest" else \
        sum(e - s for g, s, e in spans if g.endswith((":runner", ":action")))

    stats = list(measured.values())
    stages = [st for s in stats for st in s.stages.values()]
    jobs = sum(s.jobs for s in stats)
    tasks = sum(s.tasks for s in stats)

    def total(attr: str) -> float:
        return float(sum(getattr(s, attr) for s in stats))

    def python(key: str) -> float:
        return float(sum(s.python.get(key, 0) for s in stats))

    out: dict[str, tuple[float, str]] = {}
    # session / catalog -> setup_s
    for key in ("session.get_spark_s", "catalog.all_specs_s", "tables.load_table_cold_s",
                "warmup_s"):
        out[key] = (bench.layers.get(key, 0.0), "s")
    out["warmup_passes"] = (bench.layers.get("warmup_passes", 0), "count")
    if bench.workload == "ingest":
        notes["tables.load_table_cold_s"] = "ingest reads no catalog tables"

    # catalog builders -> op_p50_s, pass_s (analytics, dataprep)
    build_jobs = sum(s.jobs for g, s in measured.items() if g.endswith(":build"))
    if bench.workload == "ingest":
        notes["catalog.build_s"] = "ingest calls run_batch/run_streaming, no catalog builders"
        out["catalog.build_s"] = (0.0, "s")
        out["catalog.action_s"] = (0.0, "s")
    else:
        out["catalog.build_s"] = (statistics.mean(m["builds"]), "s")
        out["catalog.action_s"] = (statistics.mean(m["actions"]), "s")
    out["catalog.build_jobs"] = (build_jobs / n_ops, "count")

    # scheduler -> op_p50_s, pass_s
    empty = bench.layers.get("spark.empty_job_s", 0.0)
    out["spark.jobs_per_op"] = (jobs / n_ops, "count")
    out["spark.stages_per_op"] = (len(stages) / n_ops, "count")
    out["spark.tasks_per_stage"] = (tasks / max(1, len(stages)), "count")
    out["spark.single_task_stage_share"] = (
        sum(1 for st in stages if st.tasks == 1) / max(1, len(stages)), "ratio")
    out["spark.empty_job_s"] = (empty, "s")
    out["spark.job_floor_share"] = (jobs * empty / op_wall if op_wall else 0.0, "ratio")
    out["spark.straggler_ratio"] = (eventlog.straggler_ratio(stages), "ratio")
    out["spark.failed_tasks"] = (total("failed_tasks"), "count")

    # executor / scan / shuffle -> pass_s, op_p50_s
    out["exec.run_s"] = (total("run_ms") / 1e3 / n_ops, "s")
    out["exec.cpu_s"] = (total("cpu_ns") / 1e9 / n_ops, "s")
    out["exec.gc_s"] = (total("gc_ms") / 1e3 / n_ops, "s")
    out["exec.core_busy_share"] = (
        total("run_ms") / 1e3 / (bench.cpus * op_wall) if op_wall else 0.0, "ratio")
    out["scan.input_mb"] = (total("input_bytes") / MB / n_ops, "MB")
    out["shuffle.read_mb"] = (total("shuffle_read_bytes") / MB / n_ops, "MB")
    out["shuffle.write_mb"] = (total("shuffle_write_bytes") / MB / n_ops, "MB")
    out["shuffle.fetch_wait_s"] = (total("fetch_wait_ms") / 1e3 / n_ops, "s")
    out["spill.disk_mb"] = (total("spill_disk_bytes") / MB / n_ops, "MB")

    # Python/Arrow stages -> pass_s (dataprep), op_p50_s (ingest unzip)
    out["python.run_s"] = (python("run_ms") / 1e3 / n_ops, "s")
    out["python.start_s"] = (python("start_ms") / 1e3 / n_ops, "s")
    inits = [ms for st in stats for ms in st.python_init_ms]
    out["python.init_s"] = (statistics.median(inits) / 1e3 if inits else 0.0, "s")
    out["python.sent_mb"] = (python("sent_bytes") / MB / n_ops, "MB")
    out["python.returned_mb"] = (python("returned_bytes") / MB / n_ops, "MB")
    if not python("run_ms"):
        notes["python.run_s"] = "no mapInPandas stage ran in the measured ops"

    out.update(_ingest_layers(bench, spans, measured, notes))

    # streaming -> op_p50_s (ingest run_streaming), t13b in analytics
    windows = [(s, e) for g, s, e in spans if g.endswith((":action", ":runner"))]
    progress = [p for p in log.progress
                if any(s <= _epoch(p.get("timestamp", "1970-01-01T00:00:00Z")) <= e
                       for s, e in windows)]
    stream = eventlog.streaming_summary(progress)
    runs = len({p.get("runId") for p in progress}) or 1
    out["stream.batches"] = (stream["batches"] / runs, "count")
    for key in ("add_batch_s", "wal_commit_s", "planning_s", "state_commit_s"):
        out[f"stream.{key}"] = (stream[key], "s")
    if not progress:
        notes["stream.batches"] = "no streaming query ran in the measured ops"

    # the run itself
    reference = _untraced_reference(bench)
    traced = statistics.median(m["passes"])
    if reference:
        out["trace.overhead_share"] = (traced / reference - 1.0, "ratio")
    else:
        out["trace.overhead_share"] = (0.0, "ratio")
        notes["trace.overhead_share"] = ("unavailable: no untraced run of this workload and "
                                         "seed on the same package sources in .perfbench/results")
    out["jvm.peak_rss_mb"] = (bench.peak_rss, "MB")
    out["jvm.heap_retained_mb"] = (bench.heap_retained, "MB")
    out["scratch.leaked_entries"] = (bench.leaked_entries, "count")
    out["failed_ratio"] = (len(bench.failures) / max(1, bench.attempted), "ratio")
    out["_notes"] = notes
    return out


def _ingest_layers(bench, spans, measured, notes) -> dict:
    """pipeline/* spans and jobs -> op_p50_s (refresh) and the no-op path."""
    names = ("manifest.list_s", "manifest.pick_s", "snapshot.write_s", "sink.output_mb",
             "state.commit_s", "state.files", "ingest.jobs_per_refresh",
             "ingest.read_amplification", "ingest.refresh_p50_s", "ingest.noop_p50_s",
             "ingest.stream_catchup_s", "ingest.load_mb_per_s")
    units = ("s", "s", "s", "MB", "s", "count", "count", "ratio", "s", "s", "s", "MB/s")
    if bench.workload != "ingest":
        notes["manifest.list_s"] = "only the ingest workload runs the snapshot pipeline"
        return {n: (0.0, u) for n, u in zip(names, units)}

    def span_sum(op_prefix: str, label: str) -> float:
        return sum(e - s for g, s, e in spans
                   if g.split(":")[1].startswith(op_prefix) and g.endswith(":" + label))

    calls = {}
    for g, s, e in spans:
        if g.endswith(":runner"):
            calls[g.split(":")[1]] = e - s
    refreshes = [op for op in calls if op.startswith("refresh.")]
    noops = [op for op in calls if op.startswith("noop.")]
    list_total = sum(span_sum("refresh.", lbl) + span_sum("noop.", lbl) for lbl in INGEST_LIST)
    noop_list = sum(span_sum("noop.", lbl) for lbl in INGEST_LIST)
    s = bench.ingest_samples
    refresh_groups = {g: st for g, st in measured.items() if g.split(":")[1] in refreshes}
    write_groups = [st for g, st in refresh_groups.items()
                    if g.endswith(":runner.overwrite_snapshot")]
    n_ref = max(1, len(refreshes))
    state_files = sum(1 for f in os.listdir(bench.state_dir) if f.endswith(".parquet"))
    return {
        "manifest.list_s": (list_total / max(1, len(refreshes) + len(noops)), "s"),
        "manifest.pick_s": ((sum(calls[o] for o in noops) - noop_list) / max(1, len(noops)), "s"),
        "snapshot.write_s": (span_sum("refresh.", "runner.overwrite_snapshot") / n_ref, "s"),
        "sink.output_mb": (sum(st.output_bytes for st in write_groups) / MB / n_ref, "MB"),
        "state.commit_s": (span_sum("refresh.", "state.commit_state") / n_ref, "s"),
        "state.files": (state_files, "count"),
        "ingest.jobs_per_refresh": (sum(st.jobs for st in refresh_groups.values()) / n_ref,
                                    "count"),
        "ingest.read_amplification": (
            sum(st.input_bytes for st in refresh_groups.values())
            / max(1, sum(s["archive_bytes"])), "ratio"),
        **{f"ingest.{k}": v for k, v in ingest_summary(s).items()},
    }


def ingest_summary(samples: dict[str, list[float]]) -> dict[str, tuple[float, str]]:
    """Medians of the three ingest calls and the load rate of refreshes."""
    return {
        "refresh_p50_s": (statistics.median(samples["refresh"]), "s"),
        "noop_p50_s": (statistics.median(samples["noop"]), "s"),
        "stream_catchup_s": (statistics.median(samples["stream"]), "s"),
        "load_mb_per_s": (sum(samples["payload_mb"]) / sum(samples["refresh"]), "MB/s"),
    }
