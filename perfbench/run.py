#!/usr/bin/env python3
"""Benchmark for the snapshot-ETL and analytics engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

Workloads:

- ``queries``: the catalog queries in ``workloads.QUERIES`` -- a family of
  short relational/event/pipeline queries (analytics) and a family of LLM
  data-prep and media-decode queries (dataprep) -- in a seeded order per
  pass;
- ``ingest``: the scheduled snapshot job. A seeded blob container of old
  snapshots and decoys; each cycle lands one new archive and calls
  ``runner.run_batch`` twice (a refresh that loads it, then a no-op that
  finds it already imported) and ``runner.run_streaming`` once (an
  AvailableNow catch-up that appends it).

One process drives Spark in local mode on ``CPUS`` pinned cores, one op at
a time. Set-up (session, catalog import, cold table loads, the fixed
``WARMUP`` passes) is timed as ``setup_s``; input generation and oracle
computation are not. Every run checks outputs: the first warm-up pass of a
query workload collects each op and compares it to its DuckDB oracle, and
every ingest cycle checks statuses, payload bytes, streamed rows and state.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones in BENCHMARK.json; with ``--trace 1`` Spark's event log is
enabled from outside (``PYSPARK_SUBMIT_ARGS``), every job is tagged with a
``<workload>:<op>:<phase>`` job group, and the metrics are the per-layer
ones, read back from the log (``eventlog.py``) and from the benchmark's own
spans. A fuller record of each run goes to ``.perfbench/results/``.

Everything the run writes stays under ``.perfbench/`` in the checkout:
the generated tables and the oracle cache persist there across runs; the
per-run temp root (TMPDIR, Spark local dirs, warehouse, artifact cache,
ingest container and sinks) is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "mric_bak_etl_spark"

sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

# Fixed inputs of the query workloads: the tables do not depend on the
# workload seed (it orders the ops), so oracle results stay cacheable.
TABLE_SEED = 42
# The run pins itself, the JVM and the Python workers to CPUS cores and
# runs Spark on local[CPUS]. Most stages run one task, so each op is a chain
# of hand-offs between driver, scheduler and task threads. Spread over four
# mostly idle vCPUs of a shared host, a hand-off can wait for the host to
# wake a vCPU: in interleaved runs on a 4-vCPU VM, query pass times spread
# across runs two to three times wider than on 2 pinned cores.
CPUS = 2
# Warm-up (JIT, codegen caches, Python workers) runs at least n passes, the
# first one the checked one, and at least s seconds of passes after the
# first. A fixed amount, not a stop-when-level test: query pass times keep
# falling for about twenty passes (JIT), and a level test on noisy passes
# stopped anywhere from pass 4 to 7, which moved the measured window along
# that curve from run to run.
WARMUP = {"queries": (3, 10.0), "ingest": (2, 0.0)}
EMPTY_JOB_SAMPLES = 5
# An ingest cycle lands one snapshot and runs the scheduled job twice. Every
# 3rd snapshot landed in a phase is multi-MB, and every 3rd cycle ends with
# a streaming catch-up. The measured phase runs whole rounds of 3 cycles
# and at least INGEST_MIN_CYCLES of them, even past --seconds, so its
# medians rest on enough refreshes for any seed.
INGEST_ROUND = 3
INGEST_MIN_CYCLES = 2 * INGEST_ROUND

WORKLOADS = ("queries", "ingest")


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_cpus() -> None:
    """Restrict this process and everything it starts to CPUS cores."""
    if not hasattr(os, "sched_setaffinity"):
        return
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores[:CPUS])


def end_to_end(setup_s: float, measure: dict) -> dict[str, tuple[float, str]]:
    """The user-visible metrics of an untraced run, as (value, unit)."""
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(measure["latencies"]), "s"),
        "ops_per_s": (measure["ops"] / measure["wall"], "1/s"),
        "pass_s": (statistics.median(measure["passes"]), "s"),
    }


class Bench:
    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.workload = args.workload
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or nproc())
        self.attempted = 0
        self.failures: list[str] = []
        self.excluded_s = 0.0  # generator and oracle time inside set-up
        # In-memory spans (group, start, end) in epoch seconds, kept for the
        # measured phase only.
        self.spans: list[tuple[str, float, float]] = []
        self.measuring = False
        self.layers: dict[str, float] = {}
        self.notes: dict[str, str] = {}
        self.tmp = tempfile.mkdtemp(prefix=f"run-{self.workload}-", dir=self._dir("tmp"))
        # Which code this run measures; a traced run compares itself only
        # with untraced runs of the same sources.
        self.package_digest = gen.digest(os.path.join(ROOT, PACKAGE), suffix=".py")
        self.spark = None

    # -- environment -------------------------------------------------------

    @staticmethod
    def _dir(*parts: str) -> str:
        path = os.path.join(WORK, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def _sub(self, name: str) -> str:
        path = os.path.join(self.tmp, name)
        os.makedirs(path, exist_ok=True)
        return path

    def configure_env(self) -> None:
        """Point every scratch location of Python, the JVM and Spark into
        the run's temp root, and ship the package to Python workers."""
        env = os.environ
        env["TMPDIR"] = self._sub("tmp")
        tempfile.tempdir = None
        env["XDG_CACHE_HOME"] = self._sub("xdg-cache")
        env["SPARK_LOCAL_DIRS"] = self._sub("spark-local")
        env["SPARK_GRAFT_CPUS"] = str(self.cpus)
        env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
        java_tmp = self._sub("java-tmp")
        confs = {
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={java_tmp} -Dderby.system.home={java_tmp}",
            "spark.sql.warehouse.dir": self._sub("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            self.event_dir = self._sub("eventlog")
            confs.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_dir,
                "spark.eventLog.compress": "false",
            })
        args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
        env["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"

    # -- helpers -----------------------------------------------------------

    def group(self, op: str, phase: str) -> str:
        return f"{self.workload}:{op}:{phase}"

    def tag(self, group: str) -> None:
        if self.trace:
            self.spark.sparkContext.setJobGroup(group, group)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        if sys.exc_info()[0] is not None:
            traceback.print_exc()
        print(f"FAILED {what}", file=sys.stderr, flush=True)

    def jvm_pid(self) -> int | None:
        gateway = getattr(self.spark.sparkContext, "_gateway", None)
        proc = getattr(gateway, "proc", None)
        return getattr(proc, "pid", None)

    def peak_rss_mb(self) -> float:
        pid = self.jvm_pid()
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except (OSError, TypeError):
            pass
        return 0.0

    def heap_retained_mb(self) -> float:
        """JVM heap still in use after a full collection: the footprint the
        engine keeps between ops (plans, caches, broadcast and state)."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return heap.getUsed() / 2**20

    # -- set-up ------------------------------------------------------------

    def start_session(self) -> None:
        t0 = time.perf_counter()
        from mric_bak_etl_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        from mric_bak_etl_spark import catalog

        self.specs = catalog.all_specs()
        workloads.check(self.specs)
        t2 = time.perf_counter()
        self.layers["session.get_spark_s"] = t1 - t0
        self.layers["catalog.all_specs_s"] = t2 - t1

    def load_tables_cold(self) -> None:
        from mric_bak_etl_spark.tables import load_table

        t0 = time.perf_counter()
        for name in gen.TABLES:
            load_table(self.spark, self.tables, name)
        self.layers["tables.load_table_cold_s"] = time.perf_counter() - t0

    def calibrate_empty_job(self) -> None:
        """Wall of a trivial one-task JVM job (no SQL planning, no Python
        worker): the per-job scheduling floor."""
        samples = []
        self.tag(self.group("calibrate", "empty_job"))
        jsc = self.spark.sparkContext._jsc
        one = self.spark.sparkContext._jvm.java.util.Collections.singletonList(0)
        for _ in range(EMPTY_JOB_SAMPLES):
            t0 = time.perf_counter()
            jsc.parallelize(one, 1).count()
            samples.append(time.perf_counter() - t0)
        self.layers["spark.empty_job_s"] = statistics.median(samples)

    # -- query workloads ---------------------------------------------------

    def prepare_queries(self) -> None:
        from verify import Oracles

        t0 = time.perf_counter()
        self.tables = gen.ensure_tables(self._dir("data"), TABLE_SEED)
        self.oracles = Oracles(self.tables, self._dir("oracle-cache"), gen.digest(self.tables))
        self.excluded_s += time.perf_counter() - t0
        self.ops = list(workloads.QUERIES)

    def order(self) -> list[str]:
        ops = list(self.ops)
        self.rng.shuffle(ops)
        return ops

    def run_op(self, name: str) -> tuple[float, float] | None:
        """Build and materialize one op through the noop sink; returns the
        seconds spent in the builder and in the action."""
        self.attempted += 1
        builder = self.specs[name].builder
        try:
            s0 = time.time()
            t0 = time.perf_counter()
            self.tag(self.group(name, "build" if self.measuring else "warmup"))
            df = builder(self.spark, self.tables)
            t1 = time.perf_counter()
            self.tag(self.group(name, "action" if self.measuring else "warmup"))
            df.write.mode("overwrite").format("noop").save()
            t2 = time.perf_counter()
        except Exception as exc:  # noqa: BLE001 - any op failure is counted
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        if self.measuring:
            self.spans.append((self.group(name, "build"), s0, s0 + (t1 - t0)))
            self.spans.append((self.group(name, "action"), s0 + (t1 - t0), s0 + (t2 - t0)))
        return t1 - t0, t2 - t1

    def verify_op(self, name: str) -> float:
        """Collect one op and compare it to its oracle; returns Spark time."""
        from verify import mismatch

        self.attempted += 1
        spec = self.specs[name]
        self.tag(self.group(name, "verify"))
        t0 = time.perf_counter()
        try:
            df = spec.builder(self.spark, self.tables)
            columns = tuple(df.columns)
            actual = df.toPandas()
        except Exception as exc:  # noqa: BLE001
            self.fail(f"{name} (verify): {type(exc).__name__}: {str(exc)[:300]}")
            return time.perf_counter() - t0
        spark_s = time.perf_counter() - t0
        if spec.oracle is None:
            want = workloads.ROWS_ONLY_COLUMNS[name]
            if columns != want:
                self.fail(f"{name}: columns {columns} != {want}")
            elif len(actual) == 0:
                self.fail(f"{name}: empty result")
            return spark_s
        t1 = time.perf_counter()
        reason = mismatch(actual, self.oracles.result(spec.oracle))
        self.excluded_s += time.perf_counter() - t1
        if reason is not None:
            self.fail(f"{name}: wrong result: {reason}")
        return spark_s

    def warmup_queries(self) -> None:
        """Pass 1 collects and checks every op; later passes materialize
        through the noop sink for the rest of the warm-up."""
        t0 = time.perf_counter()
        first = {n: self.verify_op(n) for n in self.order()}
        self.notes["verify_pass_op_s"] = ", ".join(f"{n}={t:.3f}" for n, t in first.items())

        def noop_pass() -> float:
            timings = [self.run_op(name) for name in self.order()]
            return sum(sum(t) for t in timings if t)

        self.warm_up(t0, sum(first.values()), noop_pass)

    def warm_up(self, t0: float, first: float, one_pass) -> None:
        """Repeat ``one_pass`` for the workload's WARMUP passes and seconds."""
        min_passes, min_s = WARMUP[self.workload]
        passes = [first]
        t1 = time.perf_counter()
        while len(passes) < min_passes or time.perf_counter() - t1 < min_s:
            passes.append(one_pass())
        self.layers["warmup_s"] = time.perf_counter() - t0
        self.layers["warmup_passes"] = len(passes)
        self.notes["warmup_pass_s"] = ", ".join(f"{p:.3f}" for p in passes)

    def measure_queries(self, seconds: float) -> dict:
        latencies, builds, actions, passes = [], [], [], []
        per_op: dict[str, list[float]] = {}
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or not passes:
            p0 = time.perf_counter()
            for name in self.order():
                timing = self.run_op(name)
                if timing is not None:
                    builds.append(timing[0])
                    actions.append(timing[1])
                    latencies.append(sum(timing))
                    per_op.setdefault(name, []).append(sum(timing))
            passes.append(time.perf_counter() - p0)
        return {"wall": time.perf_counter() - t0, "latencies": latencies,
                "builds": builds, "actions": actions, "passes": passes,
                "ops": len(latencies), "per_op": per_op}

    # -- ingest ------------------------------------------------------------

    def prepare_ingest(self) -> None:
        t0 = time.perf_counter()
        self.container = gen.Container(self._sub("container"), self.args.seed)
        self.excluded_s += time.perf_counter() - t0
        self.state_dir = os.path.join(self.tmp, "state")
        self.out_dir = os.path.join(self.tmp, "snapshot")
        self.stream_out = os.path.join(self.tmp, "stream-out")
        self.stream_ckpt = os.path.join(self.tmp, "stream-ckpt")
        self.loaded: list[str] = []
        self.pending: list[tuple[str, bytes]] = []  # landed, not yet streamed
        self.streamed_files: set[str] = set()
        self.cycle_no = 0
        self.ingest_samples: dict[str, list[float]] = {
            "refresh": [], "noop": [], "stream": [], "cycle": [], "payload_mb": [],
            "archive_bytes": []}

    def traced_pipeline(self):
        """Wrap the public functions ``run_batch`` calls with spans and job
        groups (traced runs only); returns an undo callable."""
        from mric_bak_etl_spark.pipeline import manifest, runner, state

        targets = [(manifest, n) for n in (
            "manifest_from_directory", "filter_snapshots", "is_empty", "latest_snapshot")]
        targets += [(state, n) for n in ("read_state", "filter_unprocessed", "commit_state")]
        targets += [(runner, "overwrite_snapshot")]
        saved = [(mod, n, getattr(mod, n)) for mod, n in targets]
        bench = self

        def wrap(mod, name, fn):
            label = f"{mod.__name__.rsplit('.', 1)[-1]}.{name}"

            def wrapper(*a, **kw):
                parent = bench.current_group
                group = f"{parent.rsplit(':', 1)[0]}:{label}"
                bench.tag(group)
                s0 = time.time()
                try:
                    return fn(*a, **kw)
                finally:
                    if bench.measuring:
                        bench.spans.append((group, s0, time.time()))
                    bench.tag(parent)

            return wrapper

        for mod, name, fn in saved:
            setattr(mod, name, wrap(mod, name, fn))

        def undo():
            for mod, name, fn in saved:
                setattr(mod, name, fn)

        return undo

    def _ingest_call(self, op: str, fn):
        self.attempted += 1
        group = self.group(op, "runner" if op.split(".")[0] != "stream" else "action")
        self.current_group = group
        self.tag(group)
        s0 = time.time()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001
            self.fail(f"{op}: {type(exc).__name__}: {str(exc)[:300]}")
            return None, time.perf_counter() - t0
        elapsed = time.perf_counter() - t0
        if self.measuring:
            self.spans.append((group, s0, s0 + elapsed))
        return result, elapsed

    def _read_new_stream_rows(self):
        import pyarrow.parquet as pq

        rows = []
        if not os.path.isdir(self.stream_out):
            return rows
        for f in sorted(os.listdir(self.stream_out)):
            if f.endswith(".parquet") and f not in self.streamed_files:
                self.streamed_files.add(f)
                rows += pq.read_table(os.path.join(self.stream_out, f)).to_pylist()
        return rows

    def _check_payload(self, label: str, name: str, rows: list[dict], payload: bytes | None) -> None:
        expect = 0 if payload is None else 1
        if len(rows) != expect:
            self.fail(f"{label} {name}: {len(rows)} payload rows, expected {expect}")
            return
        if payload is not None and (rows[0]["entry_bytes"] != payload
                                    or not rows[0]["entry_name"].endswith(".bak")
                                    or not rows[0]["archive_path"].endswith("/" + name)):
            self.fail(f"{label} {name}: payload differs from the generated bytes")

    def ingest_cycle(self, index: int) -> float:
        """Land one snapshot, refresh it and re-run the job; every
        INGEST_ROUND-th cycle also streams. Checks each step and returns the
        refresh plus no-op seconds. ``index`` counts cycles within the
        warm-up or the measured phase."""
        from mric_bak_etl_spark.pipeline import runner
        import pyarrow.parquet as pq

        self.cycle_no += 1
        c = self.cycle_no
        t0 = time.perf_counter()
        name, payload = self.container.drop(big=index % INGEST_ROUND == INGEST_ROUND - 1)
        self.pending.append((name, payload))
        self.excluded_s += time.perf_counter() - t0

        def batch():
            return runner.run_batch(self.spark, self.container.path, self.state_dir, self.out_dir)

        def stream():
            return runner.run_streaming(self.spark, self.container.path, self.stream_ckpt,
                                        self.stream_out)

        res, refresh_s = self._ingest_call(f"refresh.{c}", batch)
        t1 = time.perf_counter()
        if res is not None:
            if (res.status, res.snapshot, res.entries) != ("loaded", name, 1):
                self.fail(f"refresh {name}: got {res}")
            self._check_payload("refresh", name, pq.read_table(self.out_dir).to_pylist(), payload)
            self.loaded.append(name)
        self.excluded_s += time.perf_counter() - t1
        res, noop_s = self._ingest_call(f"noop.{c}", batch)
        if res is not None and res.status != "already_imported":
            self.fail(f"noop {name}: got {res}")
        t1 = time.perf_counter()
        seen = {r["name"] for r in pq.read_table(self.state_dir).to_pylist()}
        if not set(self.loaded) <= seen:
            self.fail(f"state misses {sorted(set(self.loaded) - seen)}")
        self.excluded_s += time.perf_counter() - t1
        if self.measuring:
            s = self.ingest_samples
            s["refresh"].append(refresh_s)
            s["noop"].append(noop_s)
            s["cycle"].append(refresh_s + noop_s)
            s["payload_mb"].append(len(payload) / 2**20)
            s["archive_bytes"].append(os.path.getsize(os.path.join(self.container.path, name)))
        if c % INGEST_ROUND == 0:
            self.stream_catchup(c, stream)
        return refresh_s + noop_s

    def stream_catchup(self, c: int, stream) -> None:
        """One AvailableNow call; it must append one payload per archive
        landed since the last call."""
        import pyarrow.parquet as pq

        res, stream_s = self._ingest_call(f"stream.{c}", stream)
        t1 = time.perf_counter()
        if res is not None:
            if res < 1:
                self.fail(f"stream {c}: no micro-batch ran")
            rows = {}
            for row in self._read_new_stream_rows():
                rows.setdefault(row["archive_path"].rsplit("/", 1)[-1], []).append(row)
            if sorted(rows) != sorted(n for n, _ in self.pending):
                self.fail(f"stream {c}: appended {sorted(rows)}, "
                          f"expected {sorted(n for n, _ in self.pending)}")
            for name, payload in self.pending:
                self._check_payload("stream", name, rows.get(name, []), payload)
            self.pending = []
        self.excluded_s += time.perf_counter() - t1
        if self.measuring:
            self.ingest_samples["stream"].append(stream_s)

    def warmup_ingest(self) -> None:
        """First scheduled run and the stream's first catch-up over the whole
        container, then the warm-up cycles."""
        from mric_bak_etl_spark.pipeline import runner
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        latest = max(self.container.archives)
        res, first_s = self._ingest_call("refresh.0", lambda: runner.run_batch(
            self.spark, self.container.path, self.state_dir, self.out_dir))
        if res is not None:
            if (res.status, res.snapshot) != ("loaded", latest):
                self.fail(f"first refresh: got {res}")
            self.loaded.append(latest)
            self._check_payload("refresh", latest, pq.read_table(self.out_dir).to_pylist(),
                                self.container.archives[latest])
        res, catchup_s = self._ingest_call("stream.0", lambda: runner.run_streaming(
            self.spark, self.container.path, self.stream_ckpt, self.stream_out))
        self.notes["first_refresh_s"] = f"{first_s:.3f}"
        self.notes["first_catchup_s"] = f"{catchup_s:.3f}"
        t1 = time.perf_counter()
        rows = self._read_new_stream_rows()
        expect = sum(p is not None for p in self.container.archives.values())
        if len(rows) != expect:
            self.fail(f"stream catch-up: {len(rows)} payloads, expected {expect}")
        self.excluded_s += time.perf_counter() - t1
        index = itertools.count()
        self.warm_up(t0, first_s + catchup_s, lambda: self.ingest_cycle(next(index)))

    def measure_ingest(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        x0 = self.excluded_s
        s = self.ingest_samples
        while (time.perf_counter() - t0 < seconds or len(s["refresh"]) < INGEST_MIN_CYCLES
               or len(s["refresh"]) % INGEST_ROUND):
            self.ingest_cycle(len(s["refresh"]))
        return {"wall": time.perf_counter() - t0 - (self.excluded_s - x0),
                "latencies": s["refresh"], "passes": s["cycle"],
                "ops": len(s["refresh"]) + len(s["noop"]) + len(s["stream"])}

    # -- the run -----------------------------------------------------------

    def execute(self) -> dict:
        self.configure_env()
        if self.workload == "ingest":
            self.prepare_ingest()
            self.tables = None
        else:
            self.prepare_queries()
        self.start_session()
        if self.tables is not None:
            self.load_tables_cold()
        self.calibrate_empty_job()
        undo = self.traced_pipeline() if self.trace and self.workload == "ingest" else None
        if self.workload == "ingest":
            self.warmup_ingest()
        else:
            self.warmup_queries()
        setup_s = time.perf_counter() - T_PROCESS - self.excluded_s
        self.measuring = True
        measure = (self.measure_ingest if self.workload == "ingest"
                   else self.measure_queries)(self.args.seconds)
        self.measuring = False
        if undo is not None:
            undo()
        metrics = end_to_end(setup_s, measure)
        self.peak_rss = self.peak_rss_mb()
        self.heap_retained = self.heap_retained_mb()
        self.measure = measure
        detail = {"end_to_end": {k: v for k, (v, _) in metrics.items()},
                  "pass_s": measure["passes"]}
        if self.workload == "queries":
            per_op = measure["per_op"]
            detail["op_s"] = {n: v for n, v in sorted(per_op.items())}
            detail["family_p50_s"] = {
                f: statistics.median([t for n in names for t in per_op.get(n, [])])
                for f, names in workloads.FAMILIES.items()}
        else:
            detail["ingest"] = {k: v for k, (v, _) in
                                layers.ingest_summary(self.ingest_samples).items()}
            detail["ingest"]["container_mb"] = self.container.size_bytes() / 2**20
        self.leaked_entries = self.leaked_tmp_entries()
        detail["scratch.leaked_entries"] = self.leaked_entries
        detail["jvm.peak_rss_mb"] = self.peak_rss
        detail["jvm.heap_retained_mb"] = self.heap_retained
        if self.trace:
            self.stop_session()  # flushes and closes the event log
            metrics = layers.per_layer(self)
            self.notes.update(metrics.pop("_notes", {}))
        self.write_record(metrics, detail)
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def leaked_tmp_entries(self) -> int:
        """Entries the program left in TMPDIR outside its own scratch base."""
        tmp = os.path.join(self.tmp, "tmp")
        return sum(1 for e in os.listdir(tmp) if not e.startswith("mric_spark_scratch_"))

    def setup_record(self) -> dict:
        import duckdb
        import pyarrow
        import pyspark

        java = subprocess.run(["java", "-version"], capture_output=True, text=True)
        return {
            "nproc": nproc(),
            "host_cpus": os.cpu_count(),
            "SPARK_GRAFT_CPUS": self.cpus,
            "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
            "spark": pyspark.__version__,
            "java": (java.stderr or java.stdout).splitlines()[0] if java.returncode == 0 else None,
            "python": platform.python_version(),
            "pyarrow": pyarrow.__version__,
            "duckdb": duckdb.__version__,
            "tables": None if self.tables is None else os.path.relpath(self.tables, ROOT),
            "table_seed": TABLE_SEED,
            "table_rows": gen.TABLE_ROWS,
            "seed": self.args.seed,
            "package_digest": self.package_digest,
            "seconds": self.args.seconds,
            "trace": int(self.trace),
            "spark.empty_job_s": self.layers.get("spark.empty_job_s"),
        }

    def write_record(self, metrics: dict, detail: dict) -> None:
        record = {
            "workload": self.workload,
            "setup": self.setup_record(),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "detail": detail,
            "failures": self.failures,
            "notes": self.notes,
            "measured_ops": self.measure["ops"],
            "measured_passes": len(self.measure["passes"]),
        }
        stamp = time.strftime("%Y%m%dT%H%M%S")
        path = os.path.join(self._dir("results"),
                            f"{self.workload}-seed{self.args.seed}-trace{int(self.trace)}-{stamp}.json")
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        self.record_path = path

    def close(self) -> None:
        try:
            self.stop_session()
            if getattr(self, "oracles", None) is not None:
                self.oracles.close()
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)

    def stop_session(self) -> None:
        """Stop Spark and wait until the JVM it launched has exited."""
        if self.spark is not None:
            gateway = getattr(self.spark.sparkContext, "_gateway", None)
            proc = getattr(gateway, "proc", None)
            try:
                self.spark.stop()
            except Exception:  # noqa: BLE001 - teardown must go on
                pass
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:  # noqa: BLE001
                    pass
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            self.spark = None


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found beside {os.path.basename(HERE)}/", file=sys.stderr)
        return 2
    pin_cpus()
    # A terminated run still stops its JVM and removes its temp root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args)
    try:
        result = bench.execute()
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        bench.close()
    print(f"record: {os.path.relpath(bench.record_path, ROOT)}", flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
