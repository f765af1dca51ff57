"""BENCHMARK.json is well-formed and names exactly what the benchmark prints."""

import argparse
import json
import os
import re

import pytest

import layers
import run

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_shape():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert SPEC["command"] == ["python3", "perfbench/run.py"]
    assert SPEC["paths"] == ["perfbench"]
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in SPEC[key]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert all(UNIT.match(m["unit"]) for key in ("end_to_end", "per_layer") for m in SPEC[key])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def _declared(key):
    return {m["name"]: m["unit"] for m in SPEC[key]}


def test_end_to_end_names_match():
    measure = {"latencies": [0.2, 0.4], "passes": [0.6], "ops": 2, "wall": 0.6}
    printed = {k: u for k, (_, u) in run.end_to_end(1.5, measure).items()}
    assert printed == _declared("end_to_end")


class _Stub:
    """The attributes of a finished run that ``layers.per_layer`` reads."""

    def __init__(self, workload, tmp_path):
        self.workload = workload
        self.args = argparse.Namespace(seed=3)
        self.package_digest = "abc"
        self.cpus = 4
        self.event_dir = str(tmp_path / "eventlog")
        os.makedirs(self.event_dir)
        self.results = str(tmp_path / "results")
        os.makedirs(self.results)
        self.state_dir = str(tmp_path / "state")
        os.makedirs(self.state_dir)
        self.layers = {"session.get_spark_s": 9.0, "warmup_passes": 4,
                       "spark.empty_job_s": 0.05}
        self.measure = {"latencies": [0.3, 0.5], "builds": [0.1, 0.1],
                        "actions": [0.2, 0.4], "passes": [0.8], "ops": 2, "wall": 0.8}
        self.ingest_samples = {"refresh": [2.0], "noop": [0.4], "stream": [1.0],
                               "payload_mb": [0.2], "archive_bytes": [100_000]}
        self.spans = [(f"{workload}:op.1:runner", 0.0, 1.0)]
        self.failures, self.attempted = [], 2
        self.leaked_entries, self.peak_rss, self.heap_retained = 0, 1500.0, 200.0

    def _dir(self, name):
        return self.results


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_per_layer_names_match(workload, tmp_path):
    out = layers.per_layer(_Stub(workload, tmp_path))
    out.pop("_notes")
    assert {k: u for k, (_, u) in out.items()} == _declared("per_layer")


def test_per_layer_counts_only_measured_jobs(tmp_path):
    stub = _Stub("queries", tmp_path)
    stub.spans = [("queries:a1:build", 0.0, 0.1), ("queries:a1:action", 0.1, 0.4)]
    events = [{"Event": "SparkListenerJobStart", "Job ID": i, "Stage IDs": [i],
               "Submission Time": 0, "Properties": {"spark.jobGroup.id": group}}
              for i, group in enumerate(["queries:a1:warmup", "queries:a1:verify",
                                         "queries:a1:action", "queries:a1:action"])]
    with open(os.path.join(stub.event_dir, "events_1_app"), "w") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")
    stub.measure["ops"] = 1
    out = layers.per_layer(stub)
    assert out["spark.jobs_per_op"] == (2.0, "count")


def test_overhead_share_needs_same_seed_and_sources(tmp_path):
    stub = _Stub("queries", tmp_path)  # traced median pass: 0.8 s

    def record(seed, digest, pass_s):
        path = os.path.join(stub.results, f"queries-seed{seed}-trace0-{seed}{digest}.json")
        with open(path, "w") as fh:
            json.dump({"setup": {"package_digest": digest},
                       "detail": {"end_to_end": {"pass_s": pass_s}}}, fh)

    record(4, "abc", 0.4)  # another seed: another op order
    record(3, "old", 0.2)  # other sources
    out = layers.per_layer(stub)
    assert out["trace.overhead_share"] == (0.0, "ratio")
    assert "unavailable" in out["_notes"]["trace.overhead_share"]
    record(3, "abc", 0.5)
    assert layers.per_layer(stub)["trace.overhead_share"][0] == pytest.approx(0.6)
