"""Output checks: the comparison itself, and that a wrong result is counted."""

import argparse

import pandas as pd
import pytest

import run
import verify


def test_mismatch_is_order_insensitive_with_float_tolerance():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"v": [1.0, 0.3], "k": [2, 1]})
    assert verify.mismatch(a, b) is None


@pytest.mark.parametrize("change", [
    lambda df: df.assign(v=[0.3, 1.5]),
    lambda df: df.iloc[:1],
    lambda df: df.rename(columns={"v": "w"}),
    lambda df: df.assign(k=[1, 3]),
])
def test_mismatch_reports_wrong_results(change):
    good = pd.DataFrame({"k": [1, 2], "v": [0.3, 1.0]})
    assert verify.mismatch(change(good), good) is not None


class _Frame:
    def __init__(self, pdf):
        self.pdf = pdf
        self.columns = list(pdf.columns)

    def toPandas(self):
        return self.pdf


class _Spec:
    def __init__(self, pdf, oracle="SELECT 1"):
        self.builder = lambda spark, tables: _Frame(pdf)
        self.oracle = oracle


class _Oracles:
    def __init__(self, pdf):
        self.pdf = pdf

    def result(self, sql):
        return self.pdf

    def close(self):
        pass


@pytest.fixture
def bench():
    b = run.Bench(argparse.Namespace(workload="queries", seed=1, seconds=1, trace=0))
    b.tables = None
    yield b
    b.close()


def test_injected_wrong_result_counts_as_failure(bench):
    right = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    wrong = right.assign(v=[0.5, 1.6])
    bench.oracles = _Oracles(right)
    bench.specs = {"good": _Spec(right), "bad": _Spec(wrong)}
    bench.verify_op("good")
    assert (bench.attempted, bench.failures) == (1, [])
    bench.verify_op("bad")
    assert bench.attempted == 2 and len(bench.failures) == 1
    assert "wrong result" in bench.failures[0]


def test_rows_only_op_needs_columns_and_rows(bench):
    name = "m2_feature_extract"
    cols = run.workloads.ROWS_ONLY_COLUMNS[name]
    bench.specs = {name: _Spec(pd.DataFrame(columns=list(cols)), oracle=None)}
    bench.verify_op(name)
    assert bench.failures == [f"{name}: empty result"]


def test_wrong_ingest_payload_counts_as_failure(bench):
    rows = [{"entry_bytes": b"abc", "entry_name": "x.bak", "archive_path": "file:/c/x.zip"}]
    bench._check_payload("refresh", "x.zip", rows, b"abc")
    assert bench.failures == []
    bench._check_payload("refresh", "x.zip", rows, b"abd")
    bench._check_payload("stream", "x.zip", rows + rows, b"abc")
    assert len(bench.failures) == 2
