"""Session-conf hygiene: a runtime conf that does not apply is reported,
not swallowed."""

from __future__ import annotations

import warnings

import pytest

from mric_bak_etl_spark import session


def test_conf_failures_warn_once_per_key(spark, monkeypatch):
    def refuse(key, value):
        raise RuntimeError(f"cannot modify {key}")

    monkeypatch.setattr(session, "CONF_FAILURES", {})
    monkeypatch.setattr(spark.conf, "set", refuse)
    with pytest.warns(RuntimeWarning) as first:
        session.ensure_runtime_confs(spark)
    expected = {"spark.sql.shuffle.partitions", *session._RUNTIME_CONFS}
    assert set(session.CONF_FAILURES) == expected
    assert sum(w.category is RuntimeWarning for w in first) == len(expected)
    assert "cannot modify spark.sql.session.timeZone" in session.CONF_FAILURES[
        "spark.sql.session.timeZone"
    ]

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # a second call must not warn again
        session.ensure_runtime_confs(spark)
