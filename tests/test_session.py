"""session.py's environment dials: a malformed SPARK_GRAFT_CPUS fails
at import with an error naming the variable."""

from __future__ import annotations

import importlib.util

import pytest

from movie_recommendation_engine_spark import session


def _import_session_copy():
    spec = importlib.util.spec_from_file_location("session_under_test", session.__file__)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("raw", ["four", "2.5", "", "0", "-3"])
def test_bad_cpus_env_fails_naming_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        _import_session_copy()


def test_cpus_env_sets_default_shuffle_partitions(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _import_session_copy().DEFAULT_SHUFFLE_PARTITIONS == 6
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert _import_session_copy().DEFAULT_SHUFFLE_PARTITIONS == 32
