"""tools/probe.py: argument errors exit before a session starts; one
rep reports per-phase jobs and per-job durations from the status
store."""

from __future__ import annotations

import pytest

from perfbench.sparkstats import JobGroups
from tests.conftest import SF_SMOKE
from tools import probe


@pytest.fixture()
def no_session(monkeypatch):
    def fail(*a, **k):
        raise AssertionError("probe started a SparkSession")

    monkeypatch.setattr(probe, "get_spark", fail)


def test_no_arguments_prints_usage_and_exits_2(no_session, capsys):
    with pytest.raises(SystemExit) as e:
        probe.main([])
    assert e.value.code == 2
    err = capsys.readouterr().err
    assert err.startswith("usage: tools/probe.py")


def test_unregistered_query_is_named(no_session, capsys):
    with pytest.raises(SystemExit) as e:
        probe.main(["-r", "1", "q_dedup_exact", "q_no_such_query"])
    assert e.value.code != 0
    assert "q_no_such_query" in capsys.readouterr().err


def test_rep_reports_phase_jobs(spark):
    rec = probe.run_rep(spark, JobGroups(spark), "q_dedup_ngram_jaccard", SF_SMOKE)
    # the shingle cache's serial prefill count() runs at build
    assert rec["build_jobs"] >= 1
    assert rec["exec_jobs"] >= 1
    assert rec["build_s"] >= 0 and rec["exec_s"] >= 0
    assert set(rec["stages"]) == set(rec["shuffle_write_bytes"]) == {"build", "exec"}
    jobs = rec["jobs"]
    assert len(jobs) == rec["build_jobs"] + rec["exec_jobs"]
    assert all(j["duration_s"] is not None and j["duration_s"] >= 0 for j in jobs)
    assert sum(j["stages"] for j in jobs) == sum(rec["stages"].values())
    # the rep releases its own pins after collect(), and none outlives it
    assert rec["pins_released"] >= 1
    assert rec["persisted_after_release"] == 0
