"""Soak self-adjudication + session recycling (r12, VERDICT r11 #4):
superlinear flags must carry a fresh-session rerun and a machine
verdict, and the sweep must recycle its session every N timed queries so
JVM aging cannot manufacture flags."""

import os
import sys
from types import SimpleNamespace

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import soak  # noqa: E402


class FakeSession:
    """Stands in for the sweep's SparkSession where only stop()/catalog
    hygiene is exercised; query fns in these tests build their
    DataFrames from the real test session instead."""

    def __init__(self, log, tag):
        self.log = log
        self.tag = tag
        self.catalog = SimpleNamespace(clearCache=lambda: None)
        registry = SimpleNamespace(isEmpty=lambda: True)
        self._jsparkSession = SimpleNamespace(
            sharedState=lambda: SimpleNamespace(cacheManager=lambda: registry)
        )

    def stop(self):
        self.log.append(("stop", self.tag))


def test_adjudicate_flag_session_pressure(spark):
    """A flagged query that runs fast in a fresh session gets the
    'session_pressure' verdict, and the fresh session is stopped."""
    log = []

    def factory():
        s = FakeSession(log, "fresh")
        log.append(("start", "fresh"))
        return s

    def fn(_session, _sf_dir):
        return spark.range(10)

    out = soak.adjudicate_flag(fn, "unused", budget=1e9, session_factory=factory)
    assert out["verdict"] == "session_pressure"
    assert out["fresh_sf10_sec"] >= 0
    assert "competing" in out["fresh_load"]
    assert log == [("start", "fresh"), ("stop", "fresh")]


def test_adjudicate_flag_confirmed_and_error(spark):
    def factory():
        return FakeSession([], "fresh")

    out = soak.adjudicate_flag(
        lambda s, d: spark.range(10), "unused", budget=0.0,
        session_factory=factory,
    )
    assert out["verdict"] == "superlinear_confirmed"

    def boom(_s, _d):
        raise RuntimeError("kaput")

    out = soak.adjudicate_flag(boom, "unused", budget=1.0,
                               session_factory=factory)
    assert out["verdict"] == "rerun_error"
    assert "kaput" in out["fresh_err"]


def test_run_suite_recycles_session(spark, tmp_path, monkeypatch):
    """With recycle_every=2 and 5 queries, the sweep must stop/replace
    its session after the 2nd and 4th timed query — bounding how old the
    JVM serving any query can be."""
    monkeypatch.setenv(
        "SPARK_GRAFT_SOAK_CKPT", str(tmp_path / "ckpt.jsonl")
    )
    log = []
    n = {"i": 0}

    def factory():
        n["i"] += 1
        tag = f"s{n['i']}"
        log.append(("start", tag))
        return FakeSession(log, tag)

    registry = {
        f"q{i}": (lambda s, d: spark.range(5)) for i in range(5)
    }
    times, errors, loads, cache_left, last = soak.run_suite(
        FakeSession(log, "s0"),
        registry,
        "unused",
        sweep="sf10",
        session_factory=factory,
        recycle_every=2,
    )
    assert not errors and len(times) == 5 and cache_left == []
    starts = [t for ev, t in log if ev == "start"]
    stops = [t for ev, t in log if ev == "stop"]
    assert starts == ["s1", "s2"]  # two recycles across 5 queries
    assert stops == ["s0", "s1"]  # each old session stopped
    assert last.tag == "s2"
    # every query has its contention snapshot
    assert all("competing" in loads[k] for k in registry)


def test_run_suite_recycle_disabled(spark, tmp_path, monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_SOAK_CKPT", str(tmp_path / "ckpt.jsonl")
    )
    log = []
    registry = {f"q{i}": (lambda s, d: spark.range(5)) for i in range(3)}
    _, errors, _, _, last = soak.run_suite(
        FakeSession(log, "s0"), registry, "unused", sweep="sf10",
        session_factory=lambda: FakeSession(log, "sX"),
        recycle_every=0,
    )
    assert not errors
    assert log == []  # no restarts when disabled
    assert last.tag == "s0"


def test_run_suite_records_cache_left(spark, tmp_path, monkeypatch):
    """The sweep clears the session cache after every query; it must
    first record which query left a persisted frame behind, and keep the
    record across a checkpoint resume."""
    monkeypatch.setenv(
        "SPARK_GRAFT_SOAK_CKPT", str(tmp_path / "ckpt.jsonl")
    )
    registry = {
        "leaky": lambda s, d: s.range(5).persist(),
        "clean": lambda s, d: s.range(5),
    }
    times, errors, _, cache_left, _ = soak.run_suite(
        spark, registry, "unused", sweep="sf1", recycle_every=0
    )
    assert not errors and len(times) == 2
    assert cache_left == ["leaky"]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    _, _, _, resumed, _ = soak.run_suite(
        spark, registry, "unused", sweep="sf1", recycle_every=0
    )
    assert resumed == ["leaky"]
