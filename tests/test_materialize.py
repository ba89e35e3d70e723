"""Durable incremental materialization: refresh() folds only the tail,
equals a full replay after every refresh, survives restart, and never
leaves a torn state dir."""

from __future__ import annotations

import json
import os

import pytest

from eventstorm_spark.log.store import EventLog
from eventstorm_spark.projections.batch import run_batch
from eventstorm_spark.projections.dsl import AggSpec, projection
from eventstorm_spark.projections.materialize import Materializer
from tests.fixtures import new_events


def _spec():
    return (projection("mat").from_all().foreach_stream()
            .when_agg({"n": AggSpec.count()}))


def _states(df):
    return {r["partition"]: json.loads(r["state"]) for r in df.collect()}


@pytest.fixture()
def log(spark, tmp_path):
    lg = EventLog(spark, str(tmp_path / "mlog"))
    lg.append("user-1", new_events(5, prefix="a"))
    lg.append("user-2", new_events(3, prefix="b"))
    return lg


def test_refresh_full_then_incremental(log, tmp_path):
    m = Materializer(log, _spec(), str(tmp_path / "state"))
    assert m.state() is None
    s1 = _states(m.refresh())
    assert s1 == {"user-1": {"n": 5}, "user-2": {"n": 3}}

    log.append("user-2", new_events(4, prefix="c"))
    log.append("user-3", new_events(1, prefix="d"))
    s2 = _states(m.refresh())
    assert s2 == _states(run_batch(_spec(), log.df()))
    assert s2["user-2"] == {"n": 7} and s2["user-3"] == {"n": 1}


def test_refresh_folds_another_instances_commit(log, tmp_path):
    """A Materializer over one EventLog folds events another instance
    appended to the same path: refresh() bounds its fold by
    tail_position(), which must not serve a tail cached before the
    foreign commit."""
    m = Materializer(log, _spec(), str(tmp_path / "state"))
    m.refresh()
    assert m.state_of("user-3") is None
    EventLog(log.spark, log.path).append("user-3", new_events(2, prefix="f"))
    m.refresh()
    assert json.loads(m.state_of("user-3")) == {"n": 2}
    assert _states(m.state()) == _states(run_batch(_spec(), log.df()))


def test_noop_refresh_keeps_checkpoint(log, tmp_path):
    m = Materializer(log, _spec(), str(tmp_path / "state"))
    m.refresh()
    pos = m.checkpoint_position()
    assert _states(m.refresh()) == _states(m.state())
    assert m.checkpoint_position() == pos


def test_cold_restart_resumes(log, tmp_path):
    path = str(tmp_path / "state")
    Materializer(log, _spec(), path).refresh()
    log.append("user-1", new_events(2, prefix="e"))
    # new instance, fresh EventLog handle: reads checkpoint from disk
    log2 = EventLog(log.spark, log.path)
    m2 = Materializer(log2, _spec(), path)
    assert m2.checkpoint_position() is not None
    s = _states(m2.refresh())
    assert s["user-1"] == {"n": 7}


def test_versions_pruned(log, tmp_path):
    path = str(tmp_path / "state")
    m = Materializer(log, _spec(), path, keep_versions=2)
    m.refresh()
    for i in range(3):
        log.append("user-1", new_events(1, prefix=f"v{i}"))
        m.refresh()
    dirs = [d for d in os.listdir(path) if d.startswith("state-")]
    assert len(dirs) <= 2
    assert f"state-{m.checkpoint_position()}" in dirs


def test_state_of_point_lookup(log, tmp_path):
    """State(name, partition) analogue (projections.proto:115-126):
    partition-keyed lookup of the materialized state — value for a
    present partition, None for an absent one, None before the first
    refresh."""
    m = Materializer(log, _spec(), str(tmp_path / "state"))
    assert m.state_of("user-1") is None  # never refreshed
    m.refresh()
    assert json.loads(m.state_of("user-1")) == {"n": 5}
    assert json.loads(m.state_of("user-2")) == {"n": 3}
    assert m.state_of("nope") is None
    # advances with refresh
    log.append("user-1", new_events(2, prefix="z"))
    m.refresh()
    assert json.loads(m.state_of("user-1")) == {"n": 7}


def test_result_of_reads_result_stream_tail(spark, tmp_path):
    """Result(name, partition) analogue (projections.proto:128-139):
    the LATEST emitted state for a partition on the projection's
    result stream; None for a partition that never emitted."""
    from eventstorm_spark.projections.batch import (
        run_batch_emissions, write_result_stream,
    )
    from eventstorm_spark.projections.materialize import result_of

    lg = EventLog(spark, str(tmp_path / "rlog"))
    lg.append("user-1", new_events(3, prefix="a"))
    lg.append("user-2", new_events(1, prefix="b"))

    def _count(state, e):
        state["count"] += 1

    spec = (projection("res").from_all().foreach_stream()
            .when({"$init": lambda: {"count": 0}, "$any": _count})
            .output_state())
    write_result_stream(spec, run_batch_emissions(spec, lg.df()), lg)

    # tail = the LAST emission per partition
    assert json.loads(result_of(lg, "res", "user-1")) == {"count": 3}
    assert json.loads(result_of(lg, spec, "user-2")) == {"count": 1}
    assert result_of(lg, "res", "user-9") is None
    assert result_of(lg, "absent-projection", "user-1") is None
