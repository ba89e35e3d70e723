"""Read-path truth-table goldens, ported from the reference integration
tests (/root/reference/internal/streams/streams_test.go:235-364)."""

from __future__ import annotations

import pytest

from eventstorm_spark.log.plan import compile_read
from eventstorm_spark.model import (
    AllOptions,
    BoundaryKind,
    Direction,
    ReadOptions,
    StreamOptions,
)

from tests.fixtures import multi_stream_100x1, single_stream_100


@pytest.fixture(scope="module")
def stream100(spark):
    return single_stream_100(spark).cache()


@pytest.fixture(scope="module")
def all100(spark):
    return multi_stream_100x1(spark).cache()


def revs(df):
    return [r["revision"] for r in df.collect()]


def poss(df):
    return [r["position"] for r in df.collect()]


def read_stream(df, kind, direction, revision=0, count=0):
    return compile_read(
        df,
        ReadOptions(direction=direction, count=count,
                    stream=StreamOptions("test-stream", kind, revision)),
    )


def read_all(df, kind, direction, position=0, count=0):
    return compile_read(
        df,
        ReadOptions(direction=direction, count=count,
                    all=AllOptions(kind, position)),
    )


# streams_test.go:235-258 — forward from start, first 10
def test_stream_forward_from_start(stream100):
    df = read_stream(stream100, BoundaryKind.START, Direction.FORWARDS, count=10)
    rows = df.collect()
    assert [r["revision"] for r in rows] == list(range(10))
    assert [r["position"] for r in rows] == list(range(1, 11))


def test_stream_forward_all(stream100):
    df = read_stream(stream100, BoundaryKind.START, Direction.FORWARDS)
    assert revs(df) == list(range(100))


# streams_test.go — forward from revision 50
def test_stream_forward_from_revision(stream100):
    df = read_stream(stream100, BoundaryKind.AT, Direction.FORWARDS, revision=50)
    assert revs(df) == list(range(50, 100))


# end + forwards => exactly the last event (backend.go:139-143)
def test_stream_end_forwards_is_last_event(stream100):
    df = read_stream(stream100, BoundaryKind.END, Direction.FORWARDS)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["revision"] == 99


# start + backwards => exactly the first event (backend.go:135-138)
def test_stream_start_backwards_is_first_event(stream100):
    df = read_stream(stream100, BoundaryKind.START, Direction.BACKWARDS)
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0]["revision"] == 0


# backwards from revision 50
def test_stream_backward_from_revision(stream100):
    df = read_stream(stream100, BoundaryKind.AT, Direction.BACKWARDS, revision=50)
    assert revs(df) == list(range(50, -1, -1))


def test_stream_backward_from_end(stream100):
    df = read_stream(stream100, BoundaryKind.END, Direction.BACKWARDS)
    assert revs(df) == list(range(99, -1, -1))


def test_stream_limit_applies(stream100):
    df = read_stream(stream100, BoundaryKind.AT, Direction.BACKWARDS, revision=50, count=5)
    assert revs(df) == [50, 49, 48, 47, 46]


# --- $all goldens, streams_test.go:305-364 ---------------------------------

def test_all_forward_from_start(all100):
    df = read_all(all100, BoundaryKind.START, Direction.FORWARDS)
    assert poss(df) == list(range(1, 101))


def test_all_backward_from_end(all100):
    df = read_all(all100, BoundaryKind.END, Direction.BACKWARDS)
    assert poss(df) == list(range(100, 0, -1))


# read from position 50: 50+1 rows forward (>=50), exact order
def test_all_forward_from_position(all100):
    df = read_all(all100, BoundaryKind.AT, Direction.FORWARDS, position=51)
    assert poss(df) == list(range(51, 101))


def test_all_backward_from_position(all100):
    df = read_all(all100, BoundaryKind.AT, Direction.BACKWARDS, position=50)
    assert poss(df) == list(range(50, 0, -1))


def test_all_end_forwards_is_last(all100):
    df = read_all(all100, BoundaryKind.END, Direction.FORWARDS)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["position"] == 100


def test_all_start_backwards_is_first(all100):
    df = read_all(all100, BoundaryKind.START, Direction.BACKWARDS)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["position"] == 1


# -- EventLog.read: an unbounded stream read is a top-k at the head -------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def log3(spark, tmp_path):
    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    log.append("s", new_events(3, prefix="s"))
    log.append("other", new_events(2, prefix="o"))
    return log


def test_unbounded_stream_read_is_topk_not_sort(log3):
    """A full stream read is bounded by the synced head (``revision <=
    head``, limit ``head + 1``), so it plans as one TakeOrderedAndProject
    instead of a range-partitioned global sort."""
    for direction in (Direction.FORWARDS, Direction.BACKWARDS):
        plan = _plan(log3.read_stream("s", direction=direction))
        assert "TakeOrderedAndProject" in plan
        assert "rangepartitioning" not in plan
        assert "(revision" in plan and "<= 2" in plan


def test_stream_above_topk_bound_keeps_the_sort(log3, monkeypatch):
    """Past ``_TOPK_STREAM_ROWS`` the read keeps the distributed sort
    (a top-k neither spills nor stays distributed), still bounded by
    the head predicate."""
    from eventstorm_spark.log import store

    monkeypatch.setattr(store, "_TOPK_STREAM_ROWS", 2)
    df = log3.read_stream("s")
    plan = _plan(df)
    assert "TakeOrderedAndProject" not in plan
    assert "rangepartitioning" in plan and "<= 2" in plan
    assert revs(df) == [0, 1, 2]


def test_backwards_full_stream_read_returns_every_revision(log3):
    """The head + 1 limit never cuts a full read short, in either
    direction or from an explicit revision."""
    assert revs(log3.read_stream("s", direction=Direction.BACKWARDS)) == [2, 1, 0]
    assert revs(log3.read_stream("s")) == [0, 1, 2]
    assert revs(log3.read_stream("s", direction=Direction.BACKWARDS,
                                 from_revision=1)) == [1, 0]
    assert revs(log3.read_stream("s", from_revision=1)) == [1, 2]
