"""System projections ($by_category, $by_event_type, $streams,
$stream_by_category) — EventStoreDB built-ins absent from the reference;
stateless link-index materializations over the envelope."""

from __future__ import annotations

import json

from eventstorm_spark.model import EVENT_SCHEMA
from eventstorm_spark.projections.system import (
    by_category,
    by_event_type,
    materialize,
    stream_by_category,
    streams_index,
)

from tests.fixtures import envelope_rows, multi_stream_100x1, typed_100


def test_by_event_type_links(spark):
    out = by_event_type(typed_100(spark)).collect()
    assert len(out) == 100
    by_stream = {r["stream"]: r for r in out}
    assert set(by_stream) == {f"$et-type-{i}" for i in range(100)}
    r = by_stream["$et-type-7"]
    assert r["event_type"] == "$>"
    assert r["data"] == "7@test-stream"
    assert r["link_revision"] == 0


def test_by_category_links(spark):
    out = (by_category(multi_stream_100x1(spark))
           .orderBy("link_revision").collect())
    # all streams `stream-<i>` share category `stream`
    assert len(out) == 100
    assert {r["stream"] for r in out} == {"$ce-stream"}
    assert [r["link_revision"] for r in out] == list(range(100))
    # link order follows source position
    assert out[0]["data"] == "0@stream-0"
    assert out[99]["data"] == "0@stream-99"


def test_streams_index_first_event_only(spark):
    # 100 single-event streams -> 100 entries; a 100-event stream -> 1
    assert streams_index(multi_stream_100x1(spark)).count() == 100
    out = streams_index(typed_100(spark)).collect()
    assert len(out) == 1
    assert out[0]["stream"] == "$streams"
    assert out[0]["data"] == "0@test-stream"


def test_stream_by_category_one_link_per_stream(spark):
    out = stream_by_category(multi_stream_100x1(spark)).collect()
    assert len(out) == 100
    assert {r["stream"] for r in out} == {"$category-stream"}
    assert all(r["data"].startswith("0@") for r in out)


def test_system_streams_excluded(spark):
    rows = envelope_rows("$projections-x-result", 5) + envelope_rows("acct-1", 5, first_position=6)
    df = spark.createDataFrame(rows, EVENT_SCHEMA)
    assert by_category(df).where("data LIKE '%$%'").count() == 0
    assert streams_index(df).count() == 1
    assert by_event_type(df).count() == 5


def test_uncategorizable_streams_skipped(spark):
    df = spark.createDataFrame(envelope_rows("nodash", 3), EVENT_SCHEMA)
    assert by_category(df).count() == 0
    assert stream_by_category(df).count() == 0
    assert streams_index(df).count() == 1


def test_materialize_appends_resolvable_links(spark, tmp_path):
    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    log.append("order-1", new_events(3, prefix="a"))
    log.append("order-2", new_events(2, prefix="b"))
    n = materialize(log.df(), log, which=["$by_category", "$streams"])
    assert n == 5 + 2
    ce = log.read_stream("$ce-order").orderBy("revision").collect()
    assert len(ce) == 5
    resolved = EventLog.resolve_links(log.read_stream("$streams"), log.df()).collect()
    assert sorted(json.loads(r["data"])["i"] for r in resolved) == [0, 0]


def test_materialize_distributed_positions_gapless(spark, tmp_path):
    """The bulk materializer assigns gapless, monotonic global positions
    continuing from the log tail, and dense per-link-stream revisions —
    with no O(N) driver collect (positions come from the two-pass
    offset add over range partitions)."""
    from pyspark.sql import functions as F

    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    for s in range(20):
        log.append(f"acct-{s:03d}", new_events(10, prefix=f"s{s}"))
    tail_before = log.tail_position()
    assert tail_before == 200

    n = materialize(log.df(), log, which=["$by_category", "$streams"])
    assert n == 200 + 20

    links = log.df().where(F.col("stream").startswith("$"))
    # positions: exactly tail+1 .. tail+n, no gaps, no dups
    pos = sorted(r["position"] for r in links.select("position").collect())
    assert pos == list(range(tail_before + 1, tail_before + n + 1))
    # revisions: dense 0-based per link stream
    revs = (links.groupBy("stream")
            .agg(F.min("revision").alias("lo"), F.max("revision").alias("hi"),
                 F.count(F.lit(1)).alias("c")).collect())
    for r in revs:
        assert r["lo"] == 0 and r["hi"] == r["c"] - 1, r
    # $ce-acct got all 200 events in source-position order
    ce = log.read_stream("$ce-acct").orderBy("revision").collect()
    assert len(ce) == 200
    srcpos = [int(r["data"].split("@")[0]) for r in ce]  # rev@stream
    assert all(a is not None for a in srcpos)


def test_materialize_continues_existing_link_revisions(spark, tmp_path):
    """Re-materializing a projection over NEW source events continues
    the link stream's revision numbering from its existing head."""
    from pyspark.sql import functions as F

    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    log.append("acct-1", new_events(3, prefix="a"))
    materialize(log.df(), log, which=["$by_category"])
    head1 = log.head_revision("$ce-acct")
    assert head1 == 2

    # new source events only -> incremental materialize of the delta
    log.append("acct-1", new_events(2, prefix="b"))
    delta = log.df().where(
        ~F.col("stream").startswith("$") & (F.col("revision") >= 3))
    materialize(delta, log, which=["$by_category"])
    assert log.head_revision("$ce-acct") == 4
    ce = log.read_stream("$ce-acct").orderBy("revision").collect()
    assert [r["revision"] for r in ce] == [0, 1, 2, 3, 4]


def test_materialize_uuids_replay_stable_and_unique(spark, tmp_path):
    """Link uuids derive from the linked event's global position
    (name-stream-source_position): re-materializing the SAME source
    rows mints IDENTICAL uuids — the torn-publish recovery contract
    (uuid-dedupe on re-materialization) — while incremental batches
    (strictly newer positions) never collide."""
    from pyspark.sql import functions as F

    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    log.append("acct-1", new_events(3, prefix="a"))
    src = log.df().where(~F.col("stream").startswith("$"))
    materialize(src, log, which=["$by_category"])
    first = {(r["uuid"], r["data"]) for r in
             log.read_stream("$ce-acct").collect()}
    assert len(first) == 3

    # replay of the SAME source rows (torn-publish re-run): identical
    # uuids, so dedupe-on-uuid identifies every already-landed row
    materialize(src, log, which=["$by_category"])
    again = [r for r in log.read_stream("$ce-acct").collect()]
    assert len(again) == 6
    assert {(r["uuid"], r["data"]) for r in again} == first  # same ids

    # incremental delta (new positions): disjoint uuids
    log.append("acct-1", new_events(2, prefix="b"))
    delta = log.df().where(
        ~F.col("stream").startswith("$") & (F.col("revision") >= 3))
    materialize(delta, log, which=["$by_category"])
    rows = log.read_stream("$ce-acct").collect()
    uuids = [r["uuid"] for r in rows]
    assert len(rows) == 8
    assert len(set(uuids)) == 5  # 3 originals (each twice) + 2 new


def test_materialize_rederives_after_losing_its_reserve(spark, tmp_path):
    """Another instance's commit wins materialize's first reserve, after
    the links were derived from the heads it read: the commit loop
    re-derives them at the advanced tail. Positions stay gapless, link
    revisions stay dense (continuing after the other instance's link),
    and the link rows equal an uncontended run's."""
    from pyspark.sql import functions as F

    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    def build(path):
        log = EventLog(spark, path)
        for s in range(5):
            log.append(f"acct-{s}", new_events(4, prefix=f"s{s}"))
        return log, log.df()  # the source: the 20 events above

    def links(log):
        return sorted(
            tuple(r) for r in log.df().where(F.col("stream").startswith("$"))
            .select("stream", "revision", "position", "uuid", "data").collect())

    calm, calm_src = build(str(tmp_path / "calm"))
    calm.link_to("$ce-acct", "acct-0", 0)
    materialize(calm_src, calm, which=["$by_category", "$streams"])

    raced, raced_src = build(str(tmp_path / "raced"))
    other = EventLog(spark, raced.path)
    real = raced._reserve
    won = []

    def reserve(position, *args):
        if not won:
            other.link_to("$ce-acct", "acct-0", 0)  # lands at position 21
        marker = real(position, *args)
        won.append(marker is not None)
        return marker

    raced._reserve = reserve
    n = materialize(raced_src, raced, which=["$by_category", "$streams"])
    assert n == 20 + 5 and won == [False, True, True]

    pos = sorted(r["position"] for r in raced.df().select("position").collect())
    assert pos == list(range(1, 20 + 1 + n + 1))
    revs = {}
    for stream, rev, *_ in links(raced):
        revs.setdefault(stream, []).append(rev)
    assert revs == {"$ce-acct": list(range(21)), "$streams": list(range(5))}
    assert links(raced) == links(calm)
