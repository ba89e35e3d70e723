"""S9 delete/tombstone lifecycle — the reference stubs these RPCs
(grpc_server.go:271-281); semantics here follow the EventStoreDB API the
protos declare (streams.proto:14-16): soft delete hides history and
allows recreation with continued revisions; tombstone is permanent;
scavenge physically reclaims."""

from __future__ import annotations

import pytest

from eventstorm_spark.errors import (
    StreamDeletedError,
    StreamNotFoundError,
    WrongExpectedRevisionError,
)
from eventstorm_spark.log.store import DELETED_STREAMS, EventLog
from eventstorm_spark.model import ExpectedRevision

from tests.fixtures import new_events


@pytest.fixture()
def log(spark, tmp_path):
    return EventLog(spark, str(tmp_path / "log"))


def test_soft_delete_hides_stream(log):
    log.append("s", new_events(5))
    log.delete_stream("s")
    with pytest.raises(StreamNotFoundError):
        log.read_stream("s")


def test_soft_delete_missing_stream_raises(log):
    log.append("other", new_events(1))
    with pytest.raises(StreamNotFoundError):
        log.delete_stream("nope")


def test_delete_cas_guard(log):
    log.append("s", new_events(5))  # head revision 4
    with pytest.raises(WrongExpectedRevisionError):
        log.delete_stream("s", ExpectedRevision.at(3))
    log.delete_stream("s", ExpectedRevision.at(4))


def test_recreation_continues_revisions(log):
    log.append("s", new_events(5))
    log.delete_stream("s")
    res = log.append("s", new_events(2, prefix="new"))
    assert res.last_revision == 6  # continues from pre-delete head 4
    rows = log.read_stream("s").collect()
    assert [r["revision"] for r in rows] == [5, 6]  # history stays hidden


def test_tombstone_blocks_append_and_read(log):
    log.append("s", new_events(3))
    log.tombstone_stream("s")
    with pytest.raises(StreamDeletedError):
        log.append("s", new_events(1, prefix="x"))
    with pytest.raises(StreamDeletedError):
        log.read_stream("s")
    with pytest.raises(StreamDeletedError):
        log.delete_stream("s")  # can't soft-delete a tombstone


def test_markers_visible_in_all_until_scavenge(log):
    log.append("s", new_events(3))
    log.delete_stream("s")
    streams = {r["stream"] for r in log.read_all().collect()}
    assert streams == {"s", DELETED_STREAMS}


def test_scavenge_reclaims_and_preserves_positions(log):
    log.append("keep", new_events(3))
    log.append("s", new_events(4, prefix="s"))
    log.append("t", new_events(2, prefix="t"))
    log.delete_stream("s")
    log.tombstone_stream("t")
    removed = log.scavenge()
    assert removed == 6
    rows = log.read_all().collect()
    by_stream = {}
    for r in rows:
        by_stream.setdefault(r["stream"], []).append(r["position"])
    assert sorted(by_stream) == [DELETED_STREAMS, "keep"]
    assert by_stream["keep"] == [1, 2, 3]  # positions unchanged
    # tombstone survives scavenge: appends still blocked
    with pytest.raises(StreamDeletedError):
        log.append("t", new_events(1, prefix="z"))


def test_recreated_stream_survives_scavenge_with_continuity(log):
    log.append("s", new_events(5))
    log.delete_stream("s")
    log.append("s", new_events(2, prefix="new"))
    log.scavenge()
    rows = log.read_stream("s").collect()
    assert [r["revision"] for r in rows] == [5, 6]
    # a cold log instance sees the same state (markers are the source of truth)
    cold = EventLog(log.spark, log.path)
    res = cold.append("s", new_events(1, prefix="again"))
    assert res.last_revision == 7


# -- link events (resolve_links — parsed but unimplemented in the
#    reference; EventStoreDB `$>` semantics) ------------------------------

def test_redelete_after_scavenge_keeps_continuation(log):
    """Deleting an already-soft-deleted stream AFTER scavenge reclaimed
    its rows must carry the remembered pre-delete head into the new
    marker (head_revision is None by then) — the old marker's
    last_revision used to be replaced with -1, so a recreation append
    restarted revisions at 0, re-issuing numbers consumers had seen."""
    log.append("s", new_events(5))        # revisions 0..4
    log.delete_stream("s")
    log.scavenge()
    log.delete_stream("s")                # re-delete the scavenged ghost
    res = log.append("s", new_events(1))  # recreation
    assert res.last_revision == 5         # continues, not 0


def _race_after_first_head(a, b):
    """Wrap instance ``a``'s ``_effective_head`` so that right after its
    first lookup of "s" returns, instance ``b`` commits one event to
    "s": a revision landing between a delete's check and its commit.
    Returns the list that receives ``b``'s AppendResult."""
    real = a._effective_head
    raced = []

    def effective_head(stream):
        out = real(stream)
        if stream == "s" and not raced:
            raced.append(b.append("s", new_events(1, prefix="b")))
        return out

    a._effective_head = effective_head
    return raced


def test_delete_cas_sees_a_revision_committed_during_the_check(spark, tmp_path):
    """The CAS is decided in the same commit attempt as the marker's
    reserve: B's rev 3, committed after A read head 2, makes A's reserve
    lose, and the re-run check against rev 3 fails. Nothing is
    written."""
    path = str(tmp_path / "log")
    a, b = EventLog(spark, path), EventLog(spark, path)
    a.append("s", new_events(3))  # revisions 0..2 at positions 1..3
    raced = _race_after_first_head(a, b)
    with pytest.raises(WrongExpectedRevisionError):
        a.delete_stream("s", ExpectedRevision.at(2))
    assert raced[0].last_revision == 3
    assert a.df().where(f"stream = '{DELETED_STREAMS}'").count() == 0
    assert a.read_stream("s").count() == 4


def test_delete_marker_covers_a_revision_committed_during_the_check(
        spark, tmp_path):
    """With ``expected=any`` the marker's ``before_position`` and
    ``last_revision`` come from one attempt: the marker that hides B's
    rev 3 also records it, so a recreation after ``scavenge()`` (which
    reclaims rev 3) continues at 4 instead of issuing 3 again."""
    import json

    path = str(tmp_path / "log")
    a, b = EventLog(spark, path), EventLog(spark, path)
    a.append("s", new_events(3))
    _race_after_first_head(a, b)
    a.delete_stream("s")
    markers = a.df().where(f"stream = '{DELETED_STREAMS}'").collect()
    assert [json.loads(r["data"]) for r in markers] == [
        {"stream": "s", "before_position": 4, "last_revision": 3}]
    assert a.scavenge() == 4
    res = a.append("s", new_events(1, prefix="new"))
    assert res.last_revision == 4


def test_tombstone_visible_across_instances(spark, tmp_path):
    """Two EventLog instances on the same path (the multi-writer setup
    the marker commit protocol exists for): a tombstone committed
    through instance A must be seen by instance B even though B's
    deletion-marker cache was already populated — the shared watermark
    moved, so the cache re-reads (regression: B's stale cache let it
    append to, and read from, a tombstoned stream)."""
    path = str(tmp_path / "log2")
    a = EventLog(spark, path)
    b = EventLog(spark, path)
    a.append("s", new_events(2))
    assert b.read_stream("s").count() == 2   # warms B's caches
    a.tombstone_stream("s")
    with pytest.raises(StreamDeletedError):
        b.append("s", new_events(1))
    with pytest.raises(StreamDeletedError):
        b.read_stream("s")


def test_link_to_and_resolve(log):
    log.append("src", new_events(3))
    log.link_to("index", "src", 1)
    log.link_to("index", "src", 2)
    raw = log.read_stream("index").collect()
    assert [r["event_type"] for r in raw] == ["$>", "$>"]
    assert [r["data"] for r in raw] == ["1@src", "2@src"]

    resolved = log.read_stream("index", resolve_links=True).collect()
    # payload identity is the target's; coordinates stay the link's
    assert [r["event_type"] for r in resolved] == ["event-type", "event-type"]
    assert [r["data"] for r in resolved] == ['{"i": 1}', '{"i": 2}']
    assert [r["uuid"] for r in resolved] == ["uuid-1", "uuid-2"]
    assert [r["stream"] for r in resolved] == ["index", "index"]
    assert [r["revision"] for r in resolved] == [0, 1]


def test_dangling_link_passes_through(log):
    log.append("src", new_events(1))
    log.link_to("index", "src", 99)  # no such target revision
    resolved = log.read_stream("index", resolve_links=True).collect()
    assert [r["event_type"] for r in resolved] == ["$>"]
    assert [r["data"] for r in resolved] == ["99@src"]


def test_link_resolution_respects_deletion_and_retention(log):
    """Resolution answers like the TARGET stream's own read path
    (EventStoreDB resolveLinkTos): a link into soft-deleted or
    $tb-truncated history is unresolved BEFORE scavenge too, and the
    answer is invariant across scavenge(). Proven red on the round-15
    raw-envelope join (the link resolved pre-scavenge, dangled after —
    scavenge was not transparent to link readers)."""
    log.append("src", new_events(6))          # revisions 0..5
    log.link_to("idx", "src", 1)              # into soon-truncated history
    log.link_to("idx", "src", 5)              # stays retained
    log.set_stream_metadata("src", truncate_before=2)

    def snap():
        return [(r["event_type"], r["data"], r["revision"])
                for r in log.read_stream("idx", resolve_links=True).collect()]

    pre = snap()
    assert pre[0] == ("$>", "1@src", 0)       # truncated target: raw link
    assert pre[1] == ("event-type", '{"i": 5}', 1)  # retained: resolves
    log.scavenge()
    assert snap() == pre                      # scavenge-transparent

    # soft-deleted target: same rule, pre- and post-scavenge
    log.append("gone", new_events(2, prefix="g"))
    log.link_to("idx2", "gone", 0)
    log.delete_stream("gone")
    pre2 = [(r["event_type"], r["data"])
            for r in log.read_stream("idx2", resolve_links=True).collect()]
    assert pre2 == [("$>", "0@gone")]
    log.scavenge()
    assert [(r["event_type"], r["data"])
            for r in log.read_stream("idx2", resolve_links=True).collect()] == pre2


def test_resolve_links_noop_without_links(log):
    log.append("s", new_events(4))
    plain = log.read_stream("s").collect()
    resolved = log.read_stream("s", resolve_links=True).collect()
    assert [tuple(r) for r in plain] == [tuple(r) for r in resolved]
    # a link-free probe skips the resolution join entirely (the target
    # collect found nothing) — no join operator in the executed plan
    plan = (log.read_stream("s", resolve_links=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Join" not in plan, plan


def test_deletions_frame_memoized_across_resolves(log):
    """_deletions_frame builds ONE local frame per deletions epoch (a
    resolve-heavy loop used to re-run createDataFrame on every call);
    the cache invalidates with the dict cache on a new marker."""
    log.append("keep", new_events(2))
    log.append("del-0", new_events(1))
    log.delete_stream("del-0")
    f1 = log._deletions_frame()
    f2 = log._deletions_frame()
    assert f1 is f2
    log.append("del-1", new_events(1))
    log.delete_stream("del-1")
    f3 = log._deletions_frame()
    assert f3 is not f1
    assert {r["stream"] for r in f3.collect()} == {"del-0", "del-1"}


def test_resolution_envelope_is_probe_pruned(log):
    """The resolve-links envelope must be filtered by the probe's
    (bounded) distinct link-target streams BEFORE the LeftOuter join:
    Spark cannot broadcast the preserved (probe) side of a LeftOuter
    join, so an UNPRUNED envelope is broadcast only while the whole
    corpus fits the threshold — past it the planner falls back to a
    corpus-wide sort-merge shuffle for a page-sized resolved read.
    Pin: the envelope-side scan's pushed filters name exactly the
    probe's target streams, and a never-targeted stream's data is
    not scanned into the join."""
    log.append("src-a", new_events(3))
    log.append("src-b", new_events(2))
    log.append("decoy", new_events(2))
    log.link_to("idx", "src-a", 1)
    log.link_to("idx", "src-b", 0)
    plan = (log.read_stream("idx", resolve_links=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "In(stream, [src-" in plan or "EqualTo(stream,src-" in plan, plan
    assert "src-a" in plan and "src-b" in plan
    assert "decoy" not in plan, plan
    rows = log.read_stream("idx", resolve_links=True).collect()
    assert [r["uuid"] for r in rows] == ["uuid-1", "uuid-0"]


def test_stream_metadata_retention_reads(log, spark, tmp_path):
    """EventStoreDB $$<stream> metadata: $maxCount / $tb bound reads to
    the retained suffix (boundaries and limits see only retained
    events), $maxAge filters by created against a pinnable clock, the
    last metadata event wins, metadata streams read raw, and a COLD
    EventLog instance honors metadata from disk."""
    log.append("s", new_events(10))
    log.set_stream_metadata("s", max_count=3)
    assert log.get_stream_metadata("s") == {"$maxCount": 3}

    revs = [r.revision for r in log.read_stream("s").collect()]
    assert revs == [7, 8, 9]
    from eventstorm_spark.model import BoundaryKind, Direction
    first = log.read_stream("s", boundary=BoundaryKind.START, count=1).collect()
    assert [r.revision for r in first] == [7]  # START = first RETAINED
    last = log.read_stream("s", direction=Direction.BACKWARDS, count=2).collect()
    assert [r.revision for r in last] == [9, 8]

    # last metadata event wins; $tb combines with $maxCount (max floor)
    log.set_stream_metadata("s", max_count=5, truncate_before=6)
    assert log.get_stream_metadata("s") == {"$maxCount": 5, "$tb": 6}
    assert [r.revision for r in log.read_stream("s").collect()] == [6, 7, 8, 9]

    # the metadata stream itself reads raw (never retention-filtered)
    meta_events = log.read_stream("$$s").collect()
    assert [r.event_type for r in meta_events] == ["$metadata", "$metadata"]

    # cold instance: read-through metadata from disk
    cold = EventLog(spark, log.path)
    assert [r.revision for r in cold.read_stream("s").collect()] == [6, 7, 8, 9]
    assert cold.get_stream_metadata("s") == {"$maxCount": 5, "$tb": 6}

    # $maxAge against a pinned clock: push the clock far forward -> all
    # events age out; the stream still EXISTS (empty read, not missing).
    # maxAge is 1h (not seconds): the "all young" assertion below runs
    # on the REAL clock, so the age must exceed any plausible test-body
    # wall time (a 10s age flaked on slow/loaded hosts the moment the
    # preceding Spark actions took >10s from append to read).
    import datetime as dt
    log.set_stream_metadata("s", max_age_secs=3600.0)
    log.retention_clock = dt.datetime.now(dt.timezone.utc) + dt.timedelta(hours=1)
    assert log.read_stream("s").count() == 0  # cutoff == real now: all aged out
    log.retention_clock = None
    assert log.read_stream("s").count() == 10  # maxAge-only now, all young


def test_stream_metadata_scavenge_and_no_meta_fastpath(log, spark):
    """scavenge() physically removes out-of-retention events (positions
    of survivors unchanged); a log with no $$ streams never pays the
    metadata lookup (single has-any probe, then no filtering)."""
    log.append("a", new_events(6))
    log.append("b", new_events(4, prefix="b"))
    log.set_stream_metadata("a", max_count=2)

    before = {(r.stream, r.revision): r.position
              for r in log.df().collect()}
    removed = log.scavenge()
    assert removed == 4  # a's revisions 0..3
    after = log.df().collect()
    a_revs = sorted(r.revision for r in after if r.stream == "a")
    assert a_revs == [4, 5]
    assert sorted(r.revision for r in after if r.stream == "b") == [0, 1, 2, 3]
    for r in after:  # survivors keep their exact positions
        if not r.stream.startswith("$$"):
            assert before[(r.stream, r.revision)] == r.position
    # appends continue after the retained head
    res = log.append("a", new_events(1, prefix="z"))
    assert res.last_revision == 6

    # no-metadata log: lookup short-circuits after one probe
    log2 = EventLog(spark, log.path + "2")
    log2.append("x", new_events(3))
    assert log2._has_meta_streams is None
    assert [r.revision for r in log2.read_stream("x").collect()] == [0, 1, 2]
    assert log2._has_meta_streams is False
    assert log2.get_stream_metadata("x") == {}


def test_retention_applies_to_all_reads(log):
    """$all reads honor stream retention through the broadcast
    retention-table join: out-of-retention events of metadata'd streams
    disappear from $all, other streams and the metadata events
    themselves remain, and ordering/limits operate on the filtered
    frame."""
    from eventstorm_spark.model import Direction

    log.append("a", new_events(6))
    log.append("b", new_events(3, prefix="b"))
    log.set_stream_metadata("a", max_count=2)

    rows = log.read_all().collect()
    a_revs = sorted(r.revision for r in rows if r.stream == "a")
    assert a_revs == [4, 5]
    assert sorted(r.revision for r in rows if r.stream == "b") == [0, 1, 2]
    assert sum(1 for r in rows if r.stream == "$$a") == 1  # metadata visible
    # backwards limit over the filtered frame
    tail = log.read_all(direction=Direction.BACKWARDS, count=3).collect()
    assert [r.position for r in tail] == sorted(
        (r.position for r in rows), reverse=True)[:3]


def test_retention_composes_with_soft_delete(log):
    """Soft delete and retention stack: delete hides pre-delete history,
    recreation continues revisions, and a later $maxCount applies to
    the RECREATED suffix only — both base-frame filters compose without
    interfering, in stream reads and in $all."""
    log.append("s", new_events(4))
    log.delete_stream("s")
    log.append("s", new_events(4, prefix="n"))      # revisions 4..7
    assert [r.revision for r in log.read_stream("s").collect()] == [4, 5, 6, 7]

    log.set_stream_metadata("s", max_count=2)
    assert [r.revision for r in log.read_stream("s").collect()] == [6, 7]
    all_revs = sorted(r.revision for r in log.read_all().collect()
                      if r.stream == "s")
    assert all_revs == [6, 7]


def test_stream_metadata_cas_two_writer_race(spark, tmp_path):
    """S9′ metadata race proof, mirroring the append race test: two
    EventLog INSTANCES (separate caches + locks; serialization comes
    from the on-disk commit-marker protocol) race to CREATE the
    ``$$s`` metadata stream under a NoStream CAS — exactly one wins.
    The loser's negatively-cached metadata then invalidates on the
    watermark move (ADVICE r8: retention caches were sticky per
    instance), so its reads honor the winner's retention."""
    import threading

    path = str(tmp_path / "log")
    a = EventLog(spark, path)
    b = EventLog(spark, path)
    a.append("s", new_events(5))
    # warm B's caches negatively: no metadata anywhere yet
    assert b.get_stream_metadata("s") == {}
    assert b.read_stream("s").count() == 5

    outcomes: dict[str, object] = {}

    def racer(name, log, max_count):
        try:
            log.set_stream_metadata("s", max_count=max_count,
                                    expected=ExpectedRevision.no_stream())
            outcomes[name] = "won"
        except WrongExpectedRevisionError:
            outcomes[name] = "lost"

    t1 = threading.Thread(target=racer, args=("a", a, 2))
    t2 = threading.Thread(target=racer, args=("b", b, 4))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert sorted(outcomes.values()) == ["lost", "won"], outcomes
    # dense-revision invariant: exactly ONE rev-0 metadata event exists
    # (regression: the CAS head read could be staler than the reserve's
    # tail read, letting both writers commit a rev-0 event)
    assert sorted(r.revision
                  for r in a.read_stream("$$s").collect()) == [0]
    winner_count = 2 if outcomes["a"] == "won" else 4

    # both instances converge on the winner's body (the loser's stale
    # negative cache invalidated by the watermark fence)
    assert a.get_stream_metadata("s") == {"$maxCount": winner_count}
    assert b.get_stream_metadata("s") == {"$maxCount": winner_count}
    assert b.read_stream("s").count() == winner_count

    # last-event-wins update is CAS-able at the metadata stream head;
    # a stale expected revision loses
    with pytest.raises(WrongExpectedRevisionError):
        b.set_stream_metadata("s", max_count=3,
                              expected=ExpectedRevision.at(7))
    b.set_stream_metadata("s", max_count=3,
                          expected=ExpectedRevision.at(0))
    assert a.get_stream_metadata("s") == {"$maxCount": 3}
    assert a.read_stream("s").count() == 3


def test_resolution_envelope_retention_join_broadcasts(log):
    """The round-15 _resolution_envelope adds a retention join to the
    resolve path — it must stay the same broadcast shape the $all read
    prices (#metadata-streams rows; the log never shuffles), and the
    resolved read must not introduce a cartesian/nested-loop join."""
    log.append("src", new_events(4))
    log.link_to("idx", "src", 3)
    log.set_stream_metadata("src", truncate_before=1)
    plan = (log.read_stream("idx", resolve_links=True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan       # retention table broadcast
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_deletion_filter_plan_constant_in_churn(log):
    """The logical deletion filter on the resolve path must be a
    broadcast join against a #deleted-streams-sized frame, NOT an
    expression tree with one ``(stream = s AND position <= b)`` term
    per ever-deleted stream — tombstone state is permanent, so that
    chain grows without bound with stream churn and Catalyst plan
    compile is superlinear in expression size. Pin: no per-deletion
    stream-name literal ever appears in the compiled plan, and the
    plan's size stays flat as deletions accumulate."""
    log.append("src", new_events(4))
    log.link_to("idx", "src", 2)
    for i in range(3):
        log.append(f"churn-{i}", new_events(2))
        log.delete_stream(f"churn-{i}")
    def resolved_plan():
        return (log.read_stream("idx", resolve_links=True)
                ._jdf.queryExecution().executedPlan().toString())

    plan3 = resolved_plan()
    assert "BroadcastHashJoin" in plan3      # deletions frame broadcast
    for i in range(3):                       # no per-deletion literals
        assert f"churn-{i}" not in plan3, plan3
    assert " OR " not in plan3 or plan3.count(" OR ") <= 4

    for i in range(3, 12):
        log.append(f"churn-{i}", new_events(2))
        log.delete_stream(f"churn-{i}")
    plan12 = resolved_plan()
    for i in range(12):
        assert f"churn-{i}" not in plan12, plan12
    # constant shape: 4x the deletions must not grow the plan (allow
    # small slack for differing exchange/stat annotations)
    assert len(plan12) <= len(plan3) * 1.2, (len(plan3), len(plan12))
    # and the resolved read still answers correctly through the churn
    rows = log.read_stream("idx", resolve_links=True).collect()
    assert [r.uuid for r in rows] == ["uuid-2"]


def test_scavenge_join_path_at_churn(log):
    """Scavenge's broadcast-anti-join rewrite at moderate churn: 40
    streams created in ONE BatchAppend commit, 25 of them deleted via
    batch-appended markers (same state `delete_stream` writes), plus a
    retention rule on a survivor — one scavenge must reclaim exactly
    the deleted rows + the out-of-retention prefix, keep every marker,
    and preserve survivor positions."""
    import json

    from eventstorm_spark.log.store import DELETE_EVENT, DELETED_STREAMS
    from eventstorm_spark.model import NewEvent

    log.append("seed", new_events(1, prefix="seed"))
    reqs = [(f"c-{i}", new_events(3, prefix=f"c{i}"),
             ExpectedRevision.no_stream()) for i in range(40)]
    log.append_multi(reqs)
    tail = log.tail_position()
    markers = [NewEvent(uuid=f"$del-c-{i}-{tail}",
                        event_type=DELETE_EVENT,
                        data=json.dumps({"stream": f"c-{i}",
                                         "before_position": tail,
                                         "last_revision": 2}))
               for i in range(25)]
    log.append(DELETED_STREAMS, markers, check_duplicates=False)
    log._deletions = None
    log.set_stream_metadata("c-30", truncate_before=2)  # keep last rev

    before = {r.stream: r.position for r in log.df().collect()
              if r.stream == "c-39"}
    removed = log.scavenge()
    assert removed == 25 * 3 + 2, removed
    df = log.df()
    # markers retained; survivors intact at ORIGINAL positions
    assert df.where(df.stream == DELETED_STREAMS).count() == 25
    assert df.where(df.stream.startswith("c-")).count() == 15 * 3 - 2
    after = {r.stream: r.position for r in df.collect()
             if r.stream == "c-39"}
    assert after == before
    # deleted streams recreate with continued revisions through the
    # join-based deletion state (the dict survives the rewrite)
    res = log.append("c-3", new_events(1, prefix="rec"))
    assert res.last_revision == 3
