"""EventLog on Delta (``format="delta"``) — the CAS + contention suite
from test_append, re-run against the Delta transaction log instead of
the ``_commits/`` marker protocol.

Backend: with delta-spark installed the suite runs on real Delta; in
this container it runs on the local transaction-log shim
(``log/deltashim.py`` — same serializable optimistic-commit semantics
over O_EXCL version files), so the ``format="delta"`` store branch
executes either way. ``delta.backend()`` reports which backend ran.
"""

from __future__ import annotations

import pytest

from eventstorm_spark.errors import WrongExpectedRevisionError
from eventstorm_spark.log.delta import DELTA_AVAILABLE, backend, is_conflict
from eventstorm_spark.log.store import EventLog
from eventstorm_spark.model import ExpectedRevision, NewEvent

def needs_delta(fn):  # suite runs on either backend (delta or shim)
    return fn


def test_delta_falls_back_to_shim_with_warning(spark, tmp_path):
    if DELTA_AVAILABLE:  # pragma: no cover - container has no delta
        pytest.skip("delta-spark installed; shim fallback not applicable")
    import warnings

    import eventstorm_spark.log.delta as dmod
    from tests.fixtures import new_events

    assert backend() == "shim"
    dmod._warned_shim = False
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        log = EventLog(spark, str(tmp_path / "dlog"), format="delta")
        log.append("s", new_events(1))
    assert any("transaction-log shim" in str(w.message) for w in caught)


def test_unknown_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="unsupported log format"):
        EventLog(spark, str(tmp_path / "xlog"), format="orc")


def test_conflict_classifier_matches_delta_exceptions():
    class ConcurrentAppendException(Exception):
        pass

    assert is_conflict(ConcurrentAppendException("files were added"))
    assert is_conflict(RuntimeError(
        "io.delta.exceptions.ConcurrentWriteException: txn conflict"))
    assert not is_conflict(RuntimeError("plain failure"))


@needs_delta
def test_delta_append_assigns_dense_revisions_and_positions(spark, tmp_path):
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "dlog"), format="delta")
    log.append("s", new_events(3))
    res = log.append("s", new_events(2, prefix="b"))
    assert res.first_position == 4 and res.last_revision == 4
    rows = log.df().orderBy("position").collect()
    assert [r.position for r in rows] == [1, 2, 3, 4, 5]
    assert [r.revision for r in rows] == [0, 1, 2, 3, 4]


@needs_delta
def test_delta_expected_revision_cas(spark, tmp_path):
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "dlog"), format="delta")
    log.append("s", new_events(1))
    with pytest.raises(WrongExpectedRevisionError):
        log.append("s", new_events(1, prefix="x"), ExpectedRevision.at(5))
    log.append("s", new_events(1, prefix="y"), ExpectedRevision.at(0))


@needs_delta
def test_delta_two_writers_never_collide_on_positions(spark, tmp_path):
    """Two EventLog instances (two-process shape: separate caches) must
    serialize through Delta's optimistic commit: the loser's merge
    conflicts or inserts nothing, it refreshes and lands after the
    winner."""
    from tests.fixtures import new_events

    path = str(tmp_path / "dlog")
    a = EventLog(spark, path, format="delta")
    b = EventLog(spark, path, format="delta")
    b.tail_position()  # cache tail=0 in B before A commits
    a.append("s-a", new_events(3, prefix="a"))
    res_b = b.append("s-b", new_events(2, prefix="b"))
    assert res_b.first_position == 4
    pos = sorted(r["position"] for r in a.df().select("position").collect())
    assert pos == [1, 2, 3, 4, 5]


@needs_delta
def test_delta_concurrent_appends_keep_positions_gapless(spark, tmp_path):
    import threading

    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "dlog"), format="delta")
    errors = []

    def worker(i):
        try:
            for j in range(3):
                log.append(f"w-{i}", new_events(4, prefix=f"w{i}-{j}"))
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    rows = log.df().select("stream", "position", "revision").collect()
    assert sorted(r.position for r in rows) == list(range(1, 49))
    for i in range(4):
        revs = sorted(r.revision for r in rows if r.stream == f"w-{i}")
        assert revs == list(range(12))


def test_own_commits_do_not_evict_warm_caches(spark, tmp_path):
    """Single-writer fast path: this instance's own commit advances the
    shared watermark, and the cache epoch must advance with it —
    otherwise every append drops the head/tail/deletions caches and
    pays full-log rescans. A batch drops only the caches it stales
    itself: a raw $$-append drops the retention caches, a delete marker
    drops the deletions cache. A foreign commit is folded in: the tail
    moves and the caches its rows do not touch survive (the fallback
    drop is pinned by test_wide_foreign_gap_drops_every_cache)."""
    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    log.append("s-1", new_events(2, prefix="a"))
    log.append("s-x", new_events(1, prefix="x"))
    log.delete_stream("s-x")
    log.append("s-1", new_events(1, prefix="b"))
    assert log._revisions.get("s-1") == 2 and log._tail_position == 5
    dels = log._load_deletions()
    assert dels["s-x"][0] == "deleted"
    # the epoch must consider its own commits fresh
    log._sync_caches()
    assert log._cache_epoch == log._read_watermark()
    assert log._revisions.get("s-1") == 2, "own commit evicted the cache"
    assert log._tail_position == 5
    log.append("s-1", new_events(1, prefix="c"))
    assert log._deletions is dels, "own commit evicted the deletions cache"

    # an own delete_stream stales (and drops) the deletions cache
    log.delete_stream("s-1")
    assert log._deletions is None
    assert log._deletion_state("s-1")[0] == "deleted"
    assert log._cache_epoch == log._read_watermark()

    # raw $$-append drops the retention caches
    assert log._any_meta_streams() is False
    assert log.get_stream_metadata("s-2") == {}
    log.append("$$s-2", [NewEvent(uuid="m", event_type="$metadata",
                                  data='{"$maxCount": 1}')])
    assert log._has_meta_streams is None and not log._stream_meta
    assert log.get_stream_metadata("s-2") == {"$maxCount": 1}

    # a second instance's commit is folded into the caches (cross-process)
    assert log._deletions_frame() is not None  # warms both deletion caches
    dels, delf = log._deletions, log._deletions_df
    other = EventLog(spark, str(tmp_path / "log"))
    other.append("s-2", new_events(1, prefix="o"))
    log._sync_caches()
    assert log._cache_epoch == log._read_watermark() == 9
    assert log._tail_position == 9 and log._revisions.get("s-1") == 3
    assert log._deletions is dels and log._deletions_df is delf
    assert log._stream_meta == {"s-2": {"$maxCount": 1}}


def test_stalled_foreign_commit_keeps_fences_conservative(spark, tmp_path):
    """A foreign writer can be published-but-unadvertised (fenced data
    write done, crash/stall before the watermark advance). An own
    commit built on top of such rows must NOT advance the cache epoch
    — the foreign writer's advance is then a no-op, so an epoch frozen
    past its rows would keep a stale head cache alive forever
    (duplicate revisions / wrongly-passing CAS)."""
    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    p = str(tmp_path / "log")
    a = EventLog(spark, p)
    a.append("s", new_events(3, prefix="a"))   # revs 0..2
    a.append("t", new_events(1, prefix="t"))
    assert a._cache_epoch == a._read_watermark()

    b = EventLog(spark, p)
    b._advance_watermark = lambda pos: b._read_watermark()  # stall model
    b.append("s", new_events(1, prefix="b"))   # rev 3, unadvertised

    # a: warm revision cache, tail cache evicted (read-through repop)
    a._tail_position = None
    assert a._revisions.get("s") == 2
    a.append("t", new_events(1, prefix="t2"))
    # base position sat above the pre-advance watermark, so the epoch
    # must have stayed behind (next sync drops every cache)
    assert a._cache_epoch != a._read_watermark()
    res = a.append("s", new_events(1, prefix="a2"))
    assert res.last_revision == 4  # continues after b's rev 3


def test_stalled_foreign_rows_stay_out_of_a_stream_read(spark, tmp_path):
    """An unbounded stream read is the stream as of the head this
    instance synced. With a foreign writer's row published but not
    advertised, the read returns revisions 0..synced head in either
    direction: its ``revision <= head`` predicate keeps the top-k limit
    from sliding a backwards window past the oldest event."""
    from eventstorm_spark.model import Direction
    from tests.fixtures import new_events

    p = str(tmp_path / "log")
    a = EventLog(spark, p)
    a.append("s", new_events(3, prefix="a"))   # revs 0..2
    b = EventLog(spark, p)
    b._advance_watermark = lambda pos: b._read_watermark()  # stall model
    b.append("s", new_events(1, prefix="b"))   # rev 3, unadvertised

    def revs(log, direction):
        return [r.revision for r in
                log.read_stream("s", direction=direction).collect()]

    assert a.head_revision("s") == 2
    assert revs(a, Direction.FORWARDS) == [0, 1, 2]
    assert revs(a, Direction.BACKWARDS) == [2, 1, 0]
    cold = EventLog(spark, p)   # reads the head from the table
    assert revs(cold, Direction.BACKWARDS) == [3, 2, 1, 0]


def _stalled_writer(spark, path):
    """A second instance whose appends publish their rows but never
    advertise them (a writer stalled before its watermark advance)."""
    c = EventLog(spark, path)
    c._advance_watermark = lambda pos: c._read_watermark()
    return c


def test_fold_without_a_cached_tail_drops_every_cache(spark, tmp_path):
    """A head cached while no tail is cached may be older than rows a
    later fresh tail read sees (a stalled writer's, published above the
    watermark). So a foreign commit is folded only with a tail cached:
    here it drops every cache without a scan, and the append re-reads
    the head after the tail instead of reusing a revision."""
    from tests.test_append import _count_jobs
    from tests.fixtures import new_events

    p = str(tmp_path / "log")
    EventLog(spark, p).append("s", new_events(3, prefix="w"))  # revs 0..2
    a = EventLog(spark, p)
    assert a.read_stream("s").count() == 3
    assert a._revisions["s"] == 2 and a._tail_position is None
    EventLog(spark, p).append("s", new_events(1, prefix="b"))  # rev 3
    _stalled_writer(spark, p).append("s", new_events(1, prefix="c"))  # rev 4
    assert _count_jobs(spark, a._sync_caches) == 0
    _assert_dropped(a)
    res = a.append("s", new_events(1, prefix="a"), check_duplicates=False)
    assert res.last_revision == 5
    revs = sorted(r.revision for r in a.df().where("stream = 's'").collect())
    assert revs == [0, 1, 2, 3, 4, 5]


def test_fresh_tail_read_drops_heads_cached_before_it(spark, tmp_path):
    """With the watermark unmoved, a fresh tail read that lands above
    the epoch has seen a stalled writer's rows, which a head cached
    before it misses: the read drops the caches, so the append CASes
    against the live head and never reuses a revision."""
    from tests.fixtures import new_events

    p = str(tmp_path / "log")
    EventLog(spark, p).append("s", new_events(3, prefix="w"))  # revs 0..2
    a = EventLog(spark, p)
    assert a.head_revision("s") == 2 and a._tail_position is None
    _stalled_writer(spark, p).append("s", new_events(1, prefix="c"))  # rev 3
    assert a.tail_position() == 4
    assert "s" not in a._revisions
    res = a.append("s", new_events(1, prefix="a"), check_duplicates=False)
    assert res.last_revision == 4
    revs = sorted(r.revision for r in a.df().where("stream = 's'").collect())
    assert revs == [0, 1, 2, 3, 4]


def _warm_pair(spark, tmp_path):
    """Instance ``a`` with warm heads, tail, uuid index, deletions and
    metadata caches for streams s (revs 0..1) and x (soft-deleted), and
    a second instance ``b`` on the same path."""
    from tests.fixtures import new_events

    path = str(tmp_path / "log")
    a = EventLog(spark, path)
    a.append("s", new_events(2, prefix="s"))
    a.append("x", new_events(1, prefix="x"))
    a.delete_stream("x")
    assert a.read_stream("s").count() == 2  # deletions + metadata probes
    assert a.get_stream_metadata("s") == {}
    assert "s" in a._uuids and a._revisions["s"] == 1
    assert a._deletions is not None and a._has_meta_streams is False
    return a, EventLog(spark, path)


def test_foreign_append_is_folded_into_warm_caches(spark, tmp_path):
    """A foreign commit moves the clock by its rows only: one scan of
    those positions advances the cached head, tail and uuid set, and
    the caches its rows do not touch (deletions, metadata) survive."""
    from eventstorm_spark.errors import ConflictError
    from tests.test_append import _count_jobs
    from tests.fixtures import new_events

    a, b = _warm_pair(spark, tmp_path)
    dels, tail = a._deletions, a.tail_position()
    dup = new_events(1, prefix="b")
    b.append("s", dup)
    assert _count_jobs(spark, a._sync_caches) == 1
    assert a._cache_epoch == a._read_watermark() == tail + 1
    assert a._revisions["s"] == 2 and a._tail_position == tail + 1
    assert dup[0].uuid in a._uuids["s"]
    assert a._deletions is dels and a._has_meta_streams is False
    with pytest.raises(ConflictError):
        a.append("s", dup)
    assert a.append("s", new_events(1, prefix="a")).last_revision == 3
    assert [r.revision for r in a.read_stream("s").collect()] == [0, 1, 2, 3]


def test_folded_delete_and_tombstone_are_seen(spark, tmp_path):
    """A $deleted-streams row in the folded gap drops the deletions
    cache, so the next read and append see another instance's soft
    delete and tombstone."""
    from eventstorm_spark.errors import StreamDeletedError, StreamNotFoundError
    from tests.fixtures import new_events

    a, b = _warm_pair(spark, tmp_path)
    a.append("t", new_events(1, prefix="t"))
    b.delete_stream("s")
    with pytest.raises(StreamNotFoundError):
        a.read_stream("s")
    assert a.append("s", new_events(1, prefix="r")).last_revision == 2
    b.tombstone_stream("t")
    with pytest.raises(StreamDeletedError):
        a.append("t", new_events(1, prefix="t2"))
    with pytest.raises(StreamDeletedError):
        a.read_stream("t")


def test_folded_metadata_is_seen(spark, tmp_path):
    """A $$ row in the folded gap drops the metadata caches, so another
    instance's $maxCount applies to the next read and lookup."""
    a, b = _warm_pair(spark, tmp_path)
    b.set_stream_metadata("s", max_count=1)
    assert a.get_stream_metadata("s") == {"$maxCount": 1}
    assert [r.revision for r in a.read_stream("s").collect()] == [1]


def _assert_dropped(log):
    assert log._tail_position is None and not log._revisions
    assert not log._uuids and log._uuid_count == 0
    assert log._deletions is None and log._deletions_df is None
    assert not log._stream_meta and log._has_meta_streams is None


def test_wide_foreign_gap_drops_every_cache(spark, tmp_path, monkeypatch):
    """A clock advance wider than the fold's row cap is not scanned: the
    sync drops every cache and the next lookups re-read the table."""
    from eventstorm_spark.log import store
    from tests.fixtures import new_events

    a, b = _warm_pair(spark, tmp_path)
    monkeypatch.setattr(store, "_FOLD_ROW_CAP", 1)
    b.append("s", new_events(2, prefix="b"))
    a._sync_caches()
    assert a._cache_epoch == a._read_watermark()
    _assert_dropped(a)
    assert a.append("s", new_events(1, prefix="a")).last_revision == 4


def test_gap_missing_a_position_drops_every_cache(spark, tmp_path,
                                                  monkeypatch):
    """The fold trusts the gap only when it holds every advertised
    position exactly once: a scan that misses one position (here it
    returns another row twice instead) drops every cache."""
    from pyspark.sql import functions as F

    from tests.fixtures import new_events

    a, b = _warm_pair(spark, tmp_path)
    tail = a.tail_position()
    b.append("s", new_events(2, prefix="b"))  # positions tail+1, tail+2
    real = a.df
    monkeypatch.setattr(a, "df", lambda: real().where(
        F.col("position") != tail + 1).unionByName(
        real().where(F.col("position") == tail + 2)))
    a._sync_caches()
    monkeypatch.undo()
    assert a._cache_epoch == a._read_watermark()
    _assert_dropped(a)
    assert a.append("s", new_events(1, prefix="a")).last_revision == 4


def test_materialize_on_delta_log_goes_through_transaction_log(spark, tmp_path):
    """Bulk link materialization on a format='delta' log must commit
    through the transaction log. Regression: a delta log has no commit
    marker, and the bulk writer treated a missing marker as a DIRECT
    parquet append — rows written into the table path outside the
    commit protocol, invisible to the shim's snapshot (and corrupting
    under real Delta)."""
    from pyspark.sql import functions as F

    from eventstorm_spark.projections.system import materialize
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "dlog"), format="delta")
    log.append("acct-1", new_events(3, prefix="a"))
    log.append("cart-7", new_events(2, prefix="b"))

    n = materialize(log.df().where(~F.col("stream").startswith("$")),
                    log, which=["$by_category"])
    assert n == 5
    # visible through the TRANSACTION-LOG snapshot, not a directory scan
    ce = log.read_stream("$ce-acct").orderBy("revision").collect()
    assert [r["revision"] for r in ce] == [0, 1, 2]
    assert log.read_stream("$ce-cart").count() == 2
    # positions continue gapless past the source events
    links = log.df().where(F.col("stream").startswith("$ce-"))
    assert sorted(r["position"] for r in links.collect()) == [6, 7, 8, 9, 10]
    # and the table path holds no rogue parquet outside the shim's
    # data/ dir (the bug wrote part files into the table root)
    import os
    rogue = [f for f in os.listdir(str(tmp_path / "dlog"))
             if f.endswith(".parquet")]
    assert rogue == []


def test_delta_tombstone_visible_across_instances(spark, tmp_path):
    """The cross-process deletion fence, delta clock: instance B's
    populated deletion-marker cache must re-read after instance A
    commits a tombstone through the transaction log — the log VERSION
    is the staleness clock (the marker protocol uses the shared
    watermark; format='delta' had no fence at all and B's sticky cache
    let it append to, and read from, a tombstoned stream)."""
    from eventstorm_spark.errors import StreamDeletedError
    from tests.fixtures import new_events

    path = str(tmp_path / "dlog2")
    a = EventLog(spark, path, format="delta")
    b = EventLog(spark, path, format="delta")
    a.append("s", new_events(2))
    assert b.read_stream("s").count() == 2   # warms B's caches
    a.tombstone_stream("s")
    with pytest.raises(StreamDeletedError):
        b.append("s", new_events(1, prefix="x"))
    with pytest.raises(StreamDeletedError):
        b.read_stream("s")


def test_delta_head_cache_fence_blocks_duplicate_revisions(spark, tmp_path):
    """The append-path staleness fence, delta clock: a fresh TAIL plus
    a stale per-stream HEAD would pass the position-overlap validation
    and commit duplicate (stream, revision) pairs. Scenario: B caches
    s's head, A appends more to s, B appends to t (fresh tail), then B
    appends to s — without the transaction-log-version fence B mints
    revision 3 again (marker mode fences this via the shared
    watermark)."""
    from tests.fixtures import new_events

    path = str(tmp_path / "dlog3")
    a = EventLog(spark, path, format="delta")
    b = EventLog(spark, path, format="delta")
    a.append("s", new_events(3, prefix="a"))
    assert b.head_revision("s") == 2          # warms B's head cache
    a.append("s", new_events(2, prefix="a2"))  # revisions 3, 4
    b.append("t", new_events(1, prefix="t"))   # B's tail now fresh
    res = b.append("s", new_events(1, prefix="b"))
    assert res.last_revision == 5              # continues past A's 4
    revs = [r["revision"] for r in
            b.read_stream("s").orderBy("revision").collect()]
    assert revs == [0, 1, 2, 3, 4, 5]          # dense, no duplicates


def test_delta_metadata_visible_across_instances(spark, tmp_path):
    """The retention caches follow the delta clock too: B sets
    ``$maxCount`` through the transaction log and A's next read, with
    its metadata caches already warm ("no metadata streams"), must
    apply it. Before one cache epoch covered every cache, the metadata
    caches never revalidated under format='delta' and A kept reading
    all 5 events."""
    from tests.fixtures import new_events

    path = str(tmp_path / "dlog4")
    a = EventLog(spark, path, format="delta")
    b = EventLog(spark, path, format="delta")
    a.append("s", new_events(5))
    assert a.read_stream("s").count() == 5   # warms A's metadata caches
    b.set_stream_metadata("s", max_count=2)
    assert a.read_stream("s").count() == 2
    assert a.get_stream_metadata("s") == {"$maxCount": 2}
