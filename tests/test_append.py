"""Append-path goldens — ported from
/root/reference/internal/streams/streams_test.go:125-178 (revision and
position assignment, append result) and :136-172 (expected-revision
conflicts), plus validation (streams.go:191-203)."""

from __future__ import annotations

import os

import pytest

from eventstorm_spark.errors import (
    ConflictError,
    InvalidEventError,
    StreamNotFoundError,
    WrongExpectedRevisionError,
)
from eventstorm_spark.log.store import EventLog
from eventstorm_spark.model import ExpectedRevision, NewEvent

from tests.fixtures import new_events


@pytest.fixture()
def log(spark, tmp_path):
    return EventLog(spark, str(tmp_path / "log"))


def test_append_assigns_dense_revisions_and_positions(log):
    res = log.append("test-stream", new_events(10))
    assert res.first_position == 1
    assert res.last_revision == 9
    rows = log.read_stream("test-stream").collect()
    assert [r["revision"] for r in rows] == list(range(10))
    assert [r["position"] for r in rows] == list(range(1, 11))


def test_append_result_tracks_first_position_last_revision(log):
    log.append("a", new_events(3))
    res = log.append("b", new_events(4, prefix="b"))
    # positions are global: stream b starts after stream a's 3 events
    assert res.first_position == 4
    assert res.last_revision == 3
    res2 = log.append("a", new_events(2, prefix="a2"))
    assert res2.first_position == 8
    assert res2.last_revision == 4  # continues a's revision sequence


def test_append_stamps_metadata(log):
    log.append("s", new_events(1))
    row = log.read_stream("s").collect()[0]
    assert row["metadata"]["type"] == "event-type"
    assert row["metadata"]["content-type"] == "application/json"
    assert int(row["metadata"]["created"]) > 0
    assert row["created"] == int(row["metadata"]["created"])


# streams_test.go:136-172 — expected-revision conflict matrix
def test_expected_revision_no_stream_on_existing(log):
    log.append("s", new_events(1))
    with pytest.raises(WrongExpectedRevisionError):
        log.append("s", new_events(1, prefix="x"), ExpectedRevision.no_stream())


def test_expected_revision_exists_on_missing(log):
    with pytest.raises(WrongExpectedRevisionError):
        log.append("missing", new_events(1), ExpectedRevision.stream_exists())


def test_expected_revision_mismatch(log):
    log.append("s", new_events(16))  # head revision 15
    with pytest.raises(WrongExpectedRevisionError):
        log.append("s", new_events(1, prefix="x"), ExpectedRevision.at(20))
    # correct expectation succeeds
    res = log.append("s", new_events(1, prefix="y"), ExpectedRevision.at(15))
    assert res.last_revision == 16


def test_failed_append_writes_nothing(log):
    log.append("s", new_events(2))
    with pytest.raises(WrongExpectedRevisionError):
        log.append("s", new_events(3, prefix="x"), ExpectedRevision.at(99))
    assert log.df().count() == 2
    assert log.head_revision("s") == 1


# streams_test.go:125-134 — validation
def test_validation_rejects_missing_type(log):
    with pytest.raises(InvalidEventError):
        log.append("s", [NewEvent("u1", "", "{}")])


def test_validation_rejects_missing_content_type(log):
    with pytest.raises(InvalidEventError):
        log.append("s", [NewEvent("u1", "t", "{}", content_type="")])


# backend.go:311-329 — duplicate (stream, uuid) conflict
def test_duplicate_uuid_conflict(log):
    log.append("s", new_events(2))
    with pytest.raises(ConflictError):
        log.append("s", new_events(1))  # same uuid-0
    # same uuid on a DIFFERENT stream is fine (PK is (stream, uuid))
    log.append("other", new_events(1))


def test_duplicate_uuid_within_batch(log):
    evs = new_events(1) + new_events(1)
    with pytest.raises(ConflictError):
        log.append("s", evs)


def test_read_missing_stream_raises(log):
    log.append("s", new_events(1))
    with pytest.raises(StreamNotFoundError):
        log.read_stream("nope")


def test_cold_log_recovers_state(spark, log):
    log.append("s", new_events(5))
    cold = EventLog(spark, log.path)
    assert cold.head_revision("s") == 4
    assert cold.tail_position() == 5
    res = cold.append("s", new_events(1, prefix="z"), ExpectedRevision.at(4))
    assert res.first_position == 6


def test_concurrent_appends_keep_positions_gapless(spark, tmp_path):
    # the single-writer lock must serialize interleaved appenders:
    # positions stay dense/monotonic, per-stream revisions stay dense.
    import threading

    from eventstorm_spark.log.store import EventLog
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "clog"))
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
    positions = sorted(r.position for r in rows)
    assert positions == list(range(1, 49))  # dense, no gaps, no dupes
    for i in range(4):
        revs = sorted(r.revision for r in rows if r.stream == f"w-{i}")
        assert revs == list(range(12))


# -- optimistic commit protocol (cross-process CAS; Delta-style) ----------


def test_two_writers_never_collide_on_positions(spark, tmp_path):
    """Two EventLog instances on the same path (the two-process shape:
    separate locks, separate caches) must serialize through the commit
    markers: the loser re-reads the advanced tail and lands after the
    winner — positions stay unique and gapless."""
    from tests.fixtures import new_events

    path = str(tmp_path / "log")
    a = EventLog(spark, path)
    b = EventLog(spark, path)
    b.tail_position()  # cache tail=0 in B before A commits
    a.append("s-a", new_events(3, prefix="a"))
    res_b = b.append("s-b", new_events(2, prefix="b"))  # stale cache -> retry
    assert res_b.first_position == 4
    pos = sorted(r["position"] for r in a.df().select("position").collect())
    assert pos == [1, 2, 3, 4, 5]


def test_stale_cas_fails_after_optimistic_retry(spark, tmp_path):
    """A writer whose expected revision was satisfied when it started
    but is stale by commit time must get WrongExpectedRevisionError
    from the re-validation, not corrupt the stream."""
    from tests.fixtures import new_events

    path = str(tmp_path / "log")
    a = EventLog(spark, path)
    b = EventLog(spark, path)
    a.append("s", new_events(1, prefix="init"))
    b.head_revision("s")  # B caches head=0
    b.tail_position()
    a.append("s", new_events(1, prefix="a2"))  # advances head to 1
    with pytest.raises(WrongExpectedRevisionError):
        b.append("s", new_events(1, prefix="b"),
                 ExpectedRevision.at(0))
    # stream untouched by the failed append
    assert a.head_revision("s") == 1


def test_orphan_commit_marker_is_reclaimed(spark, tmp_path):
    """A marker left by a crashed writer (no data behind it) is
    reclaimed after the grace period and its position is reused —
    the log stays gapless."""
    import os
    import time as _time

    from tests.fixtures import new_events

    path = str(tmp_path / "log")
    log = EventLog(spark, path)
    log.append("s", new_events(1, prefix="x"))
    # fake a crashed writer's claim on position 2, aged past the grace
    cdir = os.path.join(path, "_commits")
    orphan = os.path.join(cdir, f"{2:020d}")
    with open(orphan, "w") as f:
        f.write("{}")
    old = _time.time() - 3600
    os.utime(orphan, (old, old))
    res = log.append("s", new_events(1, prefix="y"))
    assert res.first_position == 2


def test_stolen_claim_fence_aborts_commit(spark, tmp_path):
    """The ADVICE scenario: a writer pauses past the grace period
    between reservation and data write; a contender steals the claim
    and commits. The paused writer's fence must trip — its commit
    publishes NOTHING (no duplicate positions), and its retry lands
    after the thief."""
    import time as _time

    from tests.fixtures import new_events

    path = str(tmp_path / "log")
    a = EventLog(spark, path, commit_grace_secs=0.1)
    b = EventLog(spark, path, commit_grace_secs=0.1)
    a._ensure_watermark()
    token_a = "deadbeef"
    marker = a._reserve(1, "s", 1, token_a)
    assert marker is not None
    _time.sleep(0.3)  # a's "pause" — no heartbeat is running yet
    res_b = b.append("s", new_events(1, prefix="b"))  # steals + commits
    assert res_b.first_position == 1
    # a wakes up and tries to publish under its stolen claim
    ev = new_events(1, prefix="a")[0]
    row = ("s", ev.uuid, ev.data, {}, None, 0, 1, ev.event_type,
           ev.content_type, 0)
    assert a._publish_rows([row], 0, marker, token_a) is False  # fence tripped
    rows = a.df().select("position").collect()
    assert sorted(r.position for r in rows) == [1]  # only b's event
    # the public retry path lands after the thief
    a._tail_position = None
    a._revisions.clear()
    res_a = a.append("s", new_events(1, prefix="a2"))
    assert res_a.first_position == 2


def test_heartbeat_keeps_slow_writer_alive(spark, tmp_path):
    """A slow-but-alive writer's lease is refreshed by the heartbeat, so
    a contender must NOT reclaim it even after the grace period."""
    import os
    import threading
    import time as _time

    path = str(tmp_path / "log")
    a = EventLog(spark, path, commit_grace_secs=0.2)
    a._ensure_watermark()
    marker = a._reserve(1, "s", 1, "tok-a")
    stop = threading.Event()
    hb = threading.Thread(target=a._heartbeat, args=(marker, stop), daemon=True)
    hb.start()
    try:
        _time.sleep(0.5)  # well past the grace period
        b = EventLog(spark, path, commit_grace_secs=0.2)
        assert b._reserve(1, "s", 1, "tok-b") is None  # live claim holds
        assert a._marker_owned(marker, "tok-a")
    finally:
        stop.set()
        hb.join(timeout=5.0)


def test_committed_markers_are_garbage_collected(spark, tmp_path):
    """_commits/ must not grow one file per append: committed markers
    are compacted into the high-watermark file."""
    import os

    from tests.fixtures import new_events

    path = str(tmp_path / "log")
    log = EventLog(spark, path)
    for i in range(5):
        log.append("s", new_events(2, prefix=f"b{i}"))
    cdir = os.path.join(path, "_commits")
    leftovers = [n for n in os.listdir(cdir) if n.isdigit()]
    assert leftovers == []  # all markers GC'd behind the watermark
    assert log._read_watermark() == 10
    assert not os.path.exists(os.path.join(path, "_staging"))


def test_watermark_fences_stale_cache_after_marker_gc(spark, tmp_path):
    """With committed markers GC'd, a writer with a stale cached tail
    claims a mid-log position unopposed by any marker — the watermark
    check must catch it and retry at the real tail."""
    from tests.fixtures import new_events

    path = str(tmp_path / "log")
    log = EventLog(spark, path)
    log.append("s", new_events(3, prefix="x"))  # tail=3, markers GC'd
    log._tail_position = 0  # poison: simulate a stale cross-process cache
    res = log.append("s2", new_events(1, prefix="y"))
    assert res.first_position == 4  # not a duplicate of 1
    rows = log.df().select("position").collect()
    assert sorted(r.position for r in rows) == [1, 2, 3, 4]


def test_watermark_advance_is_monotonic_under_contention(spark, tmp_path):
    """The flock'd read-modify-write must never regress the watermark,
    whatever interleaving concurrent advancers produce — a regression
    below a GC'd marker would reopen the stale-cache hole."""
    import threading

    log = EventLog(spark, str(tmp_path / "log"))
    values = list(range(1, 101))
    errors = []

    def worker(chunk):
        try:
            for v in chunk:
                log._advance_watermark(v)
        except Exception as ex:  # pragma: no cover
            errors.append(ex)

    import random
    rng = random.Random(7)
    chunks = [values[i::4] for i in range(4)]
    for c in chunks:
        rng.shuffle(c)
    threads = [threading.Thread(target=worker, args=(c,)) for c in chunks]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert log._read_watermark() == 100
    # advancing to a lower value never regresses
    assert log._advance_watermark(5) == 100
    assert log._read_watermark() == 100


def test_append_multi_atomic_across_streams(spark, tmp_path):
    """BatchAppend semantics (proto-declared, stubbed in the reference):
    one commit covers several streams — positions dense across the
    batch in request order, per-stream revisions dense with
    batch-internal continuation for a repeated stream."""
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    res = log.append_multi([
        ("m-a", new_events(2, prefix="a"), ExpectedRevision.any()),
        ("m-b", new_events(3, prefix="b"), ExpectedRevision.no_stream()),
        ("m-a", new_events(1, prefix="a2"), ExpectedRevision.any()),
    ])
    assert [(r.stream, r.first_position, r.last_revision, r.count) for r in res] == [
        ("m-a", 1, 1, 2), ("m-b", 3, 2, 3), ("m-a", 6, 2, 1)]
    rows = log.df().orderBy("position").collect()
    assert [r.position for r in rows] == [1, 2, 3, 4, 5, 6]
    assert [r.revision for r in rows if r.stream == "m-a"] == [0, 1, 2]
    assert [r.revision for r in rows if r.stream == "m-b"] == [0, 1, 2]
    # markers GC'd, watermark advanced over the whole batch
    assert log._read_watermark() == 6
    # a follow-up single append continues cleanly
    assert log.append("m-b", new_events(1, prefix="b2"),
                      ExpectedRevision.at(2)).first_position == 7


def test_append_multi_rejects_whole_batch_on_one_bad_cas(spark, tmp_path):
    """One failing expected-revision check rejects the ENTIRE batch —
    no partial writes."""
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    log.append("m-a", new_events(2, prefix="seed"))
    with pytest.raises(WrongExpectedRevisionError):
        log.append_multi([
            ("m-b", new_events(2, prefix="ok"), ExpectedRevision.any()),
            ("m-a", new_events(1, prefix="bad"), ExpectedRevision.at(9)),
        ])
    rows = log.df().collect()
    assert len(rows) == 2  # only the seed events
    assert {r.stream for r in rows} == {"m-a"}
    # and no orphan claim blocks the next writer
    assert log.append("m-b", new_events(1, prefix="x")).first_position == 3


def test_append_multi_duplicate_uuid_in_batch(spark, tmp_path):
    from tests.fixtures import new_events

    log = EventLog(spark, str(tmp_path / "log"))
    evs = new_events(1, prefix="dup")
    with pytest.raises(ConflictError):
        log.append_multi([
            ("m-a", evs, ExpectedRevision.any()),
            ("m-a", evs, ExpectedRevision.any()),
        ])
    assert log.df().count() == 0


def test_compaction_files_position_disjoint_and_watermark_survives(spark, tmp_path):
    """compact() must produce position-DISJOINT files (the file-footer
    pruning contract, SCALE.md §1) and re-backfill the watermark that
    the directory overwrite wipes, so post-compaction appends stay
    fenced and land at the right tail."""
    import glob

    from pyspark.sql import functions as F

    from tests.fixtures import new_events

    path = str(tmp_path / "log")
    log = EventLog(spark, path)
    for i in range(6):
        log.append(f"s-{i % 2}", new_events(5, prefix=f"c{i}"))
    log.compact(num_files=4)

    ranges = []
    for f in sorted(glob.glob(path + "/*.parquet")):
        row = (spark.read.parquet(f)
               .agg(F.min("position").alias("lo"), F.max("position").alias("hi"))
               .collect()[0])
        if row["lo"] is not None:
            ranges.append((row["lo"], row["hi"]))
    ranges.sort()
    assert len(ranges) >= 2  # actually split across files
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint: footer stats prune whole files
    assert ranges[0][0] == 1 and ranges[-1][1] == 30

    # watermark re-backfilled after the _commits/ wipe; appends fenced
    assert log._read_watermark() == 30
    res = log.append("s-0", new_events(1, prefix="post"))
    assert res.first_position == 31


def test_markerless_preexisting_log_backfills_watermark(spark, tmp_path):
    """A log written without markers (no _commits/ evidence at all —
    bootstrapped by from_dataframe, or created before marker mode) gets
    its watermark backfilled from the table on the first append, so
    stale-cache fast paths stay fenced."""
    import os

    from eventstorm_spark.model import EVENT_SCHEMA
    from tests.fixtures import envelope_rows, new_events

    path = str(tmp_path / "log")
    EventLog.from_dataframe(
        spark, path, spark.createDataFrame(envelope_rows("s", 3), EVENT_SCHEMA))
    assert not os.path.exists(os.path.join(path, "_commits"))
    modern = EventLog(spark, path)
    res = modern.append("s", new_events(1, prefix="new"),
                        ExpectedRevision.at(2))
    assert res.first_position == 4
    assert modern._read_watermark() == 4


def test_multiprocess_two_writer_race(spark, tmp_path):
    """Two REAL OS processes (own interpreters, own JVMs, own EventLog
    instances) append concurrently to one log path: positions must stay
    gapless with a single winner per CAS — proving the on-disk commit
    markers serialize writers without any help from the GIL (the
    threaded twin above shares one process; this one shares only the
    filesystem)."""
    import json
    import subprocess
    import sys as _sys

    worker = os.path.join(os.path.dirname(__file__), "mp_append_worker.py")
    log_path = str(tmp_path / "mplog")
    outs = [str(tmp_path / f"w{i}.json") for i in range(2)]
    n_batches = 3
    procs = [subprocess.Popen(
        [_sys.executable, worker, log_path, str(i), outs[i], str(n_batches)],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
        for i in range(2)]
    for p in procs:
        assert p.wait(timeout=300) == 0
    results = [json.load(open(o)) for o in outs]

    # exactly one CAS winner across processes
    assert sorted(r["cas"] for r in results) == ["lost", "won"]
    # every batch landed and no two batches share a first position
    firsts = [p for r in results for p in r["positions"]]
    assert len(firsts) == 2 * n_batches and len(set(firsts)) == len(firsts)

    rows = (EventLog(spark, log_path).df()
            .select("stream", "position", "revision").collect())
    total = 2 * n_batches * 3 + 1  # both writers' events + the CAS event
    positions = sorted(r.position for r in rows)
    assert positions == list(range(1, total + 1))  # dense, unique, gapless
    for i in range(2):
        revs = sorted(r.revision for r in rows if r.stream == f"w-{i}")
        assert revs == list(range(n_batches * 3))  # per-stream dense
    assert sum(1 for r in rows if r.stream == "cas") == 1


def test_append_multi_two_writer_cas_race(spark, tmp_path):
    """Cross-instance BatchAppend race: two EventLog instances on one
    path race append_multi batches that BOTH carry a no_stream() CAS
    on the same brand-new stream plus an unconditional request. The
    reserve loser re-runs every request's CAS against refreshed heads
    (store.py append_multi's retry loop), so exactly ONE batch commits
    the claim — and the loser's batch writes NOTHING AT ALL, its
    unconditional request included (all-or-nothing survives the
    retry; a partial commit here would be the classic half-applied
    batch the single-transaction contract forbids)."""
    import threading

    from pyspark.sql import functions as F

    path = str(tmp_path / "log")
    a, b = EventLog(spark, path), EventLog(spark, path)
    a.append("seed", new_events(1, prefix="seed"))
    outcomes: dict[str, str] = {}

    def racer(name: str, log: EventLog) -> None:
        reqs = [
            (f"solo-{name}", new_events(2, prefix=name),
             ExpectedRevision.any()),
            ("claimed", new_events(1, prefix=f"{name}-c"),
             ExpectedRevision.no_stream()),
        ]
        try:
            log.append_multi(reqs)
            outcomes[name] = "won"
        except WrongExpectedRevisionError:
            outcomes[name] = "lost"

    t1 = threading.Thread(target=racer, args=("a", a))
    t2 = threading.Thread(target=racer, args=("b", b))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert sorted(outcomes.values()) == ["lost", "won"], outcomes
    winner = "a" if outcomes["a"] == "won" else "b"
    loser = "b" if winner == "a" else "a"

    df = EventLog(spark, path).df()
    assert df.where(F.col("stream") == f"solo-{loser}").count() == 0
    assert df.where(F.col("stream") == f"solo-{winner}").count() == 2
    claimed = df.where(F.col("stream") == "claimed").collect()
    assert [r.uuid for r in claimed] == [f"{winner}-c-0"]
    # the surviving log is gapless: seed + the winner's 3 rows
    positions = sorted(r.position for r in df.collect())
    assert positions == list(range(1, 5))


def _count_jobs(spark, fn) -> int:
    """Run ``fn`` under a fresh Spark job group and return how many
    jobs it launched (``statusTracker().getJobIdsForGroup``)."""
    import uuid

    sc = spark.sparkContext
    group = f"job-pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-count pin")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_append_job_counts(spark, tmp_path):
    """Spark jobs per append on a warm single-writer log. Own commits
    advance the cache epoch and write their heads and uuids through, so
    a warm single-event append pays only the fenced write: the
    duplicate check is a lookup in the per-stream uuid index (no tail,
    head, duplicate or $deleted-streams job). The first duplicate-checked
    append to a stream whose index is not loaded pays one pruned scan
    that fills both the uuid set and the head, plus the write. A stale
    CAS is decided on cached state and runs nothing. The next append
    after a foreign commit folds the foreign rows into the caches with
    one scan, so it pays that scan plus the write: more than a warm
    one."""
    path = str(tmp_path / "log")
    EventLog(spark, path).append("t", new_events(2, prefix="t0"))  # earlier writer
    log = EventLog(spark, path)
    log.append("s", new_events(2, prefix="w0"))
    log.append("s", new_events(1, prefix="w1"))  # warm single-writer log

    def stale():
        with pytest.raises(WrongExpectedRevisionError):
            log.append("s", new_events(1, prefix="x"), ExpectedRevision.at(0))

    warm = _count_jobs(spark, lambda: log.append("s", new_events(1, prefix="a")))
    assert warm == 1
    assert _count_jobs(spark, lambda: log.append(
        "s", new_events(1, prefix="b"), check_duplicates=False)) == 1
    assert _count_jobs(spark, stale) == 0
    # "t" is on disk, but neither its head nor its uuids are cached here
    assert "t" not in log._uuids and "t" not in log._revisions
    assert _count_jobs(spark, lambda: log.append("t", new_events(1, prefix="c"))) == 2
    assert log.head_revision("t") == 2

    EventLog(spark, path).append("t", new_events(1, prefix="o"))  # foreign
    foreign = _count_jobs(
        spark, lambda: log.append("s", new_events(1, prefix="d")))
    assert foreign > warm
    assert foreign == 2  # fold + write
    assert log.head_revision("s") == 5 and log.tail_position() == 10
    assert log.head_revision("t") == 3


def test_lookup_job_counts(spark, tmp_path):
    """Spark jobs per event-path lookup, once the deletions and
    metadata probes are cached: each lookup is a single job. A head or
    tail lookup is a top-1 sort (a global max aggregate runs two jobs
    under AQE); an unbounded stream read is a top-k bounded by the head,
    so it runs one job when the head is cached and two when it is not;
    an $all page is one top-k."""
    path = str(tmp_path / "log")
    log = EventLog(spark, path)
    log.append("s", new_events(3, prefix="s"))
    EventLog(spark, path).append("t", new_events(2, prefix="t"))  # foreign
    assert len(log.read_stream("s").collect()) == 3  # folds "t", warms probes
    assert "t" not in log._revisions

    def read(stream, want):
        assert len(log.read_stream(stream).collect()) == want

    assert _count_jobs(spark, lambda: read("s", 3)) == 1
    assert _count_jobs(spark, lambda: read("t", 2)) == 2
    page = lambda: log.read_all(from_position=2, count=2).collect()
    assert _count_jobs(spark, page) == 1
    log._revisions.clear()
    assert _count_jobs(spark, lambda: log.head_revision("s")) == 1
    log._tail_position = None
    assert _count_jobs(spark, log.tail_position) == 1
    assert log.head_revision("s") == 2 and log.tail_position() == 5


@pytest.mark.parametrize("warm", [True, False], ids=["warm_index", "cold_index"])
def test_foreign_duplicate_uuid_is_caught(spark, tmp_path, warm):
    """Another instance commits uuid u to s; this instance's append of
    u must raise and write nothing, whether its uuid index for s was
    loaded before the foreign commit (the moved clock drops it) or was
    never loaded."""
    path = str(tmp_path / "log")
    a, b = EventLog(spark, path), EventLog(spark, path)
    a.append("s", new_events(1, prefix="a"), check_duplicates=warm)
    assert ("s" in a._uuids) is warm
    dup = new_events(1, prefix="dup")
    b.append("s", dup)
    with pytest.raises(ConflictError):
        a.append("s", dup)
    assert a.df().count() == 2
    assert a.head_revision("s") == 1


@pytest.mark.parametrize("warm", [True, False], ids=["warm_index", "cold_index"])
def test_soft_deleted_uuid_is_reclaimed_by_scavenge(spark, tmp_path, warm):
    """A soft-deleted event's row stays in the log until scavenge(), so
    its uuid is still taken; scavenge reclaims the row and drops the
    index, and the uuid appends again. The cold variant checks from a
    fresh instance that never loaded the stream's uuids."""
    path = str(tmp_path / "log")
    log = EventLog(spark, path)
    old = new_events(2, prefix="old")
    log.append("s", old)
    log.delete_stream("s")
    checker = log if warm else EventLog(spark, path)
    with pytest.raises(ConflictError):
        checker.append("s", old[:1])
    assert checker.df().where("stream = 's'").count() == 2

    assert log.scavenge() == 2
    assert not log._uuids
    if warm:  # reload the index after the rewrite, then check from it
        log.append("s", new_events(1, prefix="new"))
        assert "s" in log._uuids
    appender = log if warm else EventLog(spark, path)
    res = appender.append("s", old[:1])
    assert res.last_revision == (3 if warm else 2)  # numbering continues
    uuids = [r.uuid for r in appender.read_stream("s").collect()]
    assert uuids.count(old[0].uuid) == 1


@pytest.mark.parametrize("then_append", [False, True],
                         ids=["scavenge_only", "scavenge_then_append"])
def test_another_instances_scavenge_reclaims_uuids(spark, tmp_path,
                                                   then_append):
    """Another instance's scavenge() keeps the watermark where it was,
    so its rewrite mark is what tells this instance to drop its uuid
    index: the reclaimed uuid appends again, whether or not a later
    commit moves the watermark (a fold alone would keep the uuid)."""
    path = str(tmp_path / "log")
    a = EventLog(spark, path)
    old = new_events(2, prefix="old")
    a.append("s", old)
    a.delete_stream("s")
    with pytest.raises(ConflictError):
        a.append("s", old[:1])
    assert old[0].uuid in a._uuids["s"]

    b = EventLog(spark, path)
    assert b.scavenge() == 2
    if then_append:
        b.append("z", new_events(1, prefix="z"))
    res = a.append("s", old[:1])
    assert res.last_revision == 2  # numbering continues after the delete
    uuids = [r.uuid for r in a.read_stream("s").collect()]
    assert uuids == [old[0].uuid]


@pytest.mark.parametrize("warm", [True, False], ids=["warm_index", "cold_index"])
def test_events_append_after_a_failed_publish(spark, tmp_path, warm):
    """A tripped fence (_publish_rows returns False) adds nothing to the
    uuid index: the retry inside the same append lands the very same
    events, once, and only then are their uuids taken."""
    path = str(tmp_path / "log")
    EventLog(spark, path).append("s", new_events(1, prefix="pre"))
    log = EventLog(spark, path)
    if warm:
        log.append("s", new_events(1, prefix="w"))
        assert "s" in log._uuids
    real = log._fenced_write
    tripped = []

    def trip_once(batch, marker, token, **kw):
        # the thief's view: our claim is gone and nothing is published
        log._fenced_write = real
        log._release(marker, token)
        tripped.append(token)
        return False

    log._fenced_write = trip_once
    evs = new_events(2, prefix="x")
    res = log.append("s", evs)
    assert len(tripped) == 1
    assert res.count == 2 and res.last_revision == (3 if warm else 2)
    rows = log.df().where("stream = 's'").collect()
    assert sorted(r.uuid for r in rows if r.uuid.startswith("x")) == sorted(
        e.uuid for e in evs)
    with pytest.raises(ConflictError):
        log.append("s", evs[1:])


@pytest.mark.parametrize("warm", [True, False], ids=["warm_index", "cold_index"])
def test_duplicate_caught_after_uuid_index_eviction(spark, tmp_path,
                                                    monkeypatch, warm):
    """With the index budget at a few uuids, loading more streams evicts
    the least recently used ones whole; a duplicate is caught both in a
    stream still indexed and in an evicted one (which is reloaded)."""
    from eventstorm_spark.log import store

    monkeypatch.setattr(store, "_UUID_INDEX_BUDGET", 3)
    log = EventLog(spark, str(tmp_path / "log"))
    firsts = {}
    for s in ("s1", "s2", "s3"):
        firsts[s] = new_events(2, prefix=s)
        log.append(s, firsts[s])
    assert list(log._uuids) == ["s3"]
    assert log._uuid_count == 2
    target = "s3" if warm else "s1"
    assert (target in log._uuids) is warm
    with pytest.raises(ConflictError):
        log.append(target, firsts[target][1:])
    assert log.df().count() == 6
    assert log._uuid_count <= 3 or len(log._uuids) == 1


def test_public_lookups_see_another_instances_commit(spark, tmp_path):
    """head_revision() and tail_position() sync the cache epoch, so a
    second instance's commit is visible through them."""
    path = str(tmp_path / "log")
    a, b = EventLog(spark, path), EventLog(spark, path)
    a.append("s", new_events(1, prefix="a"))
    assert a.head_revision("s") == 0 and a.tail_position() == 1
    b.append("s", new_events(1, prefix="b"))
    assert a.head_revision("s") == 1
    assert a.tail_position() == 2


def test_appends_stay_dense_beside_readers_and_a_foreign_writer(spark, tmp_path):
    """Stress for the lock the cache sync shares with appends: more
    threads than cores, a short switch interval, own appenders, a
    reader thread whose lookups run _sync_caches (and drop caches
    whenever the foreign writer moved the watermark), and a second
    instance committing to the same path. Positions must stay gapless
    and every stream's revisions dense."""
    import sys
    import threading

    path = str(tmp_path / "log")
    log, other = EventLog(spark, path), EventLog(spark, path)
    log.append("seed", new_events(1, prefix="seed"))
    n_appenders = max(2, (os.cpu_count() or 4) - 1)
    errors: list = []

    def guarded(fn):
        def run():
            try:
                fn()
            except Exception as exc:  # surfaced by the assert below
                errors.append(exc)
        return run

    def appender(i):
        for j in range(2):
            log.append(f"w-{i}", new_events(2, prefix=f"w{i}-{j}"))

    def foreign():
        for j in range(3):
            other.append("f", new_events(1, prefix=f"f{j}"))

    def reader():
        for _ in range(4):
            assert log.read_stream("seed").count() == 1
            log.get_stream_metadata("seed")

    threads = [threading.Thread(target=guarded(lambda i=i: appender(i)))
               for i in range(n_appenders)]
    threads += [threading.Thread(target=guarded(foreign)),
                threading.Thread(target=guarded(reader))]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors

    rows = log.df().select("stream", "position", "revision").collect()
    total = 1 + 4 * n_appenders + 3
    assert sorted(r.position for r in rows) == list(range(1, total + 1))
    for stream in {r.stream for r in rows}:
        revs = sorted(r.revision for r in rows if r.stream == stream)
        assert revs == list(range(len(revs))), stream
    assert log.head_revision("f") == 2


def test_commit_internals_stay_inside_the_log_package():
    """Every write goes through EventLog's one commit loop: no module
    outside ``eventstorm_spark/log/`` reaches the claim, publish or
    watermark internals."""
    import re
    from pathlib import Path

    import eventstorm_spark

    internals = re.compile(r"\b(_reserve|_fenced_write|_advance_watermark"
                           r"|_gc_markers|_release|_ensure_watermark)\b")
    root = Path(eventstorm_spark.__file__).parent
    offenders = [str(p.relative_to(root)) for p in sorted(root.rglob("*.py"))
                 if p.relative_to(root).parts[0] != "log"
                 and internals.search(p.read_text())]
    assert offenders == []
