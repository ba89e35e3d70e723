"""EventLog — the append-only event table + its read/append protocol.

The storage equivalent of the reference's single Postgres ``events`` table
(``internal/backend/backend.go:37-61``): a Parquet-backed directory with
the envelope schema. The protocol invariants the reference gets from
Postgres (BIGSERIAL positions, UNIQUE(stream, revision),
PRIMARY KEY(stream, uuid), transactional multi-event append with an
expected-revision guard — ``internal/streams/streams.go:93-189``) are
re-established here as a *single-writer commit discipline*, written
once, in ``EventLog._commit``:

- every write (``append_multi``, ``delete_stream``, the bulk
  ``append_frame``) is a stage of that one commit loop: under a per-log
  lock it reads the tail, runs the caller's checks against heads read
  after it, then reserves and publishes; position is assigned as
  ``tail + row_number-within-batch`` so the global log stays gapless and
  monotonic without any global recomputation;
- per-stream head revisions are memoized in a read-through cache
  (streams.go:61-91) whose source of truth is always the table;
- PRIMARY KEY(stream, uuid) (backend.go:311-329) is a per-stream uuid
  index: the first duplicate-checked append to a stream in a cache
  epoch loads the stream's uuids (and its head) in one pruned scan, own
  commits write through, a foreign commit's rows are folded in by one
  scan of the positions it advertised, and a ``scavenge()`` or
  ``compact()`` rewrite (by any instance) drops it; the duplicate check
  itself runs no Spark job;
- every remaining lookup (a head, the tail, a stream read) is one Spark
  job: point lookups are top-1 sorts, and an unbounded stream read is a
  top-k bounded by the head this instance synced;
- the expected-revision CAS (streams.go:93-115) and event validation
  (streams.go:191-203) run before anything is written, so a failed append
  writes nothing (the reference's tx-rollback equivalent), and the CAS
  is decided in the same attempt as the reserve, so a commit that lands
  in between re-runs it (the reference's one transaction).

Scale story: one Parquet append per commit is exactly the Delta-Lake
commit pattern minus the transaction log; on a cluster this class fronts a
Delta table, the lock becomes the Delta optimistic-commit conflict check,
and readers prune on (stream, position) file statistics. Reads are pure
DataFrame plans (see ``plan.compile_read``) — nothing here ever collects
the log to the driver.
"""

from __future__ import annotations

import dataclasses
import os
import threading
import time
from typing import Iterable, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstorm_spark.errors import (
    ConflictError,
    InvalidEventError,
    StreamDeletedError,
    StreamNotFoundError,
    WrongExpectedRevisionError,
)
from eventstorm_spark.log.plan import _bounds, compile_read
from eventstorm_spark.localframe import local_frame
from eventstorm_spark.model import (
    ALL_STREAM,
    AllOptions,
    AppendResult,
    BoundaryKind,
    Direction,
    EVENT_SCHEMA,
    ExpectedRevision,
    ExpectedRevisionKind,
    META_CONTENT_TYPE,
    META_CREATED,
    META_TYPE,
    NewEvent,
    ReadOptions,
    StreamOptions,
    SubscriptionFilter,
)


def now_ticks() -> int:
    """100-ns ticks since epoch — streams.go:151 (UnixNano()/100)."""
    return time.time_ns() // 100


# System stream holding deletion markers (S9). The reference's Delete /
# Tombstone RPCs are stubs (grpc_server.go:271-281); we implement the
# semantics the proto declares (streams.proto:14-16, EventStoreDB API):
# soft delete hides the stream's past and allows recreation (revision
# numbering continues); tombstone makes the stream permanently dead.
# Markers are ordinary events, so they replicate/subscribe like any
# other write; `scavenge()` is the physical reclamation job.
DELETED_STREAMS = "$deleted-streams"
DELETE_EVENT = "$stream-deleted"
TOMBSTONE_EVENT = "$stream-tombstoned"

# Link events (EventStoreDB `$>` convention). The reference parses the
# ResolveLinks read option (model.go:100, extensions.go:24) but never
# implements links — linkTo is absent and ReadResp.link is never
# populated (grpc_server.go:157-174). We implement the declared
# semantics: a link's body is "revision@stream"; resolved reads replace
# the link's payload with the target's while keeping the link's
# coordinates for ordering/resume.
LINK_EVENT = "$>"
METADATA_EVENT = "$metadata"  # EventStoreDB stream-metadata event type

# Sentinel "hide every position" bound for tombstoned streams in the
# broadcast deletion frame (any real position is far below 2^62).
_TOMBSTONE_BEFORE = 1 << 62

# Distinguishes "caller did not pass a retention frame" from "caller
# computed the frame and it was None (no metadata streams)".
_UNSET = object()

# Most uuids the per-stream uuid index (EventLog._stream_uuids) holds
# before it evicts whole streams, least recently used first. Measured
# (tracemalloc, CPython 3, set of freshly built str): ~127 B per
# 36-char uuid4 string, ~101 B per 10-char uuid, so the full index
# stays near 64 MB.
_UUID_INDEX_BUDGET = 500_000

# Widest commit-clock advance _sync_caches folds into the caches; a
# wider one drops them. Measured (local[4], 400k-row log in 4
# position-sorted files): the fold's collect holds ~456 B per row on the
# driver (tracemalloc), and at 10k rows it takes ~0.34 s (4.6 MB), below
# the ~0.46 s that a drop costs to reload just the tail and one stream's
# uuid set; at 50k rows it holds 23 MB.
_FOLD_ROW_CAP = 10_000

# Most rows an unbounded stream read runs as a top-k (EventLog.read).
# TakeOrderedAndProject keeps its top-k rows in memory and merges them in
# one place without spilling, where the range-partitioned sort stays
# distributed and spills. Measured (local[4], 476k-row log in 8 files,
# fresh plan per read): the top-k read was faster at every size tried,
# 0.29 vs 0.47 s at 500 rows and 1.06 vs 1.32 s at 100k, and 100k
# envelope rows with small payloads hold ~38 MB (SizeEstimator, ~380 B
# per row). So the bound is a memory guard, not a measured cut-over: no
# benchmark workload reads a stream anywhere near it.
_TOPK_STREAM_ROWS = 100_000


class EventLog:
    """A named event log over a Parquet directory.

    Commit protocol: one loop, ``_commit``, makes every write; appends,
    deletion markers and bulk link streams are stages of it. In-process
    commits serialize on a lock; ACROSS processes each attempt is an
    optimistic commit — the attempt reads the tail, the stage runs the
    caller's checks against heads read after it and builds the batch,
    and the writer then atomically reserves the batch's first position
    by creating ``_commits/<position>`` (``open(..., 'x')``, the
    filesystem's compare-and-swap). A commit the tail read missed
    blocks that reserve. The loser drops its caches and runs the
    attempt again — a fresh tail, the stage's checks against the new
    heads, a reserve at the advanced position — exactly Delta Lake's
    optimistic-commit conflict check re-expressed on a plain directory
    (with delta-spark installed, ``format="delta"`` replaces
    ``_commits/`` with the Delta transaction log — see ``delta.py``;
    the protocol below targets a real rename-atomic filesystem,
    HDFS/POSIX). ``_publish_rows`` is the one format dispatch.

    The commit is FENCED (not a bare grace-period lease):

    - each marker carries a unique owner token; the batch is written to
      ``_staging/<token>`` first, a heartbeat thread refreshes the
      marker mtime during the (possibly slow) write, and ownership is
      re-verified — token compared — *after* the write, immediately
      before the staged files are renamed into the log. A writer whose
      claim was stolen during a pause longer than ``commit_grace_secs``
      aborts cleanly (staging discarded, retried at the advanced tail)
      instead of publishing duplicate positions.
    - reclaiming a stale marker is an atomic ``rename`` to a unique
      trash name: only one contender can win the steal, closing the
      stat→unlink race where two contenders could otherwise reclaim the
      same marker twice and delete a freshly re-created claim.
    - committed markers are garbage-collected behind a monotonic
      high-watermark file (``_commits/_watermark``, flock-guarded
      read-modify-write, always published *before* markers at or below
      it are removed). A claimer whose position is at or below the
      watermark had a stale tail cache and releases its ghost claim.
      On the first append to a pre-existing log with no watermark (one
      bootstrapped by ``from_dataframe``) the current tail is
      backfilled, so stale caches are fenced on such logs too.

    Head revisions, the tail, deletion markers, stream metadata and the
    per-stream uuid index are read-through caches that hold for one
    reading of the commit clock (the watermark, or the Delta version).
    Own commits write through and move the epoch with them. When
    another writer moves the watermark, ``_sync_caches`` folds the rows
    it advertised into the caches with one pruned scan; it drops them
    all only when the gap cannot be folded (no epoch yet, no tail
    cached, a rewrite, a gap wider than ``_FOLD_ROW_CAP`` or with a
    missing position, or ``format="delta"``). A ``compact()`` or
    ``scavenge()`` rewrite publishes a new rewrite mark beside the
    watermark, so every instance drops its caches at its next sync. A
    fresh tail read above the epoch (a writer published but has not
    advertised yet) drops the caches loaded before it, so cached heads
    never lag the cached tail. A stream's uuid set is loaded by its first
    duplicate-checked append in an epoch (one scan that also yields its
    head), and at most ``_UUID_INDEX_BUDGET`` uuids stay cached.
    """

    def __init__(self, spark: SparkSession, path: str, *,
                 format: str = "parquet",
                 commit_grace_secs: float = 60.0):
        if format not in ("parquet", "delta"):
            raise ValueError(f"unsupported log format: {format!r}")
        if format == "delta":
            from eventstorm_spark.log.delta import require_delta
            require_delta()
            # the Delta transaction log replaces the marker exchange
            # wholesale (see delta.py); no watermark/marker bookkeeping
        self.spark = spark
        self.path = path
        self.format = format
        # reentrant: _sync_caches takes it on the read path too, also
        # from inside an append that already holds it
        self._lock = threading.RLock()
        self._commit_grace = commit_grace_secs
        self._tail_position: Optional[int] = None  # lazily discovered
        self._revisions: dict[str, int] = {}  # stream -> head revision cache
        # stream -> (kind, before_position, last_revision); None = not loaded
        self._deletions: Optional[dict[str, tuple]] = None
        # memoized local (stream, __del_before) frame derived from
        # _deletions — one createDataFrame per deletions epoch instead
        # of one per resolve/scavenge call; dropped with the dict
        self._deletions_df: Optional[DataFrame] = None
        self._watermark_checked = False
        # stream -> metadata body (read-through; {} = no metadata)
        self._stream_meta: dict[str, dict] = {}
        # stream -> every uuid it holds, least recently used first (see
        # _stream_uuids); _uuid_count = their total, for the budget
        self._uuids: dict[str, set] = {}
        self._uuid_count = 0
        # lazily discovered: does this log hold ANY $$-metadata stream?
        # (False short-circuits the per-read retention lookup entirely)
        self._has_meta_streams: Optional[bool] = None
        # commit-clock reading every cache above was populated under
        # (see _sync_caches); None = not synced yet
        self._cache_epoch: Optional[int] = None
        # rewrite mark (see _read_rewrite_mark) read with that epoch
        self._cache_rewrite: Optional[str] = None
        # fixed clock for $maxAge retention (tests/replays); None = now
        self.retention_clock = None

    # -- optimistic commit markers ---------------------------------------

    def _commits_dir(self) -> str:
        return os.path.join(self.path, "_commits")

    def _watermark_path(self) -> str:
        return os.path.join(self._commits_dir(), "_watermark")

    def _rewrite_path(self) -> str:
        return os.path.join(self._commits_dir(), "_rewrite")

    def _read_rewrite_mark(self) -> str:
        """Token of the last ``compact``/``scavenge`` rewrite ("" = none
        since ``_commits/`` was created). A rewrite restores the
        watermark to the same tail, so the watermark alone cannot show
        it; a changed mark makes every other instance drop its caches
        (reclaimed uuids must be appendable again)."""
        try:
            with open(self._rewrite_path()) as f:
                return f.read().strip()
        except OSError:
            return ""

    def _read_watermark(self) -> int:
        """Highest position known committed (lower bound — monotonic)."""
        try:
            with open(self._watermark_path()) as f:
                return int(f.read().strip() or 0)
        except (OSError, ValueError):
            return 0

    def _advance_watermark(self, position: int) -> int:
        """Monotonically raise the watermark to >= ``position``.

        flock-guarded read-modify-write + atomic rename publish: two
        writers can never regress it, and a reader sees either the old
        or the new value — both valid lower bounds. Callers MUST publish
        the new watermark before deleting any marker at or below it.
        """
        import fcntl

        os.makedirs(self._commits_dir(), exist_ok=True)
        lock_path = os.path.join(self._commits_dir(), "_watermark.lock")
        with open(lock_path, "w") as lk:
            fcntl.flock(lk, fcntl.LOCK_EX)
            cur = self._read_watermark()
            new = max(cur, position)
            if new > cur:
                tmp = self._watermark_path() + ".tmp"
                with open(tmp, "w") as f:
                    f.write(str(new))
                    f.flush()
                    os.fsync(f.fileno())
                os.replace(tmp, self._watermark_path())
            return new

    def _ensure_watermark(self) -> None:
        """Backfill the watermark on a pre-existing markerless log.

        A log written without markers (bootstrapped by
        ``from_dataframe``, or created before marker mode) has no commit
        evidence at all; without this, a writer with a stale cached tail
        could reserve a mid-log position unopposed. One fresh tail read
        on the first append closes it.
        """
        if self._watermark_checked or self.format == "delta":
            return
        if not os.path.exists(self._watermark_path()):
            self._tail_position = None
            tail = self.tail_position()
            if tail > 0:
                self._advance_watermark(tail)
        self._watermark_checked = True

    def _gc_markers(self, watermark: int) -> None:
        """Remove committed markers at or below the published watermark
        (bounded ``_commits/`` growth; the watermark file itself carries
        the commit evidence from here on)."""
        try:
            names = os.listdir(self._commits_dir())
        except OSError:
            return
        for name in names:
            if not name.isdigit():
                continue
            if int(name) <= watermark:
                try:
                    os.unlink(os.path.join(self._commits_dir(), name))
                except OSError:
                    pass

    def _marker_owned(self, marker: str, token: str) -> bool:
        """Fence check: does the marker at this path still carry our
        token? False means the claim was stolen (grace expired during a
        pause) and the commit must abort."""
        import json as _json

        try:
            with open(marker) as f:
                return _json.load(f).get("token") == token
        except (OSError, ValueError):
            return False

    def _reserve(self, position: int, stream: str, count: int,
                 token: str) -> Optional[str]:
        """Atomically claim ``position`` as the next append's first
        position. Returns the marker path, or None when another writer
        holds a live claim (caller refreshes and retries)."""
        import json as _json

        os.makedirs(self._commits_dir(), exist_ok=True)
        marker = os.path.join(self._commits_dir(), f"{position:020d}")
        try:
            fd = os.open(marker, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            # Claim exists. Committed (data landed) -> caller re-reads the
            # tail and moves on. Orphaned (no data, stale) -> reclaim via
            # atomic rename so only ONE contender can win the steal (a
            # bare stat+unlink lets a second contender delete a marker
            # that was already reclaimed and freshly re-created).
            try:
                age = time.time() - os.stat(marker).st_mtime
            except OSError:
                return None  # racing cleanup; retry
            self._tail_position = None  # fresh read: orphan vs committed
            if age > self._commit_grace and self.tail_position() < position:
                trash = f"{marker}.reclaimed-{token}"
                try:
                    os.rename(marker, trash)
                except OSError:
                    return None  # another contender won the steal
                try:
                    os.unlink(trash)
                except OSError:
                    pass
            return None
        with os.fdopen(fd, "w") as f:
            f.write(_json.dumps(
                {"stream": stream, "first_position": position,
                 "count": count, "token": token}))
            f.flush()
            os.fsync(f.fileno())
        # Act-then-check stale-cache fence: the watermark is published
        # BEFORE committed markers are GC'd, so a claim at or below it
        # means our cached tail was stale — release the ghost claim.
        if position <= self._read_watermark():
            try:
                os.unlink(marker)
            except OSError:
                pass
            self._tail_position = None
            return None
        return marker

    def _release(self, marker: Optional[str], token: str) -> None:
        """Release our claim — only if the marker still carries our
        token (never delete a claim stolen and re-issued to another
        writer)."""
        if marker is None:
            return
        if self._marker_owned(marker, token):
            try:
                os.unlink(marker)
            except OSError:
                pass

    def _heartbeat(self, marker: str, stop: threading.Event) -> None:
        """Refresh the marker mtime while the data write runs, so a
        healthy-but-slow writer's lease never goes stale under
        contenders' ``commit_grace_secs`` clocks."""
        interval = min(max(self._commit_grace / 4.0, 0.05), 15.0)
        while not stop.wait(interval):
            try:
                os.utime(marker, None)
            except OSError:
                return  # marker gone (stolen); the fence check will abort

    def _fenced_write(self, batch: DataFrame, marker: str, token: str,
                      *, single_file: bool = True) -> bool:
        """Fenced publish of a batch under an owned marker: stage the
        (possibly slow) parquet write outside the log, heartbeat the
        lease meanwhile, re-verify ownership, then publish via fast
        same-filesystem renames. Returns False when the fence tripped
        (claim stolen mid-write — staging discarded, log untouched);
        raises after releasing the claim on a failed write.

        ``single_file`` (default, for caller-bounded appends) coalesces
        the staged batch so the publish is ONE atomic rename — a
        multi-file loop could fail or crash partway and publish a torn
        batch after the 'log untouched' promise. Bulk writers (system
        projection materialization — corpus-sized batches that must
        stay distributed) pass ``single_file=False`` and accept the
        torn-publish window; their documented recovery is uuid-dedupe
        on re-materialization."""
        import glob as _glob
        import shutil as _shutil

        staging = os.path.join(self.path, "_staging", token)
        stop = threading.Event()
        hb = threading.Thread(target=self._heartbeat,
                              args=(marker, stop), daemon=True)
        hb.start()
        try:
            staged = batch.coalesce(1) if single_file else batch
            staged.write.mode("overwrite").parquet(staging)
            if not self._marker_owned(marker, token):
                return False  # fence tripped; finally-block cleans up
            os.makedirs(self.path, exist_ok=True)
            parts = sorted(_glob.glob(os.path.join(staging, "*.parquet")))
            if single_file:
                assert len(parts) == 1, f"staged batch has {len(parts)} files"
            for part in parts:
                os.rename(part,
                          os.path.join(self.path, os.path.basename(part)))
            return True
        except BaseException:
            # failed commit releases its claim; the log is untouched in
            # single-file mode (the one rename either happened or not)
            self._release(marker, token)
            raise
        finally:
            stop.set()
            hb.join(timeout=5.0)
            _shutil.rmtree(staging, ignore_errors=True)
            try:  # remove _staging/ itself when empty
                os.rmdir(os.path.join(self.path, "_staging"))
            except OSError:
                pass

    # -- table access -----------------------------------------------------

    def df(self) -> DataFrame:
        """The envelope table as a DataFrame (schema-stable even if empty)."""
        if self.format == "delta":
            from eventstorm_spark.log.delta import read_log
            return read_log(self.spark, self.path)
        if self.path.startswith("/") or "://" not in self.path:
            import glob
            if not glob.glob(os.path.join(self.path, "*.parquet")):
                return local_frame(self.spark, [], EVENT_SCHEMA)
        try:
            return self.spark.read.schema(EVENT_SCHEMA).parquet(self.path)
        except Exception:
            return local_frame(self.spark, [], EVENT_SCHEMA)

    @classmethod
    def from_dataframe(cls, spark: SparkSession, path: str, df: DataFrame,
                       mode: str = "overwrite") -> "EventLog":
        """Bootstrap a log from an already-normalized envelope DataFrame."""
        df.select([f.name for f in EVENT_SCHEMA.fields]).write.mode(mode).parquet(path)
        return cls(spark, path)

    # -- revision / position bookkeeping ----------------------------------

    @staticmethod
    def _newest(df: DataFrame, column: str) -> Optional[int]:
        """Largest ``column`` value in ``df`` (None = no rows) as a top-1
        sort: TakeOrderedAndProject is one Spark job, where a global
        ``max`` aggregate runs two under AQE (shuffle stage + result)."""
        rows = df.select(column).orderBy(F.col(column).desc()).limit(1).collect()
        return int(rows[0][0]) if rows else None

    def head_revision(self, stream: str) -> Optional[int]:
        """Read-through head-revision lookup — streams.go:61-91 +
        backend.go:82-95 (max revision query). None = stream absent.
        Syncs the cache epoch first, so another writer's commit is
        seen."""
        self._sync_caches()
        if stream not in self._revisions:
            head = self._newest(self.df().where(F.col("stream") == stream),
                                "revision")
            if head is None:
                return None
            self._revisions[stream] = head
        return self._revisions[stream]

    def tail_position(self) -> int:
        """Highest assigned global position (0 = empty log). Syncs the
        cache epoch first, so another writer's commit is seen."""
        self._sync_caches()
        if self._tail_position is None:
            tail = self._newest(self.df(), "position") or 0
            if self.format != "delta" and tail > (self._cache_epoch or 0):
                # rows above the synced watermark (a writer that
                # published but has not advertised yet) may be missing
                # from caches loaded before this read: drop them, so
                # every head and uuid set is read after this tail
                self._drop_caches()
            self._tail_position = tail
        return self._tail_position

    # -- append path ------------------------------------------------------

    @staticmethod
    def _validate(event: NewEvent) -> None:
        """Require `type` + `content-type` — streams.go:191-203."""
        if not event.content_type:
            raise InvalidEventError("missing content-type metadata")
        if not event.event_type:
            raise InvalidEventError("missing event type metadata")

    @staticmethod
    def _check_revision(expected: ExpectedRevision, current: Optional[int],
                        stream: str) -> None:
        """Expected-revision CAS — streams.go:93-115."""
        kind = expected.kind
        if kind == ExpectedRevisionKind.ANY:
            return
        if kind == ExpectedRevisionKind.NO_STREAM and current is not None:
            raise WrongExpectedRevisionError(stream, "no stream", current)
        if kind == ExpectedRevisionKind.STREAM_EXISTS and current is None:
            raise WrongExpectedRevisionError(stream, "stream exists", current)
        if kind == ExpectedRevisionKind.REVISION and current != expected.revision:
            raise WrongExpectedRevisionError(stream, str(expected.revision), current)

    def _sync_caches(self) -> None:
        """The one cross-process staleness rule. Every cache on this
        instance (head revisions, tail, deletion markers, stream
        metadata, the per-stream uuid index) holds for
        ``_cache_epoch``, one reading of the log's commit clock: the
        shared watermark file for parquet logs, the transaction-log
        version (``delta.current_version``, one directory listing)
        under ``format="delta"``. Own commits move the epoch along in
        ``_publish_rows`` when that is provably safe.

        A clock that moved forward from epoch ``e`` to ``c`` on a
        parquet log means other writers committed positions ``(e, c]``.
        Every row at or below the watermark was published before the
        watermark was advertised, so ``_fold`` reads exactly those rows
        with one pruned scan and brings the caches forward: one job
        instead of a rescan per cache. The caches are dropped instead
        (the next lookups re-read the table) when there is no epoch yet,
        no tail is cached, the clock went backwards or the rewrite mark
        changed (a ``compact``/``scavenge`` rewrite), the gap is wider
        than ``_FOLD_ROW_CAP`` or misses a position, or the log is
        Delta, whose clock is a version, not a position.

        On the append path the CAS head read and the position-reserve
        tail read are separate jobs; if another process's commit
        becomes visible in between (or a cached head outlives a fresh
        tail), the reserve could succeed at a fresh position while the
        CAS verdict and revision numbering were decided on stale data.
        Commits not yet watermarked still hold their position markers,
        so the reserve itself serializes those (together with the
        tail-before-head read order in ``_commit`` this closes
        every interleaving: a commit invisible to the tail read blocks
        the reserve; one visible to it is visible to the later head
        reads too). So a cached tail vouches for every cached head and
        uuid set: they cover every row at or below it. A fresh tail
        read above the epoch drops the caches loaded before it
        (``tail_position``), and a fold runs only with a tail cached,
        raising it with the heads it brings forward. Under delta the
        position-overlap validation only rejects a stale tail, so the
        version clock is what keeps a stale per-stream head from
        committing duplicate (stream, revision) pairs.

        Taken under ``_lock`` so a read-path sync never lands inside an
        append: between its tail, head and CAS reads, or between its
        publish and the write-through of the heads and tail it set."""
        with self._lock:
            if self.format == "delta":
                from eventstorm_spark.log.delta import current_version
                clock, mark = current_version(self.path), None
            else:
                clock, mark = self._read_watermark(), self._read_rewrite_mark()
            epoch = self._cache_epoch
            if clock == epoch and mark == self._cache_rewrite:
                return
            if not (self.format != "delta" and epoch is not None
                    and mark == self._cache_rewrite
                    and self._tail_position is not None
                    and 0 < clock - epoch <= _FOLD_ROW_CAP
                    and self._fold(epoch, clock)):
                self._drop_caches()
            self._cache_epoch = clock
            self._cache_rewrite = mark

    def _fold(self, lo: int, hi: int) -> bool:
        """Bring the caches from epoch ``lo`` to watermark ``hi`` with the
        rows at positions ``(lo, hi]``, read in one pruned scan. False
        (caches untouched) when the rows are not exactly those
        positions, e.g. after a rewrite. A cached head moves to the
        gap's newest revision of its stream (max: a head loaded past
        the old epoch may already be newer); uncached heads stay
        uncached, since a head set from the gap alone misses the
        stream's older rows. The cached tail (the caller requires one)
        only moves up. Loaded uuid sets gain their streams' uuids, and
        the deletions and metadata caches go only if the gap touches
        their streams."""
        rows = (self.df()
                .where((F.col("position") > lo) & (F.col("position") <= hi))
                .select("stream", "uuid", "revision", "position").collect())
        if len(rows) != hi - lo or len({r["position"] for r in rows}) != hi - lo:
            return False
        newest: dict[str, int] = {}
        for r in rows:
            stream = r["stream"]
            newest[stream] = max(newest.get(stream, -1), r["revision"])
            loaded = self._uuids.get(stream)
            if loaded is not None and r["uuid"] not in loaded:
                loaded.add(r["uuid"])
                self._uuid_count += 1
        for stream, rev in newest.items():
            if stream in self._revisions:
                cur = self._revisions[stream]
                self._revisions[stream] = rev if cur is None else max(cur, rev)
        self._tail_position = max(self._tail_position, hi)
        self._drop_stale(newest)
        self._trim_uuid_index()
        return True

    def _drop_stale(self, streams) -> None:
        """Drop the caches derived from system streams among ``streams``
        (a committed batch's, or a folded gap's): deletion markers and
        stream metadata."""
        if DELETED_STREAMS in streams:
            self._deletions = None
            self._deletions_df = None
        if any(s.startswith("$$") for s in streams):
            self._stream_meta.clear()
            self._has_meta_streams = None

    def _drop_caches(self) -> None:
        """Forget every read-through cache; the next lookups re-read
        the table."""
        self._revisions.clear()
        self._tail_position = None
        self._deletions = None
        self._deletions_df = None
        self._stream_meta.clear()
        self._has_meta_streams = None
        self._uuids.clear()
        self._uuid_count = 0

    def _stream_uuids(self, stream: str) -> set:
        """Every uuid ``stream`` holds: the duplicate check's side of
        PRIMARY KEY(stream, uuid), so the check is a set lookup. Loaded
        by ONE pruned scan per stream and cache epoch, which also caches
        the stream's head (None when absent): a first append pays one
        job for both. Own commits
        add their uuids in ``_stage_appends``. Past ``_UUID_INDEX_BUDGET``
        uuids, whole streams are evicted least recently used first —
        never the one returned, so a stream larger than the budget is
        held alone until the next load."""
        uuids = self._uuids.pop(stream, None)
        if uuids is None:
            rows = (self.df().where(F.col("stream") == stream)
                    .select("uuid", "revision").collect())
            uuids = {r["uuid"] for r in rows}
            self._revisions[stream] = (max(r["revision"] for r in rows)
                                       if rows else None)
            self._uuid_count += len(uuids)
        self._uuids[stream] = uuids  # most recently used last
        self._trim_uuid_index()
        return uuids

    def _trim_uuid_index(self) -> None:
        while self._uuid_count > _UUID_INDEX_BUDGET and len(self._uuids) > 1:
            self._uuid_count -= len(self._uuids.pop(next(iter(self._uuids))))

    def append(self, stream: str, events: Sequence[NewEvent],
               expected: ExpectedRevision = ExpectedRevision.any(),
               *, check_duplicates: bool = True) -> AppendResult:
        """Transactional multi-event append — streams.go:125-189: a
        one-request :meth:`append_multi`. Validates every event, runs
        the CAS, assigns dense per-stream revisions and gapless global
        positions, stamps ``created`` ticks, and commits one Parquet
        append. Returns first position + last revision
        (streams.go:139-161)."""
        return self.append_multi([(stream, events, expected)],
                                 check_duplicates=check_duplicates)[0]

    def append_multi(
        self,
        requests: Sequence[tuple[str, Sequence[NewEvent], ExpectedRevision]],
        *, check_duplicates: bool = True,
    ) -> list[AppendResult]:
        """Atomic multi-stream append — the engine-level form of the
        reference's declared-but-stubbed BatchAppend RPC
        (``streams.proto:204-307``, handler stub
        ``grpc_server.go:271-281``).

        Every request is ``(stream, events, expected_revision)``. Event
        validation and the in-batch uuid check run first; the
        expected-revision checks run as the stage of each commit
        attempt (``_commit``), against heads read after the attempt's
        tail. If ANY fails, NOTHING is written (the whole batch is one
        transaction). On success the batch commits as ONE fenced
        parquet append covering every stream: positions are assigned
        densely across requests in order, per-stream revisions stay
        dense (a stream appearing twice in the batch continues its own
        numbering), and throughput scales with total batch size — N
        streams cost one commit, not N (SCALE.md §2).

        With ``check_duplicates`` (the default) a uuid already in the
        stream raises ``ConflictError``. The check is a lookup in the
        per-stream uuid index: an attempt loads a stream's set (and its
        head) with one pruned scan the first time the stream is
        appended to in a cache epoch; a published batch adds its uuids
        to every loaded set. A lost reserve, a tripped fence or an error
        adds nothing. Another writer's uuids join the loaded sets when
        the next sync folds its commit; the index is dropped with the
        other caches when that sync cannot fold (see ``_sync_caches``),
        when a fresh tail read finds unadvertised rows, or after any
        instance's ``scavenge()`` or ``compact()`` rewrite.
        """
        if not requests:
            raise ValueError("append_multi requires at least one request")
        for stream, events, _ in requests:
            if not events:
                raise ValueError(f"empty event list for stream {stream!r}")
            kind, _, _ = self._deletion_state(stream)
            if kind == "tombstoned":
                raise StreamDeletedError(stream)
            for ev in events:
                self._validate(ev)
        seen: set[tuple] = set()
        for stream, events, _ in requests:
            for ev in events:
                key = (stream, ev.uuid)
                if key in seen:
                    raise ConflictError(
                        f"duplicate uuid in batch for stream {stream!r}: {ev.uuid}")
                seen.add(key)
        label = requests[0][0] if len(requests) == 1 else "$multi"
        return self._commit(label, lambda base_pos: self._stage_appends(
            base_pos, requests, check_duplicates))

    def _stage_appends(self, base_pos: int, requests, check_duplicates: bool):
        """The commit stage of :meth:`append_multi`: CAS each request
        against its stream's head (and uuid set), then build the rows at
        positions ``base_pos + 1 ..``. ``done`` writes the heads, tail
        and uuids through and returns the results."""
        # batch-internal continuation for repeated streams (the second
        # request sees the first's revisions)
        heads: dict[str, int] = {}
        held: dict[str, set] = {}  # stream -> its uuid set
        firsts: list[int] = []  # head before each request
        for stream, events, expected in requests:
            if stream not in heads:
                if check_duplicates:
                    # loads the head too: one scan, not two
                    held[stream] = self._stream_uuids(stream)
                cur, kind = self._effective_head(stream)
                if kind == "tombstoned":
                    raise StreamDeletedError(stream)
                heads[stream] = -1 if cur is None else cur
            cur = heads[stream] if heads[stream] >= 0 else None
            self._check_revision(expected, cur, stream)
            if check_duplicates and not held[stream].isdisjoint(
                    ev.uuid for ev in events):
                raise ConflictError(f"duplicate uuid in stream {stream!r}")
            firsts.append(heads[stream])
            heads[stream] += len(events)

        ticks = now_ticks()
        rows: list = []
        results: list[AppendResult] = []
        pos = base_pos
        for (stream, events, _), rev in zip(requests, firsts):
            results.append(AppendResult(
                stream=stream, first_position=pos + 1,
                last_revision=rev + len(events), count=len(events)))
            for ev in events:
                meta = dict(ev.metadata)
                meta[META_TYPE] = ev.event_type
                meta[META_CONTENT_TYPE] = ev.content_type
                meta[META_CREATED] = str(ticks)
                rev += 1
                pos += 1
                rows.append((stream, ev.uuid, ev.data, meta,
                             ev.custom_metadata, rev, pos,
                             ev.event_type, ev.content_type, ticks))

        def done() -> list[AppendResult]:
            self._revisions.update(heads)
            self._tail_position = pos
            for stream, events, _ in requests:
                loaded = self._uuids.get(stream)
                if loaded is not None:
                    n = len(loaded)
                    loaded.update(ev.uuid for ev in events)
                    self._uuid_count += len(loaded) - n
            self._trim_uuid_index()
            self._drop_stale(heads)
            return results

        return rows, len(rows), done

    def append_frame(self, label: str, derive) -> int:
        """Bulk append of a distributed envelope frame through
        ``_commit`` (the ``projections.system`` link streams).
        ``derive(tail)`` returns one attempt's ``(frame, rows)`` at
        positions ``tail + 1 ..``, or None when there is nothing to
        write. The frame is published file by file and not
        duplicate-checked; every cache is dropped after it, since only
        the frame knows which heads moved. Returns the rows written."""
        def stage(base_pos: int):
            derived = derive(base_pos)
            if derived is None:
                return None
            frame, count = derived

            def done() -> int:
                self._drop_caches()
                return count

            return frame, count, done

        return self._commit(label, stage) or 0

    def _commit(self, label: str, stage):
        """The one commit loop; every write to the log is a ``stage`` of
        it. Under ``_lock`` and after the watermark backfill, an attempt
        reads the tail (syncing the cache epoch) and runs
        ``stage(tail)``: the caller's checks (CAS, tombstone,
        duplicates) against heads read after that tail, where a raise
        writes nothing. It returns ``(batch, count, done)`` for
        positions ``tail + 1 ..`` (``done`` writes the caches through
        after the publish and returns the caller's result), or None
        when there is nothing to write. The attempt then reserves
        ``tail + 1`` under ``label`` (parquet; a Delta commit is its own
        conflict check) and publishes through ``_publish_rows``. A
        commit the tail read missed blocks the reserve; one it saw is
        visible to the stage's reads. A lost reserve, tripped fence or
        lost Delta race drops the epoch and runs the attempt again; 200
        lost attempts raise ``ConflictError``."""
        import uuid as _uuid

        with self._lock:
            self._ensure_watermark()
            for _ in range(200):
                base_pos = self.tail_position()
                staged = stage(base_pos)
                if staged is None:
                    return None
                batch, count, done = staged
                token = _uuid.uuid4().hex
                marker = None
                if self.format != "delta":
                    marker = self._reserve(base_pos + 1, label, count, token)
                    if marker is None:
                        # another writer committed (or holds a live
                        # claim) at our position
                        time.sleep(0.05)
                        self._cache_epoch = None
                        continue
                if self._publish_rows(batch, base_pos, marker, token, count):
                    return done()
                self._cache_epoch = None
            raise ConflictError(
                f"commit contention on {self.path!r} (position "
                f"{base_pos + 1} claimed, stolen or lost 200 times)")

    def _publish_rows(self, rows, base_pos: int, marker: Optional[str],
                      token: str, count: Optional[int] = None) -> bool:
        """Publish one attempt's batch through the format's commit path
        (Delta optimistic merge / fenced staged write + watermark).
        ``rows`` is a list of envelope tuples, staged as one file so the
        publish is one atomic rename, or a distributed envelope frame of
        ``count`` rows, published file by file. False = lost race or
        fence tripped; nothing published, the caller retries. Runs under
        ``_lock``."""
        local = isinstance(rows, list)
        batch = local_frame(self.spark, rows, EVENT_SCHEMA) if local else rows
        if self.format == "delta":
            from eventstorm_spark.log import delta as _delta
            return _delta.append_batch(self.spark, self.path, batch)
        if not self._fenced_write(batch, marker, token, single_file=local):
            return False
        # published: advertise the watermark FIRST, then GC markers at
        # or below it (ours included — the watermark now carries the
        # commit evidence).
        top = base_pos + (len(rows) if local else count)
        prev_wm = self._read_watermark()
        wm = self._advance_watermark(top)
        if wm == top and prev_wm == base_pos == self._cache_epoch:
            # Own commit: move the epoch with it so the caches the
            # caller is about to write survive the next sync (otherwise
            # every append pays full-log rescans of the caches it just
            # set). Only when our caches provably cover everything below
            # the new watermark: (a) the pre-advance watermark still
            # equals our epoch (no foreign commit ADVERTISED since the
            # sync), AND (b) our base position equals it (no foreign
            # commit PUBLISHED-but-unadvertised below us — a stalled
            # writer's rows are visible to the tail read before its
            # watermark moves, and an epoch past such rows would freeze
            # a stale head cache forever: duplicate revisions /
            # wrongly-passing CAS). Otherwise the epoch stays behind and
            # the next sync folds every row above it, ours included, or
            # drops every cache. Delta commits never move it: the next
            # sync drops after every one.
            self._cache_epoch = wm
        self._gc_markers(wm)
        return True

    # -- deletion (S9 — stubs in the reference, grpc_server.go:271-281) ---

    def _load_deletions(self) -> dict[str, tuple]:
        """Deletion markers, folded to per-stream state: tombstone wins,
        else the latest (max before_position) soft delete.

        Checked through ``_sync_caches`` on every lookup: another
        writer's delete/tombstone marker this cache predates would
        otherwise let appends land on a tombstoned stream and reads keep
        serving soft-deleted events. The clock read is one local file
        read (or directory listing), cheap enough for every lookup."""
        self._sync_caches()
        if self._deletions is not None:
            return self._deletions
        import json as _json

        rows = (
            self.df().where(F.col("stream") == DELETED_STREAMS)
            .select("event_type", "data").collect()
        )
        d: dict[str, tuple] = {}
        for r in rows:
            body = _json.loads(r["data"])
            target = body["stream"]
            kind = "tombstoned" if r["event_type"] == TOMBSTONE_EVENT else "deleted"
            entry = (kind, int(body["before_position"]), int(body["last_revision"]))
            cur = d.get(target)
            if cur is None or kind == "tombstoned" or (
                cur[0] != "tombstoned" and entry[1] > cur[1]
            ):
                d[target] = entry
        self._deletions = d
        return d

    def _deletion_state(self, stream: str) -> tuple:
        return self._load_deletions().get(stream, (None, -1, -1))

    def _deletions_frame(self) -> Optional[DataFrame]:
        """``(stream, __del_before)`` for every ever-deleted stream — the
        broadcast side of the logical deletion filter. A soft delete
        hides positions ``<= before``; a tombstone hides the whole
        stream (sentinel bound). Row count = #ever-deleted streams
        (the already-cached deletions dict, one bounded
        ``$deleted-streams`` collect), so the join side is
        broadcast-scale by construction. This REPLACES the old
        per-stream OR-chain predicate: tombstone state is permanent,
        so that expression tree grew one term per ever-deleted stream
        and Catalyst plan compile is superlinear in expression size —
        at 100× stream churn the chain degenerates long before the
        data does. The join's plan shape is constant in #deletions."""
        dels = self._load_deletions()
        if not dels:
            return None
        if self._deletions_df is not None:
            return self._deletions_df
        rows = [(s, _TOMBSTONE_BEFORE if kind == "tombstoned" else int(before))
                for s, (kind, before, _) in dels.items()]
        self._deletions_df = local_frame(self.spark, 
            rows, "stream string, __del_before long")
        return self._deletions_df

    @staticmethod
    def _apply_deletion_filter(df: DataFrame, delf: DataFrame) -> DataFrame:
        """Hide logically-deleted history: broadcast left join against
        the deletions frame, keep rows past the per-stream bound (or
        from never-deleted streams). Same shape as the retention join
        right below — the corpus never shuffles."""
        return (df.join(F.broadcast(delf), "stream", "left")
                .where(F.col("__del_before").isNull()
                       | (F.col("position") > F.col("__del_before")))
                .drop("__del_before"))

    @staticmethod
    def _apply_retention_filter(df: DataFrame, rt: DataFrame) -> DataFrame:
        """Hide out-of-retention events: broadcast left join against the
        retention frame (``_retention_frame``), keep rows at or above
        the stream's revision floor and created cutoff (or from streams
        with no retention metadata)."""
        return (df.join(F.broadcast(rt), "stream", "left")
                .where((F.col("__floor").isNull()
                        | (F.col("revision") >= F.col("__floor")))
                       & (F.col("__cutoff").isNull()
                          | (F.col("created") >= F.col("__cutoff"))))
                .drop("__floor", "__cutoff"))

    def _effective_head(self, stream: str) -> tuple:
        """(continuation-aware head revision, deletion kind): after a
        soft delete — even one whose rows scavenge already reclaimed —
        revision numbering continues from the pre-delete head
        (EventStoreDB recreation semantics). The single home for the
        continuation rule used by append, append_multi and
        delete_stream; also re-reads deletion state through
        ``_sync_caches``, so a tombstone committed by another process
        since a caller's fast-fail check is still seen."""
        current = self.head_revision(stream)
        kind, _, last_rev = self._deletion_state(stream)
        if kind == "deleted" and (current is None or current < last_rev):
            current = last_rev if last_rev >= 0 else None
        return current, kind

    def delete_stream(self, stream: str,
                      expected: ExpectedRevision = ExpectedRevision.any(),
                      *, tombstone: bool = False) -> AppendResult:
        """Soft delete (default) or tombstone a stream.

        Implemented as a marker event appended to the ``$deleted-streams``
        system stream — an ordinary committed write, so it flows through
        subscriptions and survives restarts; nothing is physically removed
        until ``scavenge()``. Soft delete hides all events up to the
        current tail; a later append recreates the stream with revision
        numbering continuing from the pre-delete head. Tombstone is
        permanent: further appends/reads raise StreamDeletedError.

        The marker is a stage of ``_commit``: the CAS, its
        ``before_position`` (the attempt's tail) and ``last_revision``
        (the head read after it) are decided in the attempt that
        reserves it, so a revision committed meanwhile re-runs them.
        """
        import json as _json

        def stage(base_pos: int):
            # continuation-aware head: deleting an already-soft-deleted
            # stream (possibly after scavenge reclaimed its rows) must
            # carry the remembered pre-delete head forward, not reset
            # the marker to last_revision=-1 — a later recreation append
            # would otherwise restart revisions at 0 and re-issue
            # numbers consumers already saw
            current, kind = self._effective_head(stream)
            if kind == "tombstoned":
                raise StreamDeletedError(stream)
            if current is None and kind is None:
                raise StreamNotFoundError(stream)
            self._check_revision(expected, current, stream)
            marker = NewEvent(
                uuid=f"$del-{stream}-{base_pos}",
                event_type=TOMBSTONE_EVENT if tombstone else DELETE_EVENT,
                data=_json.dumps({
                    "stream": stream,
                    "before_position": base_pos,
                    "last_revision": -1 if current is None else current,
                }),
            )
            return self._stage_appends(
                base_pos, [(DELETED_STREAMS, [marker], ExpectedRevision.any())],
                check_duplicates=False)

        return self._commit(DELETED_STREAMS, stage)[0]

    def tombstone_stream(self, stream: str,
                         expected: ExpectedRevision = ExpectedRevision.any()) -> AppendResult:
        return self.delete_stream(stream, expected, tombstone=True)

    def scavenge(self, num_files: int = 8) -> int:
        """Physically reclaim deleted rows: drop every event covered by a
        soft-delete marker and every event of a tombstoned stream
        (markers are retained), rewriting the log position-sorted. The
        cluster shape of this job is a partition-pruned anti-filter +
        compaction (Delta: DELETE + OPTIMIZE); positions of surviving
        rows are unchanged, so readers and subscriptions are unaffected.
        Returns the number of rows removed.
        """
        if self.format == "delta":
            raise NotImplementedError(
                "scavenge on a Delta-backed log maps to Delta DELETE + "
                "OPTIMIZE; use those (the parquet path's rewrite would "
                "bypass the transaction log)")
        # Both reclamation rules are broadcast anti-filters against
        # small per-stream frames (#ever-deleted streams / #metadata
        # streams rows) — the same shape the logical read filters use.
        # Tombstone state is permanent, so an expression-tree form
        # (one OR term per deleted stream) would grow the compiled
        # plan without bound; the join's plan shape is constant.
        delf = self._deletions_frame()
        rt = self._retention_frame()
        if delf is None and rt is None:
            return 0
        with self._lock:
            df = self.df()
            kept = df
            if delf is not None:
                kept = self._apply_deletion_filter(kept, delf)
            if rt is not None:
                kept = self._apply_retention_filter(kept, rt)
            removed = df.count() - kept.count()
            if removed == 0:
                return 0
            # reclaimed uuids are appendable again: the rewrite drops
            # the index with the other caches
            self._rewrite(kept, num_files)
            return removed

    # -- stream metadata / retention (EventStoreDB $$<stream>) ------------

    def set_stream_metadata(self, stream: str, *,
                            max_count: Optional[int] = None,
                            max_age_secs: Optional[float] = None,
                            truncate_before: Optional[int] = None,
                            expected: ExpectedRevision = ExpectedRevision.any(),
                            ) -> AppendResult:
        """EventStoreDB stream metadata (absent from the reference —
        EventStoreDB's ``$$<stream>`` convention): append a
        ``$metadata`` event carrying ``$maxCount`` / ``$maxAge`` /
        ``$tb`` to the stream's metadata stream. The LAST metadata
        event wins (metadata is itself an ordered stream, so updates
        are CAS-able via ``expected``). Retention applies logically at
        read time (:meth:`read` filters out-of-retention events) and
        physically at :meth:`scavenge`."""
        import json as _json
        import uuid as _uuid

        body: dict = {}
        if max_count is not None:
            if max_count < 1:
                raise InvalidEventError("$maxCount must be >= 1")
            body["$maxCount"] = int(max_count)
        if max_age_secs is not None:
            if max_age_secs <= 0:
                raise InvalidEventError("$maxAge must be > 0")
            body["$maxAge"] = float(max_age_secs)
        if truncate_before is not None:
            body["$tb"] = int(truncate_before)
        ev = NewEvent(uuid=str(_uuid.uuid4()), event_type=METADATA_EVENT,
                      data=_json.dumps(body, sort_keys=True))
        res = self.append(f"$${stream}", [ev], expected)
        self._stream_meta[stream] = body
        self._has_meta_streams = True
        return res

    def _any_meta_streams(self) -> bool:
        """Does this log hold ANY ``$$``-metadata stream? One bounded
        probe per cache epoch; False short-circuits every retention
        lookup."""
        self._sync_caches()
        if self._has_meta_streams is None:
            self._has_meta_streams = bool(
                self.df().where(F.col("stream").startswith("$$"))
                .limit(1).collect())
        return self._has_meta_streams

    def get_stream_metadata(self, stream: str) -> dict:
        """Current metadata body for ``stream`` ({} when none set) —
        the last event of ``$$<stream>``, read-through cached."""
        import json as _json

        self._sync_caches()
        if stream in self._stream_meta:
            return dict(self._stream_meta[stream])
        rows = (self.df().where(F.col("stream") == f"$${stream}")
                .orderBy(F.col("revision").desc()).limit(1).collect())
        body = _json.loads(rows[0]["data"]) if rows else {}
        self._stream_meta[stream] = body
        return dict(body)

    def _retention_cutoff(self, meta: dict, head: Optional[int]):
        """(revision_floor, created_cutoff_ticks) for a metadata body —
        the two predicates retention filtering applies. The floor is the
        higher of ``$tb`` and, for a stream whose head is ``head``, the
        ``$maxCount`` floor. ``$maxAge`` is evaluated against
        ``retention_clock`` (or now) so tests and replays can pin the
        clock; the cutoff converts to the envelope's ``created`` unit
        (ticks = UnixNano/100, U5)."""
        import datetime as _dt

        floor = None
        if "$tb" in meta:
            floor = int(meta["$tb"])
        if "$maxCount" in meta and head is not None:
            count_floor = head - int(meta["$maxCount"]) + 1
            floor = count_floor if floor is None else max(floor, count_floor)
        cutoff = None
        if "$maxAge" in meta:
            now = self.retention_clock or _dt.datetime.now(_dt.timezone.utc)
            cut = now - _dt.timedelta(seconds=float(meta["$maxAge"]))
            cutoff = int(cut.timestamp() * 10_000_000)  # ticks
        return floor, cutoff

    def _apply_retention(self, df: DataFrame, sid: str) -> DataFrame:
        """Filter ``sid``'s out-of-retention events from the base frame
        BEFORE the read plan compiles, so boundaries/limits see only
        retained events (the soft-delete pattern). Cost guard: the
        metadata lookup short-circuits on a has-any-``$$`` check, so
        logs without metadata streams pay one bounded probe per cache
        epoch (``_any_meta_streams``)."""
        if sid.startswith("$$"):
            return df  # metadata streams are never retention-filtered
        if not self._any_meta_streams():
            return df
        meta = self.get_stream_metadata(sid)
        if not meta:
            return df
        head = self.head_revision(sid) if "$maxCount" in meta else None
        floor, cutoff = self._retention_cutoff(meta, head)
        this_stream = F.col("stream") == sid
        if floor is not None and floor > 0:
            df = df.where(~(this_stream & (F.col("revision") < floor)))
        if cutoff is not None:
            df = df.where(~(this_stream & (F.col("created") < F.lit(cutoff))))
        return df

    def _retention_frame(self) -> Optional[DataFrame]:
        """(stream, __floor, __cutoff) for every stream with retention
        metadata — the broadcast side of the ``$all`` retention filter.
        Built from two bounded jobs (latest metadata body per ``$$``
        stream, then one grouped head-revision pass for the
        ``$maxCount`` streams); row count = metadata streams, so the
        join side is broadcast-scale by construction. Not cached:
        ``$maxCount`` floors move with every append, and the build cost
        is only paid when metadata streams exist at all."""
        import json as _json

        if not self._any_meta_streams():
            return None
        meta_rows = (self.df()
                     .where(F.col("stream").startswith("$$"))
                     .groupBy("stream")
                     .agg(F.max_by("data", "revision").alias("data"))
                     .collect())
        bodies = {}
        for r in meta_rows:
            body = _json.loads(r["data"]) if r["data"] else {}
            if body:
                bodies[r["stream"][2:]] = body
        if not bodies:
            return None
        count_streams = [s for s, b in bodies.items() if "$maxCount" in b]
        heads: dict[str, int] = {}
        if count_streams:
            for r in (self.df().where(F.col("stream").isin(count_streams))
                      .groupBy("stream")
                      .agg(F.max("revision").alias("h")).collect()):
                heads[r["stream"]] = int(r["h"])
        rows = [(sid, *self._retention_cutoff(body, heads.get(sid)))
                for sid, body in bodies.items()]
        return local_frame(self.spark,
            rows, "stream string, __floor long, __cutoff long")

    # -- links ------------------------------------------------------------

    def link_to(self, stream: str, target_stream: str, target_revision: int,
                *, uuid: Optional[str] = None,
                expected: ExpectedRevision = ExpectedRevision.any()) -> AppendResult:
        """Append a link event pointing at (target_stream, target_revision)
        — EventStore's ``linkTo`` (absent from the reference; `$>` body
        format per the EventStoreDB convention)."""
        ev = NewEvent(
            uuid=uuid or f"$link-{stream}-{target_stream}-{target_revision}",
            event_type=LINK_EVENT,
            data=f"{target_revision}@{target_stream}",
            content_type="application/octet-stream",
        )
        return self.append(stream, [ev], expected)

    def _resolution_envelope(self, retention_frame=_UNSET) -> DataFrame:
        """The envelope link targets resolve against: per-stream LOGICAL
        visibility — soft-deleted/tombstoned history and out-of-retention
        events excluded — so resolution answers like the target stream's
        own read path and is INVARIANT across ``scavenge()``.
        EventStoreDB's resolveLinkTos reads the target through the
        stream read path, which enforces deletion/$tb/$maxCount, so a
        link into deleted or truncated history is unresolved whether or
        not the rows were physically reclaimed yet ($all itself keeps
        showing those rows until scavenge — a separate, test-pinned
        surface). Before round 15 resolution joined the RAW envelope,
        so the same link resolved pre-scavenge and dangled post-scavenge
        — scavenge was not transparent to link readers.

        Both visibility rules are broadcast joins against small
        per-stream frames (#ever-deleted / #metadata streams rows), so
        the plan shape is constant in deletion churn — see
        ``_deletions_frame``. ``retention_frame`` lets ``read`` pass
        the frame it already built for the ``$all`` branch instead of
        re-running the two bounded metadata collects."""
        df = self.df()
        delf = self._deletions_frame()
        if delf is not None:
            df = self._apply_deletion_filter(df, delf)
        rt = (self._retention_frame() if retention_frame is _UNSET
              else retention_frame)
        if rt is not None:
            df = self._apply_retention_filter(df, rt)
        return df

    @staticmethod
    def resolve_links(df: DataFrame, events: DataFrame) -> DataFrame:
        """Replace each `$>` link row's payload columns with its target's.

        A left join against the envelope on the parsed (stream, revision)
        pointer: non-link rows pass through; dangling links keep the link
        body (EventStoreDB surfaces unresolved links the same way). The
        link's own position/revision are preserved so ordering, limits
        and resume positions keep referring to the *link* stream — only
        payload identity changes.

        Scale shape: the probe is page/batch-bounded, but Spark cannot
        build the preserved (left) side of a LeftOuter broadcast join,
        so joining the RAW envelope would broadcast the *envelope* —
        fine at driver SFs, but past the broadcast threshold the
        planner falls back to sort-merge and shuffles the entire corpus
        by (stream, revision) for a page-sized resolved read. So the
        envelope is PRUNED first by the probe's distinct link-target
        streams (collected driver-side — bounded by the page/batch row
        count): the ``isin`` pushes through the visibility joins to the
        parquet scan, prunes it, and the filtered envelope is
        probe-scale, which AQE then broadcasts. A probe with no link
        rows skips the join entirely. Streaming probes can't be
        collected at plan time, so they keep the unpruned stream-static
        join — the wrappers (``Subscription``/``SinkSubscription``)
        resolve per micro-batch with static frames precisely so the
        pruned path engages; the in-plan streaming form is the
        driver-SF fallback for direct ``writeStream`` consumers.
        """
        is_link = F.col("event_type") == LINK_EVENT
        at = F.split(F.col("data"), "@", 2)
        probe = df.withColumns({
            "__tgt_rev": F.when(is_link, F.element_at(at, 1).cast("long")),
            "__tgt_stream": F.when(is_link, F.element_at(at, 2)),
        })
        if not df.isStreaming:
            # bounded: the probe is a page-bounded read result, a
            # replay frame, or one micro-batch — its distinct
            # link-target streams number at most its row count. The
            # limit()+1 caps the collect itself: an UNBOUNDED read over
            # a link stream fanning out to a huge target set must not
            # pull that set to the driver, nor bake it into a giant
            # In() literal (the expression-tree disease the deletions
            # frame fix removed) — past the cap, fall back to the
            # unpruned join and let the planner pick broadcast/SMJ.
            cap = 1024
            tgts = [r[0] for r in probe.select("__tgt_stream")
                    .where(F.col("__tgt_stream").isNotNull())
                    .distinct().limit(cap + 1).collect()]
            if not tgts:
                return df
            if len(tgts) <= cap:
                events = events.where(F.col("stream").isin(tgts))
        tgt = events.select(
            F.col("stream").alias("__t_stream"), F.col("revision").alias("__t_rev"),
            F.col("uuid").alias("__t_uuid"), F.col("data").alias("__t_data"),
            F.col("metadata").alias("__t_metadata"),
            F.col("custom_metadata").alias("__t_custom"),
            F.col("event_type").alias("__t_type"),
            F.col("content_type").alias("__t_ct"), F.col("created").alias("__t_created"),
        )
        joined = probe.join(
            tgt,
            (probe["__tgt_stream"] == tgt["__t_stream"])
            & (probe["__tgt_rev"] == tgt["__t_rev"]),
            "left",
        )
        resolved = F.col("__t_uuid").isNotNull()

        def pick(link_col: str, t_col: str):
            return F.when(resolved, F.col(t_col)).otherwise(F.col(link_col))

        return joined.select(
            F.col("stream"), pick("uuid", "__t_uuid").alias("uuid"),
            pick("data", "__t_data").alias("data"),
            pick("metadata", "__t_metadata").alias("metadata"),
            pick("custom_metadata", "__t_custom").alias("custom_metadata"),
            F.col("revision"), F.col("position"),
            pick("event_type", "__t_type").alias("event_type"),
            pick("content_type", "__t_ct").alias("content_type"),
            pick("created", "__t_created").alias("created"),
        )

    # -- read path --------------------------------------------------------

    def read(self, opts: ReadOptions) -> DataFrame:
        """Execute a read plan. Missing stream -> StreamNotFoundError
        (streams.go:211-222); tombstoned -> StreamDeletedError; a
        soft-deleted stream reads as recreated-or-missing (only events
        appended after the delete are visible).

        A stream read with no limit is the stream as of the head this
        instance synced: it gains ``revision <= head``, and, up to
        ``_TOPK_STREAM_ROWS``, the limit ``head + 1``, so it compiles to
        one top-k job instead of a range-partitioned sort (three jobs
        under AQE). The predicate is what makes the limit safe: a row a
        concurrent writer adds past the head can never push a backwards
        read's oldest event out of the window."""
        df = self.df()
        rt_for_resolution = _UNSET
        if opts.stream is not None:
            sid = opts.stream.identifier
            kind, before, _ = self._deletion_state(sid)
            if kind == "tombstoned":
                raise StreamDeletedError(sid)
            if kind == "deleted":
                df = df.where(~((F.col("stream") == sid)
                                & (F.col("position") <= before)))
                head = self._newest(df.where(F.col("stream") == sid), "revision")
            else:
                head = self.head_revision(sid)
            if head is None:
                raise StreamNotFoundError(sid)
            df = self._apply_retention(df, sid)
            so = opts.stream
            if _bounds(so.kind, opts.direction, so.revision, opts.count)[2] is None:
                df = df.where(F.col("revision") <= head)
                if head < _TOPK_STREAM_ROWS:
                    opts = dataclasses.replace(opts, count=head + 1)
        else:
            # $all reads honor retention too: one broadcast join against
            # the (metadata-stream-count)-sized retention table — the
            # corpus never shuffles, and logs without metadata skip this
            # entirely (one has-any probe per cache epoch).
            rt = self._retention_frame()
            rt_for_resolution = rt  # reuse below; rebuilding = 2 collects
            if rt is not None:
                df = self._apply_retention_filter(df, rt)
        out = compile_read(df, opts)
        if opts.resolve_links:
            out = self.resolve_links(
                out, self._resolution_envelope(rt_for_resolution))
            if opts.stream is not None:
                field, kind, at = "revision", opts.stream.kind, opts.stream.revision
            else:
                field, kind, at = "position", opts.all.kind, opts.all.position
            _, asc, _ = _bounds(kind, opts.direction, at, opts.count)
            out = out.orderBy(F.col(field).asc() if asc else F.col(field).desc())
        return out

    def read_stream(self, stream: str, *, direction: Direction = Direction.FORWARDS,
                    from_revision: Optional[int] = None,
                    boundary: Optional[BoundaryKind] = None,
                    count: int = 0, resolve_links: bool = False) -> DataFrame:
        # Convenience default: a backwards read with no explicit boundary
        # starts at END (the client-intuitive "read latest first"); START
        # + backwards is the degenerate first-event shortcut and must be
        # requested explicitly (backend.go:135-138).
        if boundary is None and from_revision is None:
            kind = BoundaryKind.START if direction == Direction.FORWARDS else BoundaryKind.END
        else:
            kind = boundary or BoundaryKind.AT
        opts = ReadOptions(
            direction=direction, count=count, resolve_links=resolve_links,
            stream=StreamOptions(stream, kind, from_revision or 0),
        )
        return self.read(opts)

    def read_all(self, *, direction: Direction = Direction.FORWARDS,
                 from_position: Optional[int] = None,
                 boundary: Optional[BoundaryKind] = None,
                 filter: Optional[SubscriptionFilter] = None,
                 count: int = 0, resolve_links: bool = False) -> DataFrame:
        if boundary is None and from_position is None:
            kind = BoundaryKind.START if direction == Direction.FORWARDS else BoundaryKind.END
        else:
            kind = boundary or BoundaryKind.AT
        opts = ReadOptions(
            direction=direction, count=count, resolve_links=resolve_links,
            all=AllOptions(kind, from_position or 0, filter),
        )
        return self.read(opts)


    def iter_pages(self, *, page_size: int = 10_000,
                   direction: Direction = Direction.FORWARDS,
                   from_position: Optional[int] = None,
                   filter: Optional[SubscriptionFilter] = None,
                   resolve_links: bool = False):
        """Cursor-paginated ``$all`` read: yields lists of Rows in global
        position order, ``page_size`` at a time.

        This is how an ordered scan of a 100 TB log is actually consumed
        (SCALE.md §3): each page is an independent *bounded* read, which
        compiles to a pushed position-range predicate + top-k
        (TakeOrderedAndProject) over the position-range-sorted files —
        file pruning does the seeking, no job ever global-sorts the
        corpus, and the client holds one page of rows at a time. The
        cursor is the last position seen; crash-resume = pass it back.
        """
        cursor = from_position
        boundary = None if cursor is not None else (
            BoundaryKind.START if direction == Direction.FORWARDS
            else BoundaryKind.END)
        while True:
            rows = self.read_all(
                direction=direction, from_position=cursor, boundary=boundary,
                filter=filter, count=page_size,
                resolve_links=resolve_links).collect()
            if not rows:
                return
            yield rows
            if len(rows) < page_size:
                return
            last = rows[-1]["position"]
            cursor = last + 1 if direction == Direction.FORWARDS else last - 1
            boundary = None
            if direction == Direction.BACKWARDS and cursor < 0:
                return

    # -- maintenance ------------------------------------------------------

    def compact(self, num_files: int = 8) -> None:
        """Rewrite the log into ``num_files`` position-sorted files.

        Small-file hygiene for the many-small-appends pattern; the cluster
        equivalent is Delta OPTIMIZE / file compaction with Z-order on
        (stream, position). ``repartitionByRange`` on position makes the
        output files position-DISJOINT — the property that lets readers
        prune whole files from (min, max) footer statistics (SCALE.md §1).

        Run under the writer lock; the directory overwrite also wipes
        ``_commits/``, so the watermark is re-backfilled from the fresh
        tail afterwards (commit evidence survives compaction). Like every
        rewrite, this assumes no concurrent writer in another process.
        """
        if self.format == "delta":
            raise NotImplementedError(
                "compact on a Delta-backed log maps to Delta OPTIMIZE; "
                "use it (the parquet path's rewrite would bypass the "
                "transaction log)")
        with self._lock:
            self._rewrite(self.df(), num_files)

    def _rewrite(self, df: DataFrame, num_files: int) -> None:
        """Replace the log with ``df`` in ``num_files`` position-sorted,
        position-disjoint files (``compact``/``scavenge``; runs under
        ``_lock``). The sorted copy is written beside the log, read back
        and written over it, since Spark cannot overwrite a directory it
        is reading. The overwrite destroys ``_commits/`` and with it the
        watermark, so every cache is dropped, the watermark is
        re-backfilled from the fresh tail, and a new rewrite mark makes
        other instances' next sync drop their caches (see
        ``_read_rewrite_mark``)."""
        import shutil as _shutil
        import uuid as _uuid

        tmp = self.path.rstrip("/") + ".rewrite"
        (df.repartitionByRange(num_files, "position")
         .sortWithinPartitions("position")
         .write.mode("overwrite").parquet(tmp))
        back = self.spark.read.schema(EVENT_SCHEMA).parquet(tmp)
        back.write.mode("overwrite").parquet(self.path)
        _shutil.rmtree(tmp, ignore_errors=True)  # full-size copy
        self._drop_caches()
        os.makedirs(self._commits_dir(), exist_ok=True)
        mark = self._rewrite_path() + ".tmp"
        with open(mark, "w") as f:
            f.write(_uuid.uuid4().hex)
            f.flush()
            os.fsync(f.fileno())
        os.replace(mark, self._rewrite_path())
        self._watermark_checked = False
        self._ensure_watermark()
