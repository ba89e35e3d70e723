"""Subscriptions — catch-up + live event delivery as Structured Streaming.

The reference implements subscriptions as goroutines doing an initial
historical read then re-reading from ``last+1`` on every commit signal
(``internal/streams/streams.go:224-309``). Spark's file-source streaming
gives the same contract declaratively: a ``readStream`` over the event
table starts at the requested position (catch-up) and each micro-batch
delivers newly committed files (live); the checkpoint/offset log IS the
reference's ``lastPositionOrRevision`` resume tracking (T3), and
backpressure is ``maxFilesPerTrigger`` instead of the buffered channel
(T6, streams.go:229-235).

Delivery-order note: a micro-batch may span files out of order, so the
consumer-facing sinks here sort each batch by position before handing it
over — the per-batch analogue of the reference's ``ORDER BY position``
re-read. Checkpoint markers every N events (T4, checkpointMod=32 at
``grpc_server.go:85``; the pump at ``:98-115`` emits the marker BEFORE
deliveries 1, 33, 65, …, quoting that next event's position) are
emitted by the memory-sink collector with the same pre-send cadence.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from eventstorm_spark.log.filters import filter_column
from eventstorm_spark.model import EVENT_SCHEMA, SubscriptionFilter
from eventstorm_spark.localframe import local_frame

CHECKPOINT_EVERY = 32  # grpc_server.go:85 (checkpointMod)


# Default source backpressure: files per micro-batch. Bounds the
# per-batch position sort AND the buffer-mode driver collect — without
# it the FIRST catch-up batch is the entire existing log (the buffered
# channel the reference's pump leans on, streams.go:229-235).
MAX_FILES_PER_TRIGGER = 64


def _stream_source(spark: SparkSession, path: str,
                   max_files_per_trigger: Optional[int] = MAX_FILES_PER_TRIGGER,
                   ) -> DataFrame:
    """readStream over the event table (file source, envelope schema).
    ``max_files_per_trigger`` is the backpressure bound (None =
    unbounded — the whole backlog lands in one batch)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    return reader.parquet(path)


def _resolve_sub(spark: SparkSession, path: str,
                 sub_df: DataFrame) -> DataFrame:
    """resolveLinkTos on a subscription (EventStoreDB semantics; the
    reference parses the flag for subscriptions too — ``model.go:100``/
    ``extensions.go:24`` — and never implements it): a STREAM-STATIC
    left join of each micro-batch's link rows against the log's
    logically-visible resolution envelope, replacing link payloads with
    their targets' while keeping link coordinates for ordering/resume —
    the exact ``EventLog.resolve_links`` the read path uses.

    This in-plan form is the fallback for DIRECT ``writeStream``
    consumers of the returned frame only — ``Subscription`` and
    ``SinkSubscription`` instead resolve per micro-batch (see
    ``_batch_resolver``), which both keeps visibility fresh and lets
    the envelope be pruned by the batch's bounded target-stream set.
    Visibility contract of THIS form is split: the deletion/retention
    frames are frozen driver-side at subscribe time, but the event-row
    side of the stream-static join is a lazy parquet read, so a target
    appended after subscribe may still resolve in later micro-batches
    while a stream deleted after subscribe keeps resolving — use the
    wrapper classes (or the read path) when read-path-equivalent
    visibility matters."""
    from eventstorm_spark.log.store import EventLog

    log = EventLog(spark, path)
    return EventLog.resolve_links(sub_df, log._resolution_envelope())


def _batch_resolver(spark: SparkSession, path: str):
    """Per-micro-batch resolveLinkTos: returns ``batch_df ->
    resolved_df`` for the wrapper sinks. Each batch is a STATIC frame,
    so ``EventLog.resolve_links`` prunes the envelope by the batch's
    distinct link-target streams (bounded by the batch row count, which
    ``maxFilesPerTrigger`` bounds) before the join — the 100×-scale
    shape; the in-plan stream-static join can't prune (the probe isn't
    collectable at plan time) and would shuffle the corpus once the
    envelope outgrows the broadcast threshold. Visibility is re-read
    per batch through the log's cache epoch (one cached ``EventLog``;
    ``_load_deletions``/``_retention_frame`` run ``_sync_caches``, which
    drops every cache once the commit clock moved), so post-subscribe
    deletes, tombstones and retention changes are observed exactly as
    the read path would — unlike the subscribe-time-frozen in-plan
    form."""
    from eventstorm_spark.log.store import EventLog

    log = EventLog(spark, path)

    def resolve(batch_df: DataFrame) -> DataFrame:
        return EventLog.resolve_links(batch_df, log._resolution_envelope())

    return resolve


def _mark_resolved(spark: SparkSession, path: str,
                   src: DataFrame) -> DataFrame:
    """Build the resolved subscription frame AND carry the per-batch
    plan: the returned frame has the in-plan stream-static resolution
    (so a direct ``writeStream`` consumer still gets resolved rows),
    plus two attributes the wrapper sinks use to upgrade to per-batch
    resolution — ``_es_unresolved`` (the pre-resolution source frame
    they subscribe to instead) and ``_es_resolve`` (the
    ``_batch_resolver`` they apply inside ``foreachBatch``)."""
    out = _resolve_sub(spark, path, src)
    out._es_unresolved = src
    out._es_resolve = _batch_resolver(spark, path)
    return out


def subscribe_stream(spark: SparkSession, path: str, stream: str,
                     from_revision: int = 0, *,
                     resolve_links: bool = False,
                     max_files_per_trigger: Optional[int] = MAX_FILES_PER_TRIGGER,
                     ) -> DataFrame:
    """Catch-up subscription to one stream from a revision (T1).

    Resume semantics are inclusive ``>=`` exactly like the reference's
    resume-opts builder (streams.go:264-285, `>=` at backend.go:111-116).
    ``resolve_links`` applies EventStoreDB's resolveLinkTos per
    micro-batch (see ``_resolve_sub`` for the snapshot contract).
    """
    src = _stream_source(spark, path, max_files_per_trigger)
    out = src.where((F.col("stream") == stream)
                    & (F.col("revision") >= from_revision))
    if resolve_links:
        out = _mark_resolved(spark, path, out)
    return out


def subscribe_all(spark: SparkSession, path: str, from_position: int = 0,
                  filter: Optional[SubscriptionFilter] = None, *,
                  resolve_links: bool = False,
                  max_files_per_trigger: Optional[int] = MAX_FILES_PER_TRIGGER,
                  ) -> DataFrame:
    """Catch-up subscription to $all from a position, with server-side
    filter (T1 + T5 — the filter applies to catch-up AND live phases,
    streams.go:270-276) and optional resolveLinkTos (the filter sees
    the LINK rows' own stream/type — EventStoreDB filters before
    resolution — and resolution keeps link coordinates)."""
    src = (_stream_source(spark, path, max_files_per_trigger)
           .where(F.col("position") >= from_position))
    if filter is not None:
        src = src.where(filter_column(filter))
    if resolve_links:
        src = _mark_resolved(spark, path, src)
    return src


@dataclass
class Delivered:
    """What a subscriber observed: ordered events + checkpoint markers."""

    events: list = field(default_factory=list)
    checkpoints: list = field(default_factory=list)  # positions at checkpoint emission


class _Driver:
    """What both subscription kinds share: the resolveLinkTos upgrade,
    the ``foreachBatch`` query start and the drain. Subclasses report
    their delivered count through ``_progress``."""

    def _unresolved(self, sub_df: DataFrame) -> DataFrame:
        """resolveLinkTos upgrade: subscribe to the UNRESOLVED source
        and resolve per micro-batch (fresh visibility, envelope pruned
        by the batch's bounded target set — see _batch_resolver)
        instead of running the marked frame's in-plan stream-static
        join. Sets ``_resolve`` (None = no resolution) and returns the
        frame to subscribe to."""
        self._resolve = getattr(sub_df, "_es_resolve", None)
        return sub_df if self._resolve is None else sub_df._es_unresolved

    def _start(self, sub_df: DataFrame, on_batch,
               checkpoint_dir: Optional[str]) -> None:
        writer = (
            sub_df.writeStream.outputMode("append")
            .foreachBatch(on_batch)
            .trigger(processingTime="200 milliseconds")
        )
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        self._query = writer.start()

    def _progress(self) -> int:
        raise NotImplementedError

    def process_available(self) -> None:
        """Drain everything currently committed. The file source judges
        "available" by its most recent directory listing, so a file
        committed immediately before this call can miss that listing
        (seen under heavy host load); drain until a listing round
        delivers nothing new."""
        import time as _time

        prev = -1
        for i in range(6):
            if i:
                # give the 200 ms trigger a fresh listing cycle between
                # rounds — back-to-back processAllAvailable calls can
                # both observe the same stale listing under host load
                _time.sleep(0.25)
            self._query.processAllAvailable()
            n = self._progress()
            if n == prev:
                return
            prev = n

    def stop(self) -> None:
        self._query.stop()


class Subscription(_Driver):
    """A running subscription with reference-shaped delivery semantics.

    Wraps a streaming query over the subscription DataFrame; each
    micro-batch is sorted by position and appended to the delivery
    buffer, emitting a checkpoint marker before every CHECKPOINT_EVERY-th
    delivery (the 1st, 33rd, …, quoting that event's position — the
    reference's pre-send cadence, T4).
    ``process_available()`` drains everything currently committed
    — the deterministic replay harness for tests (Trigger-AvailableNow
    semantics); with live appends, call it again to pick up new files.

    Ordering contract (same as ``SinkSubscription``, which additionally
    GUARDS it): each micro-batch is sorted by position, and batches
    arrive in source-listing order — position order exactly when the
    log is single-writer-appended with atomic single-file commits (the
    engine's fenced append). A bulk-written log whose files share
    mtimes can list out of position order under ``maxFilesPerTrigger``
    splitting; this buffer-mode harness delivers what arrives (the
    client-surface mirror of the reference's pump), so compact such a
    log or pass ``max_files_per_trigger=None`` before subscribing.
    """

    _seq = 0

    def __init__(self, sub_df: DataFrame, *, checkpoint_every: int = CHECKPOINT_EVERY,
                 checkpoint_dir: Optional[str] = None):
        """``checkpoint_dir`` makes the subscription durable: the Spark
        offset log persists the resume position, so a new Subscription on
        the same dir continues after the last delivered file without
        redelivery — the engine's form of the reference's
        ``lastPositionOrRevision`` tracking (T3) surviving restarts.

        Caveat: the resume offsets track source FILES; a log compaction
        rewrites history into new files, which a resumed buffer-mode
        subscription would re-receive. ``SinkSubscription`` fences this
        with its sink's max delivered position; for buffer mode either
        re-subscribe from a position (``subscribe_all(from_position=…)``)
        after compacting, or use the sink mode — the buffer surface is
        the in-memory test/client harness, not the scale path."""
        import os as _os

        Subscription._seq += 1
        self.id = f"sub-{Subscription._seq}"
        sub_df = self._unresolved(sub_df)
        self.delivered = Delivered()
        self.confirmed = False  # SubscriptionConfirmation (grpc_server.go:84-122)
        self._checkpoint_every = checkpoint_every
        # Lifetime delivered count, persisted next to the Spark offsets
        # so a RESUMED subscription continues the checkpoint-marker
        # cadence (markers before lifetime deliveries 1, 33, 65, …)
        # instead of restarting it from its fresh in-memory buffer.
        self._nsent_path = (_os.path.join(checkpoint_dir, "_nsent")
                            if checkpoint_dir else None)
        self._nsent = 0
        self._nsent_epoch: Optional[tuple] = None  # (epoch_id, before)
        if self._nsent_path and _os.path.exists(self._nsent_path):
            import json as _json
            try:
                with open(self._nsent_path) as f:
                    doc = _json.load(f)
                self._nsent = int(doc.get("after", 0))
                self._nsent_epoch = (doc.get("epoch"), int(doc.get("before", 0)))
            except (OSError, ValueError):
                self._nsent = 0

        def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
            import json as _json

            # foreachBatch is at-least-once: a replay of the last
            # counted epoch rewinds to its pre-batch count instead of
            # double-counting its rows in the lifetime cadence
            if self._nsent_epoch and self._nsent_epoch[0] == epoch_id:
                self._nsent = self._nsent_epoch[1]
            before = self._nsent
            if self._resolve is not None:
                batch_df = self._resolve(batch_df)
            rows = batch_df.orderBy("position").collect()
            for r in rows:
                # Reference pump (grpc_server.go:98-115): the marker is
                # sent when nSent % checkpointMod == 0 BEFORE the send,
                # quoting the about-to-be-delivered event's position —
                # markers precede deliveries 1, 33, 65, ….
                if self._nsent % self._checkpoint_every == 0:
                    self.delivered.checkpoints.append(r["position"])
                self.delivered.events.append(r)
                self._nsent += 1
            self._nsent_epoch = (epoch_id, before)
            if rows and self._nsent_path:
                tmp = self._nsent_path + ".tmp"
                with open(tmp, "w") as f:
                    _json.dump({"epoch": epoch_id, "before": before,
                                "after": self._nsent}, f)
                _os.replace(tmp, self._nsent_path)

        self._start(sub_df, on_batch, checkpoint_dir)
        self.confirmed = True

    def _progress(self) -> int:
        return len(self.delivered.events)

    @property
    def positions(self) -> list:
        return [r["position"] for r in self.delivered.events]

    @property
    def revisions(self) -> list:
        return [r["revision"] for r in self.delivered.events]


class SinkSubscription(_Driver):
    """Sink-mode delivery: each micro-batch is appended to a results
    table instead of a driver buffer — the scale path for catch-up over
    a log that does not fit in driver memory (the in-memory
    ``Subscription`` mirrors the reference's per-row gRPC pump,
    streams.go:287-309, and remains the test-harness/client surface).

    Delivery contract (matches the pump semantics):

    - every delivered row carries a gapless 1-based ``delivery_seq``
      assigned in global position order, so a consumer reading the sink
      ``ORDER BY delivery_seq`` replays the exact order the reference
      would have pushed;
    - rows where ``(delivery_seq - 1) % checkpoint_every == 0`` are
      flagged ``checkpoint = true`` — the T4 checkpoint marker
      (checkpointMod=32 at grpc_server.go:85; the pump at :98-115 emits
      it when ``nSent % mod == 0`` BEFORE the send, i.e. preceding
      deliveries 1, 33, 65, … and quoting that event's position) carried
      on the row the marker would precede/quote;
    - the only driver-side state is the running delivered count (a
      scalar), recovered from ``max(delivery_seq)`` already in the sink
      on restart, so a resumed subscription (same Spark checkpoint dir)
      continues the sequence without redelivery;
    - delivery is EXACTLY-ONCE in the sink: foreachBatch itself is
      at-least-once (a crash after the data write but before the
      streaming checkpoint commits replays the batch), so each epoch
      writes to its own ``epoch=<id>`` partition directory with
      overwrite. A replayed epoch overwrites its earlier output with
      byte-identical rows — the original ``delivery_seq`` base is
      recovered from the partition itself (``min(delivery_seq) - 1``)
      rather than re-assigned, so no event ever appears twice under two
      sequence numbers. (File-source batches are deterministic replays
      of the offset log, so the row set per epoch is stable.)

    The within-batch ordering window is batch-sized, and batches are
    bounded by source backpressure (``maxFilesPerTrigger``) — ordering
    is inherently sequential in any delivery protocol; backpressure is
    what keeps the sort bounded, exactly as the reference's buffered
    channel bounds its pump.
    """

    def __init__(self, sub_df: DataFrame, sink_path: str, *,
                 checkpoint_every: int = CHECKPOINT_EVERY,
                 checkpoint_dir: Optional[str] = None):
        import os as _os

        from pyspark.sql import Window as W

        self.sink_path = sink_path
        self._spark = sub_df.sparkSession
        sub_df = self._unresolved(sub_df)
        self._delivered = self._existing_count()
        # Resume fence against rewritten source files: a compaction /
        # scavenge rewrites the log into NEW files, which the file
        # source (tracking files by path) re-lists as unseen — without
        # this, a restarted subscription would redeliver the entire
        # compacted history. Positions are globally monotonic, so rows
        # at or below the sink's max delivered position are replays of
        # already-delivered events, not new data.
        self._resume_position = self._existing_max_position()
        # Highest position delivered so far — the cross-batch order
        # guard's fence (seeded from the sink so restarts keep it).
        self._max_seen_pos = self._resume_position
        # Epoch namespacing across query lineages: a FRESH streaming
        # lineage (no checkpoint_dir, or one with no offsets yet)
        # restarts Spark's epoch ids at 0, which would collide with the
        # epoch dirs of a previous run over the same sink — the replay
        # path would then misread a stale epoch=0 as a crash replay and
        # overwrite/duplicate history. Offset fresh lineages past the
        # existing epochs; a RESUMED lineage (same checkpoint dir with
        # offsets) keeps its ids, which is what legit epoch replay
        # needs.
        # The offset is PERSISTED next to the Spark offsets (like
        # Subscription's _nsent): a lineage that STARTED over a
        # non-empty sink chose a non-zero offset, and recomputing after
        # a crash/restart (offsets dir now non-empty -> "resumed")
        # would default it back to 0 — colliding this lineage's epoch
        # dirs with the older lineage's and corrupting the replay base.
        fresh_lineage = True
        offset_path = None
        if checkpoint_dir:
            offs = _os.path.join(checkpoint_dir, "offsets")
            fresh_lineage = not (_os.path.isdir(offs)
                                 and any(not n.startswith(".")
                                         for n in _os.listdir(offs)))
            offset_path = _os.path.join(checkpoint_dir, "_epoch_offset")
        if fresh_lineage:
            self._epoch_offset = self._existing_max_epoch() + 1
            if offset_path:
                _os.makedirs(checkpoint_dir, exist_ok=True)
                tmp = offset_path + ".tmp"
                with open(tmp, "w") as f:
                    f.write(str(self._epoch_offset))
                _os.replace(tmp, offset_path)
        else:
            self._epoch_offset = 0
            if offset_path and _os.path.exists(offset_path):
                try:
                    with open(offset_path) as f:
                        self._epoch_offset = int(f.read().strip())
                except (OSError, ValueError):
                    self._epoch_offset = 0

        every = checkpoint_every

        def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
            # resolution first: it preserves link coordinates, so the
            # position-based fences/sequencing below are unaffected
            if self._resolve is not None:
                batch_df = self._resolve(batch_df)
            eid = int(epoch_id) + self._epoch_offset
            edir = _os.path.join(self.sink_path, f"epoch={eid}")
            base = self._delivered
            replay = False
            if _os.path.exists(edir):
                # Replay of an epoch whose data already landed (crash
                # between the sink write and the streaming checkpoint
                # commit): reproduce the ORIGINAL write exactly — the
                # original row set (the landed rows' min position tells
                # us where the resume fence cut, so re-applying
                # `>= min` reproduces the same filter) under the
                # original sequence base. Epoch writes are single-file,
                # so a readable epoch dir is a complete one.
                try:
                    row = (self._spark.read.parquet(edir)
                           .agg(F.min("delivery_seq").alias("s"),
                                F.min("position").alias("p")).collect()[0])
                    if row["s"] is not None:
                        base = int(row["s"]) - 1
                        batch_df = batch_df.where(
                            F.col("position") >= int(row["p"]))
                        replay = True
                except Exception:
                    pass  # no data landed: treat as a fresh write
            if not replay and self._resume_position > 0:
                batch_df = batch_df.where(
                    F.col("position") > self._resume_position)
            stats = batch_df.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("position").alias("lo"),
                F.max("position").alias("hi")).collect()[0]
            cnt = int(stats["n"])
            if cnt == 0:
                return
            # Cross-batch order guard: with maxFilesPerTrigger the file
            # source splits catch-up into batches in LISTING order
            # (mod-time, then path); a bulk-written log whose files
            # share timestamps can hand a later batch LOWER positions,
            # which would assign delivery_seq out of global position
            # order — silently breaking the replay contract. Positions
            # are globally monotonic per the single-appending-writer
            # contract (the engine's fenced append commits one file per
            # append, so listing order = position order); detect the
            # violation instead of mis-sequencing. Recovery: compact
            # the bootstrapped log to one file, or subscribe with
            # max_files_per_trigger=None so catch-up is one batch.
            if not replay and int(stats["lo"]) <= self._max_seen_pos:
                raise RuntimeError(
                    "SinkSubscription: micro-batch carries position "
                    f"{int(stats['lo'])} <= already-delivered max "
                    f"{self._max_seen_pos} — the source listing split a "
                    "bulk-written log out of position order; compact "
                    "the log or use max_files_per_trigger=None")
            seq = (F.row_number().over(W.orderBy("position"))
                   .cast("long") + F.lit(base))
            out = (batch_df.withColumn("delivery_seq", seq)
                   .withColumn("checkpoint",
                               (F.col("delivery_seq") - 1) % every == 0))
            # one file per epoch: the publish is all-or-nothing, so a
            # crash mid-write can never land a readable PARTIAL epoch
            # (which would poison the replay base recovery above)
            out.coalesce(1).write.mode("overwrite").parquet(edir)
            self._delivered = max(self._delivered, base + cnt)
            self._max_seen_pos = max(self._max_seen_pos, int(stats["hi"]))

        self._start(sub_df, on_batch, checkpoint_dir)

    def _progress(self) -> int:
        return self._delivered

    def _existing_count(self) -> int:
        try:
            row = (self._spark.read.parquet(self.sink_path)
                   .agg(F.max("delivery_seq").alias("m")).collect()[0])
            return int(row["m"]) if row["m"] is not None else 0
        except Exception:
            return 0

    def _existing_max_position(self) -> int:
        try:
            row = (self._spark.read.parquet(self.sink_path)
                   .agg(F.max("position").alias("m")).collect()[0])
            return int(row["m"]) if row["m"] is not None else 0
        except Exception:
            return 0

    def _existing_max_epoch(self) -> int:
        import os as _os
        try:
            return max((int(n.split("=", 1)[1])
                        for n in _os.listdir(self.sink_path)
                        if n.startswith("epoch=")), default=-1)
        except OSError:
            return -1

    def result(self) -> DataFrame:
        """The delivered table (envelope + delivery_seq + checkpoint),
        unordered — consumers ``orderBy('delivery_seq')`` to replay."""
        try:
            return self._spark.read.parquet(self.sink_path).drop("epoch")
        except Exception:
            from pyspark.sql import types as T

            schema = T.StructType(
                EVENT_SCHEMA.fields
                + [T.StructField("delivery_seq", T.LongType(), False),
                   T.StructField("checkpoint", T.BooleanType(), False)])
            return local_frame(self._spark, [], schema)
