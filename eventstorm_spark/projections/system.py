"""System projections — EventStoreDB's built-in index projections.

EventStoreDB ships standard projections that maintain link-event index
streams: ``$by_category`` (events of stream ``a-b`` linked into
``$ce-a``), ``$by_event_type`` (into ``$et-<type>``), ``$streams`` (the
first event of every stream into ``$streams``) and ``$stream_by_category``
(one link per stream into ``$category-<cat>``). The reference implements
none of them (SURVEY §2.5 scope note: system projections absent;
``internal/projections/projection.go`` has no standard-projection code) —
but a user of the real product relies on them, so we provide the batch
materialization as pure DataFrame transforms.

Nothing here needs a stateful fold: every system projection is a
*stateless* mapping of the envelope plus a per-link-stream revision
assignment, so each lowers to a scan + window (one shuffle on the link
stream key) instead of an applyInPandas fold. At 100 TB the window
shuffles only the (slim) link rows — the payload columns are pruned
before the exchange, and the revision window runs per link stream, which
is exactly the partitioning the output will be written in.

The dense 0-based per-stream revision of the envelope (assigned at
append) is what makes ``$streams``/``$stream_by_category`` cheap: "first
event of a stream" is the literal predicate ``revision = 0`` — no
groupBy-min over the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from eventstorm_spark.log.store import LINK_EVENT, now_ticks
from eventstorm_spark.model import META_CONTENT_TYPE, META_CREATED, META_TYPE

# Default category separator. EventStoreDB's $by_category config defaults
# to splitting on the FIRST '-' ("first" mode).
SEPARATOR = "-"

_LINK_OUT = ["stream", "event_type", "data", "link_revision", "source_position"]


def _links(df: DataFrame, link_stream) -> DataFrame:
    """Envelope rows -> `$>` link rows into ``link_stream`` (a Column),
    with dense per-link-stream revisions in source-position order."""
    slim = df.select(
        link_stream.alias("__ls"),
        F.concat(F.col("revision").cast("string"), F.lit("@"), F.col("stream"))
        .alias("data"),
        F.col("position").alias("source_position"),
    )
    w = W.partitionBy("__ls").orderBy("source_position")
    return slim.select(
        F.col("__ls").alias("stream"),
        F.lit(LINK_EVENT).alias("event_type"),
        "data",
        (F.row_number().over(w) - 1).cast("long").alias("link_revision"),
        "source_position",
    )


def _user_streams(events: DataFrame) -> DataFrame:
    """System streams (`$...`) never feed system projections."""
    return events.where(~F.col("stream").startswith("$"))


def by_category(events: DataFrame, separator: str = SEPARATOR) -> DataFrame:
    """``$by_category``: every event of a categorizable stream
    (``<cat><sep>...``) linked into ``$ce-<cat>``."""
    src = _user_streams(events).where(F.instr(F.col("stream"), separator) > 0)
    cat = F.substring_index(F.col("stream"), separator, 1)
    return _links(src, F.concat(F.lit("$ce-"), cat))


def by_event_type(events: DataFrame) -> DataFrame:
    """``$by_event_type``: every event with a non-system type linked into
    ``$et-<type>``."""
    src = _user_streams(events).where(
        F.col("event_type").isNotNull() & ~F.col("event_type").startswith("$"))
    return _links(src, F.concat(F.lit("$et-"), F.col("event_type")))


def streams_index(events: DataFrame) -> DataFrame:
    """``$streams``: the first event (revision 0) of every stream linked
    into the single ``$streams`` stream."""
    src = _user_streams(events).where(F.col("revision") == 0)
    return _links(src, F.lit("$streams"))


def stream_by_category(events: DataFrame, separator: str = SEPARATOR) -> DataFrame:
    """``$stream_by_category``: one link per stream (its revision-0 event)
    into ``$category-<cat>``."""
    src = _user_streams(events).where(
        (F.col("revision") == 0) & (F.instr(F.col("stream"), separator) > 0))
    cat = F.substring_index(F.col("stream"), separator, 1)
    return _links(src, F.concat(F.lit("$category-"), cat))


def materialize(events: DataFrame, log, which=None, *,
                num_partitions: int | None = None) -> int:
    """Append the system-projection link streams to the log (the durable
    form EventStoreDB maintains continuously).

    Fully distributed — link rows never pass through the driver. Each
    projection is one bulk append (``EventLog.append_frame``) whose
    batch is derived inside the log's commit loop, from the tail the
    attempt read:

    1. dense per-link-stream revisions from the ``_links`` window,
       offset by the link stream's existing head revision (joined from
       the log, so re-materializing onto a log with prior link streams
       continues their numbering);
    2. gapless global positions via a **range-partitioned two-pass
       offset add**: the link rows are range-partitioned and sorted on
       (stream, link_revision) and pinned with ``localCheckpoint`` (so
       both passes see identical partitioning), only the P per-partition
       *counts* come back to the driver, and each row's position is
       ``tail + prefix_offset(partition) + row_number_in_partition``;
    3. one distributed, multi-file Parquet publish of the assembled
       envelope.

    Driver-side state is O(partitions), not O(events). A commit that
    another writer wins (lost reserve, tripped fence, lost Delta race)
    re-derives all three steps at the advanced tail, like every append.
    Link uuids are deterministic AND replay-stable
    (``name-stream-source_position`` — derived from the linked event's
    global position, never from the assigned revision, so a re-run
    over the same source rows mints identical uuids even when revision
    numbering has moved past a torn partial publish); unlike
    ``EventLog.append`` this bulk path does not duplicate-check —
    rebuild into a fresh/scavenged log or dedupe on uuid when
    re-materializing.
    """
    builders = {
        "$by_category": by_category,
        "$by_event_type": by_event_type,
        "$streams": streams_index,
        "$stream_by_category": stream_by_category,
    }
    if isinstance(which, str):  # natural single-projection call
        which = [which]
    total = 0
    for name in (which or builders):
        total += _append_links(log, name, builders[name](events),
                               num_partitions=num_partitions)
    return total


def _append_links(log, name: str, links: DataFrame, *,
                  num_partitions: int | None = None) -> int:
    """Distributed bulk append of one projection's link rows (see
    :func:`materialize`): ``derive`` is the commit stage
    ``EventLog.append_frame`` runs once per attempt, after the
    attempt's tail read, so the link-stream heads it joins cover every
    commit below the positions it assigns. Returns the number of rows
    written."""
    spark = links.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism

    def derive(base_pos: int):
        # (1) continue revision numbering from existing link-stream
        # heads. Link streams all live under the '$' prefix, so the head
        # scan prunes to system rows; AQE broadcasts the
        # (stream-count-sized) head table into the join.
        heads = (log.df().where(F.col("stream").startswith("$"))
                 .groupBy("stream").agg(F.max("revision").alias("__head")))
        linked = (links.join(heads, "stream", "left")
                  .withColumn(
                      "revision",
                      (F.coalesce(F.col("__head") + 1, F.lit(0))
                       + F.col("link_revision")).cast("long")))

        # (2) two-pass gapless position assignment. localCheckpoint pins
        # the (sampled) range partitioning so the counts pass and the
        # rank pass see the same partition ids.
        part = (linked.repartitionByRange(n_parts, "stream", "link_revision")
                .sortWithinPartitions("stream", "link_revision")
                .withColumn("__pid", F.spark_partition_id())
                .localCheckpoint(eager=True))
        counts = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
        if not counts:
            return None
        offsets: dict[int, int] = {}
        run = 0
        for r in sorted(counts, key=lambda r: r["__pid"]):
            offsets[r["__pid"]] = run
            run += r["c"]
        off_map = F.create_map(
            *[F.lit(v) for pid, off in offsets.items() for v in (pid, off)])

        ticks = now_ticks()
        w = W.partitionBy("__pid").orderBy("stream", "link_revision")
        rank = (F.row_number().over(w) - 1).cast("long") + off_map[F.col("__pid")]

        env = part.select(
            F.col("stream"),
            # uuid from CONTENT (the linked event's global position):
            # replay-stable — a re-run after a torn publish mints
            # IDENTICAL uuids so uuid-dedupe can identify the
            # already-landed rows (a revision-derived uuid would
            # continue PAST the partial rows and mint fresh ones), and
            # unique — a source event links into a given stream at most
            # once per projection, and incremental tail batches carry
            # strictly newer positions (unlike link_revision, which
            # restarts at 0 per batch)
            F.concat(F.lit(name + "-"), F.col("stream"), F.lit("-"),
                     F.col("source_position").cast("string"))
            .alias("uuid"),
            F.col("data"),
            F.create_map(
                F.lit(META_TYPE), F.lit(LINK_EVENT),
                F.lit(META_CONTENT_TYPE), F.lit("application/octet-stream"),
                F.lit(META_CREATED), F.lit(str(ticks)),
            ).alias("metadata"),
            F.lit(None).cast("binary").alias("custom_metadata"),
            F.col("revision"),
            (F.lit(base_pos) + 1 + rank).cast("long").alias("position"),
            F.lit(LINK_EVENT).alias("event_type"),
            F.lit("application/octet-stream").alias("content_type"),
            F.lit(ticks).alias("created"),
        )
        return env, run

    return log.append_frame(name, derive)
