"""Continuous projections — the fold as a stateful streaming query.

The reference's intended-but-unwired live path (subscription ->
``Projection.Update`` per event -> result-stream emission,
``internal/projections/projection.go:399-414`` + SURVEY §3.3) maps to
``applyInPandasWithState``: the projection state lives in Spark's state
store per partition key, each micro-batch folds its events in position
order, and the updated state is emitted downstream (to a memory sink or
``foreachBatch`` appending to the result stream — S8).

Note on ``reorderEvents``/``processingLag`` (T7): the reference parses
these options but never enforces them (projection.go:48-53 has no
consumer). Default mode guarantees intra-batch position order by sorting
inside the fold; cross-batch order follows commit order of the
single-writer log, so fold ≡ sequential replay without extra buffering.
With ``options({"reorderEvents": True, "processingLag": ms})`` the fold
additionally reorders ACROSS micro-batches: events are buffered in the
state store and released in position order once the per-key created-time
high-watermark has advanced ``ms`` past them (the event-time watermark
contract) — so disorder arriving within the lag folds exactly like a
batch replay. As with Spark's own windowed aggregations, the trailing
in-window events release when the watermark advances (newer events
arrive), not on wall-clock idleness — a processing-time timeout was
measured and rejected: pending state timeouts keep the engine planning
micro-batches forever, so AvailableNow/processAllAvailable never
settle.

State serialization contract: streaming projection state must be
JSON-NATIVE (dict/list/str/int/float/bool/None). The state round-trips
through ``json.dumps``/``loads`` at EVERY micro-batch boundary, so a
non-native value (a set, a datetime) would be handed back to the
handler as its string rendering on the next batch — silently diverging
from the batch replay, which keeps the live object until the single
final dump. The fold therefore raises ``TypeError`` (with the
offending projection named) instead of degrading: keep sets as sorted
lists and datetimes as isoformat strings inside handler state. Batch
mode is unaffected (its one terminal render via ``default=str`` never
feeds back into a handler).
"""

from __future__ import annotations

import json
from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from eventstorm_spark.errors import ProjectionEmitOverflowError
from eventstorm_spark.projections.batch import _event_from_row, _keyed, _select
from eventstorm_spark.projections.dsl import Projection

STREAM_OUT_SCHEMA = "partition string, state string"
STREAM_STATE_SCHEMA = "state string"


def _dump_state(spec: Projection, st: Any) -> str:
    """Serialize fold state for the state store (see the module
    docstring's JSON-native contract). Raises instead of degrading."""
    try:
        return json.dumps(st, sort_keys=True)
    except TypeError as exc:
        raise TypeError(
            f"projection '{spec.name}': streaming state must be "
            f"JSON-native (dict/list/str/int/float/bool/None) — it "
            f"round-trips through the state store every micro-batch, "
            f"so {exc}. Use sorted lists for sets and isoformat "
            f"strings for datetimes; batch mode accepts the value "
            f"because it renders state only once, at output."
        ) from exc


def run_streaming(spec: Projection, events_stream: DataFrame) -> DataFrame:
    """Continuous fold over a streaming envelope DataFrame.

    Returns a streaming DataFrame of (partition, state) updates — one row
    per key per micro-batch that touched the key (output mode `update`).
    Start it with ``.writeStream`` (memory sink for tests, foreachBatch →
    ``EventLog.append`` for result-stream parity).
    """
    lag_ms = spec.opts.processing_lag if spec.opts.reorder_events else 0
    if lag_ms > 0:
        return _run_streaming_reordered(spec, events_stream, lag_ms)
    keyed = _keyed(spec, _select(spec, events_stream))

    def fold(key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            st: Any = json.loads(state.get[0])
        else:
            st = None
        touched = False
        # concatenate the key's WHOLE micro-batch before sorting: the
        # iterator yields Arrow chunks (~10k rows each), and a per-chunk
        # sort would fold events out of position order whenever one
        # key's batch spans chunks (e.g. the unpartitioned "" key during
        # catch-up) — state would silently diverge from the batch replay
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            whole = (chunks[0] if len(chunks) == 1
                     else pd.concat(chunks, ignore_index=True))
            whole = whole.sort_values("position", kind="mergesort")
            for row in whole.itertuples(index=False):
                e = _event_from_row(row)
                e.partition = key[0] if spec.is_partitioned else ""
                # emit()/linkTo() output is not delivered live: continuous
                # mode folds state only; emitted events come from a
                # run_batch_emitted replay (idempotent via source_position)
                st, _forward, _emitted = spec.run_chain_collect(st, e)
                touched = True
        if touched:
            dumped = _dump_state(spec, st)
            state.update((dumped,))
            yield pd.DataFrame({"partition": [key[0]], "state": [dumped]})

    return keyed.groupBy("__key").applyInPandasWithState(
        fold,
        STREAM_OUT_SCHEMA,
        STREAM_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def _run_streaming_reordered(spec: Projection, events_stream: DataFrame,
                             lag_ms: int) -> DataFrame:
    """T7 enforced: the reorderEvents/processingLag fold.

    Each key's state wraps ``{st, buf, hwm}``: incoming events land in
    ``buf``; once the created-tick high-watermark ``hwm`` has advanced
    ``lag_ms`` past an event it is *released* — released events fold in
    position order, so any disorder confined to the lag window replays
    exactly like the batch fold (the reference's "delay processing up to
    processingLag to reorder by prepare position", projection.go:48-53).
    Events still inside the window stay buffered until the watermark
    advances past them. State carries only the in-window slice, so the
    buffer is bounded by lag x arrival rate, not the corpus.

    Requires a column-backed key (``partition_by(column=...)``,
    ``foreach_stream`` or unpartitioned) — Python-callable keys would
    put an interpreted UDF on the hot path of every buffered row.
    """
    from pyspark.sql import functions as F

    from eventstorm_spark.projections.batch import _FOLD_COLUMNS
    from eventstorm_spark.projections.dsl import ProjEvent

    base = _select(spec, events_stream).select(*_FOLD_COLUMNS, "created")
    if not spec.is_partitioned:
        keyed = base.withColumn("__key", F.lit(""))
    elif spec.partition_column:
        keyed = base.withColumn(
            "__key", F.expr(spec.partition_column).cast("string"))
    else:
        raise NotImplementedError(
            "processingLag requires a column-backed partition key "
            "(partition_by(column=...), foreach_stream, or unpartitioned)")

    lag_ticks = lag_ms * 10_000  # 100-ns ticks per ms

    def fold(key: Tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            wrapper: Any = json.loads(state.get[0])
        else:
            wrapper = {"st": None, "buf": [], "hwm": 0}
        buf = wrapper["buf"]
        hwm = int(wrapper["hwm"])
        for pdf in pdf_iter:
            for row in pdf.itertuples(index=False):
                created = int(row.created) if row.created is not None else 0
                buf.append({
                    "stream": row.stream, "event_type": row.event_type,
                    "data": row.data,
                    "metadata": dict(row.metadata)
                    if isinstance(row.metadata, dict) else {},
                    "content_type": row.content_type,
                    "position": int(row.position),
                    "revision": int(row.revision), "created": created,
                })
                hwm = max(hwm, created)
        horizon = hwm - lag_ticks
        ready = [e for e in buf if e["created"] <= horizon]
        buf = [e for e in buf if e["created"] > horizon]
        ready.sort(key=lambda e: e["position"])
        st = wrapper["st"]
        touched = False
        for ed in ready:
            e = ProjEvent.from_envelope(
                stream=ed["stream"], event_type=ed["event_type"],
                data=ed["data"], metadata=ed["metadata"],
                content_type=ed["content_type"], revision=ed["revision"],
            )
            e.partition = key[0] if spec.is_partitioned else ""
            st, _forward, _emitted = spec.run_chain_collect(st, e)
            touched = True
        state.update((_dump_state(
            spec, {"st": st, "buf": buf, "hwm": hwm}),))
        if touched:
            yield pd.DataFrame({
                "partition": [key[0]],
                "state": [_dump_state(spec, st)],
            })

    return keyed.groupBy("__key").applyInPandasWithState(
        fold,
        STREAM_OUT_SCHEMA,
        STREAM_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def start_continuous(spec: Projection, log, *, checkpoint_dir: str | None = None,
                     trigger_ms: int = 200,
                     max_updates_per_batch: int = 100_000,
                     max_files_per_trigger: int | None = 64):
    """Run a projection continuously against an EventLog, emitting every
    state update into its result stream (S8 live — the wiring the
    reference holds but never connects, SURVEY §3.3).

    Each state change becomes a ``$projection-state`` event appended to
    ``$projections-{name}-result`` through the ordinary single-writer
    append path, so result streams are themselves subscribable and
    CAS-protected like any other stream. Returns the StreamingQuery;
    call ``processAllAvailable()`` for deterministic replay in tests.

    Scale guard (SCALE.md §5): the per-batch state updates are collected
    to the driver to route through the single-writer append — bounded by
    *updated keys per micro-batch*, not corpus size, which matches the
    reference's semantics for typical projections. A projection with
    millions of DISTINCT partitions updating in one batch would flood
    driver memory, so the collect is capped at ``max_updates_per_batch``
    rows and raises ``ProjectionEmitOverflowError`` beyond it (the batch
    is not partially applied; the checkpoint replays it after the cap is
    raised). For million-key projections, materialize through
    ``projections.materialize`` / a SinkSubscription table instead of a
    result *stream* — a result stream is totally ordered through the
    single writer by design, so its throughput ceiling is inherent.
    """
    from pyspark.sql import functions as F

    from eventstorm_spark.model import NewEvent
    from eventstorm_spark.streaming.subscriptions import _stream_source

    # backpressure: without it the FIRST catch-up micro-batch is the
    # entire existing log, and a history with more distinct partitions
    # than max_updates_per_batch trips the overflow guard spuriously
    # (steady state never would)
    src = _stream_source(log.spark, log.path, max_files_per_trigger)
    # result-stream events must not feed back into the fold
    src = src.where(F.col("stream") != spec.result_stream())
    updates = run_streaming(spec, src)

    def emit(batch_df: DataFrame, epoch_id: int) -> None:
        # limit(cap+1) bounds driver memory even when the guard trips
        rows = batch_df.limit(max_updates_per_batch + 1).collect()
        if len(rows) > max_updates_per_batch:
            raise ProjectionEmitOverflowError(
                f"projection '{spec.name}' produced more than "
                f"{max_updates_per_batch} state updates in one micro-batch; "
                "raise max_updates_per_batch or materialize via "
                "projections.materialize / a SinkSubscription table "
                "instead of a result stream")
        if not rows:
            return
        # uuid = (name, partition, epoch): update mode yields one row
        # per key per batch, so the pair is unique WITHOUT a positional
        # index (a collect-order ordinal would change across replays);
        # sort for deterministic append order.
        rows = sorted(rows, key=lambda r: r["partition"] or "")
        events = [
            NewEvent(
                uuid=f"{spec.name}-{r['partition']}-{epoch_id}",
                event_type="$projection-state",
                data=r["state"],
                metadata={"partition": r["partition"] or ""},
            )
            for r in rows
        ]
        # foreachBatch is at-least-once: a crash between the append and
        # the streaming checkpoint commit replays this epoch — skip
        # uuids that already landed instead of raising ConflictError
        # forever (or appending duplicates). The candidate scan
        # prefilters on the uuid's "-{epoch}" suffix — ONE predicate
        # instead of an isin over up to max_updates_per_batch literals
        # (a 100k-literal Catalyst expression stalls planning every
        # micro-batch). The suffix match is a superset of the exact
        # uuids (every one ends with it); the set-diff below is exact,
        # so a stray suffix collision costs a collected row, never a
        # wrong skip.
        existing = {r["uuid"] for r in
                    log.df().where((F.col("stream") == spec.result_stream())
                                   & F.col("uuid").endswith(f"-{epoch_id}"))
                    .select("uuid").collect()}
        events = [ev for ev in events if ev.uuid not in existing]
        if events:
            log.append(spec.result_stream(), events,
                       check_duplicates=False)

    writer = (
        updates.writeStream.outputMode("update")
        .foreachBatch(emit)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
