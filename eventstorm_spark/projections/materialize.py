"""Durable incremental materialization of projections.

Ties ``run_batch_incremental`` into a user workflow: a ``Materializer``
owns a state directory next to the log holding (a) the latest
per-partition state parquet and (b) a checkpoint position. ``refresh()``
folds only events appended since the checkpoint — at 100 TB the daily
refresh of a materialized view costs one tail scan (position predicate
pruned down to the new files by the range-sorted layout) instead of a
full-history replay.

Versioned state layout (no in-place overwrite, so a crashed refresh can
never corrupt the readable state):

    <state_path>/state-<position>/   parquet (partition, state)
    <state_path>/_META.json          {"position": <position>}

``refresh()`` writes the new version first, then atomically swaps the
meta pointer (os.replace), then prunes old versions.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eventstorm_spark.log.store import EventLog
from eventstorm_spark.projections.batch import (
    FINAL_SCHEMA,
    run_batch,
    run_batch_incremental,
)
from eventstorm_spark.projections.dsl import Projection


class Materializer:
    def __init__(self, log: EventLog, spec: Projection, state_path: str,
                 keep_versions: int = 2):
        self.log = log
        self.spec = spec
        self.state_path = state_path
        self.keep_versions = max(1, keep_versions)

    # -- durable pointers --------------------------------------------------

    def _meta_file(self) -> str:
        return os.path.join(self.state_path, "_META.json")

    def checkpoint_position(self) -> Optional[int]:
        """Position the stored state covers (inclusive); None if never
        refreshed. Survives process restart — read from disk."""
        try:
            with open(self._meta_file()) as f:
                return int(json.load(f)["position"])
        except (OSError, ValueError, KeyError):
            return None

    def state(self) -> Optional[DataFrame]:
        """The latest materialized (partition, state) table, or None.
        Read with the known ``FINAL_SCHEMA``: schema inference would
        launch a Spark job on every call, and ``refresh()`` calls this
        twice."""
        pos = self.checkpoint_position()
        if pos is None:
            return None
        return self.log.spark.read.schema(FINAL_SCHEMA).parquet(
            os.path.join(self.state_path, f"state-{pos}"))

    def state_of(self, partition: str):
        """``State(name, partition)`` point lookup
        (``projections.proto:115-126`` — declared, never served by the
        reference): the state JSON for one partition of the latest
        materialized version, or None when the partition (or any state
        at all) is absent. The filter pushes to the state parquet scan,
        so the lookup cost is the matching row group, not the table."""
        from eventstorm_spark.projections.batch import partition_state

        states = self.state()
        if states is None:
            return None
        return partition_state(states, partition)

    # -- refresh -----------------------------------------------------------

    def refresh(self) -> DataFrame:
        """Fold events appended since the last refresh into the stored
        state; returns the new state DataFrame. First call = full replay.
        The fold is bounded at the tail position observed at entry, so a
        concurrent append never tears a refresh."""
        upto = self.log.tail_position()
        prev_pos = self.checkpoint_position()
        if prev_pos is not None and upto <= prev_pos:
            return self.state()  # nothing new

        events = self.log.df().where(F.col("position") <= upto)
        if prev_pos is None:
            new_state = run_batch(self.spec, events)
        else:
            new_state = run_batch_incremental(
                self.spec, events, self.state(), prev_pos)

        out = os.path.join(self.state_path, f"state-{upto}")
        new_state.write.mode("overwrite").parquet(out)
        os.makedirs(self.state_path, exist_ok=True)
        tmp = self._meta_file() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"position": upto}, f)
        os.replace(tmp, self._meta_file())
        self._prune(upto)
        return self.state()

    def _prune(self, current: int) -> None:
        versions = sorted(
            (int(d.split("-", 1)[1]) for d in os.listdir(self.state_path)
             if d.startswith("state-")),
            reverse=True)
        for v in versions[self.keep_versions:]:
            if v != current:
                shutil.rmtree(
                    os.path.join(self.state_path, f"state-{v}"),
                    ignore_errors=True)


def result_of(log: EventLog, name_or_spec, partition: str = ""):
    """``Result(name, partition)`` RPC analogue
    (``projections.proto:128-139`` — declared, never served by the
    reference): the LATEST state emitted for ``partition`` on the
    projection's result stream (``$projections-{name}-result``, written
    by :func:`eventstorm_spark.projections.batch.write_result_stream`).
    Returns the result JSON string, or None when the partition never
    emitted. The read is a pushed stream-equality + metadata-partition
    filter with a tail-first ``max_by`` — bounded by the result stream,
    never the log."""
    if isinstance(name_or_spec, Projection):
        stream = name_or_spec.result_stream()
    else:
        stream = f"$projections-{name_or_spec}-result"
    rows = (log.df()
            .where((F.col("stream") == stream)
                   & (F.col("metadata")["partition"] == partition))
            .orderBy(F.col("revision").desc()).limit(1).collect())
    return rows[0]["data"] if rows else None
