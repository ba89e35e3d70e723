"""Seeded inputs, the two workload loops and the post-run checks.

Both workloads are closed loops with one client: the next operation
starts when the previous one returned. Operations come in fixed cycles
whose order and targets the seed draws, and a run measures whole cycles
only, so every run carries the same operation mix and its rates do not
depend on where the clock ran out.
"""

from __future__ import annotations

import json
import os
import random
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from eventstorm_spark import (
    AggSpec,
    EventLog,
    ExpectedRevision,
    Materializer,
    NewEvent,
    WrongExpectedRevisionError,
    projection,
)
from eventstorm_spark.model import EVENT_SCHEMA
from eventstorm_spark.projections.batch import run_batch
from eventstorm_spark.streaming.subscriptions import SinkSubscription, subscribe_all

from spans import Tracer

SEED_EVENTS = 100_000
STREAMS = 500
SEED_FILES = 4  # position-range files the seed log is bootstrapped into
HOT = 16  # appends go to the HOT largest streams, Zipf-weighted
ZIPF = [1 / (k + 1) for k in range(HOT)]
SEED_BUILDS = 3  # setup_s takes the median seed-log build
PAGE = 500  # rows per $all page read
EVENT_TYPES = 5
READS = 5  # event_mixed: read_stream calls and read_all pages, each, per cycle
OWN_SINGLES = 3  # event_mixed: own single-event appends per cycle
SUB_FROM = SEED_EVENTS - 9_999  # the subscriber catches up 10k events


def stream_name(i: int) -> str:
    return f"s-{i:03d}"


def seed_table(seed: int) -> pa.Table:
    """The seed log: SEED_EVENTS events over STREAMS streams, positions
    1..SEED_EVENTS, dense per-stream revisions. Stream index is
    floor(STREAMS * u^2), u uniform: the hottest stream holds ~4.5% of
    the events, the median stream ~140 and the coldest ~100."""
    rng = np.random.default_rng(seed)
    u = rng.random(SEED_EVENTS)
    idx = np.minimum((u * u * STREAMS).astype(np.int64), STREAMS - 1)
    position = np.arange(1, SEED_EVENTS + 1, dtype=np.int64)
    # revision = rank within the stream in position order
    counts = np.bincount(idx, minlength=STREAMS)
    revision = np.empty(SEED_EVENTS, np.int64)
    revision[np.argsort(idx, kind="stable")] = (
        np.arange(SEED_EVENTS) - np.repeat(np.cumsum(counts) - counts, counts))
    event_type = [f"t{p % EVENT_TYPES}" for p in position.tolist()]
    meta_items = [v for t, p in zip(event_type, position.tolist())
                  for v in (t, "application/json", str(p))]
    metadata = pa.MapArray.from_arrays(
        np.arange(0, 3 * SEED_EVENTS + 1, 3, dtype=np.int32),
        pa.array(["type", "content-type", "created"] * SEED_EVENTS),
        pa.array(meta_items))
    return pa.table({
        "stream": [stream_name(i) for i in idx.tolist()],
        "uuid": [f"seed-{p}" for p in position.tolist()],
        "data": [f'{{"amount": {p % 97}}}' for p in position.tolist()],
        "metadata": metadata,
        "custom_metadata": pa.nulls(SEED_EVENTS, pa.binary()),
        "revision": revision,
        "position": position,
        "event_type": event_type,
        "content_type": ["application/json"] * SEED_EVENTS,
        "created": position,
    })


def spec():
    return (projection("perfbench").from_all().foreach_stream()
            .when_agg({"n": AggSpec.count(), "amount": AggSpec.sum_of("amount")}))


def parquet_files(path: str) -> int:
    return sum(1 for n in os.listdir(path) if n.endswith(".parquet"))


class Workload:
    """State shared by both loops: the log, tracked heads, and what was
    acknowledged or rejected, for the checks after the run."""

    def __init__(self, spark, workdir: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.workdir = workdir
        self.rng = random.Random(seed)
        self.t = tracer
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.rejected = 0
        self.errors: list[str] = []
        self.acked: list[tuple] = []  # (AppendResult, [uuid, ...])
        self.rejected_uuids: list[str] = []
        self.files_added: list[int] = []
        self.setup: dict[str, float] = {}
        self.sub = None  # set by prepare_mixed
        self._uuid = 0

    # -- inputs ------------------------------------------------------------

    def build_log(self) -> None:
        """Bootstrap the seed log SEED_BUILDS times (the last is used);
        seed.build_s is the median build."""
        table = seed_table(self.seed)
        times = []
        for k in range(SEED_BUILDS):
            path = os.path.join(self.workdir, f"log{k}")
            t0 = time.perf_counter()
            # contiguous slices in order: each file covers one position range
            df = self.spark.createDataFrame(table, EVENT_SCHEMA).coalesce(SEED_FILES)
            self.log = self.t.call("log.store", "EventLog.from_dataframe",
                                   EventLog.from_dataframe, self.spark, path, df)
            times.append(time.perf_counter() - t0)
        self.setup["seed.build_s"] = sorted(times)[len(times) // 2]
        heads = self.log.df().groupBy("stream").agg(F.max("revision").alias("r"))
        self.heads = {r["stream"]: r["r"] for r in heads.collect()}

    def events(self, n: int) -> list:
        out = []
        for _ in range(n):
            self._uuid += 1
            amount = self.rng.randrange(100)
            out.append(NewEvent(uuid=f"pb-{self.seed}-{self._uuid}",
                                event_type=f"t{amount % EVENT_TYPES}",
                                data=json.dumps({"amount": amount})))
        return out

    def hot_streams(self, k: int) -> list:
        """k distinct streams of the hot set, drawn with Zipf weights
        1/(rank + 1); the seed log's lowest stream indices are its largest."""
        out: dict[str, None] = {}
        while len(out) < k:
            i = self.rng.choices(range(HOT), weights=ZIPF)[0]
            out[stream_name(i)] = None
        return list(out)

    def hot_stream(self) -> str:
        return self.hot_streams(1)[0]

    def band_stream(self, band: int, bands: int) -> str:
        """A uniform pick among the streams of one size band (stream
        indices ordered largest first), so every cycle reads the same
        mix of stream sizes."""
        width = STREAMS // bands
        return stream_name(band * width + self.rng.randrange(width))

    # -- operations --------------------------------------------------------
    # Each workload's cycle uses some of these; its probe(), run only in
    # a traced run after the timed phase, calls the rest once, so every
    # per-layer metric is measured on every workload.

    def _run(self, kind: str, fn) -> None:
        """One timed operation; an unexpected error counts as failed."""
        self.attempted += 1
        try:
            with self.t.op(kind):
                fn()
        except Exception as exc:  # a failed operation must not stop the run
            self.failed += 1
            self.errors.append(f"{kind}: {type(exc).__name__}: {exc}")

    def append(self, kind: str, stream: str, n: int, log=None) -> None:
        log = log or self.log
        evs = self.events(n)
        expected = ExpectedRevision.at(self.heads[stream])
        before = parquet_files(log.path) if self.t.enabled else 0

        def go():
            res = self.t.call("log.store", "EventLog.append", log.append,
                              stream, evs, expected)
            self.heads[stream] = res.last_revision
            self.acked.append((res, [e.uuid for e in evs]))

        self._run(kind, go)
        if self.t.enabled:
            self.files_added.append(parquet_files(log.path) - before)

    def append_multi(self, streams: list, n: int) -> None:
        reqs = [(s, self.events(n), ExpectedRevision.at(self.heads[s]))
                for s in streams]

        def go():
            results = self.t.call("log.store", "EventLog.append_multi",
                                  self.log.append_multi, reqs)
            for res, (_, evs, _) in zip(results, reqs):
                self.heads[res.stream] = res.last_revision
                self.acked.append((res, [e.uuid for e in evs]))

        self._run("append_multi", go)

    def append_stale(self, stream: str) -> None:
        """CAS at an outdated revision: must raise and write nothing."""
        head = self.heads[stream]
        expected = ExpectedRevision.at(head - 1 if head > 0 else head + 1)
        evs = self.events(1)

        def go():
            try:
                self.t.call("log.store", "EventLog.append", self.log.append,
                            stream, evs, expected)
            except WrongExpectedRevisionError:
                self.rejected += 1
                self.rejected_uuids.extend(e.uuid for e in evs)
                return
            raise AssertionError(f"stale append to {stream} was accepted")

        self._run("append.reject", go)

    BATCH = {"append": 1, "append.batch": 10, "append_100": 100}

    def append_step(self, kind: str) -> None:
        """One operation of the append_only mix, on hot streams."""
        if kind == "append.reject":
            self.append_stale(self.hot_stream())
        elif kind == "append_multi":
            self.append_multi(self.hot_streams(10), 10)
        else:
            self.append(kind, self.hot_stream(), self.BATCH[kind])

    def prepare_mixed(self) -> None:
        """Set-up for the event_mixed operations: a second writer on the
        same path, a materializer (its first refresh is a full replay)
        and a sink subscription caught up to the tail."""
        self.foreign = EventLog(self.spark, self.log.path)
        self.mat = Materializer(self.log, spec(), os.path.join(self.workdir, "state"))
        self.t.call("projections.materialize", "Materializer.refresh", self.mat.refresh)
        t0 = time.perf_counter()
        self.sub = self.t.call(
            "streaming.subscriptions", "SinkSubscription",
            SinkSubscription, subscribe_all(self.spark, self.log.path, SUB_FROM),
            os.path.join(self.workdir, "sink"),
            checkpoint_dir=os.path.join(self.workdir, "sink_ckpt"))
        self.drain()
        self.setup["sub.catchup_ms"] = (time.perf_counter() - t0) * 1000
        # the subscription's micro-batches run on the streaming query's
        # thread, in a job group named after the query's run id
        self.sub_group = str(self.spark.streams.active[0].runId)
        self.sub_jobs_seen = set(self._sub_jobs())

    def mixed_cycle(self) -> None:
        touched = self.mixed_appends()
        for band in range(READS):
            self.read_stream(band)
            self.read_page()
        self._run("refresh", self.refresh)
        self._run("state_of", lambda: self.state_of(touched[0]))
        self._run("sub.drain", self.live_drain)

    def mixed_appends(self) -> list:
        """The foreign commit, then own appends to other streams. The
        foreign commit drops the own instance's head cache, so each own
        append pays exactly one head lookup."""
        foreign, batch, *singles = self.hot_streams(2 + OWN_SINGLES)
        self.append("append.foreign", foreign, 1, log=self.foreign)
        self.append("append.batch", batch, 10)
        for s in singles:
            self.append("append", s, 1)
        return singles

    def read_stream(self, band: int) -> None:
        stream = self.band_stream(band, READS)
        want = self.heads[stream] + 1

        def go():
            df = self.t.call("log.store", "EventLog.read_stream",
                             self.log.read_stream, stream)
            rows = self.t.call("log.plan", "DataFrame.collect", df.collect)
            if len(rows) != want:
                raise AssertionError(f"read_stream({stream}) gave {len(rows)} rows, want {want}")

        self._run("read.stream", go)

    def read_page(self) -> None:
        start = self.rng.randrange(1, self.tail() - PAGE)

        def go():
            df = self.t.call("log.store", "EventLog.read_all", self.log.read_all,
                             from_position=start, count=PAGE)
            rows = self.t.call("log.plan", "DataFrame.collect", df.collect)
            if [r["position"] for r in rows] != list(range(start, start + PAGE)):
                raise AssertionError(f"read_all page at {start} is not {PAGE} consecutive positions")

        self._run("read.page", go)

    def refresh(self) -> None:
        self.t.call("projections.materialize", "Materializer.refresh", self.mat.refresh)

    def state_of(self, stream: str) -> None:
        state = self.t.call("projections.materialize", "Materializer.state_of",
                            self.mat.state_of, stream)
        if state is None:
            raise AssertionError(f"state_of({stream}) is missing")

    def _sub_jobs(self) -> list:
        return self.spark.sparkContext.statusTracker().getJobIdsForGroup(self.sub_group)

    def drain(self) -> None:
        self.t.call("streaming.subscriptions", "SinkSubscription.process_available",
                    self.sub.process_available)

    def live_drain(self) -> None:
        self.drain()
        jobs = set(self._sub_jobs())
        self.t.add_jobs("SinkSubscription.process_available", jobs - self.sub_jobs_seen)
        self.sub_jobs_seen |= jobs

    def tail(self) -> int:
        return SEED_EVENTS + sum(r.count for r, _ in self.acked)

    def log_files(self) -> int:
        return parquet_files(self.log.path)

    # -- checks ------------------------------------------------------------

    def check(self) -> list[str]:
        """Untimed: gapless positions, dense revisions, the appended rows
        are exactly the acknowledged ones, and, where the event_mixed
        operations ran, the sink and the materialized state are right."""
        bad = []
        df = self.log.df()
        tail = self.tail()
        row = df.agg(F.count(F.lit(1)).alias("n"), F.min("position").alias("lo"),
                     F.max("position").alias("hi"),
                     F.countDistinct("position").alias("d")).collect()[0]
        if (row["n"], row["lo"], row["hi"], row["d"]) != (tail, 1, tail, tail):
            bad.append(f"positions: rows={row['n']} min={row['lo']} "
                       f"max={row['hi']} distinct={row['d']}, want 1..{tail}")
        gaps = (df.groupBy("stream")
                .agg(F.count(F.lit(1)).alias("n"), F.min("revision").alias("lo"),
                     F.max("revision").alias("hi"),
                     F.countDistinct("revision").alias("d"))
                .where((F.col("lo") != 0) | (F.col("hi") != F.col("n") - 1)
                       | (F.col("d") != F.col("n")))
                .count())
        if gaps:
            bad.append(f"revisions: {gaps} streams not dense from 0")
        rows = {r["position"]: r for r in
                df.where(F.col("position") > SEED_EVENTS)
                .select("stream", "uuid", "revision", "position").collect()}
        for res, uuids in self.acked:
            for i, uuid in enumerate(uuids):
                r = rows.get(res.first_position + i)
                want_rev = res.last_revision - res.count + 1 + i
                if r is None or (r["stream"], r["uuid"], r["revision"]) != (
                        res.stream, uuid, want_rev):
                    bad.append(f"append result {res} does not match its rows")
                    break
        stray = set(self.rejected_uuids) & {r["uuid"] for r in rows.values()}
        if stray:
            bad.append(f"rejected appends wrote {len(stray)} rows")
        if self.sub is not None:
            bad += self.check_sink(tail) + self.check_state()
        return bad

    def check_sink(self, tail: int) -> list[str]:
        self.drain()
        row = self.sub.result().agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("position").alias("dp"),
            F.min("position").alias("lo"), F.max("position").alias("hi"),
            F.countDistinct("delivery_seq").alias("ds"),
            F.min("delivery_seq").alias("slo"),
            F.max("delivery_seq").alias("shi")).collect()[0]
        n = tail - SUB_FROM + 1
        if tuple(row) != (n, n, SUB_FROM, tail, n, 1, n):
            return [f"sink: {row.asDict()}, want positions {SUB_FROM}..{tail} "
                    f"and delivery_seq 1..{n} once each"]
        return []

    def check_state(self) -> list[str]:
        self.mat.refresh()
        got = {r["partition"]: json.loads(r["state"]) for r in self.mat.state().collect()}
        want = {r["partition"]: json.loads(r["state"])
                for r in run_batch(spec(), self.log.df()).collect()}
        return [] if got == want else ["materialized state differs from a fresh run_batch"]

    def close(self) -> None:
        if self.sub is not None:
            self.sub.stop()


class AppendOnly(Workload):
    """Fenced CAS appends through one EventLog; no reads but the append's
    own tail, head and duplicate-check jobs."""

    # 20 operations: 70% single-event, 15% 10-event, 5% 100-event,
    # 5% append_multi over 10 streams x 10 events, 5% stale revision
    CYCLE = (["append"] * 14 + ["append.batch"] * 3 + ["append_100"]
             + ["append_multi"] + ["append.reject"])

    def warm_up(self) -> None:
        # a long-lived writer holds its active streams' heads; cache them
        # so no timed append pays a first-touch head lookup
        for i in range(HOT):
            self.log.head_revision(stream_name(i))
        for kind in ["append"] * 4 + ["append.batch", "append_100", "append.reject"]:
            self.append_step(kind)

    def cycle(self) -> None:
        for kind in self.rng.sample(self.CYCLE, len(self.CYCLE)):
            self.append_step(kind)

    def probe(self) -> None:
        self.prepare_mixed()
        self.mixed_cycle()


class EventMixed(Workload):
    """Appends (one from a second EventLog on the same path) beside
    stream and $all reads, an incremental projection refresh, a state
    lookup and a subscription drain."""

    def warm_up(self) -> None:
        self.prepare_mixed()
        self.mixed_appends()
        self.read_stream(0)
        self.read_page()

    def cycle(self) -> None:
        self.mixed_cycle()

    def probe(self) -> None:
        for kind in ("append_100", "append_multi", "append.reject"):
            self.append_step(kind)


WORKLOADS = {"append_only": AppendOnly, "event_mixed": EventMixed}
