"""Delta Lake backing for the EventLog (``format="delta"``).

The parquet-directory log re-establishes transactionality with the
``_commits/`` marker protocol (see ``store.py``); a Delta table gets the
same guarantees from the Delta transaction log itself, which is the
production-credible form of the append path on a cluster:

- **Atomic visibility**: a Delta commit lands whole — readers never see
  a torn batch, so the staged-rename publish is unnecessary.
- **Conflict detection replaces the marker CAS**: the append is a
  ``MERGE`` keyed on ``position`` (insert-when-not-matched). Two writers
  racing to the same tail read overlapping data under Delta's
  serializable conflict check, so one commit aborts with a concurrency
  exception — exactly the "lost the optimistic race" signal the marker
  protocol produces — and the loser refreshes its tail/head caches,
  re-validates the expected-revision CAS, and retries at the advanced
  position. A post-commit verification read (our uuids at our
  positions) backstops the race signal.
- **No watermark/GC bookkeeping**: the transaction log IS the durable
  commit evidence; stale-cache writers are fenced by the merge key.

Backend dispatch: when delta-spark is importable it is ALWAYS used.
Without it, ``format="delta"`` falls back to the local transaction-log
shim (``deltashim.py``) — the same read/commit interface with the same
serializable optimistic-commit semantics, implemented over a plain
POSIX filesystem (O_EXCL version files) — with a loud ``UserWarning``
so a production deployment cannot silently run on the shim. The
``tests/test_delta_log.py`` acceptance suite (dense revisions, CAS,
two-writer races, threaded gapless positions) therefore executes
against whichever backend the environment has; ``backend()`` reports
which. On a cluster with delta-spark, build the session with::

    from delta import configure_spark_with_delta_pip
    builder = (SparkSession.builder
               .config("spark.sql.extensions",
                       "io.delta.sql.DeltaSparkSessionExtension")
               .config("spark.sql.catalog.spark_catalog",
                       "org.apache.spark.sql.delta.catalog.DeltaCatalog"))
    spark = configure_spark_with_delta_pip(builder).getOrCreate()

Reference parity note: the reference gets these invariants from one
Postgres (``internal/backend/backend.go:37-61``); Delta's optimistic
commit is the storage-layer equivalent at object-store scale.
"""

from __future__ import annotations

from typing import TYPE_CHECKING
from eventstorm_spark.localframe import local_frame

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

try:  # pragma: no cover - exercised only where delta-spark is installed
    from delta.tables import DeltaTable  # noqa: F401

    DELTA_AVAILABLE = True
except ImportError:
    DeltaTable = None  # type: ignore[assignment]
    DELTA_AVAILABLE = False

# Delta's concurrency failures arrive as these exception class names
# (io.delta.exceptions.*); matched by name so this module imports
# without the JVM-side classes present.
_CONFLICT_MARKERS = (
    "ConcurrentAppendException",
    "ConcurrentWriteException",
    "ConcurrentTransactionException",
    "ProtocolChangedException",
    "MetadataChangedException",
    "ConcurrentDeleteReadException",
    "ConcurrentDeleteDeleteException",
)


def backend() -> str:
    """Which transaction-log backend ``format="delta"`` runs on:
    ``"delta"`` (delta-spark installed) or ``"shim"`` (the local
    O_EXCL-versioned fallback in ``deltashim.py``)."""
    return "delta" if DELTA_AVAILABLE else "shim"


_warned_shim = False


def require_delta() -> None:
    """Resolve the backend. Without delta-spark the local shim is used
    and a UserWarning fires once per process — the shim is a faithful
    single-filesystem miniature (see ``deltashim.py``) but not an
    object-store-capable transaction log."""
    global _warned_shim
    if not DELTA_AVAILABLE and not _warned_shim:
        import warnings

        warnings.warn(
            "delta-spark is not installed: format='delta' is running on "
            "the local transaction-log shim (POSIX O_EXCL commits — "
            "single filesystem only). Install delta-spark for cluster/"
            "object-store deployments.",
            UserWarning, stacklevel=3)
        _warned_shim = True


def is_conflict(exc: BaseException) -> bool:
    """True when an exception is Delta's optimistic-commit conflict —
    the cross-process 'lost the race' signal (the marker protocol's
    ``_reserve`` returning None)."""
    s = f"{type(exc).__name__}: {exc}"
    return any(m in s for m in _CONFLICT_MARKERS)


def read_log(spark: "SparkSession", path: str) -> "DataFrame":
    """The Delta-backed envelope table (empty-safe)."""
    from eventstorm_spark.model import EVENT_SCHEMA

    require_delta()
    if not DELTA_AVAILABLE:
        from eventstorm_spark.log import deltashim

        return deltashim.read_log(spark, path)
    if DeltaTable.isDeltaTable(spark, path):
        return spark.read.format("delta").load(path)
    return local_frame(spark, [], EVENT_SCHEMA)


def append_batch(spark: "SparkSession", path: str, batch: "DataFrame") -> bool:
    """Commit one append batch. Returns True on success, False when the
    optimistic commit lost a race (caller refreshes caches, re-runs the
    expected-revision CAS, and retries at the advanced tail) — the
    Delta twin of ``EventLog._fenced_write`` returning False when its
    fence trips.
    """
    require_delta()
    if not DELTA_AVAILABLE:
        from eventstorm_spark.log import deltashim

        return deltashim.append_batch(spark, path, batch)
    if not DeltaTable.isDeltaTable(spark, path):
        # First commit creates the table; a racing creator surfaces as
        # a conflict/already-exists error -> treat as lost race.
        try:
            (batch.write.format("delta").mode("error").save(path))
            return True
        except Exception as exc:  # noqa: BLE001 - classified below
            if is_conflict(exc) or "already exists" in str(exc).lower():
                return False
            raise
    tgt = DeltaTable.forPath(spark, path)
    try:
        (tgt.alias("t")
         .merge(batch.alias("s"), "t.position = s.position")
         .whenNotMatchedInsertAll()
         .execute())
    except Exception as exc:  # noqa: BLE001 - classified below
        if is_conflict(exc):
            return False
        raise
    # Backstop: the merge inserts nothing for positions that already
    # exist; verify OUR rows landed (uuid check distinguishes our batch
    # from a winner's rows at the same positions).
    uuids = [r["uuid"] for r in batch.select("uuid").collect()]
    log_df = spark.read.format("delta").load(path)
    placed = log_df.where(log_df["uuid"].isin(uuids)).count()
    return placed == len(uuids)


def stream_source(spark: "SparkSession", path: str,
                  max_files_per_trigger: int | None = 64) -> "DataFrame":
    """Streaming read over a Delta-backed log — the subscribe leg of
    the lifecycle (the parquet-mode twin is
    ``subscriptions._stream_source``). Real Delta uses the native
    ``readStream.format("delta")`` (the transaction log IS the offset
    authority, so compaction/vacuum never redelivers); the shim exposes
    its committed data files (``{path}/data/*.parquet``, each published
    whole via atomic rename, so a torn file is never listed) to the
    ordinary file source.

    Shim caveat: a CAS-LOSING writer publishes its data file before the
    version CAS and removes it after losing, so a concurrently-listing
    file source can observe a file that then disappears (the directory
    listing is not the transaction log — exactly the impedance real
    Delta avoids by reading the log). Subscribe over the shim only
    under the engine's single-writer discipline, or on real Delta for
    multi-writer deployments."""
    require_delta()
    if DELTA_AVAILABLE:
        reader = spark.readStream.format("delta")
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   int(max_files_per_trigger))
        return reader.load(path)
    import os

    from eventstorm_spark.model import EVENT_SCHEMA

    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    from eventstorm_spark.log.deltashim import DATA_DIR

    return reader.parquet(os.path.join(path, DATA_DIR))


def current_version(path: str) -> int:
    """Monotonic transaction-log version — the cross-process staleness
    clock ``EventLog._sync_caches`` reads for ``format="delta"`` caches
    (the twin of the marker protocol's shared watermark,
    ``store._read_watermark``). One directory listing on
    either backend: Delta's ``_delta_log/N.json`` commit files or the
    shim's ``_shim_log/N.json`` (log-retention expiry only ever REMOVES
    older versions, so the max stays monotonic). -1 = no table yet."""
    import glob as _glob
    import os as _os

    logdir = _os.path.join(
        path, "_delta_log" if DELTA_AVAILABLE else "_shim_log")
    versions = []
    for f in _glob.glob(_os.path.join(logdir, "*.json")):
        stem = _os.path.basename(f)[:-5]
        if stem.isdigit():
            versions.append(int(stem))
    return max(versions, default=-1)
