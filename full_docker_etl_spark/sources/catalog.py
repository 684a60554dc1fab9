"""Table catalog over partitioned Parquet.

The reference encodes keys into Mongo namespaces (collection per
company / per (year, period), database per pipeline stage —
``extractyfinance.py:139-141``, ``idx_extraction_script.py:330``).
Here the storage model is *tables*: one Parquet dataset per logical
entity, registered as Spark SQL temp views; what used to be a
collection name becomes a partition/filter column, so Catalyst can
partition-prune instead of the driver looping over namespaces.
"""

from __future__ import annotations

import contextlib
import glob
import os
import threading
import time
import uuid
from collections import OrderedDict
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Driver-generated synthetic tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Session confs whose values change what Spark infers from a parquet
# footer or a partition directory tree: part of every memoized schema's
# key, so flipping one re-infers instead of replaying a stale schema.
_INFERENCE_CONFS = (
    _NANOS_AS_LONG,
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.parquet.mergeSchema",
)
_MEMO_SIZE = 256
# real path -> {"sig": (st_ino, st_size, st_mtime_ns), "nanos": list |
# None, "schemas": {conf values: StructType}}, least recently used first
_SCHEMA_MEMO: OrderedDict[str, dict] = OrderedDict()
_MEMO_LOCK = threading.Lock()


def _memo_entry(path: str) -> dict | None:
    """The memo entry for ``path``'s current file signature, or None
    when the path cannot be stat'ed locally (a remote URI, a missing
    path — the caller then reads unmemoized and Spark reports any
    error). A signature that no longer matches (the file or directory
    was rewritten, replaced or touched) starts a fresh entry, so a
    changed footer is always inferred again."""
    real = os.path.realpath(path)
    try:
        st = os.stat(real)
    except OSError:
        return None
    sig = (st.st_ino, st.st_size, st.st_mtime_ns)
    with _MEMO_LOCK:
        entry = _SCHEMA_MEMO.get(real)
        if entry is None or entry["sig"] != sig:
            entry = _SCHEMA_MEMO[real] = {"sig": sig, "nanos": None, "schemas": {}}
        _SCHEMA_MEMO.move_to_end(real)
        if len(_SCHEMA_MEMO) > _MEMO_SIZE:
            _SCHEMA_MEMO.popitem(last=False)
    return entry


def _read_memoized(
    spark: SparkSession, path: str, entry: dict | None
) -> DataFrame:
    if entry is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    schema = entry["schemas"].get(confs)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    entry["schemas"][confs] = df.schema
    return df


def atomic_write(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` atomically: write a hidden sibling
    temp file (``.<name>.tmp.<uuid>``), then ``os.replace`` it over
    ``path`` — readers see the old content or the new, never a torn
    file. The temp name starts with ``.`` because some targets live
    inside a directory Spark scans (a snapshot's ``_COMMIT.json``), and
    Spark skips hidden files. Nothing is fsynced before the replace: a
    publish survives a killed process (the page cache does), and power
    loss durability is out of scope."""
    head, name = os.path.split(path)
    tmp = os.path.join(head, f".{name}.tmp.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


class ConcurrentWriteError(RuntimeError):
    """A commit lost to another writer and was NOT applied; the table
    or store is untouched. Either the optimistic-concurrency check
    failed — the live version is no longer the snapshot the mutation
    was derived from, and the rejecting head is on ``.head`` (re-read
    and re-derive; merge/delete retry this automatically a few times
    before surfacing it) — or :func:`commit_lock` was not acquired in
    its wait, and there is no ``.head``."""


#: A commit lock older than this is a crashed holder's and the next
#: acquirer breaks it (locked sections are pointer/manifest I/O only).
STALE_LOCK_S = 60.0


@contextlib.contextmanager
def commit_lock(lock_path: str, wait: float, what: str):
    """The one commit lock of
    :class:`~full_docker_etl_spark.sources.sinks.VersionedTable` and the
    sketch stores, held around a commit's read-modify-publish.

    Acquire is an O_EXCL create of ``lock_path``, polled for ``wait``
    seconds (``0`` fails at once), then :class:`ConcurrentWriteError`
    naming the ``what`` writer, with no ``.head``: that is how a lock
    timeout is told from a parent mismatch. A lock older than
    :data:`STALE_LOCK_S` is a crashed holder's and is broken by renaming
    it aside, which exactly one contender wins (two waiters that each
    unlinked it could both enter).

    Release unlinks only inside the lease, and only while the path still
    names the inode this holder created (the fd stays open for the
    check): an overstayed lock is breakable, so even a checked unlink
    could delete a waiter's fresh lock. It also sweeps the
    ``<lock name>.stale.*`` debris.

    Durability as :func:`atomic_write`: a process kill is survived (a
    killed holder's lock is broken once stale), power loss is not."""
    deadline = time.monotonic() + wait
    while True:
        try:
            fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock_path) > STALE_LOCK_S:
                    os.replace(
                        lock_path, f"{lock_path}.stale.{uuid.uuid4().hex[:8]}"
                    )
                    continue
            except OSError:
                continue  # holder released between stat and replace
            if time.monotonic() >= deadline:
                raise ConcurrentWriteError(
                    f"concurrent {what} writer detected: {lock_path} is "
                    f"still held after {wait:g}s (a lock is broken as a "
                    f"crashed writer's only once older than {STALE_LOCK_S:g}s)"
                ) from None
            time.sleep(0.02)
    acquired = time.monotonic()
    try:
        os.write(fd, str(os.getpid()).encode())
        yield
    finally:
        with contextlib.suppress(OSError):
            if (
                time.monotonic() - acquired < STALE_LOCK_S
                and os.fstat(fd).st_ino == os.stat(lock_path).st_ino
            ):
                os.unlink(lock_path)
        os.close(fd)
        head, name = os.path.split(lock_path)
        for entry in os.listdir(head or "."):
            if entry.startswith(f"{name}.stale."):
                with contextlib.suppress(OSError):
                    os.unlink(os.path.join(head, entry))


def data_schema(df: DataFrame, partition_cols: Iterable[str] = ()) -> dict:
    """``df``'s schema in Spark's JSON form with ``partition_cols``
    left out: what a writer pins for :func:`read_parquet`'s ``schema``.
    Partition columns are never pinned — the directory paths supply
    them on every read, with their types decided by the session's
    ``spark.sql.sources.partitionColumnTypeInference.enabled`` exactly
    as an inferred read decides them."""
    drop = set(partition_cols)
    return StructType([f for f in df.schema.fields if f.name not in drop]).jsonValue()


def read_parquet(
    spark: SparkSession, path: str, schema: dict | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` that starts no footer-inference job
    when it need not.

    With ``schema`` (a data schema recorded by the writer, see
    :func:`data_schema`) the path is opened with it directly: the
    writer already knew what it wrote, so nothing is inferred. Spark
    reads a user schema as nullable and appends the partition columns
    it discovers from paths, so the frame equals an inferred open.

    Without one, inference reads a footer in a one-task Spark job; the
    schema Spark inferred is remembered and handed back through
    ``spark.read.schema(...)`` on later opens, which start no job.

    The memo key is the real path, its ``os.stat`` signature
    ``(st_ino, st_size, st_mtime_ns)`` and the values of the session
    confs that change parquet inference (``_INFERENCE_CONFS``). A file
    rewritten in place or replaced, a directory whose entries change,
    or a flipped conf re-infers. A directory is keyed by its own stat
    only: files rewritten deeper in a partition tree with the top-level
    entries unchanged keep the old schema, which is why the memo is
    meant for immutable inputs (table files, versioned snapshots). The
    memo is a fixed-size LRU. Only the schema is remembered — every
    call builds a fresh relation with fresh attribute ids, so two opens
    of one path self-join unambiguously."""
    if schema is not None:
        return spark.read.schema(StructType.fromJson(schema)).parquet(path)
    return _read_memoized(spark, path, _memo_entry(path))


def _nano_timestamp_columns(path: str, entry: dict | None) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's reader
    rejects outright (PARQUET_TYPE_ILLEGAL). Detected from the footer of
    one file so the fix is generic, not a per-table hardcode. Kept in
    the path's schema-memo entry, so the footer is read once per file
    signature and a rewritten file is probed again."""
    if entry is not None and entry["nanos"] is not None:
        return entry["nanos"]
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:  # engine still works for non-nanos data
        return []
    candidates = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.parquet"))
    )
    if not candidates:
        return []
    schema = pq.read_schema(candidates[0])
    out = [
        name
        for name, typ in zip(schema.names, schema.types)
        if typ == pa.timestamp("ns")
    ]
    if entry is not None:
        entry["nanos"] = out
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one Parquet table. Columnar scan → Catalyst gets predicate
    pushdown + column pruning for free (SURVEY.md §4.1).

    TIMESTAMP(NANOS) columns (e.g. the testdata ``events.ts``) are
    illegal to Spark's parquet reader; they are read as raw nanos longs
    and rebuilt as timestamps at microsecond precision — the same
    truncation DuckDB's ``epoch_us`` applies, so oracle comparisons
    agree. Reading them as longs needs
    ``spark.sql.legacy.parquet.nanosAsLong=true`` for as long as the
    scan runs, so it is a session default (``session.py``) and this
    function never sets it: a session with it off gets a ``ValueError``
    naming the conf, instead of a silent session-wide flip that would
    change every later parquet read in the session.

    The schema and the nanos-column list are inferred once per file
    signature (see :func:`read_parquet`): the memo is keyed by the real
    path, its ``(st_ino, st_size, st_mtime_ns)`` and the inference
    confs, so reopening an unchanged table starts no Spark job and a
    table rewritten at the same path is inferred again.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    entry = _memo_entry(path)
    nanos = _nano_timestamp_columns(path, entry)
    if nanos and str(spark.conf.get(_NANOS_AS_LONG, "false")).lower() != "true":
        raise ValueError(
            f"table {name!r} at {path} stores TIMESTAMP(NANOS) columns "
            f"{nanos}, which Spark reads only with {_NANOS_AS_LONG}=true; "
            "this session has it off (sessions from get_spark or "
            "tune_session have it on)"
        )
    df = _read_memoized(spark, path, entry)
    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession,
    sf_dir: str,
    names: tuple[str, ...] = TESTDATA_TABLES,
    suffix: str = "",
) -> dict[str, DataFrame]:
    """Register each table as a temp view (``SELECT ... FROM lineitem``).

    Replaces the reference's ``db.list_collection_names()`` catalog
    surface (``api/app.py:19,30``) with ``spark.catalog.listTables()``.
    """
    dfs = load_tables(spark, sf_dir, names)
    for n, df in dfs.items():
        df.createOrReplaceTempView(f"{n}{suffix}")
    return dfs


def list_tables(spark: SparkSession) -> list[str]:
    """S15: collection/namespace listing → catalog listing. SHOW TABLES
    is one JVM round trip; ``spark.catalog.listTables()`` resolves each
    view's schema individually (a py4j call per table)."""
    return [r.tableName for r in spark.sql("SHOW TABLES").collect()]
