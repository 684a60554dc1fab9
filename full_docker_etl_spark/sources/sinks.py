"""Sinks (SURVEY.md §2.1 S9-S14, §2.10 T1/T5): partitioned Parquet
writes with the reference's refresh semantics, distributed.

Reference → here:

- overwrite/append collection writes
  (``TransForm_Load_Yfinance.py:322-324``) → :func:`write_table`
- delete-then-reinsert full refresh (``extractyfinance.py:189-192``)
  → ``mode="overwrite"`` (atomic at the table level)
- per-entity refresh loops (``extractyfinance.py``'s one collection
  per company) → :func:`overwrite_partitions` — DYNAMIC partition
  overwrite: only the partitions present in the batch are replaced,
  the rest of the 100 TB table is untouched
- keyed upsert ``update_one(..., upsert=True)``
  (``idx_extraction_script.py:348-352``) → :func:`upsert_parquet` —
  read-merge-write on plain Parquet (a Delta/Iceberg ``MERGE INTO``
  on a real deployment; same call shape)
- bulk status updates (``transform_iqplus_news_dags.py:161-174``)
  → :func:`update_columns` (an upsert that only touches columns)
- pickle-manifest task handoff (``TransForm_Load_Yfinance.py:432-434``)
  → :func:`write_manifest`/:func:`read_manifest` — a tiny Parquet
  key-list in the warehouse instead of files on a shared volume
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from full_docker_etl_spark.operators.util import (
    advisory_partition_bytes,
    rebalanced,
)
from full_docker_etl_spark.sources.catalog import (
    ConcurrentWriteError,
    atomic_write,
    commit_lock,
    data_schema,
    read_parquet,
)


_UNSET = object()  # "no expected_parent given" — distinct from None
# (None means "caller derived from an EMPTY table", a real expectation)


def write_table(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    """S9/S10: partitioned Parquet write. Batching, retries and
    parallelism are Spark task machinery — the reference's hand-rolled
    1000-row insert batches disappear."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions(
    df: DataFrame, path: str, partition_by: tuple[str, ...]
) -> None:
    """T1/S11: dynamic partition overwrite — replaces exactly the
    partitions present in ``df``, leaving all others in place. This is
    the per-entity daily refresh at scale: one job, touched partitions
    only. The mode rides the WRITER (per-write option), never the
    session conf: a set/restore of the session-wide
    partitionOverwriteMode races every concurrent writer in the same
    SparkSession — a static-mode full refresh observing 'dynamic'
    keeps stale partitions, and a dynamic writer observing the
    restored 'static' wipes every untouched partition."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def _swap_write(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Write-to-temp + rename swap: Parquet can't be rewritten in place
    while being read (self-overwrite reads its own deletes).

    NOT fully atomic on a POSIX directory: between the two renames the
    target path briefly doesn't exist, and a crash in that window
    leaves the data under the ``__old_`` suffix. Both are handled:
    stray ``__tmp_``/``__old_`` siblings from a crashed prior swap are
    cleaned up on the next write, and a missing target with a
    surviving ``__old_`` is restored before swapping. For TRUE
    atomicity on plain Parquet use :class:`VersionedTable` (pointer-
    file commit); this in-place swap exists for consumers that must
    read the path directly with ``spark.read.parquet``."""
    parent, base = os.path.split(path)
    if os.path.isdir(parent):
        for entry in os.listdir(parent):
            if entry.startswith(f"{base}__tmp_") or (
                entry.startswith(f"{base}__old_") and os.path.exists(path)
            ):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
        if not os.path.exists(path):
            # crashed mid-swap last time: restore the newest __old_.
            # Newest by mtime — the suffix is a random uuid, so a
            # lexicographic sort would pick an arbitrary survivor.
            olds = sorted(
                (e for e in os.listdir(parent) if e.startswith(f"{base}__old_")),
                key=lambda e: os.path.getmtime(os.path.join(parent, e)),
            )
            if olds:
                os.rename(os.path.join(parent, olds[-1]), path)
    tmp = f"{path}__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)


def _reject_duplicate_keys(
    batch: DataFrame, keys: list[str], op: str
) -> DataFrame:
    """MERGE semantics forbid two source rows matching one target row
    (Delta's MERGE INTO raises; accepting them silently forks a keyed
    table — the anti-join removes ONE existing row, the union inserts
    BOTH duplicates). Folded into the plan as the house-style in-plan
    precondition (raise_error inside the value expression) so the
    FIRST action on a duplicate-keyed batch fails loudly, whichever
    derived frame runs first. Cost: one batch-sized hash window."""
    from pyspark.sql import Window

    k0 = keys[0]
    (k0_type,) = [t for c, t in batch.dtypes if c == k0]
    dupn = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    guard = (
        F.when(
            dupn > 1,
            F.raise_error(
                F.concat(
                    F.lit(_duplicate_key_message(op, keys)),
                    _key_string(keys),
                )
            ).cast(k0_type),
        )
        .otherwise(F.col(k0))
    )
    return batch.withColumn(k0, guard)


def _duplicate_key_message(op: str, keys: list[str]) -> str:
    """The multiple-source-match refusal, up to the offending key."""
    return (
        f"{op}: batch carries duplicate rows for key "
        f"({', '.join(keys)}) — MERGE semantics forbid two source rows "
        "matching one target row; offending key: "
    )


def _key_string(keys: list[str]):
    """A key tuple rendered ``v1|v2|...`` for error messages."""
    return F.concat_ws("|", *[F.col(k).cast("string") for k in keys])


def upsert_parquet(
    spark: SparkSession, path: str, updates: DataFrame, keys: list[str]
) -> None:
    """S12/T5: keyed upsert = anti-join out the matched keys, union the
    updates, swap. Idempotent: re-running the same batch converges.

    On a lake-format table this is ``MERGE INTO ... WHEN MATCHED UPDATE
    WHEN NOT MATCHED INSERT`` with the same key columns; plain Parquet
    gets the read-merge-swap equivalent.

    Scale note: this rewrites the WHOLE table per batch — fine for the
    dimension/master tables it serves, wrong for large fact tables
    (a 1-row upsert at 100 TB rewrites 100 TB). For those use
    :class:`VersionedTable` with ``partition_by``: its merge rewrites
    only the partitions the batch touches and hardlinks the rest.

    A batch carrying the same key twice raises (in-plan, see
    :func:`_reject_duplicate_keys`) — which duplicate should win is
    ambiguous, and accepting both would break the keyed invariant."""
    updates = _reject_duplicate_keys(updates, keys, "upsert_parquet")
    if not os.path.exists(path):
        write_table(updates, path)
        return
    existing = spark.read.parquet(path)
    keep = existing.join(updates.select(*keys), on=keys, how="left_anti")
    merged = keep.unionByName(updates)
    _swap_write(spark, merged, path)


def update_columns(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    keys: list[str],
) -> None:
    """S13: bulk column update (status flags). ``changes`` carries the
    key columns plus the columns to set; unspecified rows/columns are
    untouched. Implemented as join + coalesce + swap. A batch carrying
    the same key twice RAISES (:func:`_reject_duplicate_keys`, the
    upsert/merge contract — which duplicate should win is ambiguous,
    and silently keeping one would resolve it nondeterministically;
    without any guard the left join would fan each matched table row
    out once per duplicate, GROWING the table). The table's schema
    wins: a narrower batch column up-casts losslessly, a wider or
    incompatible one raises (:func:`_plan_type_reconciliation` —
    coalesce would otherwise coerce the output column and silently
    change the table schema)."""
    existing = spark.read.parquet(path)
    cast_up, cast_table = _plan_type_reconciliation(existing, changes)
    if cast_table:
        raise ValueError(
            f"update_columns batch widens table column(s) "
            f"{sorted(cast_table)} — a column update cannot change the "
            "table schema; cast the batch explicitly"
        )
    if cast_up:
        changes = changes.withColumns(
            {c: F.col(c).cast(t) for c, t in cast_up.items()}
        )
    value_cols = [c for c in changes.columns if c not in keys]
    renamed = _reject_duplicate_keys(changes, keys, "update_columns")
    for c in value_cols:
        renamed = renamed.withColumnRenamed(c, f"__new_{c}")
    joined = existing.join(renamed, on=keys, how="left")
    out_cols = []
    for c in existing.columns:
        if c in value_cols:
            out_cols.append(F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c))
        else:
            out_cols.append(F.col(c))
    _swap_write(spark, joined.select(*out_cols), path)


#: Lossless type widenings MERGE will reconcile (narrow → wide), the
#: conform_schema repair philosophy applied to the mutation path:
#: integral chain up-casts and float→double never lose a value.
#: long→double is NOT here (doubles hold only 53 mantissa bits — a
#: big orderkey would silently round), nor is any string/decimal
#: coercion: those fail loudly instead of forking the schema.
_WIDENINGS: frozenset[tuple[str, str]] = frozenset(
    {
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
        ("tinyint", "double"),
        ("smallint", "double"),
        ("int", "double"),
    }
)


def _plan_type_reconciliation(
    existing: "DataFrame",
    updates: "DataFrame",
    exempt: frozenset[str] = frozenset(),
) -> tuple[dict[str, str], dict[str, str]]:
    """Compare the shared columns of the live table and a MERGE batch.
    Returns (cast_updates, cast_existing): columns to up-cast on the
    batch (batch narrower than table — free, no rewrite) and columns
    to widen on the TABLE (batch wider — a schema-changing full
    rewrite the caller must gate behind evolve_schema). Any shared
    column whose types differ outside the lossless widening set
    raises ValueError — unionByName would otherwise coerce silently
    (int vs string unions to string) and fork the table's schema.
    ``exempt`` names columns outside this contract: PARTITION columns
    always read back as string (directory values; type inference is
    deliberately off) and carry their own Spark-cast value-matching
    rules — re-typing them is meaningless, not dangerous."""
    etypes = dict(existing.dtypes)
    utypes = dict(updates.dtypes)
    cast_updates: dict[str, str] = {}
    cast_existing: dict[str, str] = {}
    bad: list[str] = []
    for c in utypes:
        if c in exempt or c not in etypes or etypes[c] == utypes[c]:
            continue
        if (utypes[c], etypes[c]) in _WIDENINGS:
            cast_updates[c] = etypes[c]
        elif (etypes[c], utypes[c]) in _WIDENINGS:
            cast_existing[c] = utypes[c]
        else:
            bad.append(f"{c}: table={etypes[c]} batch={utypes[c]}")
    if bad:
        raise ValueError(
            "MERGE batch type(s) incompatible with the table schema — "
            f"{'; '.join(sorted(bad))}. Only lossless widenings "
            "(byte→short→int→long, float→double, integral→double) "
            "reconcile; cast the batch explicitly for anything else."
        )
    return cast_updates, cast_existing


def _link_tree(src: str, dst: str, skip: frozenset[str] = frozenset()) -> None:
    """Mirror ``src`` into ``dst`` with HARDLINKS (same inodes, no data
    copied); falls back to copy2 per file if the filesystem refuses
    links (e.g. a cross-device move). ``skip`` names TOP-LEVEL entries
    of ``src`` to leave out (e.g. the deletion-vector sidecar when the
    caller writes a fresh one)."""
    for base, dirs, files in os.walk(src):
        rel = os.path.relpath(base, src)
        if rel == ".":
            dirs[:] = [d for d in dirs if d not in skip]
        tdir = dst if rel == "." else os.path.join(dst, rel)
        os.makedirs(tdir, exist_ok=True)
        for f in files:
            if rel == "." and f in skip:
                continue
            s, t = os.path.join(base, f), os.path.join(tdir, f)
            try:
                os.link(s, t)
            except OSError:
                shutil.copy2(s, t)


def _link_missing_partitions(
    src: str, dst: str, depth: int, exclude: frozenset[str] = frozenset()
) -> None:
    """Hardlink every ``col=value`` partition leaf directory (``depth``
    levels of nesting) present in snapshot ``src`` but absent from the
    fresh write at ``dst`` — the untouched partitions of a scoped
    merge. Works off the directory layout the writer just produced, so
    no partition-value escaping rules are ever re-implemented: a
    partition was rewritten iff the new write created its directory.
    ``exclude`` lists relative leaf paths that must NOT be restored
    even when absent from the fresh write: a scoped DELETE that empties
    a partition produces no directory for it, and linking it back
    would resurrect the deleted rows."""

    def rec(rel: str, level: int) -> None:
        d = os.path.join(src, rel) if rel else src
        if level == depth:
            if rel in exclude:
                return
            target = os.path.join(dst, rel)
            if not os.path.exists(target):
                _link_tree(d, target)
            return
        for entry in os.listdir(d):
            if "=" in entry and os.path.isdir(os.path.join(d, entry)):
                rec(os.path.join(rel, entry) if rel else entry, level + 1)

    if depth > 0:
        rec("", 0)


def _leaf_rels(root: str, depth: int) -> set[str]:
    """Relative paths of every ``col=value`` partition LEAF directory
    under ``root`` (``depth`` nesting levels)."""
    out: set[str] = set()

    def rec(rel: str, level: int) -> None:
        d = os.path.join(root, rel) if rel else root
        if level == depth:
            out.add(rel)
            return
        for entry in os.listdir(d):
            if "=" in entry and os.path.isdir(os.path.join(d, entry)):
                rec(os.path.join(rel, entry) if rel else entry, level + 1)

    if depth > 0:
        rec("", 0)
    return out


#: Most touched partition tuples a scoped mutation collects. A batch
#: naming more is rewriting most of the table anyway:
#: past the cap the static prune and the link-exclusion set cannot be
#: complete, so the mutation scopes by join and rewrites without links.
_TOUCHED_CAP = 10_000


class _Touched(NamedTuple):
    """A scoped mutation's touched partitions, collected in ONE bounded
    action (:meth:`VersionedTable._touched`)."""

    values: list[tuple]  # raw partition tuples: the static prune
    strings: frozenset[tuple[str, ...]]  # Spark string casts: leaf dirs
    schema: StructType  # the batch's partition-column types
    beyond_cap: DataFrame | None  # every distinct tuple, past the cap only


def _leaves_named(
    root: str, depth: int, strings: frozenset[tuple[str, ...]]
) -> frozenset[str]:
    """Relative leaf-dir paths under snapshot ``root`` whose partition
    values, PARSED from the directory names (unquote — the direction
    that needs no escaping rules), spell one of ``strings``. The
    strings must be SPARK's string casts, not Python ``str()``: Spark
    writes booleans as ``true``/``false`` where Python renders
    ``True``/``False``, and an emptied boolean/float partition that
    missed the link-exclusion set would be resurrected by the
    hardlink step."""
    from urllib.parse import unquote

    return frozenset(
        rel
        for rel in _leaf_rels(root, depth)
        if tuple(unquote(seg.split("=", 1)[1]) for seg in rel.split(os.sep))
        in strings
    )


def _holds_data(d: str) -> bool:
    """Whether the directory tree ``d`` holds any parquet data file."""
    return any(
        f.endswith(".parquet") for _, _, files in os.walk(d) for f in files
    )


def _write_commit_meta(
    vdir: str,
    full: bool,
    leaves: list[str],
    dv: bool,
    schema: dict | None = None,
    dv_schema: dict | None = None,
    partition_by: tuple[str, ...] = (),
) -> None:
    """Record WHAT a commit touched next to its snapshot
    (``_COMMIT.json``, hidden from the data scan): ``full`` = the whole
    table was rewritten (or the table is unpartitioned), ``leaves`` =
    the partition leaf dirs a scoped commit rewrote/created/emptied,
    ``dv`` = the commit wrote or carried a deletion-vector sidecar.
    This is the touched-set record partition-level conflict detection
    reads: a rejected scoped commit whose leaves are disjoint from
    every intervening commit's can REBASE onto the new head instead of
    re-running its Spark job.

    ``schema`` is the snapshot's DATA schema (Spark JSON, partition
    columns excluded — :func:`~full_docker_etl_spark.sources.catalog.data_schema`)
    and ``dv_schema`` its deletion vector's: what the writer already
    knew it wrote, so :meth:`VersionedTable.read` opens the snapshot
    without a footer-inference job (Delta keeps the table schema in its
    log for the same reason). A snapshot holding no data file (an
    emptied partitioned table) has no directory path to supply the
    ``partition_by`` columns, so its pin carries them too, typed as
    string — what a path reads as with partition type inference off,
    the session default — and the snapshot reads as an empty frame
    instead of failing to infer a schema."""
    if schema is not None:
        fields = [f for f in schema["fields"] if f["name"] not in partition_by]
        if not _holds_data(vdir):
            fields += [
                {"name": c, "type": "string", "nullable": True, "metadata": {}}
                for c in partition_by
            ]
        schema = {**schema, "fields": fields}
    meta = {
        "full": bool(full),
        "leaves": sorted(leaves),
        "dv": bool(dv),
        "schema": schema,
        "dv_schema": dv_schema,
    }
    atomic_write(os.path.join(vdir, "_COMMIT.json"), json.dumps(meta))


def _read_commit_meta(vdir: str) -> dict | None:
    """The commit's record (see :func:`_write_commit_meta`), or None for
    snapshots that predate it (treated as touching everything — rebase
    refuses — and read by inference). A record from a release before
    pinned schemas has no ``schema``/``dv_schema`` keys; readers take
    a missing or None pin as "infer"."""
    try:
        with open(os.path.join(vdir, "_COMMIT.json")) as fh:
            return json.load(fh)
    except (FileNotFoundError, ValueError):
        return None


_PARENT_GCD = (  # a scoped or DV commit's VersionedTable._gc_raced message
    "parent snapshot {} was garbage-collected mid-link (it fell out of "
    "retention under concurrent commits); re-read and re-derive"
)


class VersionedTable:
    """ATOMIC commits on plain Parquet via a pointer file — the piece
    :func:`_swap_write` documents as missing. Layout::

        <root>/_versions/v_<uuid>/   immutable snapshot directories
        <root>/_CURRENT              retained history, newest first
                                     (first line = the live version)

    A commit writes a NEW snapshot directory, then publishes it with
    ``os.replace`` on the pointer — atomic on POSIX, so readers see
    either the old complete version or the new complete version; there
    is no window where the table is absent or half-written, and a
    crash at any point leaves the pointer on the old snapshot. This is
    the single-table core of what lake formats do with manifest files
    (Delta's _delta_log / Iceberg's metadata pointer), INCLUDING
    writer coordination: every derived mutation (merge / delete /
    compact) commits with an optimistic parent check under a short
    publish lock — if another writer landed first the commit rejects
    (:class:`ConcurrentWriteError`) and the mutation re-derives from
    the new head, so overlapping writers serialize instead of silently
    losing updates. Blind ``overwrite`` stays last-write-wins by
    contract (it derives from nothing).

    Old snapshots are retained for ``keep_versions`` commits so
    in-flight readers of the previous version finish cleanly
    (snapshot-isolation grace), then garbage-collected on later
    commits.

    ``partition_by`` makes commits PARTITION-SCOPED: snapshots are
    written ``partitionBy(cols)`` and :meth:`merge` rewrites ONLY the
    partitions the update batch touches — every other partition's data
    files are HARDLINKED from the previous snapshot into the new one
    (same inodes, zero bytes copied or rewritten). This is the
    reference's per-(year, period) upsert shape
    (``idx_extraction_script.py:348-352``) and the only merge shape
    that survives 100 TB: without it a 1-row upsert rewrites the whole
    table. Hardlinks are safe because snapshots are immutable —
    GC's rmtree only unlinks, so shared files live until the last
    snapshot referencing them is collected."""

    def __init__(
        self,
        root: str,
        keep_versions: int = 2,
        orphan_grace_seconds: float = 3600.0,
        partition_by: tuple[str, ...] = (),
        constraints: dict[str, str] | None = None,
    ):
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        self.root = root
        self.keep = keep_versions
        self.orphan_grace = orphan_grace_seconds
        self.partition_by = tuple(partition_by)
        self.constraints = dict(constraints or {})
        self._hist_cache: tuple[tuple, tuple[str, ...]] | None = None
        # observability: whether the last _commit landed via a
        # partition-level rebase, and how many derive attempts the last
        # mutation ran (1 = no re-derivation)
        self.last_commit_rebased = False
        self.last_mutation_attempts = 0

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def _history(self) -> list[str]:
        """Published versions, newest first (the pointer file holds the
        retained history, one version per line — still one atomic
        os.replace per commit). Memoized per pointer-file identity
        (inode + mtime + size): a serve session issuing many reads
        stats the pointer instead of re-reading it, and any publish
        (os.replace = new inode) invalidates the cache — including a
        concurrent writer's, so the cache can never hide a newer
        version."""
        try:
            st = os.stat(self._pointer)
        except FileNotFoundError:
            return []
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        if self._hist_cache is not None and self._hist_cache[0] == key:
            return list(self._hist_cache[1])
        with open(self._pointer) as fh:
            hist = [ln.strip() for ln in fh if ln.strip()]
        self._hist_cache = (key, tuple(hist))
        return hist

    def _publish_lock(self):
        """:func:`commit_lock` around the pointer read-modify-publish, the
        only critical section (snapshot writes and cleanup run outside
        it); a writer waits up to 30 s."""
        return commit_lock(os.path.join(self.root, "_LOCK"), 30.0, "table")

    def current_version(self) -> str | None:
        hist = self._history()
        return hist[0] if hist else None

    def exists(self) -> bool:
        return self.current_version() is not None

    def versions(self) -> list[str]:
        """Published, still-retained version ids, newest first — the
        TIME-TRAVEL horizon (``keep_versions`` deep; older snapshots
        are garbage-collected)."""
        return self._history()

    def read(self, spark: SparkSession, version: str | None = None) -> DataFrame:
        """Read the live snapshot, or TIME-TRAVEL to any retained
        ``version`` from :meth:`versions` — snapshots are immutable,
        so an old version is simply read from its directory; no log
        replay, no reconstruction.

        MERGE-ON-READ: if the snapshot carries a deletion-vector
        sidecar (``_dv/`` — written by :meth:`delete_dv`, invisible to
        the data scan because Spark hides underscore paths), the
        tombstoned keys are subtracted here with a broadcast anti-join.
        Every consumer — queries, merges, diffs, compaction — reads
        through this method, so tombstones are applied uniformly; the
        vectors are reconciled back into the data files by
        :meth:`compact`.

        PINNED OPEN: every commit records the data schema it wrote (and
        its vector's) in ``_COMMIT.json``, and the snapshot is opened
        with it (:func:`~full_docker_etl_spark.sources.catalog.read_parquet`
        with ``schema``), so even the first read of a version just
        published starts no footer-inference job; partition columns
        still come from the directory paths (an empty snapshot's pin
        carries them). A snapshot without a pin — written by an earlier
        release or missing its ``_COMMIT.json`` — falls back to
        inference through the per-directory memo (keyed by real path,
        ``os.stat`` signature and the parquet-inference confs), which
        infers each immutable snapshot once."""
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.root}")
        elif version not in self._history():
            raise FileNotFoundError(
                f"version {version!r} is not retained at {self.root} "
                f"(retained: {self._history()}); raise keep_versions to "
                "keep a deeper time-travel horizon"
            )
        vdir = os.path.join(self.root, "_versions", version)
        pins = _read_commit_meta(vdir) or {}
        df = read_parquet(spark, vdir, pins.get("schema"))
        dv = self._read_dv(spark, version)
        if dv is not None:
            df = df.join(
                F.broadcast(dv), on=list(dv.columns), how="left_anti"
            )
        return df

    def _dv_dir(self, version: str) -> str:
        # SIBLING of _versions, not inside the snapshot: the data scan
        # must never even list the sidecar (an underscore dir inside
        # the snapshot triggers a per-read "all paths ignored" warning
        # during partition discovery). Lifecycle is tied to the
        # snapshot's: written before publish, GC'd with its version.
        return os.path.join(self.root, "_dv", version)

    def _discard(self, version: str) -> None:
        """Remove a never-published snapshot and its deletion-vector
        sidecar (which would otherwise be an orphan under ``_dv``)."""
        shutil.rmtree(
            os.path.join(self.root, "_versions", version), ignore_errors=True
        )
        shutil.rmtree(self._dv_dir(version), ignore_errors=True)

    @contextlib.contextmanager
    def _gc_raced(self, version: str, message: str):
        """Hardlinking into ``version`` from another snapshot happens
        OUTSIDE the lock, so it races that snapshot's GC. A vanished file
        is a retryable staleness, not an I/O fault: ``version`` is
        discarded and :class:`ConcurrentWriteError` raised with
        ``message``, which ``_retry_concurrent`` re-derives from."""
        try:
            yield
        except FileNotFoundError as exc:
            self._discard(version)
            raise ConcurrentWriteError(message) from exc

    def _read_dv(self, spark: SparkSession, version: str) -> DataFrame | None:
        """The snapshot's deletion vector (distinct tombstoned key
        tuples), or None when the snapshot carries none; opened with
        the ``dv_schema`` its commit recorded, inferred without one."""
        d = self._dv_dir(version)
        if not os.path.isdir(d):
            return None
        pins = _read_commit_meta(os.path.join(self.root, "_versions", version))
        return read_parquet(spark, d, (pins or {}).get("dv_schema"))

    def overwrite(self, df: DataFrame) -> str:
        """Commit ``df`` as the new table state. Returns the version id."""
        return self._commit(df)

    def clone_to(
        self, dest_root: str, version: str | None = None
    ) -> "VersionedTable":
        """SHALLOW CLONE: materialize a retained snapshot as the first
        version of a NEW independent table at ``dest_root`` — pure
        HARDLINKS (same inodes, no data bytes moved), so cloning a
        100 TB table is O(#files) metadata operations. Safe by the
        same invariant every hardlinked merge already relies on:
        snapshot files are IMMUTABLE — both tables only ever write new
        uniquely-named snapshot dirs, so writes to either side can
        never show through the other; each side's GC unlinks only its
        own directory entries and the kernel frees an inode only when
        its last link drops. The clone starts with a fresh history
        (depth 1) and the source's partitioning/retention settings —
        the dev/test-branching shape: fork the production table,
        experiment destructively, throw the clone away, all without
        copying data. ``version`` clones a TIME-TRAVEL snapshot
        instead of the live one. Refuses a ``dest_root`` that already
        holds a table (clone never silently clobbers)."""
        if version is None:
            version = self.current_version()
            if version is None:
                raise FileNotFoundError(f"no committed version at {self.root}")
        elif version not in self._history():
            raise FileNotFoundError(
                f"version {version!r} is not retained at {self.root} "
                f"(retained: {self._history()}); only retained snapshots "
                "can be cloned"
            )
        dest = VersionedTable(
            dest_root,
            keep_versions=self.keep,
            orphan_grace_seconds=self.orphan_grace,
            partition_by=self.partition_by,
            constraints=self.constraints,
        )
        if os.path.exists(dest._pointer):
            raise FileExistsError(
                f"destination {dest_root} already holds a table; clone "
                "never overwrites — pick a fresh path or delete it first"
            )
        new_version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(dest_root, "_versions", new_version)
        src_dir = os.path.join(self.root, "_versions", version)
        pins = _read_commit_meta(src_dir) or {}
        # Linking races the SOURCE table's GC: after the retention check
        # above, a burst of source commits can age this snapshot out and
        # rmtree it mid-_link_tree. A vanished FILE raises; a vanished
        # DIRECTORY is silently skipped by os.walk — so a clean
        # FileNotFoundError is not enough, the snapshot must ALSO still
        # be retained after linking or the clone may be silently PARTIAL.
        with dest._gc_raced(
            new_version,
            f"source snapshot {version!r} was garbage-collected "
            "mid-clone (it fell out of retention under concurrent "
            "source commits); re-read and re-clone",
        ):
            _link_tree(src_dir, vdir, skip=frozenset({"_COMMIT.json"}))
            if os.path.isdir(self._dv_dir(version)):
                # the snapshot's deletion vector is part of its state
                _link_tree(self._dv_dir(version), dest._dv_dir(new_version))
        if version not in self._history():
            dest._discard(new_version)
            raise ConcurrentWriteError(
                f"source snapshot {version!r} fell out of retention "
                "while the clone was linking; the clone could be "
                "partial and was discarded — re-clone from a live "
                "version"
            )
        has_dv = os.path.isdir(dest._dv_dir(new_version))
        _write_commit_meta(
            vdir,
            full=True,
            leaves=[],
            dv=has_dv,
            schema=pins.get("schema"),
            dv_schema=pins.get("dv_schema") if has_dv else None,
            partition_by=dest.partition_by,
        )
        raced = False
        with dest._publish_lock():
            if os.path.exists(dest._pointer):  # raced by another cloner
                raced = True  # cleanup happens OUTSIDE the lock
            else:
                atomic_write(dest._pointer, new_version)  # the publish
        if raced:
            dest._discard(new_version)
            raise FileExistsError(
                f"destination {dest_root} was initialized concurrently"
            )
        return dest

    def restore(self, version: str) -> str:
        """ROLLBACK: make a retained snapshot the live version again
        (RESTORE TABLE ... TO VERSION). Snapshots are immutable, so
        this is a POINTER-ONLY commit — no data written or copied,
        instant at any table size, same atomic ``os.replace`` publish;
        in-flight readers of the version being rolled back finish on
        their snapshot. The restored version moves to the front of the
        retained history (it is NOT duplicated), so a later bad commit
        can be rolled back again. Only retained versions restore —
        GC'd snapshots are gone; raise ``keep_versions`` for a deeper
        undo horizon."""
        history = self._history()
        if version not in history:
            raise FileNotFoundError(
                f"version {version!r} is not retained at {self.root} "
                f"(retained: {history}); only retained snapshots can be "
                "restored"
            )
        with self._publish_lock():
            history = self._history()  # re-read under the lock: a commit
            if version not in history:  # may have raced the restore
                raise FileNotFoundError(
                    f"version {version!r} is not retained at {self.root} "
                    f"(retained: {history}); only retained snapshots can "
                    "be restored"
                )
            retained = [version] + [v for v in history if v != version]
            retained = retained[: self.keep]
            atomic_write(self._pointer, "\n".join(retained))  # the publish
        # GC outside the lock: rmtree of aged snapshots can be slow and
        # must never stretch the critical section past STALE_LOCK_S
        self._gc(retained, aged=set(history) - set(retained))
        return version

    def _commit(
        self,
        df: DataFrame,
        link_from: str | None = None,
        link_exclude: frozenset[str] = frozenset(),
        expected_parent: object = _UNSET,
        drop_dv: bool = False,
    ) -> str:
        """Write ``df`` as a new snapshot (partitioned when configured),
        optionally hardlink every partition directory present in
        ``link_from`` but absent from the fresh write (the untouched
        partitions of a scoped merge; ``link_exclude`` names touched
        leaves a delete may have emptied — never restored), then
        publish atomically.

        ``expected_parent`` is the OPTIMISTIC-CONCURRENCY check: the
        version id the caller derived this commit from (None = caller
        saw an empty table). Under the publish lock, if the live head
        no longer equals it — another writer published in between —
        the fresh snapshot is discarded and :class:`ConcurrentWriteError`
        raised; the slower writer can never silently orphan the faster
        one's commit (the lost-update race). Omitted = blind publish
        (explicit ``overwrite``, which is last-write-wins by
        contract).

        CHECK constraints (Delta's ALTER TABLE ... ADD CONSTRAINT
        shape, declared at construction) gate every commit here: the
        violation counts are FOLDED INTO THE WRITE PASS via
        ``observe()`` — one materialization, not a separate full-scan
        agg job before the write — and a violating commit discards its
        never-published snapshot and refuses with per-constraint
        counts. Readers can never see a violating state because the
        pointer is only moved after the counts come back clean.
        Tables without constraints pay nothing.

        LAYOUT RULE: a commit the engine DERIVES (one with an
        ``expected_parent`` — merge, update, delete, compact) is
        written through :func:`~full_docker_etl_spark.operators.util.rebalanced`
        on the partition columns, so AQE sizes its files: a rewritten
        partition below the advisory size lands as ONE file (the next
        compaction finds nothing to do), a larger one as advisory-sized
        files split across writer tasks. A blind ``overwrite`` keeps
        the caller's layout."""
        version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(self.root, "_versions", version)
        schema = data_schema(df, self.partition_by)
        if self.partition_by and expected_parent is not _UNSET:
            df = rebalanced(df, *self.partition_by)
        observation = None
        if self.constraints:
            from pyspark.sql import Observation

            observation = Observation()
            df = df.observe(observation, *self._constraint_aggs())
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(vdir)
        if observation is not None:
            counts = observation.get
            bad = {
                n: int(counts[n] or 0) for n in self.constraints if counts[n]
            }
            if bad:
                # the snapshot was written but never published — readers
                # cannot have seen it; discard and refuse loudly
                shutil.rmtree(vdir, ignore_errors=True)
                self._raise_constraint_violation(df, bad)
        if link_from is not None:
            touched_leaves = _leaf_rels(vdir, len(self.partition_by))
            dv_schema = None
            if not drop_dv:
                dv_schema = self._propagate_dv(
                    df.sparkSession, link_from, vdir, version, schema
                )
            with self._gc_raced(version, _PARENT_GCD.format(link_from)):
                _link_missing_partitions(
                    link_from, vdir, len(self.partition_by), link_exclude
                )
            _write_commit_meta(
                vdir,
                full=False,
                leaves=sorted(touched_leaves | set(link_exclude)),
                dv=dv_schema is not None,
                schema=schema,
                dv_schema=dv_schema,
                partition_by=self.partition_by,
            )
        else:
            _write_commit_meta(
                vdir, full=True, leaves=[], dv=False, schema=schema,
                partition_by=self.partition_by,
            )
        self.last_commit_rebased = False
        try:
            self._publish(
                version, vdir, expected_parent, cleanup_on_reject=False
            )
        except ConcurrentWriteError:
            rebased = self._try_rebase(version, vdir, link_from,
                                       expected_parent)
            if rebased is None:
                self._discard(version)
                raise
            self.last_commit_rebased = True
            return rebased
        return version

    def _try_rebase(
        self,
        version: str,
        vdir: str,
        link_from: str | None,
        expected_parent: object,
    ) -> str | None:
        """PARTITION-LEVEL CONFLICT RESOLUTION (Delta's logical conflict
        detection): a rejected scoped commit whose touched-partition
        set is DISJOINT from every intervening commit's lands by
        REBASING — relink its fresh partitions onto the new head's
        snapshot (pure hardlink reconciliation, no Spark job) instead
        of re-running the whole derivation. Without this, two merges
        into different partitions of a 100 TB table serialize on the
        global head pointer and the loser re-runs its full Spark job;
        with it, disjoint writers each run exactly one job.

        Safe because a scoped commit derives ONLY from the partitions
        it touches (the partition-pruned read), so if no intervener
        touched them, the derivation is identical against the new
        head; and the untouched partitions it hardlinked are replaced
        by the head's copies, which already include every intervener's
        work. Refuses (returns None → caller re-derives) whenever the
        chain cannot be PROVEN disjoint: an intervener predating the
        touched-set record, a full rewrite or schema evolution, any
        deletion-vector activity (a vector changes visibility in
        partitions a commit never names), or the parent falling out of
        the retained history."""
        if (
            link_from is None
            or expected_parent is _UNSET
            or expected_parent is None
            or os.path.isdir(self._dv_dir(version))
        ):
            return None
        my_meta = _read_commit_meta(vdir)
        if not my_meta or my_meta.get("full") or my_meta.get("dv"):
            return None
        mine = set(my_meta["leaves"])
        for _ in range(8):
            history = self._history()
            if expected_parent not in history:
                return None  # chain truncated by retention: re-derive
            interveners = history[: history.index(expected_parent)]
            if not interveners:
                return None
            foreign: set[str] = set()
            for iv in interveners:
                meta = _read_commit_meta(
                    os.path.join(self.root, "_versions", iv)
                )
                if not meta or meta.get("full") or meta.get("dv"):
                    return None
                foreign |= set(meta["leaves"])
            if foreign & mine:
                return None  # genuine overlap: the loser must re-derive
            head = history[0]
            head_dir = os.path.join(self.root, "_versions", head)
            new_version = f"v_{uuid.uuid4().hex[:12]}"
            new_vdir = os.path.join(self.root, "_versions", new_version)
            try:
                _link_tree(vdir, new_vdir, skip=frozenset({"_COMMIT.json"}))
                for rel in sorted(foreign):
                    tgt = os.path.join(new_vdir, rel)
                    shutil.rmtree(tgt, ignore_errors=True)
                    src = os.path.join(head_dir, rel)
                    if os.path.isdir(src):
                        _link_tree(src, tgt)
                    # absent in head = an intervener emptied it: stays gone
            except FileNotFoundError:
                shutil.rmtree(new_vdir, ignore_errors=True)
                return None  # head GC'd mid-link: give up, re-derive
            # relative to the new head we still touched exactly `mine`
            _write_commit_meta(
                new_vdir,
                full=False,
                leaves=sorted(mine),
                dv=False,
                schema=my_meta.get("schema"),
                partition_by=self.partition_by,
            )
            try:
                self._publish(new_version, new_vdir, head)
            except ConcurrentWriteError as exc:
                if getattr(exc, "head", _UNSET) is _UNSET:
                    return None  # lock timeout, not a parent mismatch
                continue  # head moved again: recompute the chain
            shutil.rmtree(vdir, ignore_errors=True)
            return new_version
        return None

    def _propagate_dv(
        self,
        spark: SparkSession,
        link_from: str,
        vdir: str,
        version: str,
        schema: dict | None = None,
    ) -> dict | None:
        """Carry the parent snapshot's deletion vector forward into a
        scoped commit, MINUS any key tuple the fresh write legitimately
        re-introduces (a MERGE that re-inserts a tombstoned key must
        make it visible again — partition cols ⊆ DV keys guarantees the
        re-inserted key's partition is among the rewritten ones, so
        subtracting the fresh write's tuples is exact). The rewritten
        partitions were derived from the DV-applied read, so their
        files already exclude every remaining tombstone; the vector is
        only needed for the HARDLINKED untouched partitions.

        Both reads are pinned: the parent's vector with the
        ``dv_schema`` its commit recorded, the fresh write with
        ``schema``, the data schema it was just written with (either
        is inferred when absent). Returns the carried vector's schema,
        or None when nothing is left to carry."""
        parent_dv = self._dv_dir(os.path.basename(link_from))
        if not os.path.isdir(parent_dv):
            return None
        pins = _read_commit_meta(link_from) or {}
        old_dv = read_parquet(spark, parent_dv, pins.get("dv_schema"))
        # Pre-probe the snapshot for data files instead of catching the
        # reader's schema-inference error: a bare except here would also
        # swallow TRANSIENT read failures and silently freeze the
        # tombstone set — a re-inserted key would stay invisible. With
        # the probe, only the legitimately-empty write takes the
        # carry-unchanged path; any real read/schema fault propagates
        # and fails the commit loudly.
        if not _holds_data(vdir):
            dv = old_dv  # empty fresh write: nothing re-introduced
        else:
            fresh = (
                read_parquet(spark, vdir, schema)
                .select(*old_dv.columns)
                .distinct()
            )
            dv = old_dv.join(
                fresh, on=list(old_dv.columns), how="left_anti"
            )
        if not dv.take(1):
            return None
        dv.coalesce(1).write.mode("overwrite").parquet(self._dv_dir(version))
        return data_schema(old_dv)

    def _publish(
        self,
        version: str,
        vdir: str,
        expected_parent: object,
        cleanup_on_reject: bool = True,
    ) -> None:
        """The pointer read-check-publish critical section plus GC.
        On success the pointer atomically moves to ``version``; on a
        parent mismatch the snapshot is discarded (unless the caller
        wants it kept for a REBASE attempt) and
        :class:`ConcurrentWriteError` raised with the rejecting head on
        ``.head``."""
        rejected_head: object = _UNSET
        with self._publish_lock():
            history = self._history()
            head = history[0] if history else None
            if expected_parent is not _UNSET and head != expected_parent:
                rejected_head = head  # cleanup happens OUTSIDE the lock
            else:
                retained = [version] + history[: self.keep - 1]
                atomic_write(self._pointer, "\n".join(retained))  # the publish
        if rejected_head is not _UNSET:
            if cleanup_on_reject:
                shutil.rmtree(vdir, ignore_errors=True)
            exc = ConcurrentWriteError(
                f"commit to {self.root} was derived from version "
                f"{expected_parent!r} but the live version is now "
                f"{rejected_head!r}; re-read and re-derive"
            )
            exc.head = rejected_head
            raise exc
        # GC outside the lock: rmtree of aged snapshots can be slow and
        # must never stretch the critical section past STALE_LOCK_S
        self._gc(retained, aged=set(history) - set(retained))

    def merge(
        self,
        updates: DataFrame,
        keys: list[str],
        evolve_schema: bool = False,
        delete_col: str | None = None,
    ) -> str:
        """MERGE semantics (matched → replace, unmatched → insert) as
        read-current → anti-join → union → atomic commit. Idempotent:
        re-running the same batch converges to the same state. A batch
        carrying the same key twice raises (Delta's multiple-source-
        match rule; which copy should win is undefined and accepting
        both forks the keyed table).

        ``delete_col`` adds the WHEN MATCHED DELETE branch: batch rows
        whose (boolean) flag column is true are TOMBSTONES — their keys
        are removed from the table and the flag column itself never
        lands in the schema; flag-false rows upsert as usual (NULL flag
        = false). One batch, all three MERGE branches, one commit —
        the CDC-apply shape (consume an upstream change feed where
        deletes and upserts interleave). A tombstoned partition that
        empties is excluded from the hardlink step exactly like a
        keyed DELETE's.

        ``evolve_schema=True`` allows the batch to ADD columns (and to
        omit existing ones): the union aligns by name with missing
        columns null-filled — pre-existing rows read NULL for the new
        column, the standard additive-evolution contract. Left off by
        default so a typo'd column name fails loudly instead of
        forking the schema.

        TYPE evolution on shared columns: a batch column NARROWER than
        the table's (int batch into a long table) up-casts silently —
        lossless, no rewrite, no flag. A batch column WIDER than the
        table's (long batch into an int table, float→double) WIDENS
        THE TABLE — a schema-changing full rewrite, gated behind
        ``evolve_schema=True`` exactly like added columns. Anything
        outside the lossless widening set (int vs string, long→double)
        raises ValueError up front — unionByName would otherwise
        coerce silently and fork the schema (see
        :func:`_plan_type_reconciliation`). Partition columns are
        EXEMPT: they always read back as string (directory values)
        and carry their own Spark-cast value-matching contract.

        On a PARTITIONED table the merge is partition-scoped: only the
        partitions present in ``updates`` are read (partition-pruned
        scan), merged and rewritten; every untouched partition is
        hardlinked from the previous snapshot. Requires partition
        columns ⊆ ``keys`` — then a key can never move between
        partitions, so pruning by the updates' partition values is
        exhaustive (a matched row always lives in a partition the
        batch names). The touched partitions, the NULL-partition
        refusal and the duplicate-key check come from ONE bounded
        action over the batch (:meth:`_touched`), so the write plan
        carries no duplicate-key window. LAYOUT: like every derived
        commit the rewrite is rebalanced on the partition columns — a
        touched partition below the AQE advisory size comes back as one
        file, so merges do not fragment the table — while
        :meth:`overwrite` keeps the caller's layout.

        CONCURRENCY: the merge is derived from the snapshot that was
        live when it started and committed with an optimistic parent
        check; if another writer publishes in between, the commit is
        rejected and the merge re-derives from the new head (a few
        retries, then :class:`ConcurrentWriteError` surfaces). Two
        overlapping writers therefore both land — serialized — or the
        slower one fails loudly; never a silent lost update."""
        return self._retry_concurrent(
            lambda: self._merge_once(updates, keys, evolve_schema, delete_col)
        )

    def _retry_concurrent(self, attempt_fn, attempts: int = 8):
        """Derive-retry loop for optimistic commits. Every rejection
        proves ANOTHER writer published since this one derived (global
        progress), so contention can slow a writer but never livelock
        it; ``attempts`` bounds how many foreign commits one mutation
        will chase before surfacing ConcurrentWriteError."""
        last: ConcurrentWriteError | None = None
        for i in range(attempts):
            try:
                result = attempt_fn()
                # observability for tests/telemetry: how many DERIVATIONS
                # (Spark jobs) this mutation ran — a rebased loser stays
                # at 1 where reject-and-rederive costs 2+
                self.last_mutation_attempts = i + 1
                return result
            except ConcurrentWriteError as exc:
                last = exc  # head moved: re-derive from the new snapshot
        raise last

    def _merge_once(
        self,
        updates: DataFrame,
        keys: list[str],
        evolve_schema: bool,
        delete_col: str | None = None,
    ) -> str:
        spark = updates.sparkSession
        if delete_col is not None:
            if delete_col in keys:
                raise ValueError(
                    f"delete flag column {delete_col!r} cannot be a merge key"
                )
            if delete_col not in updates.columns:
                raise ValueError(
                    f"delete_col {delete_col!r} is not in the batch "
                    f"(columns: {updates.columns})"
                )
        may_empty = delete_col is not None  # tombstones can drain a partition

        def branches(batch: DataFrame) -> tuple[DataFrame, DataFrame]:
            """(upserts, probe): flag-false rows upsert (NULL flag =
            false); BOTH branches' keys leave the current snapshot (a
            tombstoned key is simply never re-inserted)."""
            if delete_col is None:
                return batch, batch.select(*keys)
            flag = F.coalesce(F.col(delete_col).cast("boolean"), F.lit(False))
            return batch.where(~flag).drop(delete_col), batch.select(*keys)

        # MERGE forbids two source rows per target key — a
        # duplicate-keyed batch would anti-join out ONE live row and
        # insert BOTH copies, and with delete_col a same-key
        # tombstone+upsert pair has no defined order. A scoped merge
        # checks it in its touched-partition action, before writing;
        # every other path runs no pre-action and carries the in-plan
        # guard (_reject_duplicate_keys) on the whole batch, so both
        # branches see it.
        parent = self.current_version()
        if parent is None:
            # first write: parent check still applies (a racing initial
            # writer publishes first → this commit rejects and retries
            # as a real merge against the winner's snapshot); tombstones
            # against an empty table are no-ops by construction
            upserts, _ = branches(
                _reject_duplicate_keys(updates, keys, "merge")
            )
            return self._commit(upserts, expected_parent=None)
        # TYPE RECONCILIATION before any union: unionByName would
        # coerce mismatched types silently (int ∪ string → string) and
        # fork the schema. Batch-narrower-than-table up-casts are free;
        # table-narrower-than-batch widening is a schema change —
        # full-rewrite, gated behind evolve_schema like added columns.
        live = self.read(spark, version=parent)
        batch_cols = updates.drop(delete_col) if delete_col else updates
        cast_up, cast_table = _plan_type_reconciliation(
            live, batch_cols, exempt=frozenset(self.partition_by)
        )
        if cast_up:
            updates = updates.withColumns(
                {c: F.col(c).cast(t) for c, t in cast_up.items()}
            )
        if cast_table and not evolve_schema:
            raise ValueError(
                "MERGE batch widens table column(s) "
                f"{sorted(cast_table)} — a schema-changing full "
                "rewrite; pass evolve_schema=True to allow it"
            )
        if cast_table:
            live = live.withColumns(
                {c: F.col(c).cast(t) for c, t in cast_table.items()}
            )
        if self.partition_by:
            missing = set(self.partition_by) - set(keys)
            if missing:
                raise ValueError(
                    "partition-scoped merge requires partition columns "
                    f"to be part of the merge key (missing: "
                    f"{sorted(missing)}); otherwise a matched key could "
                    "live in a partition the update batch never names "
                    "and the prune would miss it"
                )
        # Plain Parquet has no schema registry: hardlinking old-schema
        # files next to new-schema files would make the read-back
        # schema depend on which file Spark samples. Additive evolution
        # (and type WIDENING — ``live`` already carries the widened
        # casts) therefore rewrites the WHOLE table once (every file
        # carries the final schema); subsequent merges return to the
        # scoped fast path.
        if not self.partition_by or (
            evolve_schema
            and (cast_table or set(batch_cols.columns) != set(live.columns))
        ):
            upserts, probe = branches(
                _reject_duplicate_keys(updates, keys, "merge")
            )
            keep = live.join(probe, on=keys, how="left_anti")
            return self._commit(
                keep.unionByName(upserts, allowMissingColumns=evolve_schema),
                expected_parent=parent,
            )
        touched = self._touched(updates, "merge", keys)
        upserts, probe = branches(updates)
        cur_dir = os.path.join(self.root, "_versions", parent)
        keep = self._scoped_read(live, touched).join(
            probe, on=keys, how="left_anti"
        )
        merged = keep.unionByName(upserts)
        if may_empty and touched.beyond_cap is not None:
            # same reasoning as delete(): past the cap a bounded
            # link-exclusion set cannot be complete, so a tombstone
            # merge naming >10k partitions rewrites without links
            untouched = live.join(
                F.broadcast(touched.beyond_cap),
                on=list(self.partition_by),
                how="left_anti",
            )
            return self._commit(
                merged.unionByName(untouched), expected_parent=parent
            )
        excl = (
            _leaves_named(cur_dir, len(self.partition_by), touched.strings)
            if may_empty
            else frozenset()
        )
        return self._commit(
            merged,
            link_from=cur_dir,
            link_exclude=excl,
            expected_parent=parent,
        )

    def _touched(
        self, frame: DataFrame, op: str, keys: list[str] | None = None
    ) -> _Touched:
        """The touched partitions of a scoped mutation's batch, in ONE
        bounded action: a group-by on the partition columns, collected
        to at most the cap (+1 to detect overflow). Each group carries
        its raw values (the scoped read's static prune), its Spark
        string casts (the leaf directory names the writer produced)
        and, given ``keys``, the batch's row count against its distinct
        key count. Groups holding a NULL partition value or a
        duplicate key sort FIRST, so either lands in the collected head
        even past the cap: a NULL refuses loudly (it cannot address a
        partition directory), and a duplicate key raises MERGE's
        multiple-source-match error before anything is written — the
        offending key is looked up only on that rejection path.
        Partition columns ⊆ keys, so one key never spans two groups.
        Past the cap, ``beyond_cap`` carries every distinct tuple for
        the join-scoped fallbacks."""
        part = list(self.partition_by)
        n = len(part)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        dup = F.lit(0)
        if keys:
            aggs.append(F.count_distinct(F.struct(*keys)).alias("__keys"))
            dup = F.col("__rows") - F.col("__keys")
        any_null = F.lit(False)
        for c in part:
            any_null = any_null | F.col(c).isNull()
        head = (
            frame.groupBy(*part)
            .agg(*aggs)
            .select(
                *part,
                *[F.col(c).cast("string") for c in part],
                any_null.alias("__null"),
                dup.alias("__dup"),
            )
            .orderBy(F.col("__null").desc(), F.col("__dup").desc())
            .limit(_TOUCHED_CAP + 1)
            .collect()
        )
        if head and head[0]["__null"]:
            raise ValueError(
                f"partition-scoped {op} got a NULL partition value; null "
                "keys cannot address a partition directory"
            )
        if head and head[0]["__dup"] > 0:
            offending = (
                frame.groupBy(*keys)
                .agg(F.count(F.lit(1)).alias("__rows"))
                .where(F.col("__rows") > 1)
                .select(_key_string(keys))
                .first()[0]
            )
            raise ValueError(_duplicate_key_message(op, keys) + offending)
        return _Touched(
            values=[tuple(r[:n]) for r in head],
            strings=frozenset(tuple(r[n : 2 * n]) for r in head),
            schema=frame.select(*part).schema,
            beyond_cap=(
                frame.select(*part).distinct()
                if len(head) > _TOUCHED_CAP
                else None
            ),
        )

    def update_columns(self, changes: DataFrame, keys: list[str]) -> str:
        """S13 at the warehouse tier: bulk COLUMN update (the
        reference's status-flag sweep, ``transform_iqplus_news_dags.py:
        161-174``) with MERGE's scale shape. ``changes`` carries the
        key columns plus the columns to SET; matched rows take the
        batch's values with COALESCE semantics (a NULL in the batch
        leaves the existing value), unmatched rows and unnamed columns
        pass through untouched. On a partitioned table the update is
        PARTITION-SCOPED exactly like merge (requires partition cols ⊆
        keys): only partitions the batch names are read and rewritten,
        the rest hardlink. Same optimistic concurrency (derive →
        parent-checked commit → retry). Unlike :func:`update_columns`
        (the swap-write module function), a 1-row flag flip here never
        rewrites the whole table. Idempotent: re-applying the same
        batch converges. A batch carrying the same key twice raises
        (the upsert/merge duplicate-key contract)."""
        return self._retry_concurrent(
            lambda: self._update_columns_once(changes, keys)
        )

    def _update_columns_once(self, changes: DataFrame, keys: list[str]) -> str:
        spark = changes.sparkSession
        parent = self.current_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        value_cols = [c for c in changes.columns if c not in keys]
        live = self.read(spark, version=parent)
        unknown = set(value_cols) - set(live.columns)
        if unknown:
            raise ValueError(
                f"update_columns got columns not in the table: "
                f"{sorted(unknown)} (a column update cannot add columns; "
                "use merge(evolve_schema=True) for additive evolution)"
            )
        if not value_cols:
            raise ValueError("changes carries only key columns; nothing to set")
        # TYPE RECONCILIATION, table-schema-wins: without it a wider-
        # typed batch makes coalesce(__new_c, c) resolve WIDE, so a
        # partition-scoped commit rewrites touched partitions as e.g.
        # INT64 while hardlinking untouched INT32 files — a mixed-
        # physical-schema snapshot every later read() chokes on
        # (SchemaColumnConvertNotSupported): the published table is
        # bricked. A column update can never change the table schema,
        # so narrower batch columns up-cast and anything else raises.
        cast_up, cast_table = _plan_type_reconciliation(
            live, changes, exempt=frozenset(self.partition_by)
        )
        if cast_table:
            raise ValueError(
                f"update_columns batch widens table column(s) "
                f"{sorted(cast_table)} — a column update cannot change "
                "the table schema; cast the batch explicitly or use "
                "merge(evolve_schema=True)"
            )
        if cast_up:
            changes = changes.withColumns(
                {c: F.col(c).cast(t) for c, t in cast_up.items()}
            )
        # A batch carrying the same key twice raises in-plan, the
        # upsert/merge contract (_reject_duplicate_keys): which
        # duplicate should win is ambiguous, and silently keeping one
        # resolves it nondeterministically. The guard fires on the
        # first renamed-derived frame to execute (the left-semi match
        # probe), before any commit is published.
        renamed = _reject_duplicate_keys(
            changes, keys, "update_columns"
        ).select(*keys, *[F.col(c).alias(f"__new_{c}") for c in value_cols])

        def apply(existing: DataFrame) -> DataFrame:
            joined = existing.join(renamed, on=keys, how="left")
            out = [
                F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c)
                if c in value_cols
                else F.col(c)
                for c in existing.columns
            ]
            return joined.select(*out)

        if not self.partition_by:
            if not live.join(
                renamed.select(*keys), on=keys, how="left_semi"
            ).take(1):
                return parent  # nothing matches: no commit, no churn
            return self._commit(apply(live), expected_parent=parent)
        missing = set(self.partition_by) - set(keys)
        if missing:
            # this also forbids SETTING a partition column (it would
            # have to be a value column, hence absent from the keys):
            # moving a row between partitions is a merge, not an update
            raise ValueError(
                "partition-scoped update requires partition columns to be "
                f"part of the update key (missing: {sorted(missing)}); "
                "otherwise a matched key could live in a partition the "
                "change batch never names and the prune would miss it"
            )
        touched = self._touched(changes, "update")
        cur_dir = os.path.join(self.root, "_versions", parent)
        scoped = self._scoped_read(live, touched)
        if not scoped.join(
            renamed.select(*keys), on=keys, how="left_semi"
        ).take(1):
            return parent  # nothing matches: no commit, no churn
        return self._commit(
            apply(scoped), link_from=cur_dir, expected_parent=parent
        )

    def delete(self, keys_df: DataFrame, keys: list[str]) -> str:
        """Keyed DELETE (the right-to-be-forgotten / retention-purge
        op): rows matching ``keys_df`` are removed; everything else is
        untouched. On a partitioned table the delete is PARTITION-
        SCOPED exactly like the merge — only partitions named by the
        key batch are read (pruned scan) and rewritten with survivors;
        untouched partitions hardlink into the new snapshot. A
        partition the delete EMPTIES produces no directory in the
        fresh write, and the linker is told not to resurrect it (its
        leaf path joins the link-exclusion set — parsed from the old
        snapshot's layout with the same unquoting compact() uses, so
        no partition-value escaping is re-implemented). Requires
        partition cols ⊆ keys, same reasoning as merge. Idempotent AND
        no-op-aware: a key batch matching ZERO live rows returns the
        current version WITHOUT a commit (mirroring compact()'s no-op
        contract) — a re-run retention job must not age a real
        snapshot out of the time-travel window. Same optimistic
        concurrency as merge (derive → parent-checked commit → retry)."""
        return self._retry_concurrent(lambda: self._delete_once(keys_df, keys))

    def _delete_once(self, keys_df: DataFrame, keys: list[str]) -> str:
        spark = keys_df.sparkSession
        parent = self.current_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        probe = keys_df.select(*keys).distinct()
        if not self.partition_by:
            existing = self.read(spark, version=parent)
            if not existing.join(probe, on=keys, how="left_semi").take(1):
                return parent  # nothing matches: no commit, no churn
            keep = existing.join(probe, on=keys, how="left_anti")
            return self._commit(keep, expected_parent=parent)
        missing = set(self.partition_by) - set(keys)
        if missing:
            raise ValueError(
                "partition-scoped delete requires partition columns to be "
                f"part of the delete key (missing: {sorted(missing)}); "
                "otherwise a matched key could live in a partition the "
                "key batch never names and the prune would miss it"
            )
        touched = self._touched(keys_df, "delete")
        cur_dir = os.path.join(self.root, "_versions", parent)
        live = self.read(spark, version=parent)
        existing = self._scoped_read(live, touched)
        if not existing.join(probe, on=keys, how="left_semi").take(1):
            return parent  # nothing matches: no commit, no churn
        keep = existing.join(probe, on=keys, how="left_anti")
        if touched.beyond_cap is not None:
            # Past the cap the collected tuple subset is ARBITRARY, so
            # a bounded link-exclusion set cannot be complete — an
            # emptied partition outside it would be resurrected by the
            # linker. A delete naming >10k partitions is a bulk purge:
            # rewrite the whole table (survivors of touched partitions
            # + every untouched partition) with no links.
            untouched = live.join(
                F.broadcast(touched.beyond_cap),
                on=list(self.partition_by),
                how="left_anti",
            )
            return self._commit(
                keep.unionByName(untouched), expected_parent=parent
            )
        excl = _leaves_named(cur_dir, len(self.partition_by), touched.strings)
        return self._commit(
            keep, link_from=cur_dir, link_exclude=excl, expected_parent=parent
        )

    def delete_dv(self, keys_df: DataFrame, keys: list[str]) -> str:
        """MERGE-ON-READ keyed DELETE (Delta's deletion vectors shape):
        instead of rewriting every touched partition's survivors like
        :meth:`delete`, the matched key tuples are appended to a tiny
        DELETION-VECTOR sidecar (``_dv/`` inside the new snapshot) and
        every data file is HARDLINKED from the parent — a GDPR purge of
        a few thousand keys scattered across a 100 TB table writes
        O(|deleted|) bytes instead of rewriting nearly every partition.
        :meth:`read` subtracts the vector with a broadcast anti-join,
        so every consumer (queries, merges, diffs, time travel) sees
        the post-delete state immediately; :meth:`compact` reconciles
        the vectors back into the data files and drops the sidecar.

        Contract mirrors :meth:`delete`: partitioned tables require
        partition cols ⊆ keys (then a tombstone addresses exactly one
        partition, which is what lets a later scoped MERGE that
        re-inserts the key clear its tombstone exactly); idempotent and
        no-op-aware (a batch matching zero visible rows returns the
        current version without a commit — re-run purge jobs must not
        age the time-travel window and must not grow the vector); only
        MATCHED keys enter the vector, so it is bounded by the live
        row count, not by how much garbage the key batch carries. A
        vector keyed by a different column set than an existing one
        refuses (fold via compact first). Same optimistic concurrency
        as every mutation (derive → parent-checked commit → retry)."""
        return self._retry_concurrent(
            lambda: self._delete_dv_once(keys_df, keys)
        )

    def _delete_dv_once(self, keys_df: DataFrame, keys: list[str]) -> str:
        spark = keys_df.sparkSession
        parent = self.current_version()
        if parent is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        if self.partition_by:
            missing = set(self.partition_by) - set(keys)
            if missing:
                raise ValueError(
                    "merge-on-read delete requires partition columns to "
                    f"be part of the delete key (missing: "
                    f"{sorted(missing)}); otherwise a tombstone could "
                    "not be cleared exactly when a scoped merge "
                    "re-inserts its key"
                )
        live = self.read(spark, version=parent)
        unknown = set(keys) - set(live.columns)
        if unknown:
            raise ValueError(
                f"delete keys not in the table: {sorted(unknown)} "
                f"(table columns: {live.columns})"
            )
        ltypes = dict(live.dtypes)
        cast = keys_df.select(
            *[F.col(k).cast(ltypes[k]).alias(k) for k in keys]
        )
        probe = cast.distinct()
        if self.partition_by:
            scoped = self._scoped_read(live, self._touched(cast, "delete"))
        else:
            scoped = live
        # matched keys only, via the partition-pruned scan: the vector
        # must stay bounded by live rows, and a re-run must no-op
        matched = probe.join(scoped, on=keys, how="left_semi")
        if not matched.take(1):
            return parent  # nothing matches: no commit, no churn
        old_dv = self._read_dv(spark, parent)
        if old_dv is not None:
            if set(old_dv.columns) != set(keys):
                raise ValueError(
                    "a deletion vector keyed by "
                    f"{sorted(old_dv.columns)} already exists at "
                    f"{self.root}; merge-on-read deletes must reuse the "
                    "same key set — run compact() to fold the existing "
                    "vector first"
                )
            matched = old_dv.unionByName(matched).distinct()
        return self._commit_dv(matched, parent)

    def _commit_dv(self, dv_df: DataFrame, expected_parent: str) -> str:
        """Publish a new snapshot that is the parent's data files
        HARDLINKED wholesale plus a fresh deletion-vector sidecar —
        zero data bytes written, O(|vector|) bytes total. The commit
        record carries the parent's data schema and pins the vector's."""
        version = f"v_{uuid.uuid4().hex[:12]}"
        vdir = os.path.join(self.root, "_versions", version)
        parent_dir = os.path.join(self.root, "_versions", expected_parent)
        with self._gc_raced(version, _PARENT_GCD.format(expected_parent)):
            _link_tree(parent_dir, vdir, skip=frozenset({"_COMMIT.json"}))
        dv_df.coalesce(1).write.mode("overwrite").parquet(
            self._dv_dir(version)
        )
        # a DV commit touches no partitions but changes read-side
        # visibility everywhere — rebase across it is never safe
        _write_commit_meta(
            vdir,
            full=False,
            leaves=[],
            dv=True,
            schema=(_read_commit_meta(parent_dir) or {}).get("schema"),
            dv_schema=data_schema(dv_df),
            partition_by=self.partition_by,
        )
        try:
            self._publish(version, vdir, expected_parent)
        except ConcurrentWriteError:
            self._discard(version)  # a lock timeout leaves vdir too
            raise
        return version

    def diff(
        self,
        spark: SparkSession,
        keys: list[str],
        from_version: str,
        to_version: str | None = None,
        include_values: bool = False,
    ) -> DataFrame:
        """CHANGE FEED between two retained snapshots (the CDC read
        pattern lake formats expose): one row per changed key,
        ``change ∈ {inserted, deleted, updated}``. Time travel makes
        this a pure derived view — immutable snapshots, so the diff is
        a full-outer join on the keys with a null-safe struct compare
        of the non-key columns; no log replay, no stored deltas.
        Unchanged keys are dropped. Scale shape: one key-partitioned
        join of two snapshot scans (column-pruned to keys + compared
        columns); downstream consumers (cache invalidation,
        incremental export) read |changes| rows, not the table.

        ``include_values=True`` makes the feed REPLAYABLE: each
        inserted/updated row carries the NEW side's non-key columns
        (NULL for deletes), so the output feeds straight into
        ``merge(feed, keys, delete_col=...)`` on a replica — produce
        and apply close the CDC loop with the same two operators the
        lake formats pair (CDF read → MERGE apply)."""
        old = self.read(spark, version=from_version)
        new = self.read(spark, version=to_version)
        common = [c for c in new.columns if c in set(old.columns)]
        nonkey = [c for c in common if c not in keys]
        o = old.select(*keys, F.struct(*nonkey).alias("__o"))
        n = new.select(*keys, F.struct(*nonkey).alias("__n"))
        joined = o.join(n, on=keys, how="full_outer")
        change = (
            F.when(F.col("__o").isNull(), F.lit("inserted"))
            .when(F.col("__n").isNull(), F.lit("deleted"))
            .when(~F.col("__o").eqNullSafe(F.col("__n")), F.lit("updated"))
        )
        flagged = joined.withColumn("change", change).where(
            F.col("change").isNotNull()
        )
        if not include_values:
            return flagged.select(*keys, "change")
        return flagged.select(
            *keys,
            "change",
            *[F.col("__n")[c].alias(c) for c in nonkey],
        )

    def compact(
        self, spark: SparkSession, max_files_per_partition: int = 4
    ) -> str | None:
        """OPTIMIZE: rewrite only the partitions holding more than
        ``max_files_per_partition`` SMALL data files (small files are
        the silent 100 TB killer — every query pays per-file
        open/footer cost). A file is small when it is under half the
        AQE advisory size (``spark.sql.adaptive.advisoryPartitionSizeInBytes``
        — Delta's ``minFileSize`` rule): a partition larger than the
        advisory size is written by every rebalanced commit, this one
        included, as several advisory-sized files, and counting those
        would make it over budget forever and rewrite it on every
        call. Derived commits are already rebalanced to one file per
        touched partition below the advisory size; the files
        compaction finds come from a caller's ``overwrite``, which
        keeps the layout it was handed.
        Untouched partitions are hardlinked
        into the new snapshot exactly like a scoped merge, data is
        byte-identical by construction (same rows, new layout), and
        the publish is the same atomic pointer swap — readers never
        see a half-compacted table. Returns the new version id, or
        None when every partition is already within budget (no
        commit, no snapshot churn — a no-op compaction must not age
        the retention window). NULL-valued partitions
        (``__HIVE_DEFAULT_PARTITION__``) are left as-is.

        Scale shape: the fat-partition scan is a filesystem listing
        (no data read); the rewrite reads only fat partitions via the
        same per-column isin pruning the merge uses (a SUPERSET of the
        fat set is harmless — it only compacts more), and the commit's
        rebalance on the partition columns routes each partition's
        rows to one writer task → one output file per partition up to
        the AQE advisory size (a larger partition splits into
        advisory-sized files rather than serializing on one task).

        DELETION-VECTOR RECONCILIATION: when the live snapshot carries
        a merge-on-read vector (:meth:`delete_dv`), compaction is where
        it folds away — every partition holding tombstoned rows joins
        the rewrite set (their survivor rows materialize from the
        DV-applied read) and the new snapshot carries NO sidecar; a
        DV'd table therefore always commits here even when every
        partition is within the file budget."""
        version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"no committed version at {self.root}")
        cur_dir = os.path.join(self.root, "_versions", version)
        dv = self._read_dv(spark, version)
        small = advisory_partition_bytes(spark) // 2

        def _n_small(d: str) -> int:
            return sum(
                1
                for f in os.listdir(d)
                if f.endswith(".parquet")
                and not f.startswith((".", "_"))
                and os.path.getsize(os.path.join(d, f)) < small
            )

        if not self.partition_by:
            if dv is None and _n_small(cur_dir) <= max_files_per_partition:
                return None
            return self._commit(
                self.read(spark, version=version).coalesce(1),
                expected_parent=version,
            )

        from urllib.parse import unquote

        depth = len(self.partition_by)
        fat: list[dict[str, str]] = []

        def _walk(d: str, level: int, vals: dict[str, str]) -> None:
            if level == depth:
                if _n_small(d) > max_files_per_partition:
                    fat.append(vals)
                return
            for entry in os.listdir(d):
                sub = os.path.join(d, entry)
                if not os.path.isdir(sub) or "=" not in entry:
                    continue
                col, raw = entry.split("=", 1)
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    continue  # null partitions are skipped, not compacted
                _walk(sub, level + 1, {**vals, col: unquote(raw)})

        _walk(cur_dir, 0, {})
        excl: frozenset[str] = frozenset()
        if dv is not None:
            # every DV-touched partition must be rewritten so the new
            # snapshot can drop the sidecar; the vector's partition
            # values are bounded-collected like a scoped merge's
            touched = self._touched(dv, "compact")
            if touched.beyond_cap is not None:
                # a vector spanning >10k partitions is a bulk purge:
                # fold via a full rewrite, no links
                return self._commit(
                    self.read(spark, version=version),
                    expected_parent=version,
                )
            # directory-value strings, the form _walk parses
            fat.extend(
                dict(zip(self.partition_by, t)) for t in touched.strings
            )
            # a partition the vector EMPTIES produces no directory in
            # the rewrite; the linker must not resurrect its old files
            excl = _leaves_named(cur_dir, depth, touched.strings)
        if not fat:
            return None
        scoped = self.read(spark, version=version)
        for c in self.partition_by:
            scoped = scoped.where(
                F.col(c).isin(sorted({vals[c] for vals in fat}))
            )
        return self._commit(
            scoped,
            link_from=cur_dir,
            link_exclude=excl,
            expected_parent=version,
            drop_dv=True,
        )

    def _scoped_read(self, live: DataFrame, touched: _Touched) -> DataFrame:
        """A scoped mutation's partition-pruned view of its parent
        snapshot ``live`` (the frame the mutation already opened — no
        second read). STATIC prune: per-column isin of the collected
        touched values — ONE In-expression per partition column (never
        an OR-of-AND chain that grows the catalyst tree per partition),
        pushed into the scan's PartitionFilters so untouched
        partitions' files are never opened (plan-pinned in
        tests/test_plans.py). With one partition column the isin IS
        the touched set. With several it is the cartesian superset of
        the touched tuples — safe (a superset only reads extra) and
        made exact by a broadcast semi-join against a local relation
        of the collected tuples. The semi-join alone is NOT enough:
        dynamic partition pruning does not fire for a broadcast
        left-semi against a local tuple set, so without the static
        layer every mutation would scan the whole table. Past the cap
        there is no bounded value list: the semi-join runs against
        every distinct tuple instead."""
        part = list(self.partition_by)
        if touched.beyond_cap is not None:
            return live.join(
                F.broadcast(touched.beyond_cap), on=part, how="left_semi"
            )
        for i, c in enumerate(part):
            live = live.where(
                F.col(c).isin(sorted({t[i] for t in touched.values}))
            )
        if len(part) == 1:
            return live
        tuples = live.sparkSession.createDataFrame(
            touched.values, schema=touched.schema
        )
        return live.join(F.broadcast(tuples), on=part, how="left_semi")

    def _constraint_aggs(self) -> list:
        """Violation-count aggregates, one per declared CHECK
        constraint. A NULL predicate result counts as a VIOLATION (SQL
        CHECK semantics allow NULL; a data-quality gate must not — a
        null price passing ``price >= 0`` silently is exactly the bug
        this exists to stop; write ``price >= 0 OR price IS NULL`` to
        opt nulls in)."""
        return [
            F.sum(
                F.when(
                    F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)),
                    0,
                ).otherwise(1)
            ).alias(name)
            for name, expr in self.constraints.items()
        ]

    def _raise_constraint_violation(
        self, df: DataFrame, bad: dict[str, int]
    ) -> None:
        """Report per-constraint violation counts plus one sample row.
        The sample scan runs only on the REJECTION path — the happy
        path pays nothing beyond the observe() fold."""
        worst = max(bad, key=bad.get)
        sample = df.where(
            ~F.coalesce(
                F.expr(self.constraints[worst]).cast("boolean"),
                F.lit(False),
            )
        ).take(1)
        raise ValueError(
            f"commit to {self.root} violates CHECK constraint(s) "
            f"{bad} (constraint -> violating-row count; NULL "
            "predicate results count as violations); first "
            f"offending row for {worst!r}: {sample[0] if sample else None}"
        )

    def _gc(self, retained: list[str], aged: set[str]) -> None:
        """Delete stale snapshot dirs. Two classes, different rules:
        ``aged`` = versions this commit pushed out of the published
        history — known-dead, deleted immediately. Everything else not
        retained is an ORPHAN (a crashed commit's debris, or a
        CONCURRENT writer's not-yet-published snapshot): deleted only
        once older than ``orphan_grace_seconds``, so crash debris is
        removed while a plausibly-in-flight write is left alone.
        Judging by directory mtime alone would let a crash orphan
        (newest by mtime) evict the genuine previous snapshot
        in-flight readers may still be scanning; deleting every
        unlisted dir immediately would tear a concurrent writer's
        snapshot out from under it mid-write. (True multi-writer still
        needs external mutual exclusion, as documented above.)"""
        import time

        vroot = os.path.join(self.root, "_versions")
        try:
            on_disk = os.listdir(vroot)
        except FileNotFoundError:
            return
        cutoff = time.time() - self.orphan_grace
        for stale in set(on_disk) - set(retained):
            p = os.path.join(vroot, stale)
            if stale not in aged:
                try:
                    if os.path.getmtime(p) > cutoff:
                        continue  # plausibly an in-flight writer
                except OSError:
                    continue
            shutil.rmtree(p, ignore_errors=True)
            # the deletion-vector sidecar shares its snapshot's lifecycle
            shutil.rmtree(self._dv_dir(stale), ignore_errors=True)
        # a dv dir whose snapshot is gone entirely (crash between the
        # sidecar write and publish) ages out on the same grace rule
        try:
            dv_on_disk = os.listdir(os.path.join(self.root, "_dv"))
        except FileNotFoundError:
            return
        for stale in set(dv_on_disk) - set(on_disk) - set(retained):
            p = os.path.join(self.root, "_dv", stale)
            try:
                if os.path.getmtime(p) > cutoff:
                    continue
            except OSError:
                continue
            shutil.rmtree(p, ignore_errors=True)


def write_manifest(spark: SparkSession, path: str, keys: DataFrame) -> None:
    """S14: processed-keys manifest — the pickle-file handoff as a tiny
    warehouse table consumable by a semi-join (J3)."""
    keys.coalesce(1).write.mode("overwrite").parquet(path)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
