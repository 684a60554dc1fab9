"""Multi-writer safety and crash recovery for VersionedTable — the
round-7 hardening tier.

The reference serializes writers externally (one Airflow task per
collection), but this repo sells MERGE/DELETE/RESTORE/compaction as a
warehouse tier, so overlapping writers are a first-class failure mode:
a backfill racing a scheduled refresh must never silently discard the
other's commit. These tests pin the optimistic-concurrency contract
(parent-checked publish + derive-retry), the lock's stale-break path,
the crash-orphan invisibility/GC claim `_commit`'s docstring makes,
and the Spark-vs-Python partition-value formatting fix in delete()'s
link-exclusion set.
"""

from __future__ import annotations

import contextlib
import os
import tempfile
import threading
import time

import pytest

from full_docker_etl_spark.harness import job_watermark
from full_docker_etl_spark.sources.catalog import commit_lock
from full_docker_etl_spark.sources.sinks import (
    ConcurrentWriteError,
    VersionedTable,
)


def _table(**kw) -> VersionedTable:
    return VersionedTable(tempfile.mkdtemp(prefix="fde_vt7_") + "/t", **kw)


def test_stale_parent_commit_rejected(spark):
    """The lost-update race, deterministically: a commit derived from a
    snapshot that is no longer the head must reject (never publish a
    history that drops the interleaving writer's version)."""
    t = _table(keep_versions=3)
    v1 = t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    # writer B reads the table at v1 ...
    parent_b = t.current_version()
    assert parent_b == v1
    # ... writer A lands first ...
    v2 = t.merge(spark.createDataFrame([(2, "b")], "k int, v string"), ["k"])
    # ... and B's derived commit must now fail loudly, leaving v2 live
    with pytest.raises(ConcurrentWriteError, match="live version is now"):
        t._commit(
            spark.createDataFrame([(9, "z")], "k int, v string"),
            expected_parent=parent_b,
        )
    assert t.current_version() == v2
    assert {r.k for r in t.read(spark).collect()} == {1, 2}
    # the rejected commit's snapshot dir was discarded, not orphaned
    on_disk = set(os.listdir(os.path.join(t.root, "_versions")))
    assert on_disk == set(t.versions())


def test_interleaved_merge_retries_and_both_survive(spark, monkeypatch):
    """A merge whose parent is stolen mid-derive re-derives from the
    new head: BOTH writers' rows land (the exact scenario the round-6
    verdict flagged as a silent lost update)."""
    t = _table(keep_versions=3)
    t.overwrite(spark.createDataFrame([(1, "base")], "k int, v string"))

    real_commit = VersionedTable._commit
    injected = {"done": False}

    def racing_commit(self, df, **kw):
        if not injected["done"]:
            injected["done"] = True
            # a second writer publishes BETWEEN this merge's derive
            # and its publish — the classic interleave
            other = VersionedTable(t.root, keep_versions=3)
            other.merge(
                df.sparkSession.createDataFrame(
                    [(2, "writer_a")], "k int, v string"
                ),
                ["k"],
            )
        return real_commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", racing_commit)
    t.merge(spark.createDataFrame([(3, "writer_b")], "k int, v string"), ["k"])
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "base", 2: "writer_a", 3: "writer_b"}


def test_concurrent_threaded_merges_all_land(spark):
    """Four threads merging disjoint keys into one table concurrently:
    every batch must survive (serialized by retry, never lost)."""
    t = _table(keep_versions=2)
    t.overwrite(spark.createDataFrame([(0, "seed")], "k int, v string"))
    errors: list[Exception] = []

    def writer(i: int) -> None:
        try:
            batch = spark.createDataFrame(
                [(i, f"w{i}")], "k int, v string"
            )
            t.merge(batch, ["k"])
        except Exception as exc:  # surfaced below — a thread must not die
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in (1, 2, 3, 4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {0: "seed", 1: "w1", 2: "w2", 3: "w3", 4: "w4"}


def test_crash_orphan_invisible_then_gcd(spark):
    """A writer that dies between snapshot write and pointer publish
    leaves an unpublished `_versions/v_*` dir. Readers must never see
    it, versions() must not list it, and a later commit GCs it once
    past the orphan grace — the docstring claim, now exercised."""
    t = _table(keep_versions=2, orphan_grace_seconds=30.0)
    t.overwrite(spark.createDataFrame([(1, "live")], "k int, v string"))
    # simulate the crash: a fully-written snapshot, never published
    orphan = os.path.join(t.root, "_versions", "v_deadbeefcafe")
    spark.createDataFrame([(9, "ghost")], "k int, v string").write.parquet(
        orphan
    )
    assert "v_deadbeefcafe" not in t.versions()
    assert {r.v for r in t.read(spark).collect()} == {"live"}
    with pytest.raises(FileNotFoundError, match="not retained"):
        t.read(spark, version="v_deadbeefcafe")
    # within grace: a commit leaves the (plausibly in-flight) dir alone
    t.overwrite(spark.createDataFrame([(2, "next")], "k int, v string"))
    assert os.path.isdir(orphan)
    old = time.time() - 3600  # age it past grace: the next commit sweeps
    os.utime(orphan, (old, old))
    t.overwrite(spark.createDataFrame([(3, "last")], "k int, v string"))
    assert not os.path.exists(orphan)


def test_stale_lock_broken_fresh_lock_waits(spark):
    """A `_LOCK` left by a crashed publisher must not wedge the table
    forever: past the staleness horizon the next publisher breaks it
    (atomically — rename-aside, not unlink) and commits."""
    t = _table()
    v1 = t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    lock = os.path.join(t.root, "_LOCK")
    with open(lock, "w") as fh:
        fh.write("99999")
    old = time.time() - 3600
    os.utime(lock, (old, old))  # crashed an hour ago
    v2 = t.overwrite(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert t.current_version() == v2 != v1
    assert not os.path.exists(lock)  # released, stale debris swept
    assert not [e for e in os.listdir(t.root) if e.startswith("_LOCK.stale")]


def test_delete_boolean_partition_not_resurrected(spark):
    """Spark writes a boolean partition dir as `flag=true`; Python
    str() renders `True`. The link-exclusion set must use the writer's
    formatting, or emptying a boolean partition resurrects its rows
    via the hardlink step (round-6 ADVICE, low)."""
    t = _table(keep_versions=2, partition_by=("flag",))
    t.overwrite(
        spark.createDataFrame(
            [(1, True, "x"), (2, True, "y"), (3, False, "z")],
            "k int, flag boolean, v string",
        )
    )
    dels = spark.createDataFrame([(1, True), (2, True)], "k int, flag boolean")
    v2 = t.delete(dels, keys=["k", "flag"])
    got = {r.k for r in t.read(spark).collect()}
    assert got == {3}  # the emptied flag=true partition stayed dead
    assert "flag=true" not in os.listdir(
        os.path.join(t.root, "_versions", v2)
    )


def test_merge_tombstones_empty_boolean_partition_not_resurrected(spark):
    """The merge's link-exclusion set matches leaf directories by the
    Spark string cast its touched-partition action collects: tombstones
    that empty `flag=true` must not let the hardlink step bring it
    back (Python would render the value `True`)."""
    t = _table(keep_versions=2, partition_by=("flag",))
    t.overwrite(
        spark.createDataFrame(
            [(1, True, "x"), (2, True, "y"), (3, False, "z")],
            "k int, flag boolean, v string",
        )
    )
    gone = spark.createDataFrame(
        [(1, True, None, True), (2, True, None, True)],
        "k int, flag boolean, v string, gone boolean",
    )
    v2 = t.merge(gone, keys=["k", "flag"], delete_col="gone")
    assert {r.k for r in t.read(spark).collect()} == {3}
    assert "flag=true" not in os.listdir(
        os.path.join(t.root, "_versions", v2)
    )


def _leaf_inodes(t: VersionedTable, version: str) -> dict[str, dict[str, int]]:
    """{partition leaf: {data file: inode}} of one snapshot."""
    vdir = os.path.join(t.root, "_versions", version)
    out: dict[str, dict[str, int]] = {}
    for base, _, files in os.walk(vdir):
        data = {
            f: os.stat(os.path.join(base, f)).st_ino
            for f in files
            if f.endswith(".parquet")
        }
        if data:
            out[os.path.relpath(base, vdir)] = data
    return out


def test_scoped_tombstone_merge_single_pass_one_file(spark):
    """A tombstone merge into one of three partitions: the touched
    partitions, the NULL refusal and the duplicate-key check come from
    one action, the write carries no duplicate-key window, and the
    rebalanced commit leaves ONE file in the touched partition — so
    the next compaction has nothing to do — while the untouched
    partitions are hardlinked from the parent."""
    import pyarrow as pa

    t = _table(partition_by=("st",))
    base = spark.createDataFrame(
        [(i, "FOP"[i % 3], float(i)) for i in range(3000)],
        "k long, st string, v double",
    )
    t.overwrite(base.repartition(4))  # overwrite keeps this layout ...
    v1 = t.compact(spark, max_files_per_partition=1)  # ... compact fixes it
    assert v1 is not None
    assert t.read(spark).count() == 3000  # a reader opened the parent
    o_keys = [k for k in range(3000) if k % 3 == 1]
    keys = o_keys[:300] + list(range(3000, 3300)) + o_keys[300:600]
    batch = spark.createDataFrame(
        pa.table(
            {
                "k": pa.array(keys, pa.int64()),
                "st": ["O"] * len(keys),
                "v": [-1.0] * len(keys),
                "_deleted": [False] * 600 + [True] * 300,
            }
        )
    )
    before = job_watermark(spark)
    v2 = t.merge(batch, ["k", "st"], delete_col="_deleted")
    assert job_watermark(spark) - before <= 6
    old, new = _leaf_inodes(t, v1), _leaf_inodes(t, v2)
    assert len(new["st=O"]) == 1
    assert new["st=F"] == old["st=F"] and new["st=P"] == old["st=P"]
    assert t.compact(spark, max_files_per_partition=1) is None
    assert t.current_version() == v2
    got = t.read(spark)
    assert got.count() == 3000
    assert got.where("v = -1.0").count() == 600


def test_scoped_merge_two_partition_columns_rewrites_exact_tuples(spark):
    """With two partition columns the per-column isin reads the
    cartesian superset of the touched tuples; the semi-join against
    the collected tuples must cut it back, so a merge touching (a,1)
    and (b,2) leaves (a,2) and (b,1) hardlinked and unchanged."""
    t = _table(partition_by=("a", "b"))
    t.overwrite(
        spark.createDataFrame(
            [(k, a, b, "old") for a in "ab" for b in (1, 2) for k in range(5)],
            "k int, a string, b int, v string",
        )
    )
    v1 = t.current_version()
    v2 = t.merge(
        spark.createDataFrame(
            [(0, "a", 1, "new"), (9, "b", 2, "new")],
            "k int, a string, b int, v string",
        ),
        ["k", "a", "b"],
    )
    old, new = _leaf_inodes(t, v1), _leaf_inodes(t, v2)
    for leaf in ("a=a/b=2", "a=b/b=1"):
        assert new[leaf] == old[leaf], leaf
    for leaf in ("a=a/b=1", "a=b/b=2"):
        assert not set(new[leaf].values()) & set(old[leaf].values()), leaf
    got = {(r.k, r.a, int(r.b), r.v) for r in t.read(spark).collect()}
    want = {(k, a, b, "old") for a in "ab" for b in (1, 2) for k in range(5)}
    want -= {(0, "a", 1, "old")}
    want |= {(0, "a", 1, "new"), (9, "b", 2, "new")}
    assert got == want


def test_scoped_mutations_past_the_touched_cap(spark, monkeypatch):
    """Past the touched-partition cap the collected head is partial:
    merge and delete scope by join and rewrite without links (an
    emptied partition outside the head must stay dead), and a NULL
    partition value or a duplicate key still refuses because those
    groups sort into the head. The cap is lowered to 1 so three
    partitions overflow it."""
    from full_docker_etl_spark.sources import sinks

    monkeypatch.setattr(sinks, "_TOUCHED_CAP", 1)
    t = _table(partition_by=("p",))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "b", "x"), (3, "c", "x"), (4, "c", "x")],
            "k int, p string, v string",
        )
    )
    schema = "k int, p string, v string, gone boolean"
    published = t.versions()
    for rows, match in (
        ([(1, "a", "y", False), (2, None, "y", False), (3, "c", "y", False)],
         "NULL partition value"),
        ([(1, "a", "y", False), (2, "b", "y", False), (3, "c", "y", False),
          (3, "c", "z", True)], "duplicate rows for key"),
    ):
        with pytest.raises(ValueError, match=match):
            t.merge(spark.createDataFrame(rows, schema), ["k", "p"],
                    delete_col="gone")
        assert t.versions() == published
    v = t.merge(
        spark.createDataFrame(
            [(1, "a", None, True), (2, "b", "y", False), (3, "c", "y", False)],
            schema,
        ),
        ["k", "p"],
        delete_col="gone",
    )
    assert "p=a" not in os.listdir(os.path.join(t.root, "_versions", v))
    v = t.delete(
        spark.createDataFrame([(2, "b"), (3, "c")], "k int, p string"),
        ["k", "p"],
    )
    assert "p=b" not in os.listdir(os.path.join(t.root, "_versions", v))
    t.update_columns(
        spark.createDataFrame(
            [(4, "c", "u"), (9, "b", "u")], "k int, p string, v string"
        ),
        ["k", "p"],
    )
    got = {(r.k, r.p, r.v) for r in t.read(spark).collect()}
    assert got == {(4, "c", "u")}


def test_delete_nothing_matched_is_a_noop(spark):
    """A key batch matching zero rows returns the current version with
    NO new commit — a re-run retention job must not age real snapshots
    out of the time-travel window (round-6 ADVICE, low; mirrors
    compact()'s no-op contract)."""
    t = _table(keep_versions=2, partition_by=("yr",))
    v1 = t.overwrite(
        spark.createDataFrame(
            [(1, "1996", "a"), (2, "1997", "b")], "k int, yr string, v string"
        )
    )
    ghost = spark.createDataFrame([(99, "1996")], "k int, yr string")
    assert t.delete(ghost, keys=["k", "yr"]) == v1
    assert t.versions() == [v1]  # no snapshot churn
    # unpartitioned table: same contract
    u = _table(keep_versions=2)
    uv1 = u.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    assert u.delete(spark.createDataFrame([(9,)], "k int"), ["k"]) == uv1
    assert u.versions() == [uv1]


def test_pointer_read_cache_serves_and_invalidates(spark):
    """read()/versions() stat the pointer instead of re-reading it
    (serve sessions hammer this path), and ANY publish — including
    another instance's — invalidates the cache (os.replace = new
    inode), so a cached head can never mask a newer version."""
    t = _table(keep_versions=3)
    v1 = t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    assert t.current_version() == v1
    assert t._hist_cache is not None and t._hist_cache[1] == (v1,)
    # a DIFFERENT instance publishes (separate process in real life)
    other = VersionedTable(t.root, keep_versions=3)
    v2 = other.overwrite(spark.createDataFrame([(2, "b")], "k int, v string"))
    assert t.current_version() == v2  # stale cache detected via stat
    assert {r.k for r in t.read(spark).collect()} == {2}


def test_update_columns_scoped_coalesce_and_guards(spark):
    """Warehouse-tier S13: a partition-scoped column update rewrites
    only the named partitions (untouched partition files keep their
    inodes), NULL batch values leave existing values (coalesce
    semantics), unknown / partition-column targets refuse loudly, and
    re-applying the batch is idempotent."""
    t = _table(keep_versions=2, partition_by=("yr",))
    base = spark.createDataFrame(
        [
            (1, "1996", "P", "a"),
            (2, "1997", "P", "b"),
            (3, "1997", "P", "c"),
            (4, "1998", "P", "d"),
        ],
        "k int, yr string, status string, v string",
    )
    v1 = t.overwrite(base)

    def part_inodes(vdir):
        out = {}
        for entry in os.listdir(vdir):
            if entry.startswith("yr="):
                out[entry] = {
                    os.stat(os.path.join(vdir, entry, f)).st_ino
                    for f in os.listdir(os.path.join(vdir, entry))
                    if f.endswith(".parquet")
                }
        return out

    v1_inodes = part_inodes(os.path.join(t.root, "_versions", v1))
    changes = spark.createDataFrame(
        [(2, "1997", "done", None), (3, "1997", "done", "C")],
        "k int, yr string, status string, v string",
    )
    v2 = t.update_columns(changes, keys=["k", "yr"])
    v2_inodes = part_inodes(os.path.join(t.root, "_versions", v2))
    assert v2_inodes["yr=1996"] == v1_inodes["yr=1996"]  # hardlinked
    assert v2_inodes["yr=1998"] == v1_inodes["yr=1998"]  # hardlinked
    assert v2_inodes["yr=1997"].isdisjoint(v1_inodes["yr=1997"])
    got = {r.k: (r.status, r.v) for r in t.read(spark).collect()}
    assert got == {
        1: ("P", "a"),
        2: ("done", "b"),  # NULL v in the batch left the old value
        3: ("done", "C"),
        4: ("P", "d"),
    }
    t.update_columns(changes, keys=["k", "yr"])  # idempotent
    assert {r.k: (r.status, r.v) for r in t.read(spark).collect()} == got

    with pytest.raises(ValueError, match="not in the table"):
        t.update_columns(
            spark.createDataFrame([(2, "1997", "x")], "k int, yr string, nope string"),
            keys=["k", "yr"],
        )
    with pytest.raises(ValueError, match="partition columns"):
        t.update_columns(
            spark.createDataFrame([(2, "x")], "k int, status string"),
            keys=["k"],
        )
    # setting a partition column is impossible by construction: it
    # would have to be a value column, hence absent from the keys,
    # which the key guard refuses (moving rows between partitions is
    # a merge, not a column update)
    with pytest.raises(ValueError, match="partition columns"):
        t.update_columns(
            spark.createDataFrame(
                [(2, "1999")], "k int, yr string"
            ),
            keys=["k"],
        )


def test_merge_delete_branch_tombstones(spark):
    """MERGE with delete_col: tombstoned keys leave the table, flagged-
    false rows upsert, unmatched rows insert — one commit, all three
    branches; a partition ALL of whose rows are tombstoned empties and
    must not be resurrected by the hardlink step; the flag column never
    lands in the schema; NULL flag = keep; idempotent."""
    t = _table(keep_versions=2, partition_by=("yr",))
    t.overwrite(
        spark.createDataFrame(
            [
                (1, "1996", "a"),
                (2, "1997", "b"),
                (3, "1997", "c"),
                (4, "1998", "d"),
            ],
            "k int, yr string, v string",
        )
    )
    batch = spark.createDataFrame(
        [
            (2, "1997", "B2", False),   # update
            (3, "1997", None, True),    # delete
            (4, "1998", None, True),    # delete — empties yr=1998
            (5, "1997", "e", None),     # insert, NULL flag = keep
        ],
        "k int, yr string, v string, _del boolean",
    )
    v2 = t.merge(batch, keys=["k", "yr"], delete_col="_del")
    got = {r.k: (r.yr, r.v) for r in t.read(spark).collect()}
    assert got == {1: ("1996", "a"), 2: ("1997", "B2"), 5: ("1997", "e")}
    assert "_del" not in t.read(spark).columns
    assert "yr=1998" not in os.listdir(os.path.join(t.root, "_versions", v2))
    t.merge(batch, keys=["k", "yr"], delete_col="_del")  # idempotent
    assert {r.k for r in t.read(spark).collect()} == {1, 2, 5}

    with pytest.raises(ValueError, match="cannot be a merge key"):
        t.merge(batch, keys=["k", "yr", "_del"], delete_col="_del")
    with pytest.raises(ValueError, match="not in the batch"):
        t.merge(batch.drop("_del"), keys=["k", "yr"], delete_col="_del")


def test_update_columns_nothing_matched_is_a_noop(spark):
    """A change batch matching zero rows returns the current version
    with no commit — same no-churn contract as delete()/compact()."""
    t = _table(keep_versions=2, partition_by=("yr",))
    v1 = t.overwrite(
        spark.createDataFrame(
            [(1, "1996", "P")], "k int, yr string, status string"
        )
    )
    ghost = spark.createDataFrame(
        [(99, "1996", "done")], "k int, yr string, status string"
    )
    assert t.update_columns(ghost, keys=["k", "yr"]) == v1
    assert t.versions() == [v1]
    u = _table(keep_versions=2)
    uv1 = u.overwrite(
        spark.createDataFrame([(1, "P")], "k int, status string")
    )
    assert (
        u.update_columns(
            spark.createDataFrame([(9, "x")], "k int, status string"), ["k"]
        )
        == uv1
    )
    assert u.versions() == [uv1]


def test_mutation_tier_model_based(spark):
    """MODEL-BASED consistency: a seeded random sequence of merge /
    tombstone-merge / delete / update_columns / compact / restore ops
    runs against both the VersionedTable and a plain in-memory dict
    model; after every op the table's read-back must equal the model
    exactly. Catches cross-op interactions no single-op test sees
    (e.g. a delete after a tombstone merge after a restore)."""
    import random

    for seed in (7, 23):
        rng = random.Random(seed)
        t = _table(keep_versions=4, partition_by=("p",))
        model: dict[tuple[int, str], str] = {}
        versions: list[tuple[str, dict]] = []  # (version, snapshot)

        def mk(rows):
            return spark.createDataFrame(
                rows, "k int, p string, v string"
            )

        base = [(k, rng.choice("AB"), f"s{seed}v{k}") for k in range(8)]
        v = t.overwrite(mk(base))
        model = {(k, p): val for k, p, val in base}
        versions.append((v, dict(model)))

        for step in range(12):
            op = rng.choice(
                ["merge", "merge_del", "delete", "delete_dv", "update",
                 "compact", "restore"]
            )
            ks = rng.sample(range(12), rng.randint(1, 4))
            if op == "merge":
                rows = [(k, rng.choice("AB"), f"m{step}k{k}") for k in ks]
                # a key's partition must not move: reuse existing p
                rows = [
                    (k, next((p for (mk_, p) in model if mk_ == k), p0), f"m{step}k{k}")
                    for (k, p0, _v) in rows
                ]
                v = t.merge(mk(rows), keys=["k", "p"])
                for k, p, val in rows:
                    model[(k, p)] = val
                versions.append((v, dict(model)))
            elif op == "merge_del":
                rows = []
                for k in ks:
                    p = next((p for (mk_, p) in model if mk_ == k), rng.choice("AB"))
                    dead = rng.random() < 0.5
                    rows.append((k, p, None if dead else f"t{step}k{k}", dead))
                df = spark.createDataFrame(
                    rows, "k int, p string, v string, _del boolean"
                )
                v = t.merge(df, keys=["k", "p"], delete_col="_del")
                for k, p, val, dead in rows:
                    if dead:
                        model.pop((k, p), None)
                    else:
                        model[(k, p)] = val
                versions.append((v, dict(model)))
            elif op in ("delete", "delete_dv"):
                rows = [
                    (k, next((p for (mk_, p) in model if mk_ == k), rng.choice("AB")))
                    for k in ks
                ]
                df = spark.createDataFrame(rows, "k int, p string")
                if op == "delete":
                    v = t.delete(df, keys=["k", "p"])
                else:  # merge-on-read: same semantics, vector sidecar
                    v = t.delete_dv(df, keys=["k", "p"])
                matched = any((k, p) in model for k, p in rows)
                for k, p in rows:
                    model.pop((k, p), None)
                if matched:
                    versions.append((v, dict(model)))
            elif op == "update":
                rows = [
                    (k, next((p for (mk_, p) in model if mk_ == k), rng.choice("AB")),
                     f"u{step}k{k}")
                    for k in ks
                ]
                df = spark.createDataFrame(rows, "k int, p string, v string")
                v = t.update_columns(df, keys=["k", "p"])
                matched = False
                for k, p, val in rows:
                    if (k, p) in model:
                        model[(k, p)] = val
                        matched = True
                if matched:
                    versions.append((v, dict(model)))
            elif op == "compact":
                out = t.compact(spark, max_files_per_partition=1)
                if out is not None:
                    versions.append((out, dict(model)))
            else:  # restore to a random retained version
                retained = t.versions()
                pick = rng.choice(retained)
                snap = next(s for vv, s in reversed(versions) if vv == pick)
                t.restore(pick)
                model = dict(snap)
                versions.append((pick, dict(model)))
            got = {
                (r.k, r.p): r.v for r in t.read(spark).collect()
            }
            assert got == model, (seed, step, op)


def test_release_never_unlinks_a_foreign_lock():
    """The paused-holder hazard: if a publisher is suspended past
    stale_after and a waiter breaks its lock and acquires a fresh one,
    the resumed holder's release must NOT unlink the new holder's
    lock (that would admit a third writer concurrently). Release
    verifies inode ownership before unlinking."""
    t = _table()
    os.makedirs(t.root, exist_ok=True)
    lock = os.path.join(t.root, "_LOCK")
    with t._publish_lock():
        # simulate the waiter: break the 'stale' lock aside and
        # acquire a fresh one (new inode at the same path)
        os.replace(lock, lock + ".stale.test")
        fd2 = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd2)
        foreign_ino = os.stat(lock).st_ino
    # the original holder released — the waiter's lock must survive
    assert os.path.exists(lock)
    assert os.stat(lock).st_ino == foreign_ino
    os.unlink(lock)


def test_lock_timeout_raises_without_head(tmp_path):
    """A lock held by a live writer (fresh, so never broken as stale)
    makes a waiter give up after ``wait`` with a ConcurrentWriteError
    that carries no ``head``: ``_try_rebase`` reads the missing head
    as a lock timeout, not a parent mismatch, and stops rebasing."""
    lock = str(tmp_path / "_LOCK")
    with commit_lock(lock, 0.05, "table"):
        start = time.monotonic()
        with pytest.raises(ConcurrentWriteError, match="still held") as info:
            with commit_lock(lock, 0.05, "table"):
                pass
        assert time.monotonic() - start >= 0.05
        assert not hasattr(info.value, "head")
    assert not os.path.exists(lock)


def test_commit_lock_is_written_once():
    """``os.O_EXCL`` and the stale lock's rename-aside
    (``os.replace(lock, "<lock>.stale.<id>")``) live in one function of
    the package: ``catalog.commit_lock``, the lock that VersionedTable
    and the sketch stores both take."""
    import ast

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "full_docker_etl_spark",
    )
    found = {"O_EXCL": [], "rename-aside": []}

    def visit(node, where):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            where = f"{where.split(':')[0]}:{node.name}"
        if isinstance(node, ast.Attribute) and node.attr == "O_EXCL":
            found["O_EXCL"].append(where)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("replace", "rename")
            and ".stale." in ast.unparse(node)
        ):
            found["rename-aside"].append(where)
        for child in ast.iter_child_nodes(node):
            visit(child, where)

    for base, _, files in os.walk(pkg):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(base, f)
                with open(path, encoding="utf-8") as fh:
                    visit(ast.parse(fh.read()), os.path.relpath(path, pkg))
    assert found == {
        "O_EXCL": ["sources/catalog.py:commit_lock"],
        "rename-aside": ["sources/catalog.py:commit_lock"],
    }


def test_merge_upcasts_narrow_batch_without_flag(spark):
    """A batch column NARROWER than the table's (int into long) must
    up-cast silently — lossless, no rewrite, no evolve_schema flag —
    and the table schema must be unchanged after the merge."""
    t = _table(keep_versions=3)
    t.overwrite(
        spark.createDataFrame([(1, 100)], "k int, amount bigint")
    )
    t.merge(spark.createDataFrame([(2, 7)], "k int, amount int"), ["k"])
    out = t.read(spark)
    assert dict(out.dtypes)["amount"] == "bigint"
    assert {(r.k, r.amount) for r in out.collect()} == {(1, 100), (2, 7)}


def test_merge_widening_gated_then_rewrites(spark):
    """A batch column WIDER than the table's (long into int, float into
    double) is a schema-changing full rewrite: refused without
    evolve_schema, and with it the WHOLE table re-types — including
    pre-existing rows — so every file carries the final schema."""
    t = _table(keep_versions=3)
    t.overwrite(spark.createDataFrame([(1, 100)], "k int, amount int"))
    wide = spark.createDataFrame([(2, 2**40)], "k int, amount bigint")
    with pytest.raises(ValueError, match="widens table column"):
        t.merge(wide, ["k"])
    t.merge(wide, ["k"], evolve_schema=True)
    out = t.read(spark)
    assert dict(out.dtypes)["amount"] == "bigint"
    assert {(r.k, r.amount) for r in out.collect()} == {
        (1, 100),
        (2, 2**40),
    }


def test_merge_incompatible_type_fails_loudly(spark):
    """Outside the lossless widening set (int vs string, long→double)
    the merge must raise up front — unionByName would otherwise
    coerce silently and fork the schema."""
    t = _table(keep_versions=3)
    t.overwrite(spark.createDataFrame([(1, 100)], "k int, amount int"))
    with pytest.raises(ValueError, match="incompatible"):
        t.merge(
            spark.createDataFrame([(2, "oops")], "k int, amount string"),
            ["k"],
        )
    # long→double is lossy past 2^53: refused, not silently rounded
    t2 = _table(keep_versions=3)
    t2.overwrite(spark.createDataFrame([(1, 100)], "k int, amount bigint"))
    with pytest.raises(ValueError, match="incompatible"):
        t2.merge(
            spark.createDataFrame([(2, 0.5)], "k int, amount double"),
            ["k"],
        )


def test_concurrent_compact_and_merge(spark):
    """Compaction racing a merge — the one mutation pair the
    sequential model-based test cannot interleave. Both are
    parent-checked commits, so either both land (serialized) or the
    compaction rejects loudly; in EVERY outcome the final table holds
    exactly the merged rows, and no retained version's files are
    missing (hardlinked data survives any concurrent GC of aged
    snapshot dirs)."""
    t = _table(keep_versions=3, partition_by=["p"])
    rows = [(i, i % 4, f"v{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "k int, p int, v string")
    # many small commits -> fat partitions worth compacting
    t.overwrite(df.repartition(8))
    t.merge(
        spark.createDataFrame(
            [(100, 0, "pre")], "k int, p int, v string"
        ),
        ["k", "p"],
    )
    outcomes: dict[str, object] = {}

    def compactor() -> None:
        try:
            outcomes["compact"] = t.compact(spark, max_files_per_partition=1)
        except ConcurrentWriteError as exc:
            outcomes["compact_rejected"] = exc

    def merger() -> None:
        outcomes["merge"] = t.merge(
            spark.createDataFrame(
                [(200, 1, "mid")], "k int, p int, v string"
            ),
            ["k", "p"],
        )

    th1 = threading.Thread(target=compactor)
    th2 = threading.Thread(target=merger)
    th1.start(); th2.start()
    th1.join(); th2.join()
    # the merge always lands (it retries); compaction either landed or
    # rejected loudly — never a silent half-state
    assert "merge" in outcomes
    assert ("compact" in outcomes) or ("compact_rejected" in outcomes)
    got = {r.k: r.v for r in t.read(spark).collect()}
    expect = {i: f"v{i}" for i in range(40)} | {100: "pre", 200: "mid"}
    assert got == expect
    # every RETAINED version is fully readable (no file a concurrent
    # GC/compact could have torn out from under a hardlink)
    for v in t.versions():
        assert t.read(spark, version=v).count() >= 41


@pytest.mark.parametrize(
    "site", ["parent_gone", "commit", "commit_dv", "clone"]
)
def test_gcd_parent_mid_link_rejects_as_concurrent(
    spark, tmp_path, monkeypatch, site
):
    """Every commit that hardlinks from another snapshot OUTSIDE the
    lock — a scoped commit and a deletion-vector commit from their
    parent, a clone from its source — races that snapshot's GC (it can
    fall out of retention under heavy concurrent commits). A file GC'd
    mid-link must surface as a retryable ConcurrentWriteError — not a
    raw FileNotFoundError that kills the writer — and the half-written
    snapshot and its ``_dv`` sidecar must be discarded. ``parent_gone``
    is a scoped commit whose whole parent directory was GC'd before it
    linked; in the other cases a source file vanishes at its link. The
    scoped commit has already written its carried vector when linking
    fails; the clone fails while linking the source's vector."""
    t = _table(keep_versions=2, partition_by=["p"])
    t.overwrite(
        spark.createDataFrame([(1, 0, "a"), (2, 1, "b")], "k int, p int, v string")
    )
    head = t.delete_dv(spark.createDataFrame([(1, 0)], "k int, p int"), ["k", "p"])
    real_link = os.link

    def gcd_link(src, dst, *args, **kwargs):
        if site != "clone" or f"{os.sep}_dv{os.sep}" in src:
            os.unlink(src)  # the source's GC got there first
        return real_link(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "link", gcd_link)
    target = t
    with pytest.raises(ConcurrentWriteError, match="garbage-collected"):
        if site in ("parent_gone", "commit"):
            parent = "v_gone" if site == "parent_gone" else head
            t._commit(
                spark.createDataFrame([(3, 1, "c")], "k int, p int, v string"),
                link_from=os.path.join(t.root, "_versions", parent),
                expected_parent=head,
            )
        elif site == "commit_dv":
            t._commit_dv(spark.createDataFrame([(2, 1)], "k int, p int"), head)
        else:
            target = VersionedTable(str(tmp_path / "clone"))
            t.clone_to(target.root)
    monkeypatch.undo()
    assert target.current_version() == (None if site == "clone" else head)

    def on_disk(sub):
        d = os.path.join(target.root, sub)
        return set(os.listdir(d)) if os.path.isdir(d) else set()

    assert on_disk("_versions") == set(target.versions())  # no half-commit
    assert on_disk("_dv") <= set(target.versions())  # no orphaned sidecar


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path):
    """SHALLOW CLONE: the clone must share inodes with the source (no
    data copied), read identically, and be fully independent under
    mutation in BOTH directions — the immutable-snapshot invariant
    hardlinked merges already rely on, now exposed as table branching.
    Cloning over an existing table refuses; cloning a retained old
    version time-travels."""
    src = VersionedTable(
        str(tmp_path / "src"), keep_versions=3, partition_by=["p"]
    )
    v1 = src.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 1, "b")], "k int, p int, v string"
        )
    )
    src.merge(
        spark.createDataFrame([(3, 0, "c")], "k int, p int, v string"),
        ["k", "p"],
    )
    clone = src.clone_to(str(tmp_path / "dev"))
    got = {(int(r.k), r.v) for r in clone.read(spark).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # zero-copy: every cloned data file shares its inode with the source
    sdir = os.path.join(src.root, "_versions", src.current_version())
    cdir = os.path.join(clone.root, "_versions", clone.current_version())
    src_inodes = {
        os.stat(os.path.join(b, f)).st_ino
        for b, _d, fs in os.walk(sdir)
        for f in fs
        if f.endswith(".parquet")
    }
    clone_inodes = {
        os.stat(os.path.join(b, f)).st_ino
        for b, _d, fs in os.walk(cdir)
        for f in fs
        if f.endswith(".parquet")
    }
    assert clone_inodes and clone_inodes <= src_inodes
    # independence: mutate the clone, source unchanged — and vice versa
    clone.merge(
        spark.createDataFrame([(9, 1, "dev")], "k int, p int, v string"),
        ["k", "p"],
    )
    assert {r.k for r in src.read(spark).collect()} == {1, 2, 3}
    src.delete(
        spark.createDataFrame([(1, 0)], "k int, p int"), ["k", "p"]
    )
    assert {r.k for r in clone.read(spark).collect()} == {1, 2, 3, 9}
    # refuse clobbering; allow time-travel cloning of a retained version
    with pytest.raises(FileExistsError, match="never overwrites"):
        src.clone_to(str(tmp_path / "dev"))
    old = src.clone_to(str(tmp_path / "asof"), version=v1)
    assert {r.k for r in old.read(spark).collect()} == {1, 2}


def test_check_constraints_gate_every_commit(spark):
    """Declared CHECK constraints must gate EVERY mutation shape before
    any snapshot lands: a violating overwrite/merge refuses with
    per-constraint counts (NULL predicate results count as
    violations), a clean commit passes, and a rejected commit leaves
    the table exactly as it was — no snapshot, no pointer move."""
    t = _table(
        keep_versions=3,
        constraints={
            "price_nonneg": "price >= 0",
            "key_not_null": "k IS NOT NULL",
        },
    )
    good = spark.createDataFrame([(1, 10.0), (2, 0.0)], "k int, price double")
    v1 = t.overwrite(good)
    # violating merge: negative price AND a null key (null predicate)
    bad = spark.createDataFrame(
        [(3, -5.0), (None, 7.0)], "k int, price double"
    )
    with pytest.raises(ValueError, match="price_nonneg"):
        t.merge(bad, ["k"])
    assert t.current_version() == v1  # nothing published
    assert {r.k for r in t.read(spark).collect()} == {1, 2}
    on_disk = set(os.listdir(os.path.join(t.root, "_versions")))
    assert on_disk == set(t.versions())  # no snapshot debris
    # NULL predicate result is a violation, not a pass
    nullish = spark.createDataFrame(
        [(4, None)], "k int, price double"
    )
    with pytest.raises(ValueError, match="price_nonneg"):
        t.merge(nullish, ["k"])
    # clean merge still flows
    t.merge(spark.createDataFrame([(5, 1.5)], "k int, price double"), ["k"])
    assert {r.k for r in t.read(spark).collect()} == {1, 2, 5}
    # a constraint-free table pays nothing and accepts anything
    free = _table(keep_versions=2)
    free.overwrite(bad)
    assert free.read(spark).count() == 2


def test_clone_propagates_constraints(spark, tmp_path):
    """A shallow clone of a CHECK-constrained table must keep the
    constraints: the dev/test-branching contract is 'same table, new
    branch' — a clone that silently accepts violating commits
    undermines the gate the source declared."""
    src = VersionedTable(
        str(tmp_path / "csrc"),
        keep_versions=2,
        constraints={"price_nonneg": "price >= 0"},
    )
    src.overwrite(
        spark.createDataFrame([(1, 10.0)], "k int, price double")
    )
    clone = src.clone_to(str(tmp_path / "cdev"))
    assert clone.constraints == src.constraints
    with pytest.raises(ValueError, match="price_nonneg"):
        clone.merge(
            spark.createDataFrame([(2, -1.0)], "k int, price double"), ["k"]
        )
    assert {r.k for r in clone.read(spark).collect()} == {1}


def _data_inodes(vdir):
    return {
        os.stat(os.path.join(b, f)).st_ino
        for b, _d, fs in os.walk(vdir)
        for f in fs
        if f.endswith(".parquet") and "_dv" not in b
    }


def test_delete_dv_merge_on_read(spark):
    """MERGE-ON-READ delete: a small keyed delete must write
    O(|deleted|) bytes — every data file of the new snapshot shares
    its inode with the parent (hardlinks, nothing rewritten) and only
    the deletion-vector sidecar is new — while every reader sees the
    post-delete state immediately. Re-running the same purge is a
    no-op (no commit, no vector growth). compact() folds the vector
    into the data files: sidecar gone, values identical, and a
    partition the vector emptied stays gone (not resurrected by the
    linker)."""
    t = _table(keep_versions=3, partition_by=["p"])
    rows = [(k, p, f"v{k}") for p in (0, 1, 2) for k in range(p * 10, p * 10 + 5)]
    v1 = t.overwrite(spark.createDataFrame(rows, "k int, p int, v string"))
    v1_dir = os.path.join(t.root, "_versions", v1)
    before = _data_inodes(v1_dir)
    # delete two keys from p=0 plus ALL of p=2 (that partition empties)
    dels = spark.createDataFrame(
        [(0, 0), (1, 0)] + [(k, 2) for k in range(20, 25)], "k int, p int"
    )
    v2 = t.delete_dv(dels, keys=["k", "p"])
    assert v2 != v1
    v2_dir = os.path.join(t.root, "_versions", v2)
    after = _data_inodes(v2_dir)
    assert after == before  # zero data bytes written — pure hardlinks
    assert os.path.isdir(os.path.join(t.root, "_dv", v2))
    got = {(r.k, int(r.p)) for r in t.read(spark).collect()}
    expect = {(k, p) for (k, p, _v) in rows} - {(0, 0), (1, 0)} - {
        (k, 2) for k in range(20, 25)
    }
    assert got == expect
    # idempotent + no-op aware: same purge again → same version
    assert t.delete_dv(dels, keys=["k", "p"]) == v2
    # a batch matching nothing at all → no commit either
    ghost = spark.createDataFrame([(999, 0)], "k int, p int")
    assert t.delete_dv(ghost, keys=["k", "p"]) == v2
    # compact folds the vector away: no sidecar, same values, emptied
    # partition not resurrected
    v3 = t.compact(spark, max_files_per_partition=100)
    assert v3 is not None
    v3_dir = os.path.join(t.root, "_versions", v3)
    assert not os.path.isdir(os.path.join(t.root, "_dv", v3))
    assert {(r.k, int(r.p)) for r in t.read(spark).collect()} == expect
    assert not os.path.isdir(os.path.join(v3_dir, "p=2"))
    # after folding, compact is a no-op again (file budget satisfied)
    assert t.compact(spark, max_files_per_partition=100) is None


def test_delete_dv_tombstone_cleared_by_reinsert(spark):
    """A scoped MERGE that re-inserts a tombstoned key must clear its
    tombstone (the vector subtracts the fresh write's tuples), while
    tombstones for untouched partitions ride along on the hardlinked
    files; a vector keyed by a different column set refuses."""
    t = _table(keep_versions=3, partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 0, "b"), (3, 1, "c")], "k int, p int, v string"
        )
    )
    t.delete_dv(
        spark.createDataFrame([(1, 0), (3, 1)], "k int, p int"), ["k", "p"]
    )
    assert {r.k for r in t.read(spark).collect()} == {2}
    # merge re-inserts k=1 into p=0; p=1 untouched — its tombstone stays
    t.merge(
        spark.createDataFrame([(1, 0, "a2")], "k int, p int, v string"),
        ["k", "p"],
    )
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert got == {(1, "a2"), (2, "b")}
    with pytest.raises(ValueError, match="same key set"):
        t.delete_dv(
            spark.createDataFrame([("b", 0)], "v string, p int"), ["v", "p"]
        )


def test_propagate_dv_read_failure_propagates_not_freezes(spark):
    """A TRANSIENT read failure while carrying the deletion vector
    forward must fail the commit loudly — never silently freeze the
    tombstone set (which would keep a re-inserted key invisible). A
    corrupt data file in the fresh snapshot makes the propagate raise;
    the parent's vector stays intact, and a clean retry of the same
    merge then re-inserts the tombstoned key visibly."""
    import os
    import shutil

    t = _table(keep_versions=4, partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 0, "b"), (3, 1, "c")], "k int, p int, v string"
        )
    )
    v_dv = t.delete_dv(
        spark.createDataFrame([(1, 0)], "k int, p int"), ["k", "p"]
    )
    parent_vdir = os.path.join(t.root, "_versions", v_dv)
    parent_dv_files = sorted(os.listdir(t._dv_dir(v_dv)))
    # first attempt: the freshly-written snapshot is unreadable
    bad_vdir = os.path.join(t.root, "_versions", "v_badprop")
    os.makedirs(os.path.join(bad_vdir, "p=0"))
    with open(os.path.join(bad_vdir, "p=0", "part-0.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|corrupt|footer"):
        t._propagate_dv(spark, parent_vdir, bad_vdir, "v_badprop")
    shutil.rmtree(bad_vdir)
    # loud failure, no side effects: no vector for the failed version,
    # parent vector untouched (tombstone set not frozen or corrupted)
    assert not os.path.isdir(t._dv_dir("v_badprop"))
    assert sorted(os.listdir(t._dv_dir(v_dv))) == parent_dv_files
    # the clean retry re-inserts k=1 and its tombstone clears
    t.merge(
        spark.createDataFrame([(1, 0, "back")], "k int, p int, v string"),
        ["k", "p"],
    )
    assert {(r.k, r.v) for r in t.read(spark).collect()} == {
        (1, "back"), (2, "b"), (3, "c"),
    }


def test_propagate_dv_empty_write_carries_vector_unchanged(spark):
    """The one legitimate no-data case — a scoped commit whose snapshot
    wrote zero data files — takes the carry-unchanged path: the new
    version inherits the parent's vector verbatim (nothing was
    re-introduced), detected by the data-file pre-probe rather than by
    swallowing the reader's error."""
    import os

    t = _table(keep_versions=4, partition_by=["p"])
    t.overwrite(
        spark.createDataFrame(
            [(1, 0, "a"), (2, 1, "b")], "k int, p int, v string"
        )
    )
    v_dv = t.delete_dv(
        spark.createDataFrame([(1, 0)], "k int, p int"), ["k", "p"]
    )
    parent_vdir = os.path.join(t.root, "_versions", v_dv)
    empty_vdir = os.path.join(t.root, "_versions", "v_emptyprop")
    os.makedirs(empty_vdir)
    open(os.path.join(empty_vdir, "_SUCCESS"), "w").close()
    t._propagate_dv(spark, parent_vdir, empty_vdir, "v_emptyprop")
    parent = {
        tuple(r) for r in spark.read.parquet(t._dv_dir(v_dv)).collect()
    }
    carried = {
        tuple(r)
        for r in spark.read.parquet(t._dv_dir("v_emptyprop")).collect()
    }
    assert len(parent) == 1 and carried == parent


def test_disjoint_partition_merge_rebases_without_rederive(
    spark, monkeypatch
):
    """PARTITION-LEVEL CONFLICT DETECTION: a merge that loses the head
    race to a commit touching DISJOINT partitions must land by
    REBASING (hardlink reconciliation onto the new head) — exactly one
    Spark derivation, no re-run — and the final table must hold both
    writers' work."""
    t = _table(keep_versions=4, partition_by=("p",))
    t.overwrite(
        spark.createDataFrame(
            [(1, "A", "a1"), (2, "B", "b1")], "k int, p string, v string"
        )
    )

    real_commit = VersionedTable._commit
    injected = {"done": False}

    def racing_commit(self, df, **kw):
        if not injected["done"]:
            injected["done"] = True
            other = VersionedTable(t.root, keep_versions=4, partition_by=("p",))
            other.merge(
                df.sparkSession.createDataFrame(
                    [(3, "B", "race")], "k int, p string, v string"
                ),
                ["k", "p"],
            )
        return real_commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", racing_commit)
    t.merge(
        spark.createDataFrame([(4, "A", "mine")], "k int, p string, v string"),
        ["k", "p"],
    )
    assert t.last_mutation_attempts == 1  # never re-derived
    assert t.last_commit_rebased
    got = {(r.k, r.p): r.v for r in t.read(spark).collect()}
    assert got == {
        (1, "A"): "a1",
        (2, "B"): "b1",
        (3, "B"): "race",
        (4, "A"): "mine",
    }
    # no snapshot debris from the rejected pre-rebase commit
    on_disk = set(os.listdir(os.path.join(t.root, "_versions")))
    assert on_disk == set(t.versions())


def test_delete_dv_intervener_forces_rederive_not_rebase(spark, monkeypatch):
    """REBASE × DELETION-VECTOR interaction: a deletion-vector commit
    changes row visibility in partitions it never rewrites, so a
    concurrent writer that lost the head race to one — even on a
    provably DISJOINT partition — must NOT rebase: it re-derives from
    the new head (two attempts), and the final state equals the serial
    schedule delete_dv→merge (the tombstoned row stays invisible, both
    writers' rows land)."""
    t = _table(keep_versions=4, partition_by=("p",))
    t.overwrite(
        spark.createDataFrame(
            [(1, "A", "a1"), (2, "B", "b1"), (5, "B", "b5")],
            "k int, p string, v string",
        )
    )

    real_commit = VersionedTable._commit
    injected = {"done": False}

    def racing_commit(self, df, **kw):
        if not injected["done"]:
            injected["done"] = True
            other = VersionedTable(t.root, keep_versions=4, partition_by=("p",))
            other.delete_dv(
                df.sparkSession.createDataFrame(
                    [(5, "B")], "k int, p string"
                ),
                ["k", "p"],
            )
        return real_commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", racing_commit)
    t.merge(
        spark.createDataFrame([(4, "A", "mine")], "k int, p string, v string"),
        ["k", "p"],
    )
    assert not t.last_commit_rebased  # the DV intervener refused it
    assert t.last_mutation_attempts == 2  # lost the race, re-derived
    got = {(r.k, r.p): r.v for r in t.read(spark).collect()}
    assert got == {  # == serial delete_dv → merge
        (1, "A"): "a1",
        (2, "B"): "b1",
        (4, "A"): "mine",
    }
    # no snapshot debris from the rejected pre-rederive commit
    on_disk = set(os.listdir(os.path.join(t.root, "_versions")))
    assert on_disk == set(t.versions())


def test_overlapping_partition_merge_still_rederives(spark, monkeypatch):
    """The rebase must refuse when the interleaved commit touched the
    SAME partition — the loser re-derives from the new head (two
    attempts) so both writers' rows still land, serialized."""
    t = _table(keep_versions=4, partition_by=("p",))
    t.overwrite(
        spark.createDataFrame([(1, "A", "a1")], "k int, p string, v string")
    )

    real_commit = VersionedTable._commit
    injected = {"done": False}

    def racing_commit(self, df, **kw):
        if not injected["done"]:
            injected["done"] = True
            other = VersionedTable(t.root, keep_versions=4, partition_by=("p",))
            other.merge(
                df.sparkSession.createDataFrame(
                    [(2, "A", "race")], "k int, p string, v string"
                ),
                ["k", "p"],
            )
        return real_commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", racing_commit)
    t.merge(
        spark.createDataFrame([(3, "A", "mine")], "k int, p string, v string"),
        ["k", "p"],
    )
    assert t.last_mutation_attempts == 2  # re-derived once
    assert not t.last_commit_rebased
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "a1", 2: "race", 3: "mine"}


def test_threaded_disjoint_merges_one_job_each(spark, monkeypatch):
    """Two live threads merging into disjoint partitions: both land,
    and NEITHER runs a second Spark derivation — the loser rebases.
    The commit barrier doubles as the assertion: a re-derivation would
    call _commit again and break the two-party barrier."""
    t = _table(keep_versions=4, partition_by=("p",))
    t.overwrite(
        spark.createDataFrame(
            [(0, "A", "seedA"), (0, "B", "seedB")], "k int, p string, v string"
        )
    )
    barrier = threading.Barrier(2, timeout=60)
    real_commit = VersionedTable._commit

    def synced_commit(self, df, **kw):
        barrier.wait()  # both writers derived from the same head
        return real_commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", synced_commit)
    tables = [
        VersionedTable(t.root, keep_versions=4, partition_by=("p",))
        for _ in range(2)
    ]
    errors: list[Exception] = []

    def writer(i: int, part: str) -> None:
        try:
            tables[i].merge(
                spark.createDataFrame(
                    [(i + 1, part, f"w{i}")], "k int, p string, v string"
                ),
                ["k", "p"],
            )
        except Exception as exc:
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(0, "A")),
        threading.Thread(target=writer, args=(1, "B")),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    assert [x.last_mutation_attempts for x in tables] == [1, 1]
    assert sum(x.last_commit_rebased for x in tables) == 1  # one lost, rebased
    got = {(r.k, r.p): r.v for r in t.read(spark).collect()}
    assert got == {
        (0, "A"): "seedA",
        (0, "B"): "seedB",
        (1, "A"): "w0",
        (2, "B"): "w1",
    }


def test_rebase_model_based_consistency(spark, monkeypatch):
    """MODEL-BASED rebase consistency: every step, a writer merges into
    one partition while a racing writer lands a merge into the OTHER
    partition mid-commit (forcing a rebase); every few steps the race
    targets the SAME partition instead (forcing a re-derive). After
    each step the read-back must equal a dict model that applied both
    writers' batches — rebased and serialized paths must be
    indistinguishable from serial execution."""
    import random

    rng = random.Random(41)
    t = _table(keep_versions=4, partition_by=("p",))
    model: dict[tuple[int, str], str] = {(0, "A"): "s", (0, "B"): "s"}
    t.overwrite(
        spark.createDataFrame(
            [(k, p, v) for (k, p), v in model.items()],
            "k int, p string, v string",
        )
    )
    real_commit = VersionedTable._commit

    for step in range(6):
        mine_p = rng.choice("AB")
        race_p = (
            mine_p
            if step % 3 == 2
            else ("B" if mine_p == "A" else "A")
        )
        k_mine, k_race = 10 + step, 100 + step
        injected = {"done": False}

        def racing_commit(self, df, **kw):
            if not injected["done"]:
                injected["done"] = True
                other = VersionedTable(
                    t.root, keep_versions=4, partition_by=("p",)
                )
                other.merge(
                    df.sparkSession.createDataFrame(
                        [(k_race, race_p, f"r{step}")],
                        "k int, p string, v string",
                    ),
                    ["k", "p"],
                )
            return real_commit(self, df, **kw)

        monkeypatch.setattr(VersionedTable, "_commit", racing_commit)
        t.merge(
            spark.createDataFrame(
                [(k_mine, mine_p, f"m{step}")], "k int, p string, v string"
            ),
            ["k", "p"],
        )
        monkeypatch.setattr(VersionedTable, "_commit", real_commit)
        model[(k_race, race_p)] = f"r{step}"
        model[(k_mine, mine_p)] = f"m{step}"
        if race_p == mine_p:
            assert t.last_mutation_attempts == 2, step
        else:
            assert t.last_commit_rebased, step
        got = {(r.k, r.p): r.v for r in t.read(spark).collect()}
        assert got == model, step


def test_update_columns_rejects_widening_batch_no_brick(spark):
    """Round-14 review finding, confirmed by execution before the fix:
    a wider-typed changes batch (long into an int column) made
    coalesce resolve WIDE, so touched partitions rewrote as INT64 next
    to hardlinked INT32 files — a mixed-physical-schema snapshot that
    bricked every later read(). update_columns must instead refuse the
    widening loudly and leave the table readable at its old head."""
    t = _table(partition_by=("p",))
    t.overwrite(
        spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, p string, amt int")
    )
    head = t.current_version()
    wide = spark.createDataFrame([(1, "a", 99)], "k int, p string, amt long")
    with pytest.raises(ValueError, match="widens table column"):
        t.update_columns(wide, ["k", "p"])
    assert t.current_version() == head
    got = {(r.k, r.amt) for r in t.read(spark).collect()}
    assert got == {(1, 10), (2, 20)}
    assert dict(t.read(spark).dtypes)["amt"] == "int"


def test_update_columns_upcasts_narrow_batch_keeps_schema(spark):
    """The lossless direction still works: an int batch into a long
    column up-casts, the update applies, and the table schema is
    unchanged — including on the hardlinked untouched partition."""
    t = _table(partition_by=("p",))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20)], "k int, p string, amt long"
        )
    )
    narrow = spark.createDataFrame([(1, "a", 99)], "k int, p string, amt int")
    t.update_columns(narrow, ["k", "p"])
    got = {(r.k, r.amt) for r in t.read(spark).collect()}
    assert got == {(1, 99), (2, 20)}
    assert dict(t.read(spark).dtypes)["amt"] == "bigint"


def test_merge_rejects_duplicate_key_batch(spark):
    """MERGE's multiple-source-match rule (round-14 review): a batch
    naming the same key twice must raise in-plan, not anti-join out
    one live row and insert both copies."""
    t = _table()
    t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string")
    with pytest.raises(Exception, match="duplicate rows for key"):
        t.merge(dup, ["k"])
    assert {r.v for r in t.read(spark).collect()} == {"a"}

    # The same rule with tombstones, on both merge shapes: the
    # unpartitioned merge guards in-plan, the partition-scoped one in
    # its touched-partition action. Either way the duplicate may sit in
    # either branch — two upserts, two tombstones, or one of each.
    schema = "k int, p string, v string, gone boolean"
    batches = {
        "two upserts": [(1, "a", "x", False), (1, "a", "y", False)],
        "two tombstones": [(1, "a", None, True), (1, "a", None, True)],
        "tombstone and upsert": [(1, "a", None, True), (1, "a", "y", False)],
    }
    for part in ((), ("p",)):
        t = _table(partition_by=part)
        t.overwrite(
            spark.createDataFrame(
                [(1, "a", "live"), (2, "b", "live")],
                "k int, p string, v string",
            )
        )
        published = t.versions()
        for name, rows in batches.items():
            batch = spark.createDataFrame(
                rows + [(3, "b", "z", False)], schema
            )
            with pytest.raises(Exception, match="duplicate rows for key"):
                t.merge(batch, ["k", "p"], delete_col="gone")
            assert t.versions() == published, (part, name)
        assert {(r.k, r.v) for r in t.read(spark).collect()} == {
            (1, "live"),
            (2, "live"),
        }


def test_module_upsert_rejects_duplicate_key_batch(spark):
    """The swap-write tier has the same multiple-source-match rule:
    a duplicate-keyed updates batch raises instead of landing both
    copies in a 'keyed' table."""
    from full_docker_etl_spark.sources.sinks import upsert_parquet

    path = tempfile.mkdtemp(prefix="fde_ups_") + "/t"
    upsert_parquet(
        spark, path, spark.createDataFrame([(1, "a")], "k int, v string"), ["k"]
    )
    dup = spark.createDataFrame([(1, "x"), (1, "y")], "k int, v string")
    with pytest.raises(Exception, match="duplicate rows for key"):
        upsert_parquet(spark, path, dup, ["k"])
    assert {r.v for r in spark.read.parquet(path).collect()} == {"a"}


def test_module_update_columns_rejects_duplicate_keys(spark):
    """Round-15 review finding: dropDuplicates(keys) on a batch
    carrying CONFLICTING values for one key silently kept a
    nondeterministic winner — inconsistent with upsert/merge, which
    raise. Both update_columns tiers now share the duplicate-key
    contract: the batch is rejected loudly and the table is untouched
    (the round-14 row-growth fix stays covered — a rejected batch
    can't fan the join out either)."""
    from full_docker_etl_spark.sources.sinks import update_columns, write_table

    path = tempfile.mkdtemp(prefix="fde_upd_") + "/t"
    write_table(
        spark.createDataFrame([(1, "old"), (2, "keep")], "k int, s string"), path
    )
    dup = spark.createDataFrame([(1, "new1"), (1, "new2")], "k int, s string")
    with pytest.raises(Exception, match="duplicate rows for key"):
        update_columns(spark, path, dup, ["k"])
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 2
    assert {r.s for r in rows} == {"old", "keep"}  # table untouched

    # a unique-keyed batch still applies (and does not grow the table)
    update_columns(
        spark,
        path,
        spark.createDataFrame([(1, "new")], "k int, s string"),
        ["k"],
    )
    rows = spark.read.parquet(path).collect()
    assert len(rows) == 2
    assert {r.k: r.s for r in rows} == {1: "new", 2: "keep"}


def test_versioned_update_columns_rejects_duplicate_keys(spark):
    """The warehouse twin shares the duplicate-key contract: a batch
    naming one key twice raises before any commit is published."""
    t = _table()
    v1 = t.overwrite(
        spark.createDataFrame([(1, "P"), (2, "P")], "k int, status string")
    )
    dup = spark.createDataFrame(
        [(1, "done"), (1, "failed")], "k int, status string"
    )
    with pytest.raises(Exception, match="duplicate rows for key"):
        t.update_columns(dup, keys=["k"])
    assert t.current_version() == v1  # no commit published
    assert {r.status for r in t.read(spark).collect()} == {"P"}


def test_module_update_columns_rejects_widening_batch(spark):
    """Table-schema-wins at the swap tier too: a wider batch column
    would make coalesce silently widen the output schema — refuse."""
    from full_docker_etl_spark.sources.sinks import update_columns, write_table

    path = tempfile.mkdtemp(prefix="fde_updw_") + "/t"
    write_table(spark.createDataFrame([(1, 10)], "k int, amt int"), path)
    wide = spark.createDataFrame([(1, 99)], "k int, amt long")
    with pytest.raises(ValueError, match="widens table column"):
        update_columns(spark, path, wide, ["k"])
    assert dict(spark.read.parquet(path).dtypes)["amt"] == "int"


# ------------------------------------------------------ pinned schemas


def _pin(t: VersionedTable, version: str) -> dict:
    import json

    with open(os.path.join(t.root, "_versions", version, "_COMMIT.json")) as fh:
        return json.load(fh)


def _open_jobs(spark, t: VersionedTable, version: str | None = None):
    """(frame, jobs started by opening it) for ``t.read``."""
    before = job_watermark(spark)
    df = t.read(spark, version)
    return df, job_watermark(spark) - before


def test_new_version_opens_with_its_pinned_schema_and_no_job(spark, monkeypatch):
    """Every commit path records the data schema it wrote, so opening a
    version just published starts no footer-inference job: overwrite,
    scoped / full / evolve-schema merge, update_columns, delete,
    delete_dv, a scoped merge carrying that vector, compact folding it,
    a rebased commit and clone_to. A fresh vector directory would be
    inferred too, so 0 jobs also shows its open was pinned."""
    schema = "k long, p string, v double"
    t = _table(keep_versions=4, partition_by=("p",))
    flat = _table(keep_versions=4)
    opened: list[tuple[str, int, bool]] = []

    def opens(label: str, table: VersionedTable = t) -> dict:
        """{k: v} of the live version, recording the jobs its open
        started and whether its commit pinned a schema."""
        df, jobs = _open_jobs(spark, table)
        pinned = _pin(table, table.current_version()).get("schema") is not None
        opened.append((label, jobs, pinned))
        return {r.k: r.v for r in df.collect()}

    rows = [(i, "AB"[i % 2], float(i)) for i in range(8)]
    t.overwrite(spark.createDataFrame(rows, schema))
    assert len(opens("overwrite")) == 8
    t.merge(spark.createDataFrame([(0, "A", -1.0), (9, "B", 9.0)], schema), ["k", "p"])
    assert opens("scoped merge")[0] == -1.0
    flat.overwrite(spark.createDataFrame(rows, schema))
    flat.merge(spark.createDataFrame([(1, "B", -1.0)], schema), ["k"])
    assert opens("full merge", flat)[1] == -1.0
    t.update_columns(
        spark.createDataFrame([(2, "A", -2.0)], schema), ["k", "p"]
    )
    assert opens("update_columns")[2] == -2.0
    t.delete(spark.createDataFrame([(3, "B")], "k long, p string"), ["k", "p"])
    assert 3 not in opens("delete")
    t.delete_dv(spark.createDataFrame([(4, "A")], "k long, p string"), ["k", "p"])
    assert 4 not in opens("delete_dv")
    t.merge(spark.createDataFrame([(5, "B", -5.0)], schema), ["k", "p"])
    assert os.path.isdir(t._dv_dir(t.current_version()))  # vector carried
    got = opens("scoped merge over a vector")
    assert got[5] == -5.0 and 4 not in got
    assert t.compact(spark, max_files_per_partition=4) is not None  # DV fold
    assert not os.path.isdir(t._dv_dir(t.current_version()))
    assert 4 not in opens("compact")
    t.merge(
        spark.createDataFrame([(6, "A", -6.0, "x")], schema + ", w string"),
        ["k", "p"],
        evolve_schema=True,
    )
    assert opens("evolve-schema merge")[6] == -6.0

    real_commit = VersionedTable._commit
    raced = {"done": False}

    def racing_commit(self, df, **kw):
        if not raced["done"]:
            raced["done"] = True
            VersionedTable(t.root, keep_versions=4, partition_by=("p",)).merge(
                df.sparkSession.createDataFrame(
                    [(7, "B", -7.0, None)], schema + ", w string"
                ),
                ["k", "p"],
            )
        return real_commit(self, df, **kw)

    monkeypatch.setattr(VersionedTable, "_commit", racing_commit)
    t.merge(
        spark.createDataFrame([(8, "A", -8.0, "y")], schema + ", w string"),
        ["k", "p"],
    )
    monkeypatch.undo()
    assert t.last_commit_rebased
    live = opens("rebased commit")
    assert live[7] == -7.0 and live[8] == -8.0
    clone = t.clone_to(tempfile.mkdtemp(prefix="fde_vt7_clone_") + "/c")
    assert opens("clone_to", clone) == live
    assert [label for label, jobs, _ in opened if jobs] == [], opened
    assert all(pinned for _, _, pinned in opened), opened


_ALL_TYPES = (
    "i int, l bigint, dec decimal(12,3), d double, s string, b binary, "
    "f boolean, dt date, ts timestamp, arr array<bigint>, "
    "m map<string,int>, st struct<x:int,y:string>, nul_i int, "
    "nul_s string, sh smallint, fl float, tn timestamp_ntz, "
    "ps string, pi int"
)


def _all_types_frame(spark):
    import datetime as dtm
    from decimal import Decimal

    rows = [
        (
            n,
            10**12 + n,
            Decimal(f"{n}.125"),
            n / 3,
            f"s{n}",
            bytes([n, 255 - n]),
            n % 2 == 0,
            dtm.date(2024, 1, 1 + n),
            dtm.datetime(2024, 1, 1, n, 30, 15, 123456),
            [n, None, n * 2],
            {"a": n, "b": None},
            (n, f"y{n}"),
            None,
            None,
            n,
            n / 4,
            dtm.datetime(2024, 2, 1, n, 0, 0, 5),
            "xy"[n % 2],
            n % 3,
        )
        for n in range(6)
    ]
    return spark.createDataFrame(rows, _ALL_TYPES)


@pytest.mark.parametrize(
    "partition_by", [("ps", "pi"), ("pi",), ()], ids=["str+int", "int", "flat"]
)
def test_pinned_open_equals_inferred_open(spark, partition_by):
    """A pinned open is the same frame as inferring the snapshot:
    equal schemas (nullability and partition-column types included —
    an int partition column reads back as a string either way) and
    equal rows, over every column type the table writes."""
    t = _table(partition_by=partition_by)
    v = t.overwrite(_all_types_frame(spark))
    assert _pin(t, v)["schema"] is not None
    pinned, jobs = _open_jobs(spark, t)
    inferred = spark.read.parquet(os.path.join(t.root, "_versions", v))
    assert jobs == 0
    assert pinned.schema == inferred.schema
    assert sorted(map(str, pinned.collect())) == sorted(map(str, inferred.collect()))


def test_unpinned_snapshots_still_read_by_inference(spark):
    """A commit record without a schema (an earlier release) and a
    snapshot without any commit record both open by inference, with
    the same schema and rows a pinned open gives."""
    import json

    t = _table(keep_versions=4, partition_by=("ps", "pi"))
    v = t.overwrite(_all_types_frame(spark))
    want = t.read(spark)
    want_rows = sorted(map(str, want.collect()))
    meta_path = os.path.join(t.root, "_versions", v, "_COMMIT.json")
    with open(meta_path) as fh:
        meta = json.load(fh)
    with open(meta_path, "w") as fh:
        json.dump({k: meta[k] for k in ("full", "leaves", "dv")}, fh)
    for label in ("no schema", "no record"):
        if label == "no record":
            os.unlink(meta_path)
        got, jobs = _open_jobs(spark, t)
        assert jobs >= 1, label  # inferred, not pinned
        assert got.schema == want.schema, label
        assert sorted(map(str, got.collect())) == want_rows, label


def test_empty_snapshot_reads_as_an_empty_frame(spark):
    """A partitioned snapshot holding no data file has no directory
    path to supply its partition columns, so its pin carries them as
    strings and it reads as an empty frame with the schema a non-empty
    snapshot of the table reads with; an unpartitioned empty write
    holds one empty file and opens with its schema."""
    t = _table(partition_by=("p",))
    v = t.overwrite(spark.createDataFrame([], "k long, p int"))
    assert [(f["name"], f["type"]) for f in _pin(t, v)["schema"]["fields"]] == [
        ("k", "long"), ("p", "string")
    ]
    got, jobs = _open_jobs(spark, t)
    assert jobs == 0
    full = _table(partition_by=("p",))
    full.overwrite(spark.createDataFrame([(1, 7)], "k long, p int"))
    assert got.schema == full.read(spark).schema
    assert got.count() == 0
    flat = _table()
    v = flat.overwrite(spark.createDataFrame([], "k long, p string"))
    got = flat.read(spark)
    assert got.schema == spark.read.parquet(
        os.path.join(flat.root, "_versions", v)
    ).schema
    assert got.count() == 0


def test_empty_partitioned_table_takes_merge_delete_dv_and_compact(spark):
    """An emptied partitioned table stays usable: a vector on the empty
    snapshot compacts away, a merge lands its rows, and a compaction
    folding a vector over them reads back the surviving rows, each new
    snapshot pinned with its data schema only."""
    schema = "k long, p string, v string"
    t = _table(partition_by=("p",))
    t.overwrite(spark.createDataFrame([], schema))
    t.delete_dv(spark.createDataFrame([(9, "a")], "k long, p string"), ["k", "p"])
    t.compact(spark)
    assert t.read(spark).count() == 0

    t.merge(
        spark.createDataFrame(
            [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")], schema
        ),
        keys=["k", "p"],
    )
    t.delete_dv(spark.createDataFrame([(2, "a")], "k long, p string"), ["k", "p"])
    v = t.compact(spark)
    assert v is not None
    assert [f["name"] for f in _pin(t, v)["schema"]["fields"]] == ["k", "v"]
    assert sorted(
        tuple(r) for r in t.read(spark).select("k", "p", "v").collect()
    ) == [(1, "a", "x"), (3, "b", "z")]


# ------------------------------------------- layout under a low advisory


@contextlib.contextmanager
def _session_confs(spark, confs: dict[str, str]):
    """Set ``confs`` on the session for the block, then restore them."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: A 64 KB advisory size: a partition of a few hundred KB is written by
#: a rebalanced commit as several advisory-sized files.
_LOW_ADVISORY = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64k",
    "spark.sql.shuffle.partitions": "50",
}


def _blob_rows(n: int, part, start: int = 0) -> list[tuple]:
    """``n`` rows of (k, p, 256 random bytes): incompressible, so a
    file's size on disk tracks the shuffle bytes AQE split it by."""
    return [(start + i, part(i), os.urandom(256)) for i in range(n)]


def _files_per_leaf(t: VersionedTable) -> dict[str, list[int]]:
    """{partition leaf: [data-file sizes]} of the live snapshot."""
    return {
        leaf: [
            os.path.getsize(
                os.path.join(t.root, "_versions", t.current_version(), leaf, f)
            )
            for f in files
        ]
        for leaf, files in _leaf_inodes(t, t.current_version()).items()
    }


def test_compact_leaves_a_partition_of_advisory_sized_files_alone(spark):
    """A partition larger than the advisory size is written by a
    rebalanced commit as several advisory-sized files. Compaction
    judges a partition by its SMALL files (under half the advisory
    size), so it does not rewrite that partition again and again."""
    schema = "k long, p string, blob binary"
    t = _table(partition_by=("p",))
    with _session_confs(spark, _LOW_ADVISORY):
        t.overwrite(
            spark.createDataFrame(_blob_rows(2400, lambda i: "A"), schema)
            .repartition(40)
        )
        v1 = t.compact(spark, max_files_per_partition=1)
        assert v1 is not None  # forty ~16 KB files from the overwrite
        sizes = _files_per_leaf(t)["p=A"]
        assert len(sizes) > 1, sizes
        assert t.compact(spark, max_files_per_partition=1) is None
        assert t.compact(spark, max_files_per_partition=1) is None
    assert t.current_version() == v1
    assert t.read(spark).count() == 2400


def test_rebalanced_commit_splits_a_hot_partition_only(spark):
    """The skew claim behind every derived commit's REBALANCE: a merge
    whose batch puts about 90% of its rows in one partition (a hot IVF
    centroid) lands that partition as several files across writer
    tasks, while every other partition stays one file."""
    schema = "k long, c int, blob binary"
    t = _table(partition_by=("c",))
    t.overwrite(
        spark.createDataFrame(_blob_rows(10, lambda i: i % 10), schema)
    )
    batch = _blob_rows(2700, lambda i: 0, start=100) + _blob_rows(
        300, lambda i: 1 + i % 9, start=10_000
    )
    with _session_confs(spark, _LOW_ADVISORY):
        t.merge(
            spark.createDataFrame(batch, schema).repartition(8), ["k", "c"]
        )
    files = _files_per_leaf(t)
    assert len(files["c=0"]) > 1, files["c=0"]
    assert {leaf: len(f) for leaf, f in files.items() if leaf != "c=0"} == {
        f"c={c}": 1 for c in range(1, 10)
    }
    assert t.read(spark).count() == 3010
