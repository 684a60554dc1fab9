"""Structured Streaming end-to-end: the windowed aggregates must
produce IDENTICAL results run incrementally (readStream over a parquet
directory, watermark, AvailableNow trigger, memory sink) and as a
batch query — the core Structured Streaming contract the engine
relies on for T1-T5 semantics."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from full_docker_etl_spark.sources.catalog import load_table
from full_docker_etl_spark.streaming.events import stream_events, tumbling_agg


def _drain(q, seconds: int) -> None:
    """Wait up to ``seconds`` for a drain-and-stop stream to finish.
    On a timeout the failure lists the stream's recent micro-batches
    (batchId, durationMs.triggerExecution, numInputRows), which tells a
    hung micro-batch from a stalled trigger loop."""
    assert q.awaitTermination(seconds), (
        f"stream drain timed out after {seconds} s; recent micro-batches "
        "(batchId, triggerExecution ms, numInputRows): "
        + repr(
            [
                (p.batchId, p.durationMs.get("triggerExecution"),
                 p.numInputRows)
                for p in q.recentProgress
            ]
        )
    )


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir):
    """Copy events into a multi-file directory source (two batches, so
    the stream actually processes >1 file)."""
    ev = load_table(spark, sf_dir, "events")
    d = tempfile.mkdtemp(prefix="fde_stream_") + "/events"
    ev.where("event_id % 2 = 0").write.mode("overwrite").parquet(d)
    ev.where("event_id % 2 = 1").write.mode("append").parquet(d)
    yield d, ev.schema
    shutil.rmtree(d, ignore_errors=True)


def test_stream_equals_batch(spark, sf_dir, events_dir):
    d, schema = events_dir
    agg = stream_events(spark, d, schema, agg=tumbling_agg, watermark="2 hours")
    chk = tempfile.mkdtemp(prefix="fde_chk_")
    q = (
        agg.writeStream.format("memory")
        .queryName("t_stream")
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 120)
    streamed = {
        (r.bucket_s, r.event_type): (r.n_events, str(r.sum_value))
        for r in spark.sql("SELECT * FROM t_stream").collect()
    }
    batch = {
        (r.bucket_s, r.event_type): (r.n_events, str(r.sum_value))
        for r in tumbling_agg(load_table(spark, sf_dir, "events")).collect()
    }
    assert streamed == batch
    shutil.rmtree(chk, ignore_errors=True)


def test_stream_foreachbatch_upsert_exactly_once(spark, sf_dir):
    """T5 streaming: micro-batches upsert into a parquet target by key.
    Re-streaming overlapping data must converge (idempotence), and the
    final table must hold exactly one latest row per key."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.streaming.events import stream_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = tempfile.mkdtemp(prefix="fde_ups_src_") + "/in"
    target = tempfile.mkdtemp(prefix="fde_ups_tgt_") + "/out"

    # batch 1: half the rows
    ev.where("event_id % 2 = 0").write.mode("overwrite").parquet(src)
    chk = tempfile.mkdtemp(prefix="fde_ups_chk_")
    q = stream_upsert(spark, src, ev.schema, target, ["event_id"], chk)
    _drain(q, 120)
    n1 = spark.read.parquet(target).count()
    assert n1 == ev.where("event_id % 2 = 0").count()

    # batch 2: ALL rows, overlapping batch 1, with updated values
    ev.withColumn("value", F.col("value") + 1000.0).write.mode("append").parquet(src)
    q = stream_upsert(spark, src, ev.schema, target, ["event_id"], chk)
    _drain(q, 120)

    out = spark.read.parquet(target)
    assert out.count() == ev.count()  # one row per key, no dups
    assert out.groupBy("event_id").count().where("count > 1").count() == 0
    # overlapping keys took the update (value shifted by +1000)
    sample = out.where("event_id % 2 = 0").select(F.min("value")).first()[0]
    assert sample >= 1000.0

    # replaying the SAME source with a FRESH checkpoint converges
    chk2 = tempfile.mkdtemp(prefix="fde_ups_chk2_")
    q = stream_upsert(spark, src, ev.schema, target, ["event_id"], chk2)
    _drain(q, 120)
    again = spark.read.parquet(target)
    assert again.count() == ev.count()
    for d in (src, target, chk, chk2):
        shutil.rmtree(d.rsplit("/", 1)[0] if d.endswith(("in", "out")) else d, ignore_errors=True)


def test_stream_static_enrichment_equals_batch(spark, sf_dir, events_dir):
    """Stream-static join: a streaming fact enriched against a static
    dim (the reference's master-table lookup, done per micro-batch)
    must equal the batch join. The static side is re-read per epoch by
    Structured Streaming, so dim updates between batches are picked up
    for free."""
    from pyspark.sql import functions as F

    d, schema = events_dir
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = spark.readStream.schema(schema).parquet(d)
    enriched = (
        stream.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_value"),
        )
    )
    chk = tempfile.mkdtemp(prefix="fde_enr_chk_")
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("complete")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 120)
    streamed = {
        r.c_mktsegment: (r.n_events, str(r.sum_value))
        for r in spark.sql("SELECT * FROM t_enrich").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    batch = {
        r.c_mktsegment: (r.n_events, str(r.sum_value))
        for r in ev.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("sum_value"),
        )
        .collect()
    }
    assert streamed == batch and streamed
    shutil.rmtree(chk, ignore_errors=True)


def test_stream_stream_range_join_equals_batch(spark, sf_dir):
    """Two real file streams (clicks, purchases) interval-joined with
    watermarks must produce exactly the batch join's pairs."""
    from full_docker_etl_spark.streaming.events import stream_stream_range_join

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="fde_ssj_")
    cdir, pdir = base + "/clicks", base + "/purch"
    clicks_b = ev.where("event_type = 'click'")
    purch_b = ev.where("event_type = 'purchase'")
    # two files per side so each stream sees multiple input splits
    clicks_b.where("event_id % 2 = 0").write.mode("overwrite").parquet(cdir)
    clicks_b.where("event_id % 2 = 1").write.mode("append").parquet(cdir)
    purch_b.write.mode("overwrite").parquet(pdir)

    schema = ev.schema
    cs = spark.readStream.schema(schema).parquet(cdir)
    ps = spark.readStream.schema(schema).parquet(pdir)
    out = stream_stream_range_join(cs, ps)
    chk = tempfile.mkdtemp(prefix="fde_ssj_chk_")
    q = (
        out.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 180)
    streamed = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("SELECT * FROM t_ssjoin").collect()
    }
    batch = {
        (r.click_id, r.purchase_id)
        for r in stream_stream_range_join(clicks_b, purch_b).collect()
    }
    assert streamed == batch and streamed
    for d in (base, chk):
        shutil.rmtree(d, ignore_errors=True)


def test_versioned_table_atomic_commit_and_crash_safety(spark):
    """The pointer file is the commit: a snapshot written WITHOUT the
    pointer swap (a crashed commit) must be invisible; merges are
    idempotent; GC keeps exactly keep_versions snapshots."""
    import os
    import tempfile

    from full_docker_etl_spark.sources.sinks import VersionedTable

    root = tempfile.mkdtemp(prefix="fde_vt_") + "/t"
    t = VersionedTable(root, keep_versions=2)
    assert not t.exists()
    with pytest.raises(FileNotFoundError):
        t.read(spark)

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    v1 = t.overwrite(base)
    assert t.current_version() == v1

    # simulate a crash mid-commit: snapshot dir written, pointer NOT
    # swapped — readers must still see v1, and the next commit must
    # not resurrect the orphan. Backdate it past the orphan grace so
    # GC treats it as crash debris, not an in-flight writer.
    orphan = os.path.join(root, "_versions", "v_deadbeef0000")
    spark.createDataFrame([(9, "z")], "k int, v string").write.parquet(orphan)
    os.utime(orphan, (0, 0))
    # a FRESH unpublished dir = possibly another writer mid-commit:
    # must survive GC
    inflight = os.path.join(root, "_versions", "v_cafecafe0000")
    os.makedirs(inflight)
    assert t.current_version() == v1
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]

    up = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    t.merge(up, keys=["k"])
    t.merge(up, keys=["k"])  # idempotent
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}

    # retention: current + (keep-1) previous; the aged-out published
    # snapshot and the stale orphan are gone, the fresh in-flight dir
    # survives
    versions = os.listdir(os.path.join(root, "_versions"))
    assert t.current_version() in versions
    assert "v_deadbeef0000" not in versions
    assert "v_cafecafe0000" in versions
    assert len(versions) == 3  # current + previous + in-flight


def test_versioned_table_partition_scoped_merge(spark):
    """A partitioned merge must rewrite ONLY the touched partitions:
    untouched partitions' data files in the new snapshot are the SAME
    INODES as the previous snapshot's (hardlinked, zero bytes copied),
    the touched partition is freshly written, results equal the
    unpartitioned merge, and GC of the old snapshot must not tear
    shared files out of the live one."""
    import os
    import tempfile

    from full_docker_etl_spark.sources.sinks import VersionedTable

    def part_inodes(vdir):
        out = {}
        for base, _dirs, files in os.walk(vdir):
            rel = os.path.relpath(base, vdir)
            for f in files:
                if f.endswith(".parquet"):
                    out.setdefault(rel, set()).add(
                        os.stat(os.path.join(base, f)).st_ino
                    )
        return out

    root = tempfile.mkdtemp(prefix="fde_vtp_") + "/t"
    t = VersionedTable(root, keep_versions=2, partition_by=("yr",))
    base = spark.createDataFrame(
        [(1, "1996", "a"), (2, "1997", "b"), (3, "1998", "c"), (4, "1997", "d")],
        "k int, yr string, v string",
    )
    v1 = t.overwrite(base)
    v1_inodes = part_inodes(os.path.join(root, "_versions", v1))
    assert set(v1_inodes) == {"yr=1996", "yr=1997", "yr=1998"}

    up = spark.createDataFrame(
        [(2, "1997", "B"), (5, "1997", "e")], "k int, yr string, v string"
    )
    # partition col missing from the merge key must refuse loudly
    with pytest.raises(ValueError, match="partition columns"):
        t.merge(up, keys=["k"])
    v2 = t.merge(up, keys=["k", "yr"])
    v2_inodes = part_inodes(os.path.join(root, "_versions", v2))
    # untouched partitions: identical inodes (linked, not rewritten)
    assert v2_inodes["yr=1996"] == v1_inodes["yr=1996"]
    assert v2_inodes["yr=1998"] == v1_inodes["yr=1998"]
    # touched partition: freshly written files
    assert v2_inodes["yr=1997"].isdisjoint(v1_inodes["yr=1997"])
    got = {r.k: (r.yr, r.v) for r in t.read(spark).collect()}
    assert got == {
        1: ("1996", "a"), 2: ("1997", "B"), 3: ("1998", "c"),
        4: ("1997", "d"), 5: ("1997", "e"),
    }

    # second merge ages v1 out of retention (keep_versions=2) — its
    # rmtree only unlinks, so the shared 1996/1998 files must survive
    # in the live snapshot
    t.merge(up, keys=["k", "yr"])  # idempotent, and triggers GC of v1
    assert v1 not in os.listdir(os.path.join(root, "_versions"))
    got = {r.k: (r.yr, r.v) for r in t.read(spark).collect()}
    assert got[1] == ("1996", "a") and got[3] == ("1998", "c")
    assert got[2] == ("1997", "B") and got[5] == ("1997", "e")


def test_stream_upsert_versioned_atomic_epochs(spark, sf_dir):
    """versioned=True: every micro-batch is an ATOMIC VersionedTable
    commit — after each epoch the pointer names a complete snapshot,
    re-streaming overlapping data converges, and no mid-epoch state is
    ever readable (the pointer only moves on os.replace)."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.sources.sinks import VersionedTable
    from full_docker_etl_spark.streaming.events import stream_upsert

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = tempfile.mkdtemp(prefix="fde_vups_src_") + "/in"
    root = tempfile.mkdtemp(prefix="fde_vups_tgt_") + "/table"

    ev.where("event_id % 2 = 0").write.mode("overwrite").parquet(src)
    chk = tempfile.mkdtemp(prefix="fde_vups_chk_")
    q = stream_upsert(spark, src, ev.schema, root, ["event_id"], chk,
                      versioned=True)
    _drain(q, 120)
    t = VersionedTable(root)
    assert t.read(spark).count() == ev.where("event_id % 2 = 0").count()

    ev.withColumn("value", F.col("value") + 1000.0).write.mode("append").parquet(src)
    q = stream_upsert(spark, src, ev.schema, root, ["event_id"], chk,
                      versioned=True)
    _drain(q, 120)
    out = t.read(spark)
    assert out.count() == ev.count()
    assert out.groupBy("event_id").count().where("count > 1").count() == 0
    assert out.where("event_id % 2 = 0").select(F.min("value")).first()[0] >= 1000.0
    for d in (src, root, chk):
        shutil.rmtree(d.rsplit("/", 1)[0] if d.endswith(("in", "table")) else d,
                      ignore_errors=True)


def test_streaming_incremental_dedup_against_sketch_store(spark):
    """The full incremental-dedup serving loop under Structured
    Streaming: each micro-batch probes the persisted MinHash store,
    drops docs near-duplicating the admitted corpus, admits the rest
    and APPENDS their sketches — so later batches dedup against
    earlier ones. Must converge to the same admitted set as the
    sequential batch-by-batch run."""
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import (
        minhash_probe_store,
        minhash_store_append,
        minhash_store_build,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    # batch b carries doc ids 100b..100b+9; ids ending in 0-4 are
    # near-copies of seed docs (one trailing token differs), the rest
    # unique
    for b in range(3):
        for i in range(10):
            doc_id = 100 * b + i
            if i < 5:
                text = f"{base} shared{i} tail{b}"     # near-dup family i
            else:
                # fully disjoint vocabulary: no shingle shared with any
                # seed or family (a shared prefix would sit near the
                # detection threshold and flake)
                text = " ".join(f"w{doc_id}_{j}" for j in range(12))
            rows.append((doc_id, text, b))
    df = spark.createDataFrame(rows, "doc_id long, text string, batch int")

    seeds = spark.createDataFrame(
        [(1000 + i, f"{base} shared{i} tailseed") for i in range(5)],
        "doc_id long, text string",
    )
    src = tempfile.mkdtemp(prefix="fde_sdedup_src_")
    for b in range(3):
        df.where(F.col("batch") == b).drop("batch").write.mode(
            "append"
        ).parquet(src)

    def run_pipeline(store_root):
        minhash_store_build(seeds, store_root, "text", "doc_id")
        admitted = []

        def apply_batch(batch_df, epoch_id):
            batch_df = batch_df.cache()
            dup_ids = (
                minhash_probe_store(
                    batch_df, store_root, "text", "doc_id", threshold=0.5
                )
                .select(F.col("d2").alias("doc_id"))
                .distinct()
            )
            keep = batch_df.join(dup_ids, "doc_id", "left_anti").cache()
            admitted.extend(r.doc_id for r in keep.select("doc_id").collect())
            minhash_store_append(keep, store_root, "text", "doc_id")
            batch_df.unpersist()
            keep.unpersist()

        chk = tempfile.mkdtemp(prefix="fde_sdedup_chk_")
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 180)
        return set(admitted)

    streamed = run_pipeline(tempfile.mkdtemp(prefix="fde_sdedup_a_") + "/s")

    # sequential reference: same probe/admit loop, explicit batches
    ref_store = tempfile.mkdtemp(prefix="fde_sdedup_b_") + "/s"
    minhash_store_build(seeds, ref_store, "text", "doc_id")
    expected = set()
    for b in range(3):
        batch_df = df.where(F.col("batch") == b).drop("batch")
        dup_ids = (
            minhash_probe_store(
                batch_df, ref_store, "text", "doc_id", threshold=0.5
            )
            .select(F.col("d2").alias("doc_id"))
            .distinct()
        )
        keep = batch_df.join(dup_ids, "doc_id", "left_anti").cache()
        expected |= {r.doc_id for r in keep.select("doc_id").collect()}
        minhash_store_append(keep, ref_store, "text", "doc_id")
        keep.unpersist()

    # The hard pin: streaming and sequential runs admit the SAME set
    # (deterministic hashes, same batch order). Family members collide
    # with their seeds at J≈0.78 — above the banding S-curve but with
    # a small deterministic per-pair miss rate (1-(1-J^4)^8 ≈ 0.975),
    # so require most (not all) of the 15 family docs dropped; unique
    # docs must ALL be admitted.
    assert streamed == expected
    unique_ids = {100 * b + i for b in range(3) for i in range(5, 10)}
    assert unique_ids <= streamed
    family_admitted = streamed - unique_ids
    assert len(family_admitted) <= 3, family_admitted


def test_streaming_incremental_cluster_labels_loop(spark):
    """The GOVERNANCE flavor of the serving loop: instead of dropping
    near-dups, every micro-batch probes the MinHash store, folds the
    batch-touching pairs into the standing duplicate-cluster labels
    with connected_components_incremental, and admits everything (the
    corpus keeps all copies but knows its clusters). The final labels
    must equal a from-scratch connected_components over the union of
    every pair the loop saw — cross-batch transitivity included (a
    family spanning three batches plus its seed lands in ONE cluster
    labeled by the family's min id)."""
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import (
        connected_components,
        connected_components_incremental,
        minhash_probe_store,
        minhash_store_append,
        minhash_store_build,
    )
    from full_docker_etl_spark.operators.util import release_checkpoint

    # DISJOINT per-family vocabulary: within a family only the trailing
    # token differs (exact J≈0.78, inside the banding S-curve), across
    # families zero shared shingles — the probe's est_jaccard filter is
    # signature-level, so families sharing a shortish common prefix
    # would probabilistically leak cross-family edges and merge all
    # clusters into one blob
    def fam_base(i):
        return " ".join(f"f{i}w{j}" for j in range(11))

    rows = []
    for b in range(3):
        for i in range(10):
            doc_id = 100 * b + i
            if i < 5:
                text = f"{fam_base(i)} tail{b}"        # near-dup family i
            else:
                text = " ".join(f"w{doc_id}_{j}" for j in range(12))
            rows.append((doc_id, text, b))
    df = spark.createDataFrame(rows, "doc_id long, text string, batch int")
    seeds = spark.createDataFrame(
        [(1000 + i, f"{fam_base(i)} tailseed") for i in range(5)],
        "doc_id long, text string",
    )
    src = tempfile.mkdtemp(prefix="fde_sclust_src_")
    for b in range(3):
        df.where(F.col("batch") == b).drop("batch").write.mode(
            "append"
        ).parquet(src)

    store = tempfile.mkdtemp(prefix="fde_sclust_st_") + "/s"
    minhash_store_build(seeds, store, "text", "doc_id")
    state = {
        "labels": spark.createDataFrame([], "node long, comp long"),
    }
    seen_pairs: list[tuple[int, int]] = []

    def apply_batch(batch_df, epoch_id):
        batch_df = batch_df.cache()
        pairs = (
            minhash_probe_store(
                batch_df, store, "text", "doc_id", threshold=0.5
            )
            .select("d1", "d2")
            .cache()
        )
        seen_pairs.extend((r.d1, r.d2) for r in pairs.collect())
        new_labels = connected_components_incremental(
            state["labels"], pairs
        )
        # CC output is eagerly checkpointed; release the superseded
        # round so standing state is ONE labels frame, not one per
        # micro-batch since the stream started
        release_checkpoint(state["labels"])
        state["labels"] = new_labels
        minhash_store_append(batch_df, store, "text", "doc_id")
        pairs.unpersist()
        batch_df.unpersist()

    chk = tempfile.mkdtemp(prefix="fde_sclust_chk_")
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 180)

    got = {r.node: r.comp for r in state["labels"].collect()}
    ref_pairs = spark.createDataFrame(seen_pairs, "d1 long, d2 long")
    want = {
        r.node: r.comp for r in connected_components(ref_pairs).collect()
    }
    assert got == want and want
    # cross-batch transitivity: each family that fully paired spans
    # batches 0-2 + its seed under ONE min-id label
    for i in range(5):
        members = {n for n, c in got.items() if c == i}
        if {i, 100 + i, 200 + i, 1000 + i} <= set(got):
            assert members == {i, 100 + i, 200 + i, 1000 + i}


def test_streaming_incremental_containment_dedup_loop(spark):
    """The CONTAINMENT-store serving loop under Structured Streaming
    (the asymmetric tier's admit loop): each micro-batch probes the
    persisted LSH-Ensemble store, drops docs whose content contains /
    is contained by an admitted doc (d2 is always the batch side for
    cross pairs; batch×batch keeps the lower id), admits the rest and
    APPENDS their sketches. Streaming must converge to the same
    admitted set as the sequential batch-by-batch run (deterministic
    hashes, same batch order), the quote docs must be dropped, and the
    unique docs must all be admitted."""
    import random
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import (
        containment_probe_store,
        containment_store_append,
        containment_store_build,
    )

    rng = random.Random(11)
    words = [f"v{i}" for i in range(600)]
    bases = {
        i: " ".join(rng.choice(words) for _ in range(30)) for i in range(5)
    }
    seeds = spark.createDataFrame(
        [(1000 + i, bases[i]) for i in range(5)],
        "doc_id long, text string",
    )
    rows = []
    for b in range(3):
        for i in range(10):
            doc_id = 100 * b + i
            if i < 5:
                # quotes seed i verbatim inside fresh padding — the
                # short-in-long containment pair Jaccard misses
                pad = " ".join(f"p{doc_id}_{j}" for j in range(6))
                text = f"{pad} {bases[i]} q{doc_id}"
            else:
                text = " ".join(f"u{doc_id}_{j}" for j in range(40))
            rows.append((doc_id, text, b))
    df = spark.createDataFrame(rows, "doc_id long, text string, batch int")
    src = tempfile.mkdtemp(prefix="fde_scont_src_")
    for b in range(3):
        df.where(F.col("batch") == b).drop("batch").write.mode(
            "append"
        ).parquet(src)

    def dup_ids_of(batch_df, store_root):
        pairs = containment_probe_store(batch_df, store_root, "text", "doc_id")
        # d2 is the batch side for cross pairs and the HIGHER id for
        # batch×batch pairs (keep-first within a batch)
        return pairs.select(F.col("d2").alias("doc_id")).distinct()

    def run_sequential(store_root):
        containment_store_build(seeds, store_root, "text", "doc_id")
        admitted = set()
        for b in range(3):
            batch_df = df.where(F.col("batch") == b).drop("batch").cache()
            keep = batch_df.join(
                dup_ids_of(batch_df, store_root), "doc_id", "left_anti"
            ).cache()
            admitted |= {r.doc_id for r in keep.select("doc_id").collect()}
            containment_store_append(keep, store_root, "text", "doc_id")
            batch_df.unpersist()
            keep.unpersist()
        return admitted

    def run_streamed(store_root):
        containment_store_build(seeds, store_root, "text", "doc_id")
        admitted = []

        def apply_batch(batch_df, epoch_id):
            batch_df = batch_df.cache()
            keep = batch_df.join(
                dup_ids_of(batch_df, store_root), "doc_id", "left_anti"
            ).cache()
            admitted.extend(r.doc_id for r in keep.select("doc_id").collect())
            containment_store_append(keep, store_root, "text", "doc_id")
            batch_df.unpersist()
            keep.unpersist()

        chk = tempfile.mkdtemp(prefix="fde_scont_chk_")
        q = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        _drain(q, 180)
        return set(admitted)

    streamed = run_streamed(tempfile.mkdtemp(prefix="fde_scont_a_") + "/s")
    expected = run_sequential(tempfile.mkdtemp(prefix="fde_scont_b_") + "/s")

    assert streamed == expected
    unique_ids = {100 * b + i for b in range(3) for i in range(5, 10)}
    assert unique_ids <= streamed
    # quote docs collide with their seed's sketch; the ensemble's
    # per-gap tuning targets 0.95 recall, so allow a small
    # deterministic miss count out of the 15 planted quotes
    quote_admitted = streamed - unique_ids
    assert len(quote_admitted) <= 3, quote_admitted


def test_streaming_dedup_loop_with_inline_maintenance(spark):
    """The always-on loop RUNNING ITS OWN maintenance: the MinHash
    streaming admit loop with a `store_maintain(max_batches=2,
    probe_grace_seconds=0)` pass inside every foreachBatch — the
    production shape where maintenance shares the ingest cadence
    instead of a separate scheduler. Must admit EXACTLY the same set
    as the maintenance-free sequential run (compaction and vacuum are
    invisible to probes) while holding the committed-batch count at
    the budget the whole way (the store never accumulates per-append
    partitions). Grace 0 is safe here because foreachBatch serializes
    probes and maintenance — the in-flight-probe case is covered by
    the displacement-clock tests in test_llm.py."""
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import (
        minhash_probe_store,
        minhash_store_append,
        minhash_store_build,
        store_maintain,
        store_stats,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = []
    for b in range(4):
        for i in range(8):
            doc_id = 100 * b + i
            if i < 4:
                text = f"{base} shared{i} tail{b}"
            else:
                text = " ".join(f"w{doc_id}_{j}" for j in range(12))
            rows.append((doc_id, text, b))
    df = spark.createDataFrame(rows, "doc_id long, text string, batch int")
    seeds = spark.createDataFrame(
        [(1000 + i, f"{base} shared{i} tailseed") for i in range(4)],
        "doc_id long, text string",
    )
    src = tempfile.mkdtemp(prefix="fde_smaint_src_")
    for b in range(4):
        df.where(F.col("batch") == b).drop("batch").write.mode(
            "append"
        ).parquet(src)

    def dup_ids_of(batch_df, store_root):
        return (
            minhash_probe_store(
                batch_df, store_root, "text", "doc_id", threshold=0.5
            )
            .select(F.col("d2").alias("doc_id"))
            .distinct()
        )

    # sequential reference WITHOUT maintenance
    ref = tempfile.mkdtemp(prefix="fde_smaint_ref_") + "/s"
    minhash_store_build(seeds, ref, "text", "doc_id")
    expected = set()
    for b in range(4):
        batch_df = df.where(F.col("batch") == b).drop("batch").cache()
        keep = batch_df.join(
            dup_ids_of(batch_df, ref), "doc_id", "left_anti"
        ).cache()
        expected |= {r.doc_id for r in keep.select("doc_id").collect()}
        minhash_store_append(keep, ref, "text", "doc_id")
        batch_df.unpersist()
        keep.unpersist()

    # streamed run WITH inline maintenance every micro-batch
    store = tempfile.mkdtemp(prefix="fde_smaint_st_") + "/s"
    minhash_store_build(seeds, store, "text", "doc_id")
    admitted: list[int] = []
    committed_trace: list[int] = []

    def apply_batch(batch_df, epoch_id):
        s = batch_df.sparkSession
        batch_df = batch_df.cache()
        keep = batch_df.join(
            dup_ids_of(batch_df, store), "doc_id", "left_anti"
        ).cache()
        admitted.extend(r.doc_id for r in keep.select("doc_id").collect())
        minhash_store_append(keep, store, "text", "doc_id")
        store_maintain(
            s, store, max_batches=2, probe_grace_seconds=0.0
        )
        committed_trace.append(
            store_stats(store)["committed_batches"]
        )
        batch_df.unpersist()
        keep.unpersist()

    chk = tempfile.mkdtemp(prefix="fde_smaint_chk_")
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 180)

    assert set(admitted) == expected
    # the budget held at every cadence point: never more than
    # max_batches committed after a maintenance pass
    assert committed_trace and all(c <= 2 for c in committed_trace)
    s = store_stats(store)
    assert s["orphan_batches"] == 0  # vacuum kept pace with compaction


def test_streaming_df_store_tracks_corpus_df_with_inline_maintenance(
    spark,
):
    """The df store (fourth persisted family) under Structured
    Streaming: each micro-batch appends ITS OWN df partial —
    single-admission holds because a doc enters through exactly one
    micro-batch — and runs `store_maintain(max_batches=2)` inline,
    the production cadence where maintenance rides ingest. The
    property that makes this family interesting across a stream: a
    shingle's corpus df ACCUMULATES over batches, so its cap status
    flips mid-stream (the planted boiler sits at df 2 after batch 0 —
    in-cap — and at df 8 after the drain — over the max_df=5 cap).
    After the drain the store-served rare frame must equal the rare
    set a full corpus pass derives, blocked verification served from
    the streamed store must exclude the boiler pairs exactly as the
    one-pass truth does, the committed-batch budget must hold at
    every cadence point, and vacuum must keep pace with compaction."""
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import (
        _hashed_shingles,
        df_store_build,
        df_store_append,
        df_store_rare,
        jaccard_verify_pairs,
        store_maintain,
        store_stats,
    )

    boiler = " ".join(f"q{i}" for i in range(10))
    rows = []
    for b in range(4):
        for i in range(2):  # 2 boiler docs per batch -> final df 8
            rows.append((100 * b + i, f"{boiler} t{b}x{i} t{b}y{i}", b))
        for i in range(2, 6):  # unique filler
            rows.append(
                (100 * b + i,
                 " ".join(f"u{b}_{i}_{j}" for j in range(12)), b)
            )
    df = spark.createDataFrame(rows, "doc_id long, text string, batch int")
    corpus = df.drop("batch")
    max_df = 5

    src = tempfile.mkdtemp(prefix="fde_sdf_src_")
    for b in range(4):
        df.where(F.col("batch") == b).drop("batch").write.mode(
            "append"
        ).parquet(src)

    store = tempfile.mkdtemp(prefix="fde_sdf_st_") + "/s"
    committed_trace: list[int] = []
    built: list[bool] = []

    def apply_batch(batch_df, epoch_id):
        s = batch_df.sparkSession
        if not built:
            df_store_build(batch_df, store, "text", "doc_id", n=5)
            built.append(True)
        else:
            df_store_append(batch_df, store, "text", "doc_id")
        store_maintain(s, store, max_batches=2, probe_grace_seconds=0.0)
        committed_trace.append(store_stats(store)["committed_batches"])

    chk = tempfile.mkdtemp(prefix="fde_sdf_chk_")
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 180)

    # streamed partials sum to the full-pass corpus df
    want_rare = {
        r.sh
        for r in _hashed_shingles(corpus, "text", "doc_id", 5)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= max_df)
        .collect()
    }
    got_rare = {
        r.sh for r in df_store_rare(spark, store, max_df, 5).collect()
    }
    assert got_rare == want_rare and want_rare

    # the boiler crossed the cap mid-stream: served blocked
    # verification excludes its pairs, raw admits them
    bids = [100 * b + i for b in range(4) for i in range(2)]
    cand = spark.createDataFrame(
        [(x, y) for x in bids for y in bids if x < y], "d1 long, d2 long"
    )
    raw_n = jaccard_verify_pairs(
        corpus, cand, "text", "doc_id", n=5, threshold=0.5
    ).count()
    blocked_n = jaccard_verify_pairs(
        corpus, cand, "text", "doc_id", n=5, threshold=0.5,
        rare=df_store_rare(spark, store, max_df, 5),
    ).count()
    assert raw_n > 0 and blocked_n == 0

    # maintenance held the budget at every cadence point, vacuum
    # kept pace
    assert committed_trace and all(c <= 2 for c in committed_trace)
    s = store_stats(store)
    assert s["orphan_batches"] == 0


def test_streaming_incremental_substring_dedup_loop(spark):
    """The substring-store serving loop under Structured Streaming:
    each micro-batch probes the persisted fingerprint store for
    ≥20-token duplicated spans, drops docs that duplicate the admitted
    corpus (and, within a batch, the lower-id copy wins), admits the
    rest and APPENDS their fingerprints — so later batches dedup
    against earlier ones. Spans are exact (no sketch miss rate), so
    streamed ≡ sequential ≡ the hand-computed expected set, exactly."""
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.dedup import (
        substring_probe_store,
        substring_store_append,
        substring_store_build,
    )

    A = " ".join(f"a{i}" for i in range(25))
    B = " ".join(f"b{i}" for i in range(25))
    C = " ".join(f"c{i}" for i in range(25))
    rows = [
        # batch 0: 1 duplicates seed A; 2 unique; 3 introduces C
        (1, A + " x1 x2 x3 x4 x5", 0),
        (2, " ".join(f"u2_{j}" for j in range(30)), 0),
        (3, C, 0),
        # batch 1: 101 duplicates batch-0's ADMITTED doc 3 (append
        # path); 102 unique
        (101, C + " y1 y2 y3", 1),
        (102, " ".join(f"u102_{j}" for j in range(30)), 1),
        # batch 2: 201 duplicates seed B; 202 duplicates C; 203 unique
        (201, "z1 z2 " + B, 2),
        (202, C, 2),
        (203, " ".join(f"u203_{j}" for j in range(30)), 2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, batch int")
    seeds = spark.createDataFrame(
        [(1001, A), (1002, B)], "doc_id long, text string"
    )
    # ONE file per logical batch, mtime-spaced: FileStreamSource orders
    # by modification time, and the admitted set genuinely depends on
    # batch order here (doc 101 duplicates batch-0's doc 3 — whichever
    # lands first wins), so the order must be pinned, not assumed
    import time

    src = tempfile.mkdtemp(prefix="fde_ssdst_src_")
    for b in range(3):
        df.where(F.col("batch") == b).drop("batch").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.3)

    def dup_ids_of(batch_df, store_root):
        bids = {r.doc_id for r in batch_df.select("doc_id").collect()}
        dups = set()
        for r in substring_probe_store(
            batch_df, store_root, "text", "doc_id"
        ).collect():
            if r.d1 in bids and r.d2 in bids:
                dups.add(r.d2)  # keep-first inside the batch
            else:
                dups.add(r.d1 if r.d1 in bids else r.d2)
        return dups

    def run(store_root, batches):
        substring_store_build(seeds, store_root, "text", "doc_id")
        admitted = set()
        for batch_df in batches:
            batch_df = batch_df.cache()
            dups = dup_ids_of(batch_df, store_root)
            keep = batch_df.where(~F.col("doc_id").isin(*dups) if dups
                                  else F.lit(True))
            admitted |= {r.doc_id for r in keep.select("doc_id").collect()}
            substring_store_append(keep, store_root, "text", "doc_id")
            batch_df.unpersist()
        return admitted

    # streaming run: one file per trigger, foreachBatch probe+admit
    streamed_admitted = set()
    stream_store = tempfile.mkdtemp(prefix="fde_ssdst_a_") + "/s"
    substring_store_build(seeds, stream_store, "text", "doc_id")

    def apply_batch(batch_df, epoch_id):
        batch_df = batch_df.cache()
        dups = dup_ids_of(batch_df, stream_store)
        keep = batch_df.where(~F.col("doc_id").isin(*dups) if dups
                              else F.lit(True))
        streamed_admitted.update(
            r.doc_id for r in keep.select("doc_id").collect()
        )
        substring_store_append(keep, stream_store, "text", "doc_id")
        batch_df.unpersist()

    chk = tempfile.mkdtemp(prefix="fde_ssdst_chk_")
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 180)

    sequential = run(
        tempfile.mkdtemp(prefix="fde_ssdst_b_") + "/s",
        [df.where(F.col("batch") == b).drop("batch") for b in range(3)],
    )
    assert streamed_admitted == sequential == {2, 3, 102, 203}


def test_versioned_table_time_travel(spark):
    """Retained snapshots are readable as-of: versions() lists newest
    first, read(old) returns the pre-merge state bit-for-bit, and a
    GC'd or bogus version refuses loudly."""
    import tempfile

    from full_docker_etl_spark.sources.sinks import VersionedTable

    root = tempfile.mkdtemp(prefix="fde_vtt_") + "/t"
    t = VersionedTable(root, keep_versions=2)
    v1 = t.overwrite(spark.createDataFrame([(1, "a")], "k int, v string"))
    v2 = t.merge(spark.createDataFrame([(1, "A"), (2, "b")], "k int, v string"), keys=["k"])
    assert t.versions() == [v2, v1]
    assert {r.k: r.v for r in t.read(spark).collect()} == {1: "A", 2: "b"}
    assert {r.k: r.v for r in t.read(spark, version=v1).collect()} == {1: "a"}
    with pytest.raises(FileNotFoundError, match="not retained"):
        t.read(spark, version="v_nope")
    # a third commit ages v1 past keep_versions=2 → time travel to it refuses
    v3 = t.merge(spark.createDataFrame([(3, "c")], "k int, v string"), keys=["k"])
    assert t.versions() == [v3, v2]
    with pytest.raises(FileNotFoundError, match="not retained"):
        t.read(spark, version=v1)


def test_versioned_table_compaction(spark):
    """compact() rewrites ONLY over-budget partitions down to one file,
    hardlinks the rest, keeps data identical, and is a commit-free
    no-op when everything is within budget."""
    import os
    import tempfile

    from full_docker_etl_spark.sources.sinks import VersionedTable

    def files_of(vdir, rel):
        d = os.path.join(vdir, rel)
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    def inodes_of(vdir, rel):
        d = os.path.join(vdir, rel)
        return {
            os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    root = tempfile.mkdtemp(prefix="fde_vtc_") + "/t"
    t = VersionedTable(root, keep_versions=2, partition_by=("yr",))
    # many tasks → many small files in yr=1997; one file in yr=1996
    fat = spark.createDataFrame(
        [(i, "1997", f"v{i}") for i in range(40)], "k int, yr string, v string"
    ).repartition(8)
    thin = spark.createDataFrame(
        [(100, "1996", "x")], "k int, yr string, v string"
    ).coalesce(1)
    v1 = t.overwrite(fat.unionByName(thin))
    v1dir = os.path.join(root, "_versions", v1)
    assert len(files_of(v1dir, "yr=1997")) > 4
    before = {(r.k, r.yr, r.v) for r in t.read(spark).collect()}
    thin_inodes = inodes_of(v1dir, "yr=1996")

    v2 = t.compact(spark, max_files_per_partition=4)
    assert v2 is not None
    v2dir = os.path.join(root, "_versions", v2)
    assert len(files_of(v2dir, "yr=1997")) == 1          # compacted
    assert inodes_of(v2dir, "yr=1996") == thin_inodes    # hardlinked
    assert {(r.k, r.yr, r.v) for r in t.read(spark).collect()} == before
    # everything within budget now → no-op, no new commit
    assert t.compact(spark, max_files_per_partition=4) is None
    assert t.current_version() == v2


def test_stream_grain_refresh_equals_batch_rebuild(spark, sf_dir, events_dir):
    """The streaming materialized view: after the stream drains, the
    incrementally-maintained grain equals a from-scratch rebuild over
    all facts; forcing the stream to re-run from a FRESH checkpoint
    (full re-delivery of every file) converges instead of
    double-counting — the replay-safety contract."""
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.streaming.events import stream_grain_refresh

    d, schema = events_dir

    def build(df):
        return (
            df.groupBy(
                F.col("event_type").alias("series"),
                F.date_format("ts", "yyyy-MM-dd").alias("period_key"),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .withColumn("agg_type", F.lit("day"))
        )

    base = tempfile.mkdtemp(prefix="fde_sgr_")
    fact, grain = base + "/fact", base + "/grain"

    def run(chk):
        q = stream_grain_refresh(
            spark, d, schema, fact, grain, build, "ts",
            keys=["event_id"], checkpoint_dir=chk,
        )
        _drain(q, 180)

    run(base + "/chk1")
    cols = ["series", "period_key", "n", "sum_value"]
    expected = build(load_table(spark, sf_dir, "events")).select(*cols)
    got = spark.read.parquet(grain).select(*cols)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # full re-delivery: fresh checkpoint replays every source file
    run(base + "/chk2")
    got2 = spark.read.parquet(grain).select(*cols)
    assert got2.exceptAll(expected).count() == 0
    assert expected.exceptAll(got2).count() == 0


def test_versioned_table_change_feed_and_schema_evolution(spark):
    """diff() classifies inserted/deleted/updated (and drops unchanged)
    between retained snapshots; merge(evolve_schema=True) adds a column
    with NULL backfill (full rewrite on partitioned layout so every
    file carries the final schema); without the flag a wider batch
    refuses loudly."""
    import tempfile

    from pyspark.sql.utils import AnalysisException

    from full_docker_etl_spark.sources.sinks import VersionedTable

    root = tempfile.mkdtemp(prefix="fde_vcdf_") + "/t"
    t = VersionedTable(root, keep_versions=3)
    v1 = t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        )
    )
    v2 = t.overwrite(
        spark.createDataFrame(
            [(1, "a"), (2, "B"), (4, "d")], "k int, v string"
        )
    )
    got = {r.k: r.change for r in t.diff(spark, ["k"], v1, v2).collect()}
    assert got == {2: "updated", 3: "deleted", 4: "inserted"}
    # default keeps the feed against the live version
    assert {r.k: r.change for r in t.diff(spark, ["k"], v1).collect()} == got

    # schema evolution: wider batch refuses without the flag...
    wider = spark.createDataFrame(
        [(2, "B2", 9.5)], "k int, v string, score double"
    )
    with pytest.raises(AnalysisException):
        t.merge(wider, keys=["k"])
    # ...and null-backfills with it
    t.merge(wider, keys=["k"], evolve_schema=True)
    rows = {r.k: (r.v, r.score) for r in t.read(spark).collect()}
    assert rows[2] == ("B2", 9.5)
    assert rows[1] == ("a", None) and rows[4] == ("d", None)

    # partitioned evolution: full rewrite → read-back sees the new
    # column on EVERY row without mergeSchema tricks
    proot = tempfile.mkdtemp(prefix="fde_vevo_") + "/t"
    pt = VersionedTable(proot, partition_by=("yr",))
    pt.overwrite(
        spark.createDataFrame(
            [(1, "1996", "a"), (2, "1997", "b")], "k int, yr string, v string"
        )
    )
    pt.merge(
        spark.createDataFrame(
            [(2, "1997", "B", 1.0)], "k int, yr string, v string, s double"
        ),
        keys=["k", "yr"],
        evolve_schema=True,
    )
    out = {r.k: (r.v, r.s) for r in pt.read(spark).collect()}
    assert out == {1: ("a", None), 2: ("B", 1.0)}


def test_scd2_apply_semantics_and_replay(spark):
    """SCD2 over three batches: new keys open, changes close-and-
    reopen, unchanged keys produce zero churn, and re-applying the
    same batch is a no-op (replay idempotence)."""
    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.scd import scd2_apply

    def b(rows):
        return spark.createDataFrame(rows, "k int, v string")

    t1, t2, t3 = [F.lit(f"200{i}-01-01").cast("timestamp") for i in (1, 2, 3)]
    h1 = scd2_apply(None, b([(1, "a"), (2, "b")]), "k", t1, ["v"])
    # batch 2: key 1 changes, key 2 unchanged, key 3 new
    h2 = scd2_apply(h1, b([(1, "A"), (2, "b"), (3, "c")]), "k", t2, ["v"])
    # materialize between applies, as a real pipeline does (each batch
    # persists the dim table before the next is applied); chaining the
    # raw full-outer plans trips Spark's PartitioningCollection check
    h2 = h2.localCheckpoint()
    rows = {
        (r.k, r.v): (str(r.valid_from.date()), r.valid_to and str(r.valid_to.date()))
        for r in h2.collect()
    }
    assert rows == {
        (1, "a"): ("2001-01-01", "2002-01-01"),
        (1, "A"): ("2002-01-01", None),
        (2, "b"): ("2001-01-01", None),
        (3, "c"): ("2002-01-01", None),
    }
    # replay of batch 2 at a later ts: nothing changed → zero churn
    h3 = scd2_apply(h2, b([(1, "A"), (2, "b"), (3, "c")]), "k", t3, ["v"])
    assert h3.exceptAll(h2).count() == 0 and h2.exceptAll(h3).count() == 0


def test_versioned_table_scoped_delete(spark):
    """Keyed delete: survivors intact, untouched partitions hardlinked
    (same inodes), a fully-emptied partition's directory is GONE (not
    resurrected by the linker), idempotent, and the partition-column
    requirement refuses loudly."""
    import os
    import tempfile

    from full_docker_etl_spark.sources.sinks import VersionedTable

    def part_inodes(vdir):
        out = {}
        for base, _dirs, files in os.walk(vdir):
            rel = os.path.relpath(base, vdir)
            for f in files:
                if f.endswith(".parquet"):
                    out.setdefault(rel, set()).add(
                        os.stat(os.path.join(base, f)).st_ino
                    )
        return out

    root = tempfile.mkdtemp(prefix="fde_vtd_") + "/t"
    t = VersionedTable(root, keep_versions=2, partition_by=("yr",))
    base = spark.createDataFrame(
        [(1, "1996", "a"), (2, "1997", "b"), (3, "1997", "c"), (4, "1998", "d")],
        "k int, yr string, v string",
    )
    v1 = t.overwrite(base)
    v1_inodes = part_inodes(os.path.join(root, "_versions", v1))

    with pytest.raises(ValueError, match="partition columns"):
        t.delete(spark.createDataFrame([(2,)], "k int"), keys=["k"])

    # delete one 1997 row and the ONLY 1998 row (empties yr=1998)
    dels = spark.createDataFrame(
        [(2, "1997"), (4, "1998")], "k int, yr string"
    )
    v2 = t.delete(dels, keys=["k", "yr"])
    v2_inodes = part_inodes(os.path.join(root, "_versions", v2))
    assert v2_inodes["yr=1996"] == v1_inodes["yr=1996"]      # linked
    assert "yr=1998" not in v2_inodes                        # gone
    assert v2_inodes["yr=1997"].isdisjoint(v1_inodes["yr=1997"])
    got = {r.k: (r.yr, r.v) for r in t.read(spark).collect()}
    assert got == {1: ("1996", "a"), 3: ("1997", "c")}
    # idempotent
    t.delete(dels, keys=["k", "yr"])
    assert {r.k for r in t.read(spark).collect()} == {1, 3}


def test_versioned_table_restore_rollback(spark):
    """restore() republishes a retained snapshot pointer-only: the
    live data flips back instantly, the restored version leads the
    history without duplication, a rolled-back bad commit can itself
    be rolled back, and non-retained versions refuse."""
    import tempfile

    from full_docker_etl_spark.sources.sinks import VersionedTable

    root = tempfile.mkdtemp(prefix="fde_vtr_") + "/t"
    t = VersionedTable(root, keep_versions=3)
    v1 = t.overwrite(spark.createDataFrame([(1, "good")], "k int, v string"))
    v2 = t.overwrite(spark.createDataFrame([(1, "bad")], "k int, v string"))
    assert t.restore(v1) == v1
    assert t.current_version() == v1
    assert t.read(spark).first().v == "good"
    assert t.versions() == [v1, v2]              # led, not duplicated
    # roll forward again (the "bad" commit might have been fine)
    t.restore(v2)
    assert t.read(spark).first().v == "bad"
    with pytest.raises(FileNotFoundError, match="not retained"):
        t.restore("v_nope")


def test_stream_grain_refresh_moved_key_scrubs_old_period(spark):
    """End-to-end through the streaming path: a later delivery that
    MOVES a key's event time to another month must scrub the key's
    contribution from the old month's grain (round-6 ADVICE, medium) —
    the 'incremental == rebuild' contract under updates, not just
    appends."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.streaming.events import stream_grain_refresh

    base = tempfile.mkdtemp(prefix="fde_sgrmv_")
    src, fact, grain = base + "/src", base + "/fact", base + "/grain"
    os.makedirs(src)
    schema = "event_id INT, ts TIMESTAMP, value DOUBLE"

    def mk(rows):
        return spark.createDataFrame(
            rows, "event_id int, ts string, value double"
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    def build(df):
        return (
            df.groupBy(
                F.date_format("ts", "yyyy-MM-dd").alias("period_key")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .withColumn("agg_type", F.lit("day"))
        )

    def run():
        q = stream_grain_refresh(
            spark, src, schema, fact, grain, build, "ts",
            keys=["event_id"], checkpoint_dir=base + "/chk",
        )
        _drain(q, 180)

    # delivery 1: two January events, one lone February event
    mk(
        [(1, "2024-01-15", 10.0), (2, "2024-01-20", 5.0),
         (3, "2024-02-10", 7.0)]
    ).coalesce(1).write.mode("append").parquet(src)
    run()
    assert os.path.isdir(
        os.path.join(grain, "agg_type=day", "period_bucket=2024-02")
    )
    # delivery 2: event 3 re-delivered with a MOVED timestamp (Feb→Mar)
    mk([(3, "2024-03-05", 7.0)]).coalesce(1).write.mode("append").parquet(src)
    run()
    cols = ["period_key", "n", "sum_value"]
    expected = build(spark.read.parquet(fact)).select(*cols)
    got = spark.read.parquet(grain).select(*cols)
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    # the emptied February period is gone — grain dir and rows both
    assert got.where(F.col("period_key").startswith("2024-02")).count() == 0
    assert not os.path.exists(
        os.path.join(grain, "agg_type=day", "period_bucket=2024-02")
    )


def test_stream_model_scores_frozen_model_with_oov(spark):
    """Train-offline/score-on-stream: an NB model trained on batch-0
    docs scores a two-batch stream; streamed scores must equal the
    batch nb_score over the union, and a batch-1 doc made entirely of
    tokens UNSEEN in training must land exactly at n·oov_lo + prior
    (the frozen model's OOV default, not a drop or a null)."""
    import tempfile

    from full_docker_etl_spark.operators.text import nb_score, nb_train
    from full_docker_etl_spark.streaming.events import stream_model_scores

    train_rows = [
        (0, "wiki cite ref wiki cite", 1),
        (1, "wiki ref cite wiki wiki", 1),
        (2, "spam click buy spam buy", 0),
        (3, "buy spam click click buy", 0),
    ]
    train = spark.createDataFrame(
        train_rows, "doc_id long, text string, y int"
    )
    odds, scalars = nb_train(train, "text", "y")
    odds = odds.cache()
    scalars = scalars.cache()

    b0 = [(10, "wiki cite spam"), (11, "buy buy wiki")]
    b1 = [(12, "zz qq zz"), (13, "cite cite zz")]  # doc 12 is all-OOV
    d = tempfile.mkdtemp(prefix="fde_serve_") + "/docs"
    schema = "doc_id long, text string"
    spark.createDataFrame(b0, schema).repartition(1).write.mode(
        "overwrite"
    ).parquet(d)
    spark.createDataFrame(b1, schema).repartition(1).write.mode(
        "append"
    ).parquet(d)

    out = tempfile.mkdtemp(prefix="fde_serve_out_")
    chk = tempfile.mkdtemp(prefix="fde_serve_chk_")
    q = stream_model_scores(spark, d, schema, odds, scalars, out, chk)
    _drain(q, 120)

    got = {
        r.doc_id: (r.n_tokens, r.log_odds, r.pred_pos)
        for r in spark.read.parquet(out).collect()
    }
    both = spark.createDataFrame(b0 + b1, schema)
    want = {
        r.doc_id: (r.n_tokens, r.log_odds, r.pred_pos)
        for r in nb_score(both, "text", "doc_id", odds, scalars).collect()
    }
    assert got == want and set(got) == {10, 11, 12, 13}
    sc = scalars.collect()[0]
    assert got[12][1] == round(3 * sc.oov_lo + sc.lp, 4)

    odds.unpersist()
    scalars.unpersist()
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)


def test_streaming_ingest_loop_quota_then_score(spark):
    """The production ingest loop end to end: per-host quota admission
    (stateful, cross-batch) feeds frozen-model quality scoring inside
    one foreachBatch sink — admitted docs recover their text from the
    static corpus, get scored by the offline-trained NB model, and
    land in per-epoch partitions. The composition must equal the
    batch-mode pipeline: quota by (batch, doc_id) arrival order, then
    nb_score over exactly the admitted set."""
    import tempfile

    from pyspark.sql import functions as F

    from full_docker_etl_spark.operators.text import nb_score, nb_train
    from full_docker_etl_spark.streaming.stateful import host_quota_admitter

    corpus_rows = [
        (0, "a", "wiki cite ref"), (1, "a", "spam click buy"),
        (2, "b", "wiki wiki cite"), (3, "a", "cite ref wiki"),
        (4, "b", "buy spam click"), (5, "a", "wiki cite cite"),
        (6, "b", "ref ref wiki"), (7, "c", "spam buy click"),
    ]
    corpus = spark.createDataFrame(
        corpus_rows, "doc_id long, host string, text string"
    )
    train = corpus.withColumn(
        "y", (F.col("text").contains("wiki")).cast("int")
    )
    odds, scalars = nb_train(train, "text", "y")
    odds = odds.cache(); scalars = scalars.cache()

    b0 = [(0, "a"), (1, "a"), (2, "b")]
    b1 = [(3, "a"), (4, "b"), (5, "a"), (6, "b"), (7, "c")]
    d = tempfile.mkdtemp(prefix="fde_ingest_") + "/arrivals"
    schema = "doc_id long, host string"
    spark.createDataFrame(b0, schema).repartition(1).write.mode(
        "overwrite").parquet(d)
    spark.createDataFrame(b1, schema).repartition(1).write.mode(
        "append").parquet(d)

    out = tempfile.mkdtemp(prefix="fde_ingest_out_")
    texts = corpus.select("doc_id", "text")

    def apply_batch(batch_df, epoch_id):
        scored = nb_score(
            batch_df.join(texts, "doc_id"), "text", "doc_id", odds, scalars
        )
        batch_df.join(scored, "doc_id").write.mode("overwrite").parquet(
            f"{out}/epoch={epoch_id}"
        )

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(d)
    chk = tempfile.mkdtemp(prefix="fde_ingest_chk_")
    q = (
        host_quota_admitter(stream, quota=2)
        .writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q, 120)

    got = {
        r.doc_id: (r.host, r.host_seq, r.log_odds, r.pred_pos)
        for r in spark.read.parquet(out).collect()
    }
    # batch-mode reference: quota 2 per host in (batch, doc_id) order
    arrival = [(b, i, h) for b, rows in enumerate([b0, b1]) for i, h in rows]
    admitted, seen = {}, {}
    for b, i, h in sorted(arrival):
        if seen.get(h, 0) < 2:
            seen[h] = seen.get(h, 0) + 1
            admitted[i] = (h, seen[h])
    want_scores = {
        r.doc_id: (r.log_odds, r.pred_pos)
        for r in nb_score(
            corpus.where(F.col("doc_id").isin(list(admitted))),
            "text", "doc_id", odds, scalars,
        ).collect()
    }
    assert set(got) == set(admitted)
    for i, (h, seq) in admitted.items():
        assert got[i][:2] == (h, seq), (i, got[i])
        assert got[i][2:] == want_scores[i], (i, got[i])
    # host 'a' had 4 arrivals; only its first two slots admitted
    assert 5 not in got and 3 not in got

    odds.unpersist(); scalars.unpersist()
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(chk, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)


def test_byte_string_parser_matches_spark(spark):
    """The size-conf parser stream_quota_admit uses agrees with
    Spark's own JavaUtils.byteStringAsBytes on every suffix form."""
    from full_docker_etl_spark.operators.util import (
        byte_string_as_bytes as _byte_string_as_bytes,
    )

    jvm = spark._jvm.org.apache.spark.network.util.JavaUtils
    forms = ["64m", "64mb", "1g", "128k", "10b", "1048576"]
    for text in forms + [f.upper() for f in forms] + ["2Gb", " 3kB "]:
        assert _byte_string_as_bytes(text) == jvm.byteStringAsBytes(text), text
    for bad in ("1.5g", "12q", "", "m"):
        with pytest.raises(ValueError, match="invalid byte string"):
            _byte_string_as_bytes(bad)


def test_stream_quota_admit_keeps_caller_shuffle_partitions(
    spark, sf_dir, monkeypatch
):
    """stream_quota_admit sizes its state partitions from source volume
    on the stream's own session: the caller's
    spark.sql.shuffle.partitions reads unchanged while the drain runs
    and after it, and the stream's session carries the derived count
    (one partition: the sf0.001 source is far below one advisory
    partition)."""
    from pyspark.sql.streaming.query import StreamingQuery

    from full_docker_etl_spark.registry import all_specs

    key = "spark.sql.shuffle.partitions"
    seen = {}
    real_await = StreamingQuery.awaitTermination

    def await_and_look(self, *args, **kwargs):
        seen["caller"] = spark.conf.get(key)
        seen["stream"] = self._jsq.sparkSession().conf().get(key)
        return real_await(self, *args, **kwargs)

    monkeypatch.setattr(StreamingQuery, "awaitTermination", await_and_look)
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        rows = all_specs()["stream_quota_admit"].fn(spark, sf_dir).collect()
        assert rows
        assert seen == {"caller": "7", "stream": "1"}
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, old)
