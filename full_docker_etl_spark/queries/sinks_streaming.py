"""Registered queries for sinks (S9-S14), incremental refresh (T1-T5),
and the streaming window family (§2.10/M6).

Sink queries exercise a full write→read round trip inside the query
(into a unique temp dir), so the driver's oracle compare certifies the
STORED bytes, not just the in-memory frame.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from full_docker_etl_spark.operators.util import (
    advisory_partition_bytes,
    fresh_checkpoint,
)
from full_docker_etl_spark.registry import query
from full_docker_etl_spark.sources.catalog import load_table
from full_docker_etl_spark.sources.sinks import (
    VersionedTable,
    overwrite_partitions,
    update_columns,
    upsert_parquet,
    write_table,
)
from full_docker_etl_spark.streaming.events import (
    session_agg,
    sliding_agg,
    tumbling_agg,
)


def _tmp(name: str) -> str:
    return tempfile.mkdtemp(prefix=f"fde_{name}_") + "/t"


@query(
    "sink_roundtrip",
    oracle="""
      SELECT o_orderstatus, strftime(o_orderdate, '%Y') AS yr,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1, 2
    """,
)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: partitioned overwrite write + re-read. The oracle certifies
    what came back OFF DISK (partition columns must round-trip types
    and values)."""
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            "o_orderstatus", F.date_format("o_orderdate", "yyyy").alias("yr")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
        )
    )
    path = _tmp("roundtrip")
    write_table(agg, path, partition_by=("yr",))
    back = spark.read.parquet(path)
    # partition columns come back as read-inferred strings here (they
    # were strings going in); reorder to the declared shape
    return back.select("o_orderstatus", "yr", "n", "total")


@query(
    "sink_partition_overwrite",
    oracle="""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y') AS yr,
             CASE WHEN strftime(o_orderdate, '%Y') = '1996'
                  THEN o_totalprice + 10.0 ELSE o_totalprice END AS o_totalprice
      FROM orders
    """,
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/S11: dynamic partition overwrite — refresh ONE year partition
    (1996, values bumped by 10) and prove every other partition's bytes
    are untouched."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_totalprice",
    )
    path = _tmp("dynpart")
    write_table(orders, path, partition_by=("yr",))
    refresh = (
        spark.read.parquet(path)
        .where(F.col("yr") == "1996")
        .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(10.0))
    )
    overwrite_partitions(refresh, path, ("yr",))
    return spark.read.parquet(path).select("o_orderkey", "yr", "o_totalprice")


@query(
    "sink_upsert",
    oracle="""
      SELECT o_orderkey,
             CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01'
                  THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 'updated' ELSE 'original' END AS version
      FROM orders
    """,
)
def sink_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12/T5: keyed upsert (MERGE semantics on plain Parquet): 1997
    orders arrive again with +100 totals; matched keys are replaced,
    the rest survive. Applied TWICE — idempotency is part of the
    contract."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    base = orders.withColumn("version", F.lit("original")).drop("o_orderdate")
    path = _tmp("upsert")
    write_table(base, path)
    updates = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
            F.lit("updated").alias("version"),
        )
    )
    upsert_parquet(spark, path, updates, keys=["o_orderkey"])
    upsert_parquet(spark, path, updates, keys=["o_orderkey"])  # idempotent
    return spark.read.parquet(path)


@query(
    "sink_versioned_merge",
    oracle="""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y') AS yr,
             CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01'
                  THEN o_totalprice + 100.0 ELSE o_totalprice END AS o_totalprice,
             CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1998-01-01'
                  THEN 'updated' ELSE 'original' END AS version
      FROM orders
    """,
)
def sink_versioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12/T5 with ATOMIC, PARTITION-SCOPED commits: MERGE semantics on
    a :class:`VersionedTable` partitioned by year — every commit
    publishes a complete immutable snapshot via an os.replace pointer
    swap (readers never observe a missing or half-written table), and
    the merge rewrites ONLY the yr=1997 partition the batch touches;
    every other year's data files are hardlinked from the previous
    snapshot (inode identity pinned in tests/test_streaming.py). That
    is the reference's per-(year, period) upsert
    (``idx_extraction_script.py:348-352``) at lake shape — the
    full-table rewrite it replaces is the one merge form that cannot
    survive 100 TB. Applied twice: idempotency and snapshot GC are
    both part of the contract."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    base = orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_totalprice",
        F.lit("original").alias("version"),
    )
    table = VersionedTable(
        _tmp("versioned"), keep_versions=2, partition_by=("yr",)
    )
    table.overwrite(base)
    updates = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select(
        "o_orderkey",
        F.lit("1997").alias("yr"),
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        F.lit("updated").alias("version"),
    )
    table.merge(updates, keys=["o_orderkey", "yr"])
    table.merge(updates, keys=["o_orderkey", "yr"])  # idempotent
    return table.read(spark).select(
        "o_orderkey", "yr", "o_totalprice", "version"
    )


@query(
    "incr_status_flag",
    oracle="""
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN 'selesai' ELSE 'selesai' END AS status,
             (event_type = 'error') AS was_pending
      FROM events
    """,
)
def incr_status_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2/S13: status-flag incremental batch — seed a store where
    'error' events are pending ('belum'), process exactly the pending
    set, bulk-update their status ('selesai'), read back. After one
    cycle everything is processed; was_pending records which rows the
    incremental batch actually touched
    (``transform_iqplus_news_dags.py:80-83,161-174``)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "error", F.lit("belum"))
        .otherwise(F.lit("selesai"))
        .alias("status"),
    )
    path = _tmp("status")
    write_table(ev, path)
    store = spark.read.parquet(path)
    pending = store.where(
        (F.col("status") == "belum") | F.col("status").isNull()
    )
    processed = pending.select("event_id", F.lit("selesai").alias("status"))
    update_columns(spark, path, processed, keys=["event_id"])
    final = spark.read.parquet(path)
    return final.select(
        "event_id",
        "status",
        (F.col("event_type") == "error").alias("was_pending"),
    )


@query(
    "stream_tumbling",
    oracle="""
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket_s,
             event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: 1-hour tumbling event-time windows. The SAME transform runs
    incrementally under readStream+watermark (tests/test_streaming.py
    proves stream==batch)."""
    return tumbling_agg(load_table(spark, sf_dir, "events"))


@query(
    "stream_sliding",
    oracle="""
      WITH shifted AS (
        SELECT unnest([ (epoch_us(ts) // 1800000000) * 1800,
                        (epoch_us(ts) // 1800000000) * 1800 - 1800 ]) AS bucket_s,
               value
        FROM events
      )
      SELECT bucket_s, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM shifted GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: 1-hour windows sliding every 30 min — every event counted in
    exactly two windows (oracle materializes both bucket starts)."""
    return sliding_agg(load_table(spark, sf_dir, "events"))


@query(
    "stream_session",
    oracle="""
      WITH e AS (SELECT user_id, epoch_us(ts) AS t, value FROM events),
      marked AS (
        SELECT user_id, t, value,
               CASE WHEN lag(t) OVER w IS NULL
                     OR t - lag(t) OVER w >= 600000000 THEN 1 ELSE 0 END AS new_s
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
      ),
      sessions AS (
        SELECT user_id, t, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY t
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked
      )
      SELECT MIN(t) AS session_start_us, user_id,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: per-user 10-minute-gap session windows (oracle: classic
    gaps-and-islands — a silence of >= the gap starts a new session,
    matching session_window's half-open [start, last+gap))."""
    return session_agg(load_table(spark, sf_dir, "events"), "10 minutes")


@query(
    "stream_range_join",
    oracle="""
      SELECT l.user_id AS c_user,
             l.event_id AS click_id,
             r.event_id AS purchase_id,
             epoch_us(l.ts) AS click_us,
             epoch_us(r.ts) AS purchase_us,
             r.value AS purchase_value
      FROM events l JOIN events r
        ON l.event_type = 'click' AND r.event_type = 'purchase'
       AND l.user_id = r.user_id
       AND r.ts <= l.ts AND r.ts > l.ts - INTERVAL 3 DAY
    """,
)
def stream_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream interval join executed in batch mode — the
    SAME function runs on streaming frames (watermarked, state-bounded
    by the two-sided time predicate; stream == batch equality is
    pinned in tests/test_streaming.py). Here the driver oracle-checks
    the join semantics on batch inputs."""
    from full_docker_etl_spark.streaming.events import stream_stream_range_join

    ev = load_table(spark, sf_dir, "events")
    return stream_stream_range_join(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "purchase"),
    )


@query(
    "stream_quota_admit",
    oracle="""
      WITH d AS (SELECT doc_id, source AS host, doc_id % 2 AS b
                 FROM documents),
      r AS (SELECT host, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY host
                                      ORDER BY b, doc_id) AS host_seq
            FROM d)
      SELECT host, doc_id, host_seq FROM r WHERE host_seq <= 150
    """,
)
def stream_quota_admit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE registered query that drains a REAL Structured
    Streaming query — cross-batch GroupState under the driver's exact
    value check, not just pytest. The per-host quota admitter
    (streaming/stateful.py, the ingest-time C4/CCNet domain cap) runs
    over a two-micro-batch file stream built from the documents table
    (batch b = doc_id % 2, one file per batch, mtime-ordered,
    maxFilesPerTrigger=1) into a parquet sink via Trigger.AvailableNow;
    the returned frame is what landed ON DISK. The oracle is the
    batch-mode truth the operator's state-carry must reproduce:
    ROW_NUMBER per host over (batch, doc_id) arrival order, capped at
    quota 150 — at the driver's sf0.01 each source holds ~250 docs
    (~125 per batch), so batch 1 admissions genuinely depend on state
    carried from batch 0, and over-quota arrivals must be dropped."""
    import os

    from full_docker_etl_spark.streaming.stateful import host_quota_admitter

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("source").alias("host")
    )
    src = _tmp("quota_src")
    docs.where(F.col("doc_id") % 2 == 0).repartition(1).write.mode(
        "overwrite"
    ).parquet(src)
    batch0 = {
        f for f in os.listdir(src) if f.endswith(".parquet")
    }
    docs.where(F.col("doc_id") % 2 == 1).repartition(1).write.mode(
        "append"
    ).parquet(src)
    # FileStreamSource orders files by modification time: force batch-1
    # files strictly later so the two-batch arrival order is
    # deterministic even on coarse-mtime filesystems
    t1 = max(
        os.path.getmtime(os.path.join(src, f)) for f in batch0
    )
    for f in os.listdir(src):
        if f.endswith(".parquet") and f not in batch0:
            os.utime(os.path.join(src, f), (t1 + 10, t1 + 10))

    out, chk = _tmp("quota_out"), _tmp("quota_chk")
    # State-partition sizing (guide §2.2 fewer-larger partitions,
    # VERDICT r18 #5): the stateful exchange's partition count is
    # PINNED into the checkpoint from spark.sql.shuffle.partitions at
    # stream start. The session default (= core count) is right at
    # scale but pays core-count near-empty state stores (open + commit
    # + checkpoint file each) per micro-batch on a small source —
    # profiled as ~0.9 s/batch with 32 state partitions over a ~10 MB
    # batch. Derive the count from SOURCE VOLUME the way AQE sizes
    # shuffles (one state partition per advisory-sized chunk, capped
    # at the session's parallelism): a 100 TB/day firehose saturates
    # to the core count — identical to today's cluster behavior —
    # while a small source stops paying empty-state overhead. No local
    # hardcode (both inputs are confs). The stream runs on its own
    # session (shared context, its own SQL conf), so the caller's
    # spark.sql.shuffle.partitions never changes, not even mid-drain.
    # A new session starts from the context's conf, not the caller's
    # runtime settings: the caller's differing SQL confs are copied
    # over first, so the derived count is the only difference.
    src_bytes = sum(
        os.path.getsize(os.path.join(src, f))
        for f in os.listdir(src)
        if f.endswith(".parquet")
    )
    advisory = advisory_partition_bytes(spark)
    n_state = max(
        1,
        min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            -(-src_bytes // max(1, int(advisory))),
        ),
    )
    stream_spark = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if key.startswith("spark.sql.") and (
            stream_spark.conf.get(key, None) != value
        ):
            stream_spark.conf.set(key, value)
    stream_spark.conf.set("spark.sql.shuffle.partitions", str(n_state))
    stream = (
        stream_spark.readStream.schema("doc_id long, host string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        host_quota_admitter(stream, quota=150)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination(timeout) returns False WITHOUT raising on
    # timeout — proceeding would read a partial sink (a value-
    # mismatch that masquerades as an admitter bug) and leak a
    # running query into the shared context
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_quota_admit: AvailableNow drain exceeded 300 s"
        )
    return spark.read.parquet(out).select("host", "doc_id", "host_seq")


@query(
    "sink_versioned_compact",
    oracle="""
      SELECT COUNT(*) AS n_rows,
             TRUE AS lossless,
             TRUE AS within_budget,
             TRUE AS time_travel_ok
      FROM orders
    """,
)
def sink_versioned_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE + TIME TRAVEL on the versioned lake table, verdict-row
    checked: orders land partitioned by year across many small files
    (a deliberately fragmented 8-task write), compact() rewrites every
    over-budget partition to one file behind the same atomic pointer
    swap, and the booleans the oracle pins assert (a) the compacted
    snapshot is row-identical to the pre-compact snapshot read via
    time travel, (b) every partition is now within the file budget
    (filesystem-counted), (c) the pre-compact version is still
    readable at its own id. Small files are the silent 100 TB cost —
    this is the maintenance op that keeps the scoped-merge table
    scannable."""
    import os

    from full_docker_etl_spark.sources.sinks import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_totalprice",
    )
    table = VersionedTable(
        _tmp("vcompact"), keep_versions=2, partition_by=("yr",)
    )
    v1 = table.overwrite(orders.repartition(8))
    v2 = table.compact(spark, max_files_per_partition=1)
    cur = table.read(spark)
    old = table.read(spark, version=v1)
    lossless = (
        cur.exceptAll(old).limit(1).count() == 0
        and old.exceptAll(cur).limit(1).count() == 0
    )
    vdir = os.path.join(table.root, "_versions", v2)
    per_part = [
        sum(f.endswith(".parquet") for f in os.listdir(os.path.join(vdir, d)))
        for d in os.listdir(vdir)
        if d.startswith("yr=")
    ]
    within = bool(per_part) and max(per_part) <= 1
    travel_ok = table.versions() == [v2, v1]
    return cur.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(lossless).alias("lossless"),
        F.lit(within).alias("within_budget"),
        F.lit(travel_ok).alias("time_travel_ok"),
    )


@query(
    "sink_versioned_cdf",
    oracle="""
      SELECT o_orderkey, 'updated' AS change FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      UNION ALL
      SELECT o_orderkey + 10000000, 'inserted' FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
    """,
)
def sink_versioned_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED off the versioned table: commit the base
    snapshot, merge a batch that UPDATES every 1997 order and INSERTS
    a shifted copy of each, then diff the two retained versions. The
    oracle enumerates the exact expected change set, so the driver
    value-checks the feed row for row — updated keys classified as
    updated, inserted as inserted, every untouched key absent. This is
    the derived-view CDC a lake format exposes, obtained purely from
    immutable snapshots + time travel (no log replay)."""
    from full_docker_etl_spark.sources.sinks import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    base = orders.withColumn("version", F.lit("original")).drop("o_orderdate")
    table = VersionedTable(_tmp("vcdf"), keep_versions=2)
    v1 = table.overwrite(base)
    y97 = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    updates = y97.select(
        "o_orderkey",
        (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        F.lit("updated").alias("version"),
    )
    inserts = y97.select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        "o_totalprice",
        F.lit("new").alias("version"),
    )
    v2 = table.merge(updates.unionByName(inserts), keys=["o_orderkey"])
    return table.diff(spark, ["o_orderkey"], v1, v2)


_SCD2_HIST_SQL = """
      WITH b1 AS (SELECT o_custkey, COUNT(*) AS n_orders,
                         MAX(o_orderpriority) AS top_prio
                  FROM orders
                  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                    AND o_orderdate < TIMESTAMP '1997-01-01'
                  GROUP BY 1),
      b2 AS (SELECT o_custkey, COUNT(*) AS n_orders,
                    MAX(o_orderpriority) AS top_prio
             FROM orders
             WHERE o_orderdate >= TIMESTAMP '1997-01-01'
               AND o_orderdate < TIMESTAMP '1998-01-01'
             GROUP BY 1),
      j AS (SELECT b1.o_custkey AS k1, b1.n_orders AS n1, b1.top_prio AS p1,
                   b2.o_custkey AS k2, b2.n_orders AS n2, b2.top_prio AS p2
            FROM b1 FULL OUTER JOIN b2 ON b1.o_custkey = b2.o_custkey)
      SELECT k1 AS o_custkey, n1 AS n_orders, p1 AS top_prio,
             DATE '1997-01-01' AS valid_from,
             CASE WHEN k2 IS NOT NULL AND (n1 != n2 OR p1 != p2)
                  THEN DATE '1998-01-01' END AS valid_to
      FROM j WHERE k1 IS NOT NULL
      UNION ALL
      SELECT k2, n2, p2, DATE '1998-01-01', NULL
      FROM j
      WHERE k2 IS NOT NULL
        AND (k1 IS NULL OR n1 != n2 OR p1 != p2)
"""


@query("dim_scd2", oracle=_SCD2_HIST_SQL)
def dim_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension maintenance: two yearly batches of
    per-customer order stats applied as history intervals — new keys
    open, changed keys close-and-reopen at the batch timestamp,
    unchanged keys stay untouched (idempotent under replay). The
    oracle recomputes the full expected history with a FULL OUTER
    join, so every interval row is value-checked. Composes with the
    as-of join for point-in-time enrichment and with VersionedTable
    for atomic publish of each application."""
    from full_docker_etl_spark.operators.scd import scd2_apply

    orders = load_table(spark, sf_dir, "orders")

    def batch(year: int) -> DataFrame:
        return (
            orders.where(
                (F.col("o_orderdate")
                 >= F.lit(f"{year}-01-01").cast("timestamp"))
                & (F.col("o_orderdate")
                   < F.lit(f"{year + 1}-01-01").cast("timestamp"))
            )
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.max("o_orderpriority").alias("top_prio"),
            )
        )

    h1 = scd2_apply(
        None, batch(1996), "o_custkey",
        F.lit("1997-01-01").cast("timestamp"), ["n_orders", "top_prio"],
    )
    # materialize between applies (the documented production pattern;
    # also sidesteps Spark's PartitioningCollection check on stacked
    # full-outer plans); fresh_checkpoint, not localCheckpoint — a
    # plain checkpoint carries stats that compound through chained
    # applies (see operators/util.py)
    h1 = fresh_checkpoint(h1)
    h2 = scd2_apply(
        h1, batch(1997), "o_custkey",
        F.lit("1998-01-01").cast("timestamp"), ["n_orders", "top_prio"],
    )
    return h2.select(
        "o_custkey", "n_orders", "top_prio",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.col("valid_to").cast("date").alias("valid_to"),
    )


@query(
    "join_pit",
    oracle=f"""
      WITH hist AS ({_SCD2_HIST_SQL})
      SELECT o.o_orderkey, o.o_custkey,
             CAST(o.o_orderdate AS DATE) AS order_date,
             h.n_orders, h.top_prio
      FROM orders o
      LEFT JOIN hist h
        ON o.o_custkey = h.o_custkey
       AND o.o_orderdate >= CAST(h.valid_from AS TIMESTAMP)
       AND (h.valid_to IS NULL
            OR o.o_orderdate < CAST(h.valid_to AS TIMESTAMP))
      WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
        AND o.o_orderdate < TIMESTAMP '1999-01-01'
    """,
)
def join_pit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME enrichment off the SCD2 history: each fact joins
    the dimension row that was VALID at the fact's timestamp (key
    equi-join + interval predicate — per key the history is a handful
    of intervals, so the planner runs the equi-join and filters the
    interval condition; facts whose timestamp precedes any dim version
    keep NULL attributes via the left join). This is the leak-free way
    to attach features for training: the model sees what was knowable
    AT event time, never the future dim state. Oracle recomputes
    history + join end to end."""
    hist = dim_scd2(spark, sf_dir)
    facts = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    h = hist.select(
        F.col("o_custkey").alias("h_key"),
        "n_orders",
        "top_prio",
        F.col("valid_from").cast("timestamp").alias("vf"),
        F.col("valid_to").cast("timestamp").alias("vt"),
    )
    cond = (
        (facts["o_custkey"] == h["h_key"])
        & (facts["o_orderdate"] >= h["vf"])
        & (h["vt"].isNull() | (facts["o_orderdate"] < h["vt"]))
    )
    return facts.join(h, cond, "left").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("order_date"),
        "n_orders",
        "top_prio",
    )


@query(
    "sink_versioned_delete",
    oracle="""
      SELECT o_orderkey, strftime(o_orderdate, '%Y') AS yr, o_totalprice
      FROM orders
      WHERE NOT (o_orderdate >= TIMESTAMP '1997-01-01'
                 AND o_orderdate < TIMESTAMP '1998-01-01')
        AND NOT (o_orderdate >= TIMESTAMP '1996-01-01'
                 AND o_orderdate < TIMESTAMP '1997-01-01'
                 AND o_orderkey % 2 = 0)
    """,
)
def sink_versioned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed DELETE on the versioned lake table (GDPR purge shape):
    ALL of 1997 is deleted (that partition's directory must vanish —
    the linker is told not to resurrect it) plus half of 1996 (scoped
    rewrite of survivors); applied twice, because retention jobs
    re-run. The oracle is the surviving set, value-checked row for
    row. At 100 TB this reads and rewrites only the named partitions —
    the same scoped shape as the merge."""
    from full_docker_etl_spark.sources.sinks import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_totalprice",
    )
    table = VersionedTable(
        _tmp("vdelete"), keep_versions=2, partition_by=("yr",)
    )
    table.overwrite(orders)
    dels = orders.where(
        (F.col("yr") == "1997")
        | ((F.col("yr") == "1996") & (F.col("o_orderkey") % 2 == 0))
    ).select("o_orderkey", "yr")
    table.delete(dels, keys=["o_orderkey", "yr"])
    table.delete(dels, keys=["o_orderkey", "yr"])  # retention jobs re-run
    return table.read(spark).select("o_orderkey", "yr", "o_totalprice")


@query(
    "sink_versioned_update",
    oracle="""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y') AS yr,
             CASE WHEN o_orderkey % 7 = 0 AND strftime(o_orderdate, '%Y') = '1997'
                  THEN 'swept' ELSE o_orderpriority END AS o_orderpriority,
             o_orderstatus
      FROM orders
    """,
)
def sink_versioned_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 at the warehouse tier: the reference's bulk status sweep
    (``transform_iqplus_news_dags.py:161-174``) as a PARTITION-SCOPED
    column update on a VersionedTable — only the yr=1997 partition the
    change batch names is read and rewritten; every other year
    hardlinks from the parent snapshot, and the commit carries the
    optimistic parent check. COALESCE semantics: the batch sets
    o_orderpriority and leaves o_orderstatus NULL, so status passes
    through untouched — the oracle proves both the set and the
    leave-alone column. Applied twice: idempotent."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_orderpriority",
        "o_orderstatus",
    )
    table = VersionedTable(
        _tmp("vupd"), keep_versions=2, partition_by=("yr",)
    )
    table.overwrite(orders)
    changes = orders.where(
        (F.col("o_orderkey") % 7 == 0) & (F.col("yr") == "1997")
    ).select(
        "o_orderkey",
        "yr",
        F.lit("swept").alias("o_orderpriority"),
        F.lit(None).cast("string").alias("o_orderstatus"),
    )
    table.update_columns(changes, keys=["o_orderkey", "yr"])
    table.update_columns(changes, keys=["o_orderkey", "yr"])  # idempotent
    return table.read(spark).select(
        "o_orderkey", "yr", "o_orderpriority", "o_orderstatus"
    )


@query(
    "sink_clustered_scan",
    oracle="""
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '2001-01-01'
        AND l_shipdate <  TIMESTAMP '2001-04-01'
      GROUP BY 1
    """,
)
def sink_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA CLUSTERING end-to-end: the fact table is rewritten with
    write_clustered (range-partitioned + sorted by l_shipdate → every
    file covers a disjoint date span; footer min/max disjointness is
    pinned in tests/test_scale.py), then a quarter-scan range query
    runs against the clustered copy. At 100 TB the clustered layout is
    what turns this scan from every-file into the-files-that-matter
    (file-level min/max skip at planning, row-group skip at read); the
    oracle recomputes the aggregate from the raw table, proving the
    layout rewrite lost nothing and the pruned scan returns exactly
    the unclustered answer."""
    import tempfile

    from full_docker_etl_spark.operators.skew import write_clustered

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_shipdate", "l_quantity"
    )
    path = tempfile.mkdtemp(prefix="fde_clus_") + "/lineitem"
    write_clustered(li, path, ["l_shipdate"], n_files=16)
    return (
        spark.read.parquet(path)
        .where(
            (F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2001-04-01").cast("timestamp"))
        )
        .groupBy(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


@query(
    "sink_versioned_clone",
    oracle="""
      SELECT o_orderkey,
             CAST(CASE WHEN o_orderkey % 100 = 0 THEN -o_totalprice
                       WHEN o_orderkey % 100 = 2 THEN 0.0
                       ELSE o_totalprice END AS DOUBLE) AS price
      FROM orders
    """,
)
def sink_versioned_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE end-to-end (zero-copy table branching): commit the
    orders table, merge a correction (every %100=0 price negated),
    CLONE it — pure hardlinks, O(#files) at any table size — then
    mutate BOTH sides differently: the source gets a post-clone bump
    (%100=1) the clone must never see, the clone gets its own zeroing
    merge (%100=2). Returning the clone's content against an oracle
    that recomputes exactly (negated, zeroed, untouched) proves all
    three clone claims at once: it captured the source state at clone
    time, it is isolated from later source writes, and it is
    independently mutable — the dev/test-branching contract."""
    import tempfile

    from full_docker_etl_spark.sources.sinks import VersionedTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    root = tempfile.mkdtemp(prefix="fde_clone_")
    src = VersionedTable(root + "/src", keep_versions=3)
    src.overwrite(orders)
    src.merge(
        orders.where(F.col("o_orderkey") % 100 == 0).withColumn(
            "price", -F.col("price")
        ),
        ["o_orderkey"],
    )
    clone = src.clone_to(root + "/dev")
    # post-clone source write: must NOT show through the clone
    src.merge(
        orders.where(F.col("o_orderkey") % 100 == 1).withColumn(
            "price", F.col("price") + 1
        ),
        ["o_orderkey"],
    )
    # the clone's own branch write
    clone.merge(
        orders.where(F.col("o_orderkey") % 100 == 2).withColumn(
            "price", F.lit(0.0)
        ),
        ["o_orderkey"],
    )
    return clone.read(spark).select("o_orderkey", "price")


@query(
    "sink_zorder_scan",
    oracle="""
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-08'
        AND user_id = 3
      GROUP BY 1
    """,
)
def sink_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-COLUMN clustering end-to-end (the P7+P8 warehouse shape:
    entity equality × date range): events are rewritten Z-ordered on
    (user_id, ts) — bucket ids quantile-derived, bit-interleaved,
    range-partitioned — then the two-predicate query runs against the
    clustered copy. Because the Morton curve keeps BOTH columns' per-
    file min/max narrow, each predicate alone skips >50% of the files
    (pinned via pyarrow footer stats in tests/test_scale.py; both
    predicates pushed to the scan per the plan gate in
    tests/test_plans.py). The oracle recomputes the aggregate from the
    raw table: the interleaved rewrite lost nothing."""
    import tempfile

    from full_docker_etl_spark.operators.skew import write_clustered_zorder

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    )
    path = tempfile.mkdtemp(prefix="fde_zord_") + "/events"
    write_clustered_zorder(ev, path, ["user_id", "ts"], n_files=16, bits=4)
    return (
        spark.read.parquet(path)
        .where(
            (F.col("ts") >= F.lit("2024-01-05").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
            & (F.col("user_id") == 3)
        )
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


@query(
    "sink_versioned_restore",
    oracle="""
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
      FROM orders
    """,
)
def sink_versioned_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLBACK end-to-end: commit the good table, commit a corrupted
    deploy over it (every price negated), then RESTORE the good
    version — a pointer-only republish (no data copied; instant at any
    table size because snapshots are immutable). The oracle is the
    ORIGINAL table: the driver's hash compare proves the rollback
    restored the pre-corruption state byte-for-byte, and that the bad
    snapshot's rows are gone from the live read. The restored version
    leads the retained history without duplication, so the corrupted
    commit itself remains retained and could be rolled forward for
    forensics (pinned in tests/test_streaming.py)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    table = VersionedTable(_tmp("vrestore"), keep_versions=3)
    good = table.overwrite(orders)
    table.overwrite(
        orders.withColumn("o_totalprice", -F.col("o_totalprice"))
    )  # the bad deploy
    table.restore(good)
    return table.read(spark)


@query(
    "sink_versioned_merge_cdc",
    oracle="""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y') AS yr,
             CAST(CASE WHEN strftime(o_orderdate, '%Y') = '1997'
                        AND o_orderkey % 3 = 1
                       THEN o_totalprice + 100.0 ELSE o_totalprice END
                  AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE NOT (strftime(o_orderdate, '%Y') = '1997'
                 AND o_orderkey % 3 = 0)
    """,
)
def sink_versioned_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-APPLY shape: one MERGE batch carrying all three branches
    — WHEN MATCHED DELETE (tombstone rows, o_orderkey%3=0 in 1997),
    WHEN MATCHED UPDATE (%3=1, price+100), WHEN NOT MATCHED INSERT
    (the general merge contract) — applied to a year-partitioned
    VersionedTable in ONE partition-scoped commit. This is how an
    upstream change feed (diff()'s output, a Debezium stream) lands in
    a downstream table without separating deletes from upserts into
    two non-atomic commits. The tombstone flag column never reaches
    the table schema; applied twice for idempotency; the oracle
    recomputes the surviving rows and updated prices from the raw
    table."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_totalprice",
    )
    table = VersionedTable(
        _tmp("vcdc"), keep_versions=2, partition_by=("yr",)
    )
    table.overwrite(orders)
    y97 = orders.where(F.col("yr") == "1997")
    batch = y97.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", "yr", "o_totalprice", F.lit(True).alias("_deleted")
    ).unionByName(
        y97.where(F.col("o_orderkey") % 3 == 1).select(
            "o_orderkey",
            "yr",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
            F.lit(False).alias("_deleted"),
        )
    )
    table.merge(batch, keys=["o_orderkey", "yr"], delete_col="_deleted")
    table.merge(batch, keys=["o_orderkey", "yr"], delete_col="_deleted")
    return table.read(spark).select("o_orderkey", "yr", "o_totalprice")


@query(
    "sink_versioned_replicate",
    oracle="""
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y') AS yr,
             CAST(CASE WHEN strftime(o_orderdate, '%Y') = '1997'
                        AND o_orderkey % 3 = 1
                       THEN o_totalprice + 100.0 ELSE o_totalprice END
                  AS DOUBLE) AS o_totalprice
      FROM orders
      WHERE NOT (strftime(o_orderdate, '%Y') = '1997'
                 AND o_orderkey % 3 = 0)
    """,
)
def sink_versioned_replicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC LOOP closed end-to-end: a SOURCE table takes a mixed
    mutation round (keyed DELETE of %3=0, MERGE update of %3=1, both
    in 1997), then ``diff(include_values=True)`` derives the replayable
    change feed between the two retained snapshots — |changes| rows,
    never the table — and ONE ``merge(feed, delete_col=...)`` applies
    it to an independently-initialized REPLICA. The driver checks the
    REPLICA's state against an oracle recomputed from the raw table,
    proving produce→apply converges the replica to the source exactly:
    the incremental-replication contract (ship the feed, not the
    table) that matters when the table is 100 TB and the change set is
    a day's mutations."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_totalprice",
    )
    source = VersionedTable(
        _tmp("vrepl_src"), keep_versions=3, partition_by=("yr",)
    )
    v1 = source.overwrite(orders)
    replica = VersionedTable(
        _tmp("vrepl_dst"), keep_versions=2, partition_by=("yr",)
    )
    replica.overwrite(source.read(spark, version=v1))

    y97 = orders.where(F.col("yr") == "1997")
    source.delete(
        y97.where(F.col("o_orderkey") % 3 == 0).select("o_orderkey", "yr"),
        keys=["o_orderkey", "yr"],
    )
    source.merge(
        y97.where(F.col("o_orderkey") % 3 == 1).select(
            "o_orderkey",
            "yr",
            (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
        ),
        keys=["o_orderkey", "yr"],
    )
    feed = source.diff(
        spark, ["o_orderkey", "yr"], from_version=v1, include_values=True
    )
    replica.merge(
        feed.withColumn("_del", F.col("change") == "deleted").drop("change"),
        keys=["o_orderkey", "yr"],
        delete_col="_del",
    )
    return replica.read(spark).select("o_orderkey", "yr", "o_totalprice")


@query(
    "sink_versioned_delete_dv",
    oracle="""
      SELECT o_orderkey, strftime(o_orderdate, '%Y') AS yr, o_totalprice
      FROM orders
      WHERE NOT (o_orderdate >= TIMESTAMP '1997-01-01'
                 AND o_orderdate < TIMESTAMP '1998-01-01')
        AND NOT (o_orderdate >= TIMESTAMP '1996-01-01'
                 AND o_orderdate < TIMESTAMP '1997-01-01'
                 AND o_orderkey % 2 = 0)
    """,
)
def sink_versioned_delete_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ keyed DELETE (deletion vectors): the exact purge
    sink_versioned_delete runs copy-on-write — all of 1997 plus half of
    1996 — but via a tombstone sidecar: the delete commit hardlinks
    every data file (O(|deleted|) bytes written, nothing rewritten; at
    100 TB a scattered GDPR purge stops rewriting nearly every
    partition) and readers subtract the vector with a broadcast
    anti-join. Applied twice (purge jobs re-run; the second is a
    no-op), read back through the vector, then compact() RECONCILES the
    vector into the data files and the final read — what the oracle
    value-checks row for row — comes from the folded snapshot with no
    sidecar left."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        "o_totalprice",
    )
    table = VersionedTable(
        _tmp("vdeldv"), keep_versions=2, partition_by=("yr",)
    )
    table.overwrite(orders)
    dels = orders.where(
        (F.col("yr") == "1997")
        | ((F.col("yr") == "1996") & (F.col("o_orderkey") % 2 == 0))
    ).select("o_orderkey", "yr")
    table.delete_dv(dels, keys=["o_orderkey", "yr"])
    table.delete_dv(dels, keys=["o_orderkey", "yr"])  # re-run: no-op
    merged_on_read = table.read(spark).count()
    table.compact(spark, max_files_per_partition=10_000)  # fold the DV
    out = table.read(spark).select("o_orderkey", "yr", "o_totalprice")
    assert out.count() == merged_on_read  # fold changed layout, not rows
    return out


@query(
    "sink_versioned_constraints",
    oracle="""
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1997-01-01'
    """,
)
def sink_versioned_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK constraints as a commit gate (Delta's ADD CONSTRAINT
    shape): a constrained table accepts a clean 1996 load, REFUSES a
    batch whose prices were corrupted negative (the violation counts
    ride the write pass via observe() — no separate validation scan —
    and the snapshot never publishes), then accepts a clean follow-up
    merge. The oracle checks the surviving state: exactly the two good
    batches, nothing from the refused one."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    table = VersionedTable(
        _tmp("vconstr"),
        keep_versions=2,
        constraints={
            "price_positive": "o_totalprice > 0",
            "status_known": "o_orderstatus IN ('F', 'O', 'P')",
        },
    )
    good_first = orders.where(F.col("o_orderkey") % 3 != 0)
    table.overwrite(good_first)
    v_good = table.current_version()
    corrupted = orders.where(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    try:
        table.merge(corrupted, keys=["o_orderkey"])
        raise AssertionError("violating merge must refuse")
    except ValueError as exc:
        assert "price_positive" in str(exc)
    assert table.current_version() == v_good  # nothing published
    table.merge(orders.where(F.col("o_orderkey") % 3 == 0), ["o_orderkey"])
    return table.read(spark).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
