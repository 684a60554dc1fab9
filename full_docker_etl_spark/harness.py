"""One measurement harness for the registered queries.

``bench.py``, ``tools/profile_query.py``, ``tools/dump_plans.py`` and
the tests measure through this module: one session set-up, one
warm-up, one labelled and timed query run, one between-query sweep,
one job-id watermark and one status-store job reader. ``perfbench/``
keeps its own copies, because it is the benchmark's definition and
imports nothing from here.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JError
from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from full_docker_etl_spark.registry import all_specs
from full_docker_etl_spark.session import default_parallelism, get_spark
from full_docker_etl_spark.sources.catalog import register_views


def session(app_name: str) -> SparkSession:
    """The measurement session: the engine's session with one shuffle
    partition per core (``SPARK_GRAFT_CPUS``, else all cores) and only
    errors logged."""
    spark = get_spark(app_name=app_name, shuffle_partitions=default_parallelism())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay the session's one-time costs before anything is timed: the
    JVM, the codegen caches and the file index of every table (first
    touch of a parquet path builds an InMemoryFileIndex — a per-session
    cost, not a per-query one)."""
    cpus = default_parallelism()
    register_views(spark, sf_dir)
    all_specs()["global_count"].fn(spark, sf_dir).count()

    # also prime the Python worker pool + Arrow serialization path:
    # the first pandas_udf/mapInPandas stage otherwise pays worker
    # fork + import cost inside whichever timed query hits it first.
    # Import the heavy per-worker modules while we're in there: lxml
    # alone costs ~4-5 s across 32 workers and previously landed on
    # xbrl_metrics (the alphabetically-first lxml user), reading as a
    # 3x regression of a 1.4 s query.
    def _prime(it):
        import zlib  # noqa: F401  (text_compression)

        try:
            import lxml.etree  # noqa: F401  (xbrl, zip_xml_ingest)
        except ImportError:
            pass
        yield from it

    spark.range(cpus, numPartitions=cpus).mapInPandas(
        _prime, "id long"
    ).count()
    # and prime the heavyweight JVM operator classes on a tiny range:
    # the session's first ObjectHashAggregate (percentile), KLL /
    # HLL sketch, count-distinct expand, window, and shuffled-join
    # stages each pay one-time JIT + codegen-compilation cost.
    # Without this the cost lands on whichever query alphabetically
    # reaches that operator first (observed: 5-12 s attributed to
    # sub-second agg_* queries). Data-independent by construction.
    warm = spark.range(100_000, numPartitions=cpus).selectExpr(
        "id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v"
    )
    warm.groupBy("k").agg(
        F.expr("percentile(v, array(0.5, 0.9))"),
        F.expr("percentile_approx(v, 0.5, 100)"),
        F.approx_count_distinct("v"),
        F.count_distinct("v"),
        F.sum(F.col("v").cast("decimal(18,2)")),
    ).count()
    warm.select(
        F.row_number().over(Window.partitionBy("k").orderBy("id"))
    ).count()
    warm.join(warm.groupBy("k").count(), "k").count()


def run_one(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Wall seconds of registered query ``name``, fully materialized
    through the noop sink (count() can skip work for wide results; noop
    writes every row). Raises what the query raises."""
    specs = all_specs()
    sc = spark.sparkContext
    # label the query's jobs (optimization guide §1.5) so event logs /
    # status-store dumps attribute work to the query; the description
    # is thread-local and costs nothing in the timed region
    sc.setJobDescription(f"bench:{name}")
    try:
        t0 = time.perf_counter()
        df = specs[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0
    finally:
        sc.setJobDescription(None)


def sweep(spark: SparkSession) -> None:
    """Drop what a query left cached, so the next one is measured
    cold-cache and independent of its position in the run order.

    Operators cache intra-query intermediates (shingle tables, LSH
    signatures) and never unpersist — across a full run the
    accumulated cache pressures the JVM and skews late queries.
    clearCache only reaches CacheManager entries (df.cache());
    localCheckpoint blocks from iterative operators (CC rounds,
    k-means) live as persisted RDDs outside it and were the r4
    late-query contamination — they are unpersisted too. Call it only
    between queries, once their results are fully materialized: a
    released checkpoint cannot be recomputed."""
    spark.catalog.clearCache()
    try:
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)
    except Py4JError:
        pass


def job_watermark(spark: SparkSession) -> int:
    """The id the next job will get, read synchronously from the DAG
    scheduler. The status store cannot give it: the listener bus fills
    it asynchronously, and it evicts jobs past spark.ui.retainedJobs, so
    neither its list size nor its max job id marks where a run starts.
    The jobs a run started are the ids between the watermarks taken
    before and after it."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def job_rows(spark: SparkSession, lo: int, hi: int) -> list[dict]:
    """One row per job with id in [lo, hi), in id order: ``job``,
    ``t_sub_ms`` (submission, epoch ms), ``dur_ms``, ``stages``,
    ``tasks`` (completed), ``desc`` and ``group`` (None when unset).

    Read from the status store, which is waited on (up to 10 s) until
    it holds every job of the range, completed; a job it still lacks
    then, or has evicted, gets no row."""
    store = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.monotonic() + 10.0
    while True:
        listed = store.jobsList(None)
        mine = [
            j for j in (listed.apply(i) for i in range(listed.size()))
            if lo <= j.jobId() < hi
        ]
        done = all(j.completionTime().isDefined() for j in mine)
        if (len(mine) == hi - lo and done) or time.monotonic() > deadline:
            break
        time.sleep(0.05)

    def opt(o):
        return o.get() if o.isDefined() else None

    rows = []
    for j in mine:
        sub, comp = opt(j.submissionTime()), opt(j.completionTime())
        sub_ms = sub.getTime() if sub is not None else None
        rows.append(
            {
                "job": j.jobId(),
                "t_sub_ms": sub_ms,
                "dur_ms": (
                    comp.getTime() - sub_ms
                    if comp is not None and sub_ms is not None
                    else None
                ),
                "stages": j.stageIds().size(),
                "tasks": j.numCompletedTasks(),
                "desc": opt(j.description()),
                "group": opt(j.jobGroup()),
            }
        )
    return sorted(rows, key=lambda r: r["job"])
