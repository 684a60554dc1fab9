"""SparkSession factory with cluster-ready defaults.

Keeps the *intent* of the reference's session setup
(``TransForm_Load_Yfinance.py:63-88``: AQE on, partition coalescing,
skew-join handling, Kryo) but drops its single-node hardcodes
(shuffle.partitions=4, Arrow disabled, 2g memory caps). Arrow is
enabled — the Pandas-UDF paths depend on it.

Two entry points:

- :func:`get_spark` builds a session (used by tests / bench / CLI).
- :func:`tune_session` applies runtime-settable configs to an
  *existing* session (used by the query registry, because the
  correctness driver passes in its own SparkSession).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Configs that are safe & beneficial on both a laptop and a 1000-executor
# cluster. Anything machine-dependent (memory, shuffle partitions) is
# parameterized instead.
_CLUSTER_READY_DEFAULTS = {
    # Adaptive execution: runtime re-planning, partition coalescing and
    # skew-join splitting replace the reference's hand-tuned values.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    # Arrow ON (reference disabled it "for stability"; our pandas_udf /
    # mapInPandas operators require it and it is 10-100x faster).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp rendering for oracle comparisons and
    # cross-engine parity.
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(isAdjustedToUTC=false) columns read as plain
    # TIMESTAMP (interpreted in the UTC session tz), not TIMESTAMP_NTZ:
    # epoch-micros surfacing (unix_micros) rejects NTZ, and with a UTC
    # session the two readings carry identical instants — which is also
    # what DuckDB's epoch_us computes on naive parquet timestamps.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Timestamps as INT64 micros, not legacy INT96: INT96 columns carry
    # NO parquet min/max statistics, so every timestamp-clustered
    # layout (write_clustered / write_clustered_zorder) would lose its
    # file- and row-group-skipping on the date dimension — at 100 TB
    # that is the difference between scanning a week and scanning the
    # table. Micros also round-trip to DuckDB/Arrow without the INT96
    # rebase legacy.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Kryo, as the reference does (TransForm_Load_Yfinance.py:70).
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # Parquet scan sizing (the reference used 64MB Mongo sample
    # partitions; 128MB is the Parquet sweet spot).
    "spark.sql.files.maxPartitionBytes": "128m",
    # zstd for every Parquet write: ~30-40% smaller files than the
    # snappy default at comparable scan CPU on modern cores — at 100 TB
    # the scan is I/O-bound and the byte reduction is the win (zstd has
    # been the large-warehouse default since Spark 3.2 made it
    # first-class). Write-side only; reads auto-detect per file.
    "spark.sql.parquet.compression.codec": "zstd",
    # Headless engine: no Spark UI server (faster startup, no port use).
    "spark.ui.enabled": "false",
    # Partition columns keep their written type on read-back: directory
    # value re-inference would silently turn a string partition key
    # ('yr=2001') into an int, breaking round-trip schema stability.
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    # Parquet TIMESTAMP(NANOS) columns (the testdata ``events.ts`` of
    # earlier rounds) are illegal to Spark's reader unless read as raw
    # nanos longs; load_table rebuilds microsecond timestamps from
    # them. Declared here, for the whole session, because the scan
    # needs it while it runs: set by load_table on first use, it would
    # change every later parquet read (and every memoized schema key)
    # depending on whether such a table had been opened yet.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # No DataFrame call-site capture: with it on, every F.* and
    # DataFrame call also pays getActiveSession, a conf.get, a JVM
    # PySparkCurrentOrigin set and clear, and a Python inspect.stack()
    # — about half the py4j round trips of planning a store probe.
    # The cost of turning it off is diagnostics: an analysis or runtime
    # error no longer names the Python call site of the failing
    # expression. To debug one, build the process's first session with
    # get_spark(extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
    # "true"}) — extra_conf overrides every default here. PySpark reads
    # the conf once per process, from the first active session, so it is
    # set here and not by tune_session.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}

# Runtime-settable subset (SQLConf) — applicable to a session we did not
# create. Static configs (serializer) are excluded.
_RUNTIME_TUNABLE = {
    k: v
    for k, v in _CLUSTER_READY_DEFAULTS.items()
    if k.startswith("spark.sql.")
}


def default_parallelism() -> int:
    """CPU budget: honor the driver's SPARK_GRAFT_CPUS, else all cores."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return os.cpu_count() or 4


def get_spark(
    app_name: str = "full_docker_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with cluster-ready defaults.

    ``master`` defaults to ``local[N]`` where N = SPARK_GRAFT_CPUS or
    all cores; on a real cluster pass ``master=None`` and submit via
    spark-submit (the builder then inherits the cluster master).
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        # Only default to local[N] when no master is already configured.
        # spark-submit communicates the cluster master via the
        # spark.master conf/system property (NOT an env var), and an
        # explicit builder.master() would override it — so probe the
        # loaded defaults first to keep the documented cluster path
        # (submit with --master, pass master=None here) working.
        from pyspark import SparkConf

        if not SparkConf(loadDefaults=True).contains("spark.master"):
            master = os.environ.get(
                "SPARK_MASTER", os.environ.get("MASTER", f"local[{cpus}]")
            )
    if master:
        builder = builder.master(master)

    conf = dict(_CLUSTER_READY_DEFAULTS)
    # Local default: one shuffle partition per core. On a cluster AQE
    # coalescing makes the initial number far less sensitive; callers can
    # raise it for 100TB inputs (rule of thumb: total-input / 128MB).
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # LOCAL MODE ONLY: the driver JVM *is* the executor, and two of the
    # launcher's defaults starve a long many-query session. (1) Driver
    # memory defaults to 1g — 32 task threads on a 1 GB heap GC-thrash;
    # give it a machine-derived heap (capped: a huge heap just lengthens
    # GC regions for small local data). (2) ReservedCodeCacheSize
    # defaults to ~240 MB total; 100+ distinct whole-stage-codegen'd
    # queries fill it, the JIT shuts off ("CodeCache is full. Compiler
    # has been disabled"), and every later query runs interpreted —
    # measured as the same query 3x slower at the end of a long suite
    # than in isolation. CodeCacheFlushing keeps old compiled stages
    # evictable. On a cluster (master != local) memory and JVM options
    # come from spark-submit and this never fires.
    if master and master.startswith("local"):
        from pyspark import SparkConf

        # setdefault protects the caller's extra_conf, but NOT
        # spark-defaults.conf — builder confs are passed as --conf and
        # silently override the properties file. Honor both layers:
        # skip the heap default when the user configured one anywhere,
        # and MERGE (not replace) user extraJavaOptions with ours.
        loaded = SparkConf(loadDefaults=True)
        try:
            ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            heap_gb = min(8, ram // (8 * 1024**3))
            # On small machines (<16 GiB) the stock 1g default is the
            # right call — autosizing up would overcommit the box.
            if heap_gb >= 2 and not loaded.contains("spark.driver.memory"):
                conf.setdefault("spark.driver.memory", f"{heap_gb}g")
        except (ValueError, OSError):  # pragma: no cover - exotic OS
            pass
        user_opts = loaded.get("spark.driver.extraJavaOptions", "")
        if "ReservedCodeCacheSize" not in user_opts:
            conf.setdefault(
                "spark.driver.extraJavaOptions",
                (
                    user_opts
                    + " -XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing"
                ).strip(),
            )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-tunable engine defaults to an existing session.

    Used by the query registry: the correctness driver owns the session,
    so we set only SQLConf keys (all safely settable at runtime).
    """
    for k, v in _RUNTIME_TUNABLE.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A handful of sql configs can be static depending on build;
            # never fail a query over a tuning knob.
            pass
    return spark
