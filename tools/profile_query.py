#!/usr/bin/env python
"""Per-query profiling harness (optimization guide §1): run named
registered queries through the noop sink in a bench-identical session
and report, per query, wall seconds plus job/stage/task counts: jobs
by the DAG scheduler's job-id watermark, stages and tasks of those
jobs from the live AppStatusStore — the local-mode stand-in for the
Spark UI's Jobs/Stages tabs (spark.ui.enabled=false here).

Usage:
    python tools/profile_query.py q1 q2 ...      # profile these queries
    python tools/profile_query.py --top N        # N slowest from BENCH_DETAIL.json

Output: one JSON line per query to stdout (and a human table to stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.job_profile import _next_job_id  # noqa: E402


def _layers(spark, lo: int, hi: int) -> dict:
    """Jobs, stages and tasks of the jobs with ids in [lo, hi). The job
    count is exact; stages and tasks come from the status store, which
    is waited on (briefly) until it holds every job of the range."""
    store = spark.sparkContext._jsc.sc().statusStore()
    deadline = time.monotonic() + 5.0
    while True:
        jobs = store.jobsList(None)
        mine = [
            j for j in (jobs.apply(i) for i in range(jobs.size()))
            if lo <= j.jobId() < hi
        ]
        done = all(j.completionTime().isDefined() for j in mine)
        if (len(mine) == hi - lo and done) or time.monotonic() > deadline:
            break
        time.sleep(0.05)
    return {
        "jobs": hi - lo,
        "stages": sum(j.stageIds().size() for j in mine),
        "tasks": sum(j.numCompletedTasks() for j in mine),
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("queries", nargs="*")
    parser.add_argument("--top", type=int, default=0)
    parser.add_argument("--repeat", type=int, default=1)
    args = parser.parse_args()

    names = list(args.queries)
    if args.top:
        detail = json.load(
            open(os.path.join(os.path.dirname(__file__), "..", "BENCH_DETAIL.json"))
        )
        ranked = sorted(detail["queries"].items(), key=lambda kv: -kv[1])
        names.extend(n for n, _ in ranked[: args.top] if n not in names)
    if not names:
        parser.error("no queries given")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from full_docker_etl_spark.registry import all_specs
    from full_docker_etl_spark.session import default_parallelism, get_spark

    cpus = default_parallelism()
    spark = get_spark(app_name="profile", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_specs()

    # bench-identical warm-up
    from full_docker_etl_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    specs["global_count"].fn(spark, sf_dir).count()

    def _prime(it):
        import zlib  # noqa: F401

        try:
            import lxml.etree  # noqa: F401
        except ImportError:
            pass
        yield from it

    spark.range(cpus, numPartitions=cpus).mapInPandas(_prime, "id long").count()
    from pyspark.sql import Window
    from pyspark.sql import functions as F

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

    rows = []
    for name in names:
        for rep in range(args.repeat):
            lo = _next_job_id(spark)
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
            layers = _layers(spark, lo, _next_job_id(spark))
            spark.catalog.clearCache()
            try:
                for jrdd in (
                    spark.sparkContext._jsc.getPersistentRDDs().values()
                ):
                    jrdd.unpersist(False)
            except Exception:
                pass
            row = {
                "query": name,
                "rep": rep,
                "wall_sec": round(wall, 3),
                **layers,
            }
            rows.append(row)
            print(json.dumps(row), flush=True)
            print(
                f"{name:45s} rep{rep} {wall:7.2f}s  jobs={row['jobs']:4d} "
                f"stages={row['stages']:5d} tasks={row['tasks']:6d}",
                file=sys.stderr,
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
