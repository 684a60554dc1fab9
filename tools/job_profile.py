#!/usr/bin/env python
"""Per-JOB attribution for one registered query (optimization guide
§1/§7 without a UI): run the query through the noop sink in a
bench-identical session, then dump every Spark job it launched (the
ids between the DAG scheduler's job-id watermarks taken around each
rep) — submission time, duration, task count, description — from the
AppStatusStore. This is how a 130-sequential-small-jobs query
(store protocols, CC loops) gets its wall attributed to phases.

Usage:
    python tools/job_profile.py <query> [--repeat N]

Output: one JSON line per job to stdout (human table to stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _next_job_id(spark) -> int:
    """The id the next job will get, read synchronously from the DAG
    scheduler. The status store cannot give it: the listener bus fills
    it asynchronously, and it evicts jobs past spark.ui.retainedJobs, so
    neither its list size nor its max job id marks where a rep starts."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs())


def _rep_jobs(spark, lo: int, hi: int) -> list[dict]:
    """One row per job with id in [lo, hi), in id order, from the status
    store, which is waited on (briefly) until it holds every job of the
    range, completed."""
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
    rows = []
    for j in mine:
        sub = j.submissionTime()
        comp = j.completionTime()
        sub_ms = sub.get().getTime() if sub.isDefined() else None
        dur_ms = (
            comp.get().getTime() - sub_ms
            if comp.isDefined() and sub_ms is not None
            else None
        )
        desc = j.description()
        rows.append(
            {
                "job": j.jobId(),
                "t_sub_ms": sub_ms,
                "dur_ms": dur_ms,
                "tasks": j.numCompletedTasks(),
                "stages": j.stageIds().size(),
                "desc": desc.get() if desc.isDefined() else "",
            }
        )
    rows.sort(key=lambda r: r["job"])
    return rows


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("query")
    parser.add_argument("--repeat", type=int, default=1)
    args = parser.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from full_docker_etl_spark.registry import all_specs
    from full_docker_etl_spark.session import default_parallelism, get_spark

    cpus = default_parallelism()
    spark = get_spark(app_name="job_profile", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()

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

    spark.range(cpus, numPartitions=cpus).mapInPandas(
        _prime, "id long"
    ).count()

    for rep in range(args.repeat):
        before = _next_job_id(spark)
        t0 = time.perf_counter()
        df = specs[args.query].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        rows = _rep_jobs(spark, before, _next_job_id(spark))
        t_base = rows[0]["t_sub_ms"] if rows else 0
        busy = sum(r["dur_ms"] or 0 for r in rows)
        print(
            f"== {args.query} rep{rep}: wall {wall:.2f}s, "
            f"{len(rows)} jobs, sum(job dur) {busy/1000:.2f}s",
            file=sys.stderr,
        )
        for r in rows:
            rel = (r["t_sub_ms"] - t_base) / 1000 if r["t_sub_ms"] else 0
            print(
                f"  j{r['job']:5d} +{rel:7.2f}s {((r['dur_ms'] or 0)/1000):7.2f}s "
                f"tasks={r['tasks']:5d} {r['desc'][:90]}",
                file=sys.stderr,
            )
        print(
            json.dumps(
                {"query": args.query, "rep": rep, "wall_sec": round(wall, 3),
                 "jobs": rows}
            ),
            flush=True,
        )
        spark.catalog.clearCache()
        try:
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist(False)
        except Exception:
            pass
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
