#!/usr/bin/env python
"""Per-query, per-job profile of registered queries (optimization guide
§1/§7 without a UI): run each named query through the noop sink in
bench.py's session, warm-up and between-query sweep (all from
``full_docker_etl_spark.harness``) and report, per rep, the wall
seconds, the job/stage/task totals and one row per Spark job the rep
launched — the ids between the DAG scheduler's job-id watermarks taken
around it — with submission time, duration, stages, tasks,
description and job group from the AppStatusStore, the stand-in for
the Spark UI's Jobs tab (engine sessions run with spark.ui.enabled
false).
This is how a query of 100+ sequential small jobs (store protocols, CC
loops) gets its wall attributed to phases, and a slow rep to a job or
to the gaps between jobs.

Usage:
    python tools/profile_query.py q1 q2 ... [--repeat N]
    python tools/profile_query.py --top N   # N slowest in BENCH_DETAIL.json

Output: one JSON line per rep to stdout, with the job rows under
``job_rows`` (and a human table to stderr).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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

    from full_docker_etl_spark import harness

    spark = harness.session("profile")
    harness.warm_up(spark, sf_dir)
    for name in names:
        for rep in range(args.repeat):
            lo = harness.job_watermark(spark)
            wall = harness.run_one(spark, name, sf_dir)
            hi = harness.job_watermark(spark)
            rows = harness.job_rows(spark, lo, hi)
            harness.sweep(spark)
            line = {
                "query": name,
                "rep": rep,
                "wall_sec": round(wall, 3),
                "jobs": hi - lo,
                "stages": sum(r["stages"] for r in rows),
                "tasks": sum(r["tasks"] for r in rows),
                "job_rows": rows,
            }
            print(json.dumps(line), flush=True)
            busy = sum(r["dur_ms"] or 0 for r in rows) / 1000
            print(
                f"== {name} rep{rep}: wall {wall:.2f}s, jobs={line['jobs']} "
                f"stages={line['stages']} tasks={line['tasks']}, "
                f"sum(job dur) {busy:.2f}s",
                file=sys.stderr,
            )
            t_base = rows[0]["t_sub_ms"] if rows else 0
            for r in rows:
                rel = (r["t_sub_ms"] - t_base) / 1000 if r["t_sub_ms"] else 0
                print(
                    f"  j{r['job']:5d} +{rel:7.2f}s "
                    f"{(r['dur_ms'] or 0) / 1000:7.2f}s stages={r['stages']:3d} "
                    f"tasks={r['tasks']:5d} {r['desc'] or ''} {r['group'] or ''}",
                    file=sys.stderr,
                )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
