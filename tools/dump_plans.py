#!/usr/bin/env python
"""Dump ``explain("formatted")`` for named registered queries to files.

Usage:
    python tools/dump_plans.py OUT_DIR SUFFIX q1 q2 ...

Writes ``OUT_DIR/<query>_<SUFFIX>.txt`` for each query. Runs in a
bench-identical session (same confs, same shuffle partitions) so the
captured plans are the ones the bench executes. Composite queries that
build stores eagerly inside their function DO run that work here; the
captured plan is the returned frame's — the query's serving shape.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir, suffix, *names = sys.argv[1:]
    os.makedirs(out_dir, exist_ok=True)

    from full_docker_etl_spark import harness
    from full_docker_etl_spark.registry import all_specs
    from full_docker_etl_spark.sources.catalog import register_views

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = harness.session("dump_plans")
    register_views(spark, sf_dir)

    specs = all_specs()
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}", file=sys.stderr)
        harness.sweep(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
