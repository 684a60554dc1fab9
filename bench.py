#!/usr/bin/env python
"""Benchmark harness: run every registered query at the target scale
factor and print ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>}

Env:
    SPARK_GRAFT_SF_DIR        parquet dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS          local[] core count (default: all)
    BENCH_QUERIES             comma-separated subset (default: all)
    SPARK_GRAFT_BENCH_DETAIL  detail-file path (same as --out)

The full per-query detail file defaults to the system temp dir
(``--out``/env override) so a routine or driver-initiated bench run
never dirties the repo working tree — committing a refreshed
BENCH_DETAIL.json is a deliberate act:
``python bench.py --out BENCH_DETAIL.json``.

Each query is fully materialized via the noop sink (count() can skip
work for wide results; noop writes every row). Timing excludes session
startup; first a warm-up query primes the JVM/code cache.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import sys
import tempfile
import time


# Thresholds + snapshot live in the package (ADVICE r17: a generically
# named top-level module is silently shadowable); re-exported here for
# existing importers (tests, tooling invoked as `from bench import …`).
from full_docker_etl_spark.contention import (  # noqa: F401
    CONTENTION_LOAD_PER_CORE,
    CONTENTION_PSI_AVG60,
    host_snapshot,
    is_contended,
)


def bless_gate(snap: dict, out: str, force: bool = False) -> None:
    """REFUSE to bless a contaminated measurement: an explicit
    ``--out`` (anything but the temp-dir default) is the deliberate
    act of producing a commit-grade BENCH_DETAIL, and a run that
    STARTS on a contended host (see :func:`is_contended`) cannot be
    one — the r14-r16 rounds each spent a SCALE.md narrative
    adjudicating exactly this class after the fact. Fails fast,
    before the session spins up, so the operator loses seconds, not
    the full run. ``--force`` records the measurement anyway (the
    artifact still carries the host field for bench_compare's
    auto-label). Driver/default runs (temp-dir out) are never gated —
    their artifacts are adjudicated downstream by the recorded
    field."""
    if force or out == default_detail_path() or not is_contended(snap):
        return
    raise SystemExit(
        f"bench: REFUSING to bless a contended run: start host snapshot "
        f"{snap} exceeds thresholds (loadavg_1m > "
        f"{CONTENTION_LOAD_PER_CORE}/core or psi_cpu_some_avg60 > "
        f"{CONTENTION_PSI_AVG60}). Re-run on a quiet host, or pass "
        "--force to record it anyway."
    )


def default_detail_path() -> str:
    """Default detail-file location: OUTSIDE the repo (system temp dir)
    unless SPARK_GRAFT_BENCH_DETAIL says otherwise, so that a driver- or
    debug-initiated bench run can never leave a judged tree dirty."""
    return os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(tempfile.gettempdir(), "BENCH_DETAIL.json"),
    )


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument(
        "--out",
        default=default_detail_path(),
        help="path for the full per-query detail JSON (default: system "
        "temp dir, so bench runs never dirty the repo tree)",
    )
    parser.add_argument(
        "--force",
        action="store_true",
        help="measure even when the start host snapshot shows "
        "contention (the artifact still records the host field)",
    )
    args = parser.parse_args()

    # The START snapshot is taken before the session exists, so it is
    # purely the SESSION'S pre-existing load — none of it ours — and
    # the bless gate can fail fast instead of after a 4-minute run.
    host_start = host_snapshot()
    bless_gate(host_start, args.out, args.force)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from full_docker_etl_spark.registry import all_specs
    from full_docker_etl_spark.session import default_parallelism, get_spark

    cpus = default_parallelism()
    spark = get_spark(app_name="bench", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_specs()
    subset = os.environ.get("BENCH_QUERIES")
    names = (
        [n.strip() for n in subset.split(",") if n.strip()]
        if subset
        else sorted(specs)
    )

    # warm-up: prime JVM, codegen caches, and the file index of every
    # table (first touch of a parquet path builds an InMemoryFileIndex —
    # a per-session cost, not a per-query one)
    from full_docker_etl_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    specs["global_count"].fn(spark, sf_dir).count()
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

    def _anchor_sec() -> float:
        # environment-drift anchor: one fixed cheap query, timed AFTER
        # warm-up at bench start and again at bench end. Cross-round
        # comparisons (tools/bench_compare.py) divide per-query ratios
        # by the anchor ratio to normalize out session-wide drift
        # (CPU contention, JIT state) instead of adjudicating flags by
        # hand. Not part of `timings` — the registry's own
        # global_count row stays an independent measurement.
        # Median of 3 draws: a single sub-second sample is too noisy to
        # scale a flag decision multiplicatively (ADVICE r13).
        draws = []
        for _ in range(3):
            t0 = time.perf_counter()
            specs["global_count"].fn(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
            draws.append(time.perf_counter() - t0)
        return round(statistics.median(draws), 4)

    def _anchor_cpu_sec() -> float:
        # Second drift anchor, CPU/shuffle-SHAPED: a fixed synthetic
        # aggregate (range → groupBy → percentile + count_distinct →
        # noop) that exercises exchange + hash aggregation + codegen —
        # the cost profile of the registry's heavy queries. Measured
        # round 14: a host-level evening slowdown moved shuffle-heavy
        # queries 1.5-2x while the scan-shaped global_count anchor
        # stayed flat (a cached-file-index count barely touches the
        # degraded path), so normalizing by the scan anchor alone
        # produced false flags. Data-independent by construction;
        # median of 3 like the scan anchor.
        draws = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(1_000_000, numPartitions=cpus).selectExpr(
                "id % 1024 AS k", "CAST(id AS DOUBLE) AS v"
            ).groupBy("k").agg(
                F.expr("percentile(v, 0.5)"), F.count_distinct("v")
            ).write.format("noop").mode("overwrite").save()
            draws.append(time.perf_counter() - t0)
        return round(statistics.median(draws), 4)

    # host_start stays the PRE-SESSION snapshot taken before the gate
    # (top of main): by this point the warm-up has been loading all
    # cores for a minute and a fresh loadavg_1m would read as OUR OWN
    # pressure — the r17 run that motivated this recorded start 3.61
    # on a host that was at 0.86 when the process launched, which
    # bench_compare's auto-label would then (wrongly) call a
    # pre-contended session.
    anchor_start = _anchor_sec()
    anchor_cpu_start = _anchor_cpu_sec()

    timings: dict[str, float] = {}
    for name in names:
        # label the query's jobs (optimization guide §1.5) so event
        # logs / status-store dumps attribute work to the query; the
        # description is thread-local and costs nothing in the timed
        # region
        spark.sparkContext.setJobDescription(f"bench:{name}")
        t0 = time.perf_counter()
        try:
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # a failing query must not kill the bench
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = -1.0
        finally:
            spark.sparkContext.setJobDescription(None)
        # Operators cache intra-query intermediates (shingle tables,
        # LSH signatures) and never unpersist — across 78 queries the
        # accumulated cache pressures the JVM and skews late queries.
        # Clear between queries so each is measured cold-cache and
        # independent of its position in the run order.
        spark.catalog.clearCache()
        # clearCache only reaches CacheManager entries (df.cache());
        # localCheckpoint blocks from iterative operators (CC rounds,
        # k-means) live as persisted RDDs outside it and were the r4
        # late-query contamination — sweep them too. Safe between
        # queries: results are fully materialized by the noop write.
        try:
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist(False)
        except Exception:
            pass

    anchor_end = _anchor_sec()
    anchor_cpu_end = _anchor_cpu_sec()
    host_end = host_snapshot()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    anchor = {
        "query": "global_count",
        "start_sec": anchor_start,
        "end_sec": anchor_end,
        "cpu_start_sec": anchor_cpu_start,
        "cpu_end_sec": anchor_cpu_end,
    }
    # host contention at run boundaries (load average + PSI CPU
    # stalls): the recorded basis for calling a run's session
    # contaminated, instead of a post-hoc narrative
    host = {"start": host_start, "end": host_end}
    # the anchor rides the detail file (the stdout line below drops it
    # to fit more queries), where bench_compare reads it to normalize
    # a run for host drift (VERDICT r13 #4: raw 1.058 vs anchored 1.010
    # was the divergence this kills)
    base = {
        "metric": "total_wall_sec_all_queries",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(timings),
        "anchor": anchor,
        "host": host,
    }

    # Full per-query detail goes to the --out path (default: system temp
    # dir — the driver's post-commit bench run must not dirty a judged
    # tree; committing BENCH_DETAIL.json is a deliberate `--out` act);
    # stdout gets ONE compact line that must survive the driver's
    # 2000-char stdout tail (round 2's full-dict line overflowed it and
    # parsed as null). Slowest queries first; truncate if needed.
    # A BENCH_QUERIES-subset run writes the detail ONLY to an EXPLICIT
    # --out (never the default path — a subset debug run must not
    # clobber the judged full-suite evidence with a partial total under
    # the same metric name); the subset detail records which queries
    # ran so tooling reading it (bench_compare's A/B) gets complete,
    # untruncated timings without parsing the capped stdout line.
    if not subset or args.out != default_detail_path():
        detail = {**base, "queries": timings}
        if subset:
            detail["subset"] = names
        with open(args.out, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
        print(f"bench: detail written to {args.out}", file=sys.stderr)

    ordered = sorted(timings.items(), key=lambda kv: -kv[1])
    # stdout-line timings round to 0.1 s (VERDICT r18 #7: the 1800-char
    # cap made ~140/191 queries invisible to the driver's
    # round-over-round comparison; at 0.1 s the rounding error is far
    # inside the single-draw noise envelope). Failed queries keep -1.0.
    shown = [(n, round(t, 1) if t >= 0 else t) for n, t in ordered]
    # the stdout line drops the anchor/host sub-objects (~370 chars —
    # they stay in the detail file verbatim, where bench_compare reads
    # them) so roughly 2x more queries survive the cap; same
    # metric/value/unit/sf/cpus/n_queries fields as every prior round
    slim = {k: v for k, v in base.items() if k not in ("anchor", "host")}
    # the empty-queries line is the guaranteed-to-fit fallback: it must
    # win BOTH when timings is empty and when the truncation loop
    # drains shown without ever fitting (a drained loop must not leave
    # the last oversized candidate in `line`)
    line = json.dumps({**slim, "queries": {}, "omitted": len(timings)},
                      separators=(",", ":"))
    while shown:
        cand = json.dumps(
            {**slim, "queries": dict(shown),
             "omitted": len(timings) - len(shown)},
            separators=(",", ":"),
        )
        if len(cand) <= 1800:
            line = cand
            break
        shown.pop()  # drop the fastest remaining entry
    print(line)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
