#!/usr/bin/env python3
"""spark-graft benchmark: closed-loop workloads with end-to-end metrics
and a traced mode for per-layer metrics.

One run::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0

measures one workload in this process and prints, as the last line of
standard output, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``.  The line before it is the run record (seed, engine cores,
host load at start and end, set-up time, failures).

All workloads, untraced and traced, with the tracing overhead::

    python3 perfbench/run.py --workload all --seed 1 --seconds 8

``--smoke`` runs on tiny inputs for a quick end-to-end check.  Inputs
are generated from the seed into ``.perfbench_run/`` at the checkout
root; every file the run writes stays there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import common  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s
SMOKE_SCALE = 0.001


class Run:
    """Paths, settings and the op log of one measured run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = (
            workload, seed, seconds, trace)
        self.cores = common.engine_cores()
        self.work = os.path.join(
            ROOT, ".perfbench_run", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"
        )
        self.data_dir = os.path.join(self.work, "data")
        self.tmp_dir = os.path.join(self.work, "tmp")
        self.tracer = common.Tracer(trace)
        self.ops: list[dict] = []
        self.timing = False  # inside the timed phase
        self.untimed_s = 0.0  # checks done inside the warm-up

    def timed_op_ids(self) -> set[int]:
        return {i for i, o in enumerate(self.ops) if o["timed"]}


def generate_inputs(run: Run, tables, scale: float) -> float:
    """Write the inputs in a child process, so the generator's memory
    never shows in the measured process tree.  Returns its wall time."""
    t0 = time.perf_counter()
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); import data; "
        "data.write_tables(sys.argv[2], tuple(sys.argv[4:]), float(sys.argv[3]))"
    )
    subprocess.run(
        [sys.executable, "-c", code, HERE, run.data_dir, str(scale), *tables],
        check=True,
    )
    return time.perf_counter() - t0


def measure(run: Run, smoke: bool) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    host_start = common.host_record()
    os.makedirs(run.work, exist_ok=True)
    common.engine_env(run.work, run.cores)
    wl = WORKLOADS[run.workload](run)
    if smoke:
        wl.scale = SMOKE_SCALE
    gen_s = generate_inputs(run, wl.tables, wl.scale)

    with common.RssSampler(os.getpid()) as rss:
        wl.setup()
        # process start to ready, less the input generation above
        setup_s = common.process_age_s() - gen_s

        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0 - run.untimed_s

        run.timing = True
        t0 = time.perf_counter()
        steps = 0
        while steps < wl.MIN_STEPS or time.perf_counter() - t0 < run.seconds:
            wl.step()
            steps += 1
        wall = time.perf_counter() - t0
        run.timing = False
    peak_rss = rss.peak

    wl.check()
    app_id = wl.spark.sparkContext.applicationId
    ops = [o for o in wl.query_ops() if o["timed"]]
    lat = [o["latency"] for o in ops]
    reads = wl.read_latencies()
    space_amp = wl.space_amp()
    if run.trace:
        layers = dict.fromkeys(common.PER_LAYER, 0.0)
        layers.update(wl.layer_metrics())
        common.shutdown_engine(wl.spark)
        log = common.read_event_log(common.event_log_file(run.work, app_id))
        layers.update(common.spark_layer_metrics(log, ops))
        tr = run.tracer
        layers["session.start_s"] = common.median(tr.durations("session.start"))
        layers["catalog.register_s"] = common.median(tr.durations("catalog.register"))
        layers["trace.ops_per_s"] = len(ops) / wall
        metrics = {k: {"value": float(v), "unit": common.PER_LAYER[k]}
                   for k, v in layers.items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_run", "traces"), exist_ok=True)
        trace_path = os.path.join(
            ROOT, ".perfbench_run", "traces", f"{run.workload}-s{run.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"spans": tr.spans, "ops": run.ops}, fh)
    else:
        common.shutdown_engine(wl.spark)
        values = {
            "setup_s": setup_s,
            "warmup_s": warmup_s,
            "ops_per_s": len(ops) / wall,
            "latency_p50_ms": 1000 * common.median(lat),
            "read_p50_ms": 1000 * common.median(reads),
            "space_amp": space_amp,
            "peak_rss_mb": peak_rss / 1e6,
        }
        metrics = {k: {"value": float(v), "unit": common.END_TO_END[k]}
                   for k, v in values.items()}

    attempted = len(run.ops)
    failed = min(attempted, len(wl.failures))
    record = {
        "workload": run.workload,
        "seed": run.seed,
        "trace": int(run.trace),
        "engine_cores": run.cores,
        "host_cpus": len(os.sched_getaffinity(0)),
        "host_start": host_start,
        "host_end": common.host_record(),
        "setup_s": setup_s,
        "input_generation_s": gen_s,
        "timed_wall_s": wall,
        "timed_ops": len(ops),
        # the highest percentile with ten samples beyond it, if any
        "latency_tail": common.tail_latency(lat),
        "latency_ms_by_kind": {
            k: [round(1000 * o["latency"], 1) for o in ops if o["kind"] == k]
            for k in sorted({o["kind"] for o in ops})
        },
        "timed_reads": len(reads),
        "error_ratio": failed / max(1, attempted),
        "failures": wl.failures[:20],
    }
    result = {
        "correct": failed == 0,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": metrics,
    }
    return record, result


def run_one(args) -> int:
    try:
        import full_docker_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}",
              file=sys.stderr)
        return 2

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    # a terminated run still stops the engine it started (finally below)
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    signal.alarm(DEADLINE_S)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        record, result = measure(run, args.smoke)
    finally:
        signal.alarm(0)
        from pyspark.sql import SparkSession

        common.shutdown_engine(SparkSession.getActiveSession())
        common.stop_descendants()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, in child processes; prints
    every metric with its unit and the tracing overhead."""
    from workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        results = {}
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)] + (["--smoke"] if args.smoke else [])
            out = subprocess.run(cmd, capture_output=True, text=True)
            if out.returncode != 0:
                print(out.stderr[-2000:], file=sys.stderr)
                return out.returncode
            results[trace] = json.loads(out.stdout.strip().splitlines()[-1])
            ok &= results[trace]["correct"]
        for trace, res in results.items():
            print(f"{name} trace={trace} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for metric, m in res["metrics"].items():
                print(f"  {name}/{metric} = {m['value']:.6g} {m['unit']}")
        traced = results[1]["metrics"]["trace.ops_per_s"]["value"]
        untraced = results[0]["metrics"]["ops_per_s"]["value"]
        print(f"  {name}/tracing_overhead_ops_per_s = {traced - untraced:.6g} 1/s"
              f" (traced {traced:.6g} - untraced {untraced:.6g})")
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True,
                    choices=["serve", "composite", "ingest", "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for a quick end-to-end check")
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
