"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The two smoke tests start the engine on tiny generated inputs and take
about a minute; the rest are fast."""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import data  # noqa: E402


def _spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_tables_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == common.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == common.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["serve", "composite", "ingest"]


def test_same_seed_same_request_stream():
    a = list(itertools.islice(data.serve_requests(7, 0.1), 60))
    b = list(itertools.islice(data.serve_requests(7, 0.1), 60))
    c = list(itertools.islice(data.serve_requests(8, 0.1), 60))
    assert a == b
    assert a != c
    # every block holds every kind once
    n = len(data.SERVE_KINDS)
    for i in range(0, 60 - n, n):
        assert sorted(k for k, _ in a[i:i + n]) == sorted(data.SERVE_KINDS)


def test_batches_mix_updates_inserts_and_tombstones_evenly():
    _, batch = next(data.ingest_batches(3, 0.01, 300))
    deleted = batch["_deleted"].to_pylist()
    assert deleted.count(True) == 100
    assert sum(k >= data.orders_table(0.01).num_rows
               for k in batch["o_orderkey"].to_pylist()) == 100


def test_same_seed_same_batches():
    a = list(itertools.islice(data.ingest_batches(3, 0.01, 100), 7))
    b = list(itertools.islice(data.ingest_batches(3, 0.01, 100), 7))
    c = list(itertools.islice(data.ingest_batches(4, 0.01, 100), 7))
    assert [s for s, _ in a] == [s for s, _ in b]
    assert all(x.equals(y) for (_, x), (_, y) in zip(a, b))
    assert not all(x.equals(y) for (_, x), (_, y) in zip(a, c))


def test_batches_touch_only_live_keys():
    base = data.orders_table(0.01)
    live = dict(zip(base["o_orderkey"].to_pylist(),
                    base["o_orderstatus"].to_pylist()))
    for status, batch in itertools.islice(data.ingest_batches(5, 0.01, 100), 9):
        rows = batch.to_pylist()
        keys = [r["o_orderkey"] for r in rows]
        assert len(set(keys)) == len(keys)
        for r in rows:
            assert r["o_orderstatus"] == status
            k = r["o_orderkey"]
            if k in live:
                assert live[k] == status  # updates and tombstones hit live rows
            else:
                assert not r["_deleted"]  # a new key is never a tombstone
            if r["_deleted"]:
                del live[k]
            else:
                live[k] = status


def test_same_dataset_every_run():
    assert data.documents_table(0.001).equals(data.documents_table(0.001))
    assert data.orders_table(0.001).equals(data.orders_table(0.001))


def test_peak_rss_sums_the_process_tree_from_proc():
    child = subprocess.Popen([
        sys.executable, "-c",
        "import time; b = bytearray(80 * 1024 * 1024); time.sleep(30)",
    ])
    try:
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            with open(f"/proc/{child.pid}/status") as fh:
                hwm = next(int(x.split()[1]) * 1024 for x in fh
                           if x.startswith("VmHWM:"))
            if hwm > 80 * 1024 * 1024:
                break
            time.sleep(0.1)
        assert child.pid in common.tree_pids(os.getpid())
        peaks = common.tree_peak_rss(os.getpid())
        assert peaks[child.pid] >= 80 * 1024 * 1024
        sampler = common.RssSampler(os.getpid())
        sampler.sample()
        assert sampler.peak == 0  # a process seen once is not counted
        sampler.sample()
        assert sampler.peak >= peaks[os.getpid()] + 80 * 1024 * 1024
    finally:
        child.kill()
        child.wait(timeout=10)


class _Obj:
    def __init__(self, **kw):
        self.__dict__.update(kw)


def test_watermark_is_the_schedulers_next_job_id():
    # 43 jobs submitted; the status store may hold only a few of them
    sc = _Obj(dagScheduler=lambda: _Obj(numTotalJobs=lambda: 43))
    spark = _Obj(sparkContext=_Obj(_jsc=_Obj(sc=lambda: sc)))
    assert common.job_watermark(spark) == 43


def test_watermark_counts_a_job_started_just_before_the_op_ends(tmp_path):
    """The watermark taken right after an op returns already covers the
    job the op started last, before the listener bus has told the status
    store about it."""
    code = (
        "import sys; sys.path[:0] = sys.argv[1:3]; import common\n"
        "common.engine_env(sys.argv[3], 1)\n"
        "spark = common.start_session(sys.argv[3], 1, False)\n"
        "spark.range(10).count()\n"
        "lo = common.job_watermark(spark)\n"
        "spark.range(10).count()  # the op's last act is a job\n"
        "hi = common.job_watermark(spark)\n"
        "print(lo, hi)\n"
        "common.shutdown_engine(spark)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, HERE, os.path.dirname(HERE), str(tmp_path)],
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lo, hi = map(int, out.stdout.split()[-2:])
    assert lo >= 1 and hi == lo + 1


def test_event_log_attribution_by_watermark(tmp_path):
    def ev(**kw):
        return json.dumps(kw, separators=(",", ":"))

    lines = [
        # job 0 belongs to no op; jobs 1-2 to op A; job 3 to op B
        ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 100,
                                             "Stage IDs": [0]}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 150}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 1000,
                                             "Stage IDs": [1, 2]}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1100}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 2, "Submission Time": 1050,
                                             "Stage IDs": [2, 3]}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 1200}),
        ev(Event="SparkListenerJobStart", **{"Job ID": 3, "Submission Time": 2000,
                                             "Stage IDs": [4]}),
        ev(Event="SparkListenerJobEnd", **{"Job ID": 3, "Completion Time": 2010}),
    ]
    for sid in (0, 1, 2, 3, 4):
        lines.append(ev(Event="SparkListenerStageCompleted",
                        **{"Stage Info": {"Stage ID": sid}}))
        for _ in range(2):
            lines.append(ev(Event="SparkListenerTaskEnd", **{
                "Stage ID": sid,
                "Task Metrics": {"Executor Run Time": 10,
                                 "Executor CPU Time": 5_000_000,
                                 "JVM GC Time": 1,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                                 "Disk Bytes Spilled": 0}}))
    path = tmp_path / "app"
    path.write_text("\n".join(lines) + "\n")
    log = common.read_event_log(str(path))
    ops = [{"t0": 0.9, "t1": 1.5, "wm_lo": 1, "wm_hi": 3},
           {"t0": 1.99, "t1": 2.1, "wm_lo": 3, "wm_hi": 4}]
    m = common.spark_layer_metrics(log, ops)
    assert m["spark.jobs_per_op"] == 1.5  # (2 + 1) / 2
    assert m["spark.stages_per_op"] == 2.0  # stages 1, 2, 3 and 4
    assert m["spark.tasks_per_op"] == 4.0
    assert m["spark.job_ms_per_op"] == (200 + 10) / 2  # union 1000-1200
    assert m["spark.outside_jobs_ms_per_op"] == pytest.approx((400 + 100) / 2)
    assert m["executor.run_ms_per_op"] == 40.0
    assert m["executor.cpu_ms_per_op"] == 20.0


def test_percentile_and_union():
    assert common.percentile(list(range(1, 101)), 50) == pytest.approx(50.5)
    assert common._union_ms([(0, 10), (5, 20), (30, 40)]) == 30


def test_disk_bytes_counts_hardlinks_once(tmp_path):
    (tmp_path / "a").write_bytes(b"x" * 1000)
    os.link(tmp_path / "a", tmp_path / "b")
    (tmp_path / "c").write_bytes(b"y" * 10)
    assert common.disk_bytes(str(tmp_path)) == 1010


@pytest.mark.parametrize("trace,table", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_prints_every_metric_with_its_unit(trace, table):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "ingest",
         "--seed", "3", "--seconds", "2", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(HERE),
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in _spec()[table]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, a run fails fast
    without printing a result."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=120, cwd=tmp_path,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
