"""Tests for the repo-level tooling contracts: bench_compare's
headline arithmetic (ADVICE r12: median must be a true median and the
printed N must match the ratio sample) and its drift-anchor
normalization (VERDICT r12 #7)."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCRIPT = REPO / "tools" / "bench_compare.py"


def _run(old: dict, new: dict, tmp: Path) -> tuple[str, int]:
    a, b = tmp / "old.json", tmp / "new.json"
    a.write_text(json.dumps(old))
    b.write_text(json.dumps(new))
    res = subprocess.run(
        [sys.executable, str(SCRIPT), str(a), str(b)],
        capture_output=True, text=True, cwd=REPO,
    )
    # 0 = clean compare, 1 = flagged/degenerate; anything else is a
    # crash — surface the traceback instead of an opaque stdout assert
    assert res.returncode in (0, 1), res.stderr
    return res.stdout, res.returncode


def test_bench_compare_true_median_and_sample_count(tmp_path):
    """Even-length ratio lists take the true (interpolated) median, and
    the headline N counts only entries that produced a ratio —
    zero-baseline rows are excluded AND called out."""
    old = {"queries": {"a": 1.0, "b": 1.0, "c": 1.0, "d": 1.0, "z": 0.0}}
    new = {"queries": {"a": 1.0, "b": 2.0, "c": 3.0, "d": 4.0, "z": 5.0}}
    out, _rc = _run(old, new, tmp_path)
    # ratios 1,2,3,4 -> true median 2.5 (upper-middle would say 3.0)
    assert "median per-query ratio 2.500" in out
    assert "4 shared queries (1 zero-baseline excluded)" in out


def test_bench_compare_anchor_normalizes_drift(tmp_path):
    """When both artifacts carry the drift anchor, the normalized
    median divides out the anchor ratio — a uniform 2x environment
    slowdown reads as 1.000 normalized."""
    old = {
        "queries": {"a": 1.0, "b": 2.0},
        "anchor": {"query": "global_count", "start_sec": 0.1,
                   "end_sec": 0.1},
    }
    new = {
        "queries": {"a": 2.0, "b": 4.0},
        "anchor": {"query": "global_count", "start_sec": 0.2,
                   "end_sec": 0.2},
    }
    out, rc = _run(old, new, tmp_path)
    assert "median per-query ratio 2.000" in out
    assert "anchor drift 2.000" in out
    assert "drift-normalized median 1.000" in out
    # the FLAG decision (and exit code) must consume the anchor too: a
    # uniform 2x environment slowdown is NOT a regression
    assert "FLAG" not in out and rc == 0


def test_bench_compare_driver_artifact_shape_no_anchor(tmp_path):
    """Pre-r14 driver BENCH_r{N}.json artifacts nest timings under
    parsed.queries and carry no anchor — both must parse, and the
    anchor line must not print."""
    old = {"parsed": {"queries": {"a": 1.0}}}
    new = {"queries": {"a": 1.5},
           "anchor": {"query": "g", "start_sec": 0.1, "end_sec": 0.1}}
    out, _rc = _run(old, new, tmp_path)
    assert "1 shared queries" in out
    assert "anchor drift" not in out  # needs BOTH sides


def test_bench_compare_warns_when_an_artifact_has_no_anchor(tmp_path):
    """A stdout-only artifact carries no drift anchor, so the compare
    cannot normalize: it must say so instead of silently printing raw
    ratios. Two anchored artifacts print no warning."""
    anchored = {"queries": {"a": 1.0},
                "anchor": {"query": "g", "start_sec": 0.1, "end_sec": 0.1}}
    stdout_only = {"parsed": {"queries": {"a": 1.2}}}
    out, _rc = _run(anchored, stdout_only, tmp_path)
    assert "warning: new artifact" in out and "no drift anchor" in out
    assert "warning: old artifact" not in out
    out, _rc = _run(stdout_only, anchored, tmp_path)
    assert "warning: old artifact" in out
    out, _rc = _run(anchored, anchored, tmp_path)
    assert "warning" not in out


def test_bench_compare_labels_cross_core_comparisons(tmp_path):
    """Per-query walls at different core counts are not comparable, so
    the compare says so above the ratios: a detail file's top-level
    ``cpus`` and a driver artifact's ``parsed.cpus`` both count, an
    artifact without one is labelled unknown, and two artifacts at one
    core count print no label."""
    c32 = {"cpus": 32, "queries": {"a": 1.0}}
    c4 = {"parsed": {"cpus": 4, "queries": {"a": 1.2}}}
    bare = {"queries": {"a": 1.1}}
    out, _rc = _run(c32, c4, tmp_path)
    assert "** CROSS-CORE (old 32 cpus, new 4 cpus) **" in out
    assert out.index("CROSS-CORE") < out.index("median per-query ratio")
    out, _rc = _run(bare, c4, tmp_path)
    assert "** CROSS-CORE (old unknown cpus, new 4 cpus) **" in out
    out, _rc = _run(c4, {"cpus": 4, "queries": {"a": 1.0}}, tmp_path)
    assert "CROSS-CORE" not in out


def test_bench_compare_driver_artifact_anchor_under_parsed(tmp_path):
    """From r14 the bench stdout line carries the anchor, so driver
    artifacts expose it under ``parsed`` — bench_compare must find it
    there and drift-normalize driver-to-driver comparisons too
    (VERDICT r13 #4)."""
    old = {"parsed": {
        "queries": {"a": 1.0, "b": 2.0},
        "anchor": {"query": "g", "start_sec": 0.1, "end_sec": 0.1},
    }}
    new = {"parsed": {
        "queries": {"a": 2.0, "b": 4.0},
        "anchor": {"query": "g", "start_sec": 0.2, "end_sec": 0.2},
    }}
    out, rc = _run(old, new, tmp_path)
    assert "anchor drift 2.000" in out
    assert "drift-normalized median 1.000" in out
    assert rc == 0


def test_bench_compare_anomalous_gradient_falls_back_to_raw(tmp_path):
    """Every healthy run has a systematic warm-up gradient (end draw
    ~2x faster than start), so intra-run start/end agreement is NOT
    the stability test — but when the two runs' GRADIENTS diverge
    >1.5x, one session was anomalous and normalization is discarded
    (ADVICE r13 recast cross-artifact: a noisy anchor must not scale
    the flag decision)."""
    old = {"queries": {"a": 1.0},
           "anchor": {"query": "g", "start_sec": 0.2, "end_sec": 0.1}}
    new = {"queries": {"a": 1.2},
           "anchor": {"query": "g", "start_sec": 0.1, "end_sec": 0.4}}
    out, rc = _run(old, new, tmp_path)
    assert "anchor gradients diverge" in out
    assert "anchor drift" not in out
    assert "median per-query ratio 1.200" in out and rc == 0


def test_bench_compare_shared_warmup_gradient_still_normalizes(tmp_path):
    """Two runs with the SAME ~2x warm-up gradient (the normal case —
    r13's committed anchor was 0.256 -> 0.116) must still normalize by
    the mean ratio: a uniform 2x environment slowdown reads as 1.000
    and never flags."""
    old = {"queries": {"a": 1.0, "b": 2.0},
           "anchor": {"query": "g", "start_sec": 0.2, "end_sec": 0.1}}
    new = {"queries": {"a": 2.0, "b": 4.0},
           "anchor": {"query": "g", "start_sec": 0.4, "end_sec": 0.2}}
    out, rc = _run(old, new, tmp_path)
    assert "anchor drift 2.000" in out
    assert "drift-normalized median 1.000" in out
    assert "FLAG" not in out and rc == 0


def test_bench_compare_prefers_cpu_anchor_when_both_sides_have_it(tmp_path):
    """The scan anchor under-tracks host slowdowns that hit the
    shuffle path (r14: heavy queries moved 1.5-2x while global_count
    stayed flat), so when BOTH artifacts carry the cpu/shuffle-shaped
    anchor pair it must drive the normalization; scan-only artifacts
    keep working."""
    old = {"queries": {"a": 1.0},
           "anchor": {"query": "g", "start_sec": 0.1, "end_sec": 0.1,
                      "cpu_start_sec": 0.5, "cpu_end_sec": 0.5}}
    new = {"queries": {"a": 2.0},
           "anchor": {"query": "g", "start_sec": 0.1, "end_sec": 0.1,
                      "cpu_start_sec": 1.0, "cpu_end_sec": 1.0}}
    out, rc = _run(old, new, tmp_path)
    # cpu anchor doubled while scan stayed flat: drift must read 2.0
    assert "anchor drift 2.000 (cpu anchor" in out
    assert "drift-normalized median 1.000" in out and rc == 0
    # one side lacking the cpu pair falls back to the scan anchor
    del old["anchor"]["cpu_start_sec"], old["anchor"]["cpu_end_sec"]
    out, _rc = _run(old, new, tmp_path)
    assert "(scan anchor" in out


def test_bench_default_detail_path_outside_repo(monkeypatch):
    """bench.py's default detail path must live outside the repo so a
    driver-initiated bench run never dirties a judged tree (VERDICT
    r13 #2); the env override must win when set."""
    sys.path.insert(0, str(REPO))
    try:
        import bench
    finally:
        sys.path.remove(str(REPO))
    monkeypatch.delenv("SPARK_GRAFT_BENCH_DETAIL", raising=False)
    default = Path(bench.default_detail_path()).resolve()
    assert REPO.resolve() not in default.parents
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", "/x/y.json")
    assert bench.default_detail_path() == "/x/y.json"


def test_bench_compare_flags_only_past_normalized_envelope(tmp_path):
    """A real regression (one query 3x slower while the anchor is
    flat) still flags and exits 1; zero-baseline rows never appear in
    the movers/regressions lists."""
    old = {
        "queries": {"a": 2.0, "b": 2.0, "z": 0.0},
        "anchor": {"query": "g", "start_sec": 0.1, "end_sec": 0.1},
    }
    new = {
        "queries": {"a": 6.0, "b": 2.0, "z": 9.0},
        "anchor": {"query": "g", "start_sec": 0.1, "end_sec": 0.1},
    }
    out, rc = _run(old, new, tmp_path)
    assert rc == 1 and "FLAG" in out
    assert "a   " in out.split("FLAG")[1]
    # z (zero-baseline) is excluded everywhere, not just the headline
    assert "z   " not in out


def test_bench_compare_prints_host_context(tmp_path):
    """r16+ artifacts carry loadavg/PSI snapshots at run boundaries;
    the compare prints them as recorded contention context and (r17)
    auto-judges the START snapshot against bench.py's shared
    thresholds — only the start, because a saturating bench generates
    PSI of its own. Pre-r16 artifacts without the field stay silent."""
    old = {"queries": {"a": 1.0}}
    new = {
        "queries": {"a": 2.0},
        "host": {
            "start": {"loadavg_1m": 7.5, "psi_cpu_some_avg60": 0.4},
            "end": {"loadavg_1m": 1.0},
        },
    }
    out, _rc = _run(old, new, tmp_path)
    assert "host[new]: start(load 7.5 psi 0.4) -> end(load 1.0)" in out
    assert "CONTAMINATED" in out
    assert "host[old]" not in out


def test_bench_compare_auto_labels_contaminated_flags(tmp_path):
    """Flags raised against a run whose recorded host field shows a
    pre-contended session are auto-labeled host-drift class (VERDICT
    r16 #6) — the exit code still demands a clean re-measure, but the
    adjudication the r14-r16 rounds made by narrative is now
    mechanical. A clean-host run keeps the plain flag wording."""
    old = {"queries": {"a": 2.0, "b": 2.0}}
    new_contended = {
        "queries": {"a": 9.0, "b": 2.0},
        "host": {"start": {"loadavg_1m": 10.8,
                           "psi_cpu_some_avg60": 0.82}},
    }
    out, rc = _run(old, new_contended, tmp_path)
    assert rc == 1
    assert "host-drift class by recorded field" in out
    assert "the new run started contended" in out

    new_clean = {
        "queries": {"a": 9.0, "b": 2.0},
        "host": {"start": {"loadavg_1m": 0.5,
                           "psi_cpu_some_avg60": 0.02}},
    }
    out, rc = _run(old, new_clean, tmp_path)
    assert rc == 1 and "FLAG" in out
    assert "host-drift class" not in out


def test_next_window_plan_next_simulation():
    """--plan-next simulates the current window's driver stamps and
    prints the FOLLOWING round's window (the registry plan-comment
    arithmetic, automated): the lead must contain no pinned rows and
    no row from the current window (those were just stamped — the
    entire point of rotation), and lead + pinned must fill the
    window."""
    import re
    import subprocess

    res = subprocess.run(
        [sys.executable, str(REPO / "tools" / "next_window.py"),
         "--plan-next"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert res.returncode == 0, res.stderr
    m = re.search(r"window = (\d+) lead rows \+ (\d+) pinned", res.stdout)
    assert m and int(m.group(1)) + int(m.group(2)) == 50
    lead = re.findall(r"^#   (\S+) \(r", res.stdout, re.M)
    assert len(lead) == int(m.group(1))
    sys.path.insert(0, str(REPO))
    try:
        from full_docker_etl_spark.registry import _SAMPLE_ORDER
    finally:
        sys.path.remove(str(REPO))
    current = set(_SAMPLE_ORDER[:50])
    assert not (set(lead) & current)
    assert not any(
        n.endswith(("_recall", "_consistency", "_verdict")) for n in lead
    )


def test_bench_contention_gate(monkeypatch):
    """The bless gate (VERDICT r16 #6): an explicit --out run on a
    pre-contended host must refuse fast; the temp-default (driver)
    path and --force always proceed; missing host fields read as
    not-contended."""
    import pytest

    sys.path.insert(0, str(REPO))
    try:
        import bench
    finally:
        sys.path.remove(str(REPO))
    monkeypatch.delenv("SPARK_GRAFT_BENCH_DETAIL", raising=False)
    from full_docker_etl_spark import contention as C

    assert not bench.is_contended({})
    assert not bench.is_contended(
        {"loadavg_1m": 0.72, "psi_cpu_some_avg60": 0.05}
    )
    # a load figure is judged against the core count recorded with it
    # (the 32-core calibration host here)
    assert bench.is_contended({"loadavg_1m": 10.84, "cpus": 32})
    assert bench.is_contended({"psi_cpu_some_avg60": 0.82})

    # the steal counter is adjudication evidence, not a gate input:
    # it must ride the snapshot (cumulative ticks, so START→END delta
    # in an artifact is the run's stolen core-time) without ever
    # flipping is_contended — steal bursts are judged by the recorded
    # delta, a point-in-time counter value means nothing
    import os.path

    snap = C.host_snapshot()
    # gate on the same condition host_snapshot uses: the aggregate cpu
    # line must actually carry a steal column (>8 fields) — a kernel
    # without it legitimately omits the key (ADVICE r18)
    has_steal_col = False
    if os.path.exists("/proc/stat"):
        with open("/proc/stat") as fh:
            first = fh.readline().split()
        has_steal_col = bool(first) and first[0] == "cpu" and len(first) > 8
    if has_steal_col:
        assert isinstance(snap.get("cpu_steal_ticks"), int)
        assert snap["cpu_steal_ticks"] >= 0
    assert not bench.is_contended(
        {"loadavg_1m": 0.5, "cpu_steal_ticks": 10**12}
    )

    hot = {"loadavg_1m": 10.84, "psi_cpu_some_avg60": 0.82}
    cold = {"loadavg_1m": 0.72, "psi_cpu_some_avg60": 0.02}
    # deliberate bless on a contended host: refuse, name the numbers
    with pytest.raises(SystemExit, match="REFUSING to bless"):
        bench.bless_gate(hot, "BENCH_DETAIL.json")
    # clean host, forced runs, and driver-default paths all proceed
    bench.bless_gate(cold, "BENCH_DETAIL.json")
    bench.bless_gate(hot, "BENCH_DETAIL.json", force=True)
    bench.bless_gate(hot, bench.default_detail_path())


def test_contention_load_threshold_scales_per_core(monkeypatch):
    """ADVICE r17: the load threshold is per-core, not absolute — the
    same loadavg that means a saturated 2-core host means a quiet
    64-core one. PSI stays absolute (kernel-normalized)."""
    from full_docker_etl_spark import contention as C

    assert not C.is_contended({"loadavg_1m": 1.9, "cpus": 32})  # < 2.0
    assert C.is_contended({"loadavg_1m": 2.1, "cpus": 32})
    assert C.is_contended({"loadavg_1m": 1.9, "cpus": 2})  # saturated
    assert not C.is_contended({"loadavg_1m": 0.1, "cpus": 2})
    # PSI threshold independent of core count
    assert C.is_contended({"psi_cpu_some_avg60": 0.25})
    assert not C.is_contended({"psi_cpu_some_avg60": 0.15})
    # a snapshot recorded elsewhere carries its own core count, and
    # that denominator BEATS the evaluating host's (cross-host
    # adjudication judges against the machine that produced the
    # number): 1.9 is clean for the 32-core recorder even though the
    # 2-core evaluator would call it contended, and vice versa
    monkeypatch.setattr(C.os, "cpu_count", lambda: 2)
    assert not C.is_contended({"loadavg_1m": 1.9, "cpus": 32})
    monkeypatch.setattr(C.os, "cpu_count", lambda: 32)
    assert C.is_contended({"loadavg_1m": 1.9, "cpus": 2})
    # host_snapshot stamps the denominator into new artifacts
    assert C.host_snapshot().get("cpus") == 32


def test_contention_without_recorded_cpus_judges_by_psi_alone(monkeypatch):
    """A snapshot that recorded no core count (pre-r18 artifacts,
    hand-made fixtures) is judged by PSI alone: its load average has no
    denominator, and the evaluating host's core count must not decide
    the verdict — the same snapshot reads the same on 1 core and on
    64."""
    from full_docker_etl_spark import contention as C

    for evaluating_cores in (1, 64):
        monkeypatch.setattr(C.os, "cpu_count", lambda n=evaluating_cores: n)
        assert not C.is_contended(
            {"loadavg_1m": 0.5, "psi_cpu_some_avg60": 0.02}
        )
        assert not C.is_contended({"loadavg_1m": 10.84})
        assert C.is_contended({"loadavg_1m": 0.5, "psi_cpu_some_avg60": 0.82})
        # a recorded count still judges the load, whatever the evaluator
        assert C.is_contended({"loadavg_1m": 0.5, "cpus": 4})
        assert not C.is_contended({"loadavg_1m": 0.5, "cpus": 64})


def _fake_session(retained: list, total: list):
    """A session whose status store lists ``retained`` jobs and whose DAG
    scheduler has handed out ``total[0]`` job ids."""
    from types import SimpleNamespace as NS

    store = NS(jobsList=lambda _: NS(
        size=lambda: len(retained), apply=lambda i: retained[i]
    ))
    sc = NS(
        statusStore=lambda: store,
        dagScheduler=lambda: NS(numTotalJobs=lambda: total[0]),
    )
    return NS(sparkContext=NS(_jsc=NS(sc=lambda: sc)))


def _fake_job(jid: int, stages: int, tasks: int):
    """A completed job submitted at ``1000 * jid`` ms that ran 7 ms."""
    from types import SimpleNamespace as NS

    def some(v):
        return NS(isDefined=lambda: True, get=lambda: v)

    return NS(
        jobId=lambda: jid,
        submissionTime=lambda: some(NS(getTime=lambda: 1000 * jid)),
        completionTime=lambda: some(NS(getTime=lambda: 1000 * jid + 7)),
        description=lambda: some(f"j{jid}"),
        jobGroup=lambda: NS(isDefined=lambda: False),
        numCompletedTasks=lambda: tasks,
        stageIds=lambda: NS(size=lambda: stages),
    )


def test_profile_query_counts_jobs_by_watermark_not_retained_list():
    """The harness's job reader, which the profile tool totals per rep,
    attributes to a query exactly the jobs whose ids lie between the
    scheduler watermarks taken around it: a status store that has
    evicted old jobs (its list is shorter than the job ids) or still
    holds earlier reps' jobs must not move the counts."""
    from full_docker_etl_spark.harness import job_rows

    # jobs 0-99 ran earlier; only 97-99 are retained; the query ran 100-102
    retained = [_fake_job(j, 1, 1) for j in (97, 98, 99)]
    retained += [_fake_job(100, 2, 4), _fake_job(101, 1, 3), _fake_job(102, 3, 8)]
    rows = job_rows(_fake_session(retained, [103]), 100, 103)
    totals = {
        "jobs": len(rows),
        "stages": sum(r["stages"] for r in rows),
        "tasks": sum(r["tasks"] for r in rows),
    }
    assert totals == {"jobs": 3, "stages": 6, "tasks": 15}


def test_job_profile_takes_rep_jobs_by_watermark_not_status_store():
    """A profiled rep starts at the DAG scheduler's job-id watermark,
    not at max job id + 1 from the status store: that store fills
    asynchronously (its newest jobs may not be there yet when the rep
    starts) and evicts old ones, so a rep gets exactly the jobs whose
    ids lie between the watermarks taken around it."""
    from full_docker_etl_spark.harness import job_rows, job_watermark

    # jobs 0-99 ran earlier (97-99 still retained); 100 and 101 were
    # submitted before the rep but have not reached the store yet; the
    # rep ran 102-104
    retained = [_fake_job(j, 1, 1) for j in (97, 98, 99)]
    total = [102]
    spark = _fake_session(retained, total)
    lo = job_watermark(spark)
    assert lo == 102
    retained += [_fake_job(100, 1, 1), _fake_job(101, 1, 1)]
    retained += [_fake_job(102, 1, 2), _fake_job(103, 1, 3), _fake_job(104, 1, 8)]
    total[0] = 105
    rows = job_rows(spark, lo, job_watermark(spark))
    assert [r["job"] for r in rows] == [102, 103, 104]
    assert [r["tasks"] for r in rows] == [2, 3, 8]
    assert rows[0]["dur_ms"] == 7 and rows[0]["desc"] == "j102"


def test_run_one_labels_every_job_and_sweep_releases_its_checkpoints(
    spark, sf_dir
):
    """Every job a measured query starts carries ``bench:<name>``, and
    the sweep after it releases the checkpoints the query pinned (its
    connected-components rounds), leaving the session's persisted RDDs
    as they were before the query."""
    from full_docker_etl_spark import harness

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    name = "dedup_components"
    harness.sweep(spark)
    baseline = persisted()
    lo = harness.job_watermark(spark)
    harness.run_one(spark, name, sf_dir)
    hi = harness.job_watermark(spark)
    assert hi > lo
    descs = [r["desc"] for r in harness.job_rows(spark, lo, hi)]
    assert descs == [f"bench:{name}"] * (hi - lo)
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None
    assert persisted() > baseline
    harness.sweep(spark)
    assert persisted() == baseline


def test_measurement_primitives_are_written_once_in_the_harness():
    """The job watermark, the status-store job reader and the
    persisted-RDD sweep exist once, in ``full_docker_etl_spark/harness.py``;
    ``perfbench/`` keeps its own as the benchmark's definition."""
    import os
    import re

    patterns = [
        r"\.numTotalJobs\(\)",
        r"\.statusStore\(\)",
        r"getPersistentRDDs\(\)\.values\(\)",
    ]
    found = {p: [] for p in patterns}
    for base, dirs, files in os.walk(REPO):
        dirs[:] = [
            d for d in dirs
            if not d.startswith(".") and not (
                Path(base) == REPO and d == "perfbench"
            )
        ]
        for f in files:
            if f.endswith(".py"):
                path = Path(base, f)
                text = path.read_text(encoding="utf-8")
                for p in patterns:
                    found[p] += [path.relative_to(REPO).as_posix()] * len(
                        re.findall(p, text)
                    )
    assert found == {p: ["full_docker_etl_spark/harness.py"] for p in patterns}


def test_bench_compare_adjudicate_labels_drift_vs_real(monkeypatch):
    """--adjudicate's verdict arithmetic: HEAD at-or-faster than the
    old commit in the same session = session-drift; HEAD slower past
    the tight envelope (>1.25x and >1 s) = REAL. The worktree and
    bench subprocesses are stubbed — this pins the labeling, not the
    plumbing."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_compare_mod", str(SCRIPT)
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    monkeypatch.setattr(
        mod.subprocess, "run", lambda *a, **k: type(
            "R", (), {"stdout": "", "returncode": 0}
        )()
    )
    sides = iter(
        [
            {"q_drift": 10.0, "q_real": 2.0, "q_gone": -1.0},   # old
            {"q_drift": 4.0, "q_real": 6.0, "q_gone": 1.0},     # HEAD
        ]
    )
    monkeypatch.setattr(
        mod, "_bench_subset", lambda repo, names: next(sides)
    )
    real = mod.adjudicate("deadbeef", ["q_drift", "q_real", "q_gone"])
    # q_gone produced no measurement on one side: NOT resolved — it
    # must survive alongside the real regression so the exit stays loud
    assert real == ["q_real", "q_gone"]
