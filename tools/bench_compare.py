#!/usr/bin/env python
"""Compare two bench artifacts query-by-query.

Accepts either shape the repo produces:
- ``BENCH_DETAIL.json`` (bench.py's full per-query detail), or
- ``BENCH_r{N}.json`` (the driver's record: per-query timings live
  under ``parsed.queries`` and cover only the stdout-visible tail).

Usage:
    python tools/bench_compare.py BENCH_r11.json BENCH_DETAIL.json
    python tools/bench_compare.py OLD.json NEW.json --adjudicate <commit>

Prints the shared-query median ratio (the round-over-round headline),
the biggest movers in both directions, and flags regressions that are
both large relative (>1.5x) and absolute (>1 s) — the threshold below
which the documented first-touch variance envelope (SCALE.md) makes
single draws uninformative.

``--adjudicate <old-commit>`` automates the session-drift A/B that
every flagged round (r12, r16, r17 — 18/18 flags each time) has run by
hand: check the old commit out into a temp worktree, bench EXACTLY the
flagged subset there, bench the same subset at HEAD minutes later in
the SAME session, and label each flag ``session-drift`` (HEAD is as
fast or faster than the old code under identical conditions) or
``REAL`` (HEAD is slower than the old code in the same session — the
only comparison that isolates code from environment). Prints a
paste-ready markdown block for SCALE.md. Exit code: 1 only if a REAL
flag survives."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# shared thresholds come from the PACKAGE module (ADVICE r17: the
# top-level bench.py is generically named and silently shadowable)
from full_docker_etl_spark.contention import is_contended  # noqa: E402


def load(
    path: str,
) -> tuple[dict[str, float], dict[str, tuple[float, float]], dict, int | None]:
    """Per-query timings plus the environment-drift anchors — the
    (start, end) median-of-3 pairs bench.py stamps into its detail
    file. The stdout line does NOT carry them (it is kept slim), so a
    BENCH_r{N}.json artifact built from stdout has no anchor unless an
    older bench put one under ``parsed``; :func:`main` warns when
    either side has none. Two
    anchor shapes: ``scan`` (global_count — a
    cached-file-index count) and, from late r14, ``cpu`` (synthetic
    shuffle + percentile aggregate) — the r14 evening host slowdown
    moved shuffle-heavy queries 1.5-2x while the scan anchor stayed
    flat, so the cpu anchor is preferred when both artifacts have it.
    Pairs are returned raw: every run has a systematic warm-up
    gradient (the end draw lands ~2x faster than the start draw), so
    intra-run start/end agreement is NOT a meaningful stability test;
    the caller compares the two runs' gradients instead. The third
    element is the r16+ ``host`` snapshot (loadavg + PSI at run
    boundaries; empty dict on older artifacts) — printed as recorded
    contention context, not auto-judged: a saturating local[n] bench
    generates PSI of its own, so the fields distinguish 'this session
    was already loaded' from 'the run loaded it', which is exactly
    the adjudication the r14/r15 rounds made by narrative. The fourth
    is the core count the run was benched at (``cpus``, top level or
    under ``parsed``; None when the artifact does not record it):
    per-query walls at different core counts are not comparable, so
    :func:`main` labels such a comparison."""
    data = json.load(open(path))
    parsed = data.get("parsed") or {}
    if "queries" in data and isinstance(data["queries"], dict):
        q = data["queries"]
    else:
        q = parsed.get("queries") or {}
    a = data.get("anchor") or parsed.get("anchor") or {}
    anchors: dict[str, tuple[float, float]] = {}
    for name, ks, ke in (
        ("scan", "start_sec", "end_sec"),
        ("cpu", "cpu_start_sec", "cpu_end_sec"),
    ):
        if ks in a and ke in a:
            s, e = float(a[ks]), float(a[ke])
            if s > 0 and e > 0:
                anchors[name] = (s, e)
    host = data.get("host") or parsed.get("host") or {}
    cpus = data.get("cpus", parsed.get("cpus"))
    return (
        {k: float(v) for k, v in q.items() if v is not None and v >= 0},
        anchors,
        host,
        None if cpus is None else int(cpus),
    )


def _bench_subset(repo_dir: str, names: list[str]) -> dict[str, float]:
    """Run ``bench.py`` restricted to ``names`` in ``repo_dir`` and
    return its per-query seconds, read from an explicit temp ``--out``
    detail file — complete and untruncated regardless of flag-set
    size (the capped stdout line drops the fastest entries), and ONE
    session per side so the old/new measurements stay minutes apart
    (the drift argument's window). ``--force`` because the A/B is a
    RELATIVE same-session comparison — contention hits both sides
    alike — while the bless gate protects absolute blessings. The
    subset order is identical on both sides, so per-family
    first-touch cost (SCALE.md envelope) lands on the same member in
    both runs."""
    fd, out_path = tempfile.mkstemp(prefix="bench_ab_", suffix=".json")
    os.close(fd)
    try:
        env = dict(os.environ, BENCH_QUERIES=",".join(names))
        res = subprocess.run(
            [sys.executable, "bench.py", "--out", out_path, "--force"],
            cwd=repo_dir, env=env, capture_output=True, text=True,
            check=True,
        )
        try:
            with open(out_path) as fh:
                detail = json.load(fh)
        except (OSError, json.JSONDecodeError):
            # the OLD side of an A/B may predate subset-detail-to---out
            # (pre-r18 bench.py exits 0 but leaves the temp file
            # empty): fall back to the capped stdout JSON line, the
            # contract of that era. A flagged query the capped line
            # dropped simply stays unmeasured and surfaces as
            # "no-measurement (UNRESOLVED)" — loud, never silent.
            detail = {}
            for line in reversed(res.stdout.strip().splitlines()):
                line = line.strip()
                if line.startswith("{"):
                    detail = json.loads(line)
                    break
    finally:
        try:
            os.unlink(out_path)
        except OSError:
            pass
    return {k: float(v) for k, v in detail.get("queries", {}).items()}


def adjudicate(old_commit: str, flagged: list[str]) -> list[str]:
    """The session-drift A/B, automated (VERDICT r17 #6): bench the
    flagged subset on ``old_commit`` in a temp git worktree, then the
    SAME subset at HEAD minutes later in the SAME session — the only
    comparison that isolates code from environment (cross-session
    artifacts drift 20-50% with session state on this host; recorded
    r12/r16/r17). Prints a paste-ready markdown block for SCALE.md and
    returns the queries whose flags survive as REAL regressions (HEAD
    slower than the old code under identical conditions: >1.25x and
    >1 s — tighter than the cross-session envelope because the A/B
    removes the drift term)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    wt = os.path.join(tempfile.mkdtemp(prefix="bench_ab_"), "old")
    subprocess.run(
        ["git", "worktree", "add", "--detach", wt, old_commit],
        cwd=root, check=True, capture_output=True,
    )
    try:
        old_t = _bench_subset(wt, flagged)
        new_t = _bench_subset(root, flagged)
    finally:
        subprocess.run(
            ["git", "worktree", "remove", "--force", wt],
            cwd=root, check=False, capture_output=True,
        )
    real: list[str] = []
    print(f"\n### Same-session A/B: {old_commit[:12]} (worktree) vs HEAD")
    print(f"| query | {old_commit[:12]} s | HEAD s | verdict |")
    print("|---|---|---|---|")
    for k in flagged:
        o, n = old_t.get(k), new_t.get(k)
        if o is None or n is None or o < 0 or n < 0:
            # a flag the A/B could not measure is NOT resolved — count
            # it with the survivors so the exit code stays loud
            verdict = "no-measurement (UNRESOLVED)"
            real.append(k)
        elif n > o * 1.25 and n - o > 1.0:
            verdict = "REAL regression"
            real.append(k)
        else:
            verdict = "session-drift (resolved)"
        print(f"| {k} | {o} | {n} | {verdict} |")
    tot_o = sum(v for v in old_t.values() if v >= 0)
    tot_n = sum(v for v in new_t.values() if v >= 0)
    print(f"| **total** | **{tot_o:.2f}** | **{tot_n:.2f}** | "
          f"{'REAL regressions above' if real else 'all drift'} |")
    return real


def main() -> int:
    argv = list(sys.argv[1:])
    old_commit = None
    if "--adjudicate" in argv:
        i = argv.index("--adjudicate")
        if i + 1 >= len(argv):
            print(__doc__)
            return 2
        old_commit = argv[i + 1]
        del argv[i:i + 2]
    if len(argv) != 2:
        print(__doc__)
        return 2
    (old, a_old, h_old, c_old), (new, a_new, h_new, c_new) = (
        load(argv[0]),
        load(argv[1]),
    )
    contaminated: dict[str, bool] = {}
    for label, h in (("old", h_old), ("new", h_new)):
        if h:
            # recorded contention context (r16+ artifacts): start load
            # predates the run's own pressure, so a high START value
            # means the session was already contended before a single
            # query was timed — auto-judged against bench.py's shared
            # thresholds (the r14-r16 by-narrative adjudication,
            # retired into the recorded field)
            contaminated[label] = is_contended(h.get("start") or {})

            def fmt(side):
                d = h.get(side) or {}
                la = d.get("loadavg_1m")
                psi = d.get("psi_cpu_some_avg60")
                parts = []
                if la is not None:
                    parts.append(f"load {la}")
                if psi is not None:
                    parts.append(f"psi {psi}")
                return " ".join(parts) or "n/a"
            tag = "  ** CONTAMINATED (pre-contended session) **" if (
                contaminated[label]
            ) else ""
            print(
                f"host[{label}]: start({fmt('start')}) -> "
                f"end({fmt('end')}){tag}"
            )
    for label, path, anchors in (
        ("old", argv[0], a_old),
        ("new", argv[1], a_new),
    ):
        if not anchors:
            print(
                f"warning: {label} artifact {path} carries no drift "
                "anchor (a stdout-only artifact: bench.py writes the "
                "anchor to its detail file only) — ratios below are "
                "raw, not drift-normalized"
            )
    if c_old != c_new:
        o, n = ("unknown" if c is None else c for c in (c_old, c_new))
        print(
            f"** CROSS-CORE (old {o} cpus, new {n} cpus) ** per-query "
            "walls at different core counts are not comparable — ratios "
            "below mix code and core count"
        )
    shared = sorted(set(old) & set(new))
    if not shared:
        print("no shared queries between the two artifacts")
        return 1
    ratios = sorted(new[k] / old[k] for k in shared if old[k] > 0)
    if not ratios:
        print(f"{len(shared)} shared queries, all zero-baseline — "
              "no ratios to compare")
        return 1
    med = statistics.median(ratios)
    excluded = len(shared) - len(ratios)
    note = f" ({excluded} zero-baseline excluded)" if excluded else ""
    print(
        f"{len(ratios)} shared queries{note}; median per-query ratio "
        f"{med:.3f} (new/old)"
    )
    drift = 1.0
    shape = next(
        (s for s in ("cpu", "scan") if s in a_old and s in a_new), None
    )
    if shape:
        # Normalize by the mean of each run's (start, end) anchor
        # draws — preferring the cpu/shuffle-shaped anchor (the scan
        # anchor under-tracks host slowdowns that hit the shuffle
        # path) — but only when the two runs share a similar warm-up
        # GRADIENT (end/start): the gradient is a systematic ~2x in
        # every healthy run, so means are comparable like-for-like;
        # a run whose gradient diverges >1.5x from the other's had an
        # anomalous session (contention spike mid-run, cold cache at
        # one end) and normalizing by its mean would inject more noise
        # than it removes — raw-ratio fallback (ADVICE r13, recast
        # cross-artifact: intra-run start/end NEVER agree, by design).
        (so, eo), (sn, en) = a_old[shape], a_new[shape]
        g_old, g_new = eo / so, en / sn
        m_old, m_new = (so + eo) / 2.0, (sn + en) / 2.0
        if max(g_old, g_new) / min(g_old, g_new) <= 1.5 and m_old > 0:
            drift = m_new / m_old
            print(
                f"anchor drift {drift:.3f} ({shape} anchor "
                f"{m_old:.2f}s -> {m_new:.2f}s); drift-normalized "
                f"median {med / drift:.3f}"
            )
        else:
            print(
                f"note: {shape} anchor gradients diverge (end/start "
                f"{g_old:.2f} vs {g_new:.2f}) — one session was "
                "anomalous; falling back to raw ratios"
            )
    # movers and flags stay consistent with the headline: only queries
    # that produced a ratio participate (zero-baseline rows are the
    # exact entries the headline just excluded as uninformative)
    comparable = [k for k in shared if old[k] > 0]
    movers = sorted(comparable, key=lambda k: new[k] - old[k])
    print("\nbiggest improvements (s):")
    for k in movers[:5]:
        print(f"  {k:32s} {old[k]:7.2f} -> {new[k]:7.2f}")
    print("biggest regressions (s):")
    for k in movers[-5:][::-1]:
        print(f"  {k:32s} {old[k]:7.2f} -> {new[k]:7.2f}")
    # flag on DRIFT-NORMALIZED ratio and drift-adjusted delta — the
    # anchor exists to retire by-hand adjudication of environment
    # drift, so the exit-code decision must consume it too, not just
    # the printed median
    flagged = [
        k for k in comparable
        if new[k] / (old[k] * drift) > 1.5 and new[k] - old[k] * drift > 1.0
    ]
    if flagged:
        if contaminated.get("new") or contaminated.get("old"):
            # auto-label: one side's recorded host field shows the
            # session was contended BEFORE any query was timed, so
            # these flags are host-drift class by record, not code
            # regressions — the clean-host re-measure is still owed,
            # but the adjudication no longer needs a narrative
            side = " and ".join(
                s for s in ("old", "new") if contaminated.get(s)
            )
            print(f"\nFLAG [host-drift class by recorded field: the "
                  f"{side} run started contended — re-measure on a "
                  "quiet host before treating any of these as real]:")
        else:
            print("\nFLAG (>1.5x and >1 s after drift normalization — "
                  "re-measure in isolation before calling it real):")
        for k in sorted(flagged, key=lambda k: old[k] - new[k]):
            print(f"  {k:32s} {old[k]:7.2f} -> {new[k]:7.2f}")
        if old_commit:
            real = adjudicate(old_commit, sorted(flagged))
            if real:
                print(f"\n{len(real)} flag(s) survive the same-session "
                      f"A/B as REAL or unmeasured: {real}")
                return 1
            print("\nall flags adjudicated as session drift — no real "
                  "regressions")
            return 0
        return 1
    print("\nno regressions past the variance envelope")
    return 0


if __name__ == "__main__":
    sys.exit(main())
