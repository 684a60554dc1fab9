"""Host-contention snapshot + thresholds shared by bench.py's bless
gate and tools/bench_compare.py's auto-labeling.

Lives IN THE PACKAGE (not in the generically-named top-level bench.py)
so both consumers import one definition through the package namespace:
a stray ``bench`` module earlier on sys.path can no longer silently
swap the thresholds one side compares against (ADVICE r17).

No Spark dependency — pure /proc + os reads, importable anywhere.
"""

from __future__ import annotations

import os

#: Contention thresholds for the bless gate and bench_compare's
#: auto-labeling (VERDICT r16 #6). The load threshold is PER CORE
#: (ADVICE r17: an absolute loadavg is implicitly tied to one host
#: class — a quiet many-core box exceeds it, a saturated 2-core box
#: passes it). Calibrated on the repo's recorded 32-core artifacts,
#: preserving their absolute cut of 2.0: every clean committed run
#: started at loadavg ≤0.75 (0.023/core), the contaminated driver
#: runs at 10.84 (0.34/core, r16) / ~6 (0.19/core) / 15.21
#: (0.48/core, r17) — 0.0625/core sits well above clean-start noise
#: and well below every observed contamination. PSI is already
#: capacity-normalized by the kernel; it stays absolute.
CONTENTION_LOAD_PER_CORE = 0.0625
CONTENTION_PSI_AVG60 = 0.2


def is_contended(snap: dict) -> bool:
    """Whether a host snapshot shows PRE-EXISTING contention. Only
    meaningful for START snapshots: a saturating local[n] bench
    generates load and PSI of its own, so end-of-run values are the
    run's, not the session's. The load threshold normalizes by the
    RECORDING host's core count (the snapshot's ``cpus`` field, r18+)
    so a recorded artifact adjudicated on a different machine is
    judged against the machine that produced the number. A snapshot
    from before the field existed is judged by PSI alone: its load has
    no recorded denominator, and the evaluating host's core count says
    nothing about the machine that recorded it. Missing fields read as
    not-contended (best-effort facility, never an error)."""
    cores = snap.get("cpus")
    return bool(
        cores and snap.get("loadavg_1m", 0.0) > CONTENTION_LOAD_PER_CORE * cores
    ) or snap.get("psi_cpu_some_avg60", 0.0) > CONTENTION_PSI_AVG60


def host_snapshot() -> dict:
    """Contention evidence stamped INTO the artifact: the r14 and r15
    driver bench runs both landed in sessions where host-level load
    (no engine process of ours) moved identical code 10-20%; the
    adjudication lived in SCALE.md narrative. Recording the 1-minute
    load average plus the kernel's CPU pressure-stall averages
    (PSI avg60: fraction of the last 60 s any task was runnable but
    not running) at bench start and end makes the
    contaminated-session call a recorded field. Best-effort: absent
    fields mean the facility isn't available, never an error."""
    snap: dict = {}
    # the denominator for per-core load normalization travels WITH the
    # measurement, so adjudicating a recorded artifact on a
    # different-sized machine judges against the recording host
    cores = os.cpu_count()
    if cores:
        snap["cpus"] = cores
    try:
        snap["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        with open("/proc/pressure/cpu") as fh:
            fields = dict(
                kv.split("=") for kv in fh.readline().split()[1:]
            )
        snap["psi_cpu_some_avg60"] = float(fields["avg60"])
    except (OSError, KeyError, ValueError, IndexError):
        pass
    # Cumulative hypervisor CPU-steal counter (/proc/stat cpu col 8,
    # USER_HZ ticks): the r18 sessions hit repeated co-tenant steal
    # BURSTS that loadavg and PSI both miss entirely — a run can start
    # at loadavg 0.11 / PSI 0.0 and still lose 600+ core-seconds to
    # the hypervisor mid-run (observed: alphabetical neighbors
    # text_bpe_* reading 2-7x their clean times while both start/end
    # snapshots looked pristine). The counter is cumulative, so the
    # START→END DELTA in a recorded artifact is the run's stolen
    # core-time — the adjudication field for this contamination class.
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
        if first and first[0] == "cpu" and len(first) > 8:
            snap["cpu_steal_ticks"] = int(first[8])
    except (OSError, ValueError, IndexError):
        pass
    return snap
