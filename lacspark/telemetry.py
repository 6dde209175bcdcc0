"""Host-contention telemetry for benchmark runs.

Every perf narrative since round 2 has leaned on "host CPU steal"
to explain noisy samples; this module turns that from an assertion
into a recorded measurement (VERDICT r5 item 2).  It samples the
kernel's own accounting in ``/proc/stat`` (aggregate cpu line:
user nice system idle iowait irq softirq steal guest guest_nice)
around a timed region and reports:

- ``steal_pct``  — % of elapsed CPU ticks the hypervisor withheld
  from this VM (field 8).  >0 means the wall-clock number is
  contaminated by neighbors; the benchmarks use this to discard
  samples mechanically instead of narratively.
- ``busy_pct``   — % of elapsed ticks the VM itself was busy
  (everything except idle+iowait), i.e. how loaded the box was.
- ``load1``      — 1-minute loadavg at the end of the region.

Pure stdlib, no Spark dependency — usable from the bench worker
subprocesses as well as the driver-side harnesses.
"""

from __future__ import annotations

import os
import time

# A sample above this steal share is "contaminated": the hypervisor
# took more than 2% of the machine's ticks during the region, which
# at 32 vCPUs is already >0.6 core-seconds/second of withheld CPU.
# Empirically (r5) contaminated windows showed 10-40x probe
# slowdowns, i.e. far above this threshold — the cut separates the
# two regimes cleanly.
STEAL_CLEAN_PCT = 2.0


def cpu_sample() -> dict:
    """One reading of the aggregate /proc/stat cpu counters."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    v = [int(x) for x in parts[1:]]
    v += [0] * (10 - len(v))  # pad: old kernels omit trailing fields
    idle = v[3] + v[4]
    return {"t": time.time(), "total": sum(v[:8]), "idle": idle,
            "steal": v[7]}


def span(s0: dict, s1: dict | None = None) -> dict:
    """Telemetry for the region between two cpu_sample() readings
    (s1 defaults to a fresh sample)."""
    if s1 is None:
        s1 = cpu_sample()
    dt = max(s1["total"] - s0["total"], 1)
    steal = s1["steal"] - s0["steal"]
    busy = dt - (s1["idle"] - s0["idle"]) - steal
    return {
        "steal_pct": round(100.0 * steal / dt, 2),
        "busy_pct": round(100.0 * busy / dt, 2),
        "load1": round(os.getloadavg()[0], 2),
    }


def process_cpu_s(pid: int | str = "self") -> float:
    """CPU seconds of a process (default: this one), the children it
    has reaped included."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(map(int, fields[11:15])) / os.sysconf("SC_CLK_TCK")


def timed(fn):
    """Run ``fn()`` and return (result, seconds, telemetry)."""
    s0 = cpu_sample()
    t0 = time.time()
    res = fn()
    sec = time.time() - t0
    return res, sec, span(s0)


def clean(samples: list[dict], key: str = "telemetry") -> list[dict]:
    """The steal-clean subset of a list of sample dicts (each
    carrying telemetry under ``key``).  Empty when every sample was
    contaminated — callers fall back to the full list and say so."""
    return [s for s in samples
            if s[key]["steal_pct"] <= STEAL_CLEAN_PCT]
