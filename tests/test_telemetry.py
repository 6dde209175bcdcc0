"""Host-contention telemetry (lacspark/telemetry.py).

The bench harness (bench.py) annotates every
sample with /proc/stat steal + busy + loadavg so contaminated
samples are discarded mechanically (VERDICT r5 item 2).  These
tests pin the helper's contract — field shape, monotone counters,
and the clean() filter semantics.
"""

from lacspark import telemetry


def test_cpu_sample_fields_monotone():
    s0 = telemetry.cpu_sample()
    # burn a little CPU so counters advance
    sum(i * i for i in range(2_000_00))
    s1 = telemetry.cpu_sample()
    for k in ("t", "total", "idle", "steal"):
        assert k in s0
    assert s1["total"] >= s0["total"]
    assert s1["steal"] >= s0["steal"]


def test_timed_returns_result_seconds_telemetry():
    res, sec, tel = telemetry.timed(lambda: 41 + 1)
    assert res == 42
    assert sec >= 0.0
    assert set(tel) == {"steal_pct", "busy_pct", "load1"}
    assert 0.0 <= tel["steal_pct"] <= 100.0
    assert 0.0 <= tel["busy_pct"] <= 100.0


def test_clean_filters_on_steal_threshold():
    lo = {"sec": 1.0, "telemetry": {"steal_pct": 0.0}}
    edge = {"sec": 2.0,
            "telemetry": {"steal_pct": telemetry.STEAL_CLEAN_PCT}}
    hi = {"sec": 0.5,
          "telemetry": {"steal_pct": telemetry.STEAL_CLEAN_PCT + 0.01}}
    out = telemetry.clean([lo, edge, hi])
    assert out == [lo, edge]
    assert telemetry.clean([hi]) == []
