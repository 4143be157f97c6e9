"""bench.py's contention window: hypervisor steal and shared-disk
busy time sampled around the measured run, and the self-flag that
marks a contended window, because identical back-to-back runs were
measured spreading 2.2x from external hypervisor/disk tenants
(BENCH/PLANS.md round 5). Pure-python — no SparkSession."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import bench  # noqa: E402


def test_contention_pct_window_math():
    before = {"t": 0.0, "cpu_total": 1000, "cpu_steal": 10,
              "disk_io_ticks_ms": 0}
    after = {"t": 10.0, "cpu_total": 2000, "cpu_steal": 30,
             "disk_io_ticks_ms": 5000}
    pct = bench._contention_pct(before, after)
    assert pct["steal_pct"] == 2.0        # 20 / 1000
    assert pct["disk_busy_pct"] == 50.0   # 5 s busy / 10 s wall


def test_flag_window_marks_contaminated_in_place():
    dirty = {"steal_pct": 13.76, "disk_busy_pct": 2.4}
    bench._flag_window(dirty)
    assert dirty["contaminated"] is True
    assert dirty["contamination"] == ["steal 13.76%"]
    # thresholds: steal > 1.5% of CPU, disk busy > 15% of wall
    busy = {"steal_pct": 1.5, "disk_busy_pct": 20.0}
    bench._flag_window(busy)
    assert busy["contamination"] == ["disk_busy 20.0%"]
    both = {"steal_pct": 1.6, "disk_busy_pct": 15.1}
    bench._flag_window(both)
    assert both["contamination"] == ["steal 1.6%", "disk_busy 15.1%"]
    clean = {"steal_pct": 0.05, "disk_busy_pct": 0.9}
    bench._flag_window(clean)
    # a clean window must NOT add the key at all — `contaminated`
    # absent is the self-certification the driver artifact relies on
    assert "contaminated" not in clean and "contamination" not in clean
    # sampling failure (no pct keys) is likewise unflagged
    empty = {}
    bench._flag_window(empty)
    assert empty == {}
