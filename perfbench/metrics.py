"""Metric names, units and directions, order statistics, and the host
samplers (/proc) the benchmark reports.

Every metric the benchmark emits is declared here with its unit and
whether higher or lower is better; `BENCHMARK.json` and every artifact
carry the same map. Rates and durations are separate entries, never
pooled into one list.
"""

from __future__ import annotations

import os
import statistics
import threading
import time

HIGHER, LOWER = "higher", "lower"

# end-to-end metrics: measured with tracing off, reported by every
# workload. The cost of set-up and of a run is its CPU seconds (driver
# JVM, Python driver and workers), not its wall time: on a shared
# 4-vCPU host where the hypervisor stole up to a quarter of the CPU,
# the wall time of identical cold runs varied by a third (IQR/median).
# Their CPU seconds in turn drifted by up to 1.7x over minutes with the
# host's other tenants, so both are scaled to a reference host speed
# measured while they run (speed.py, at_reference_speed). Wall times
# and unscaled CPU seconds are kept in the run record.
END_TO_END = {
    "setup_s": ("s", LOWER),
    "cpu_s": ("s", LOWER),
    "peak_rss_mb": ("MB", LOWER),
}

# the snapshot stages, as in plans.pipeline.STAGES; kept literal so the
# map needs no Spark import
STAGES = [
    "mentions", "quarantine", "nodes", "edges", "citations",
    "vocabularies", "pathways", "interactions", "triples", "linked",
    "canonical_triples", "documents", "text",
]
QUARANTINE_REASONS = ["xml-parse", "unsupported-namespace"]
SKEW_GROUPS = ["mentions", "edges", "documents"]
# layers timed by the driver time of their operator calls (layers.py)
BUILD_LAYERS = ["parse", "assemble", "interactions", "triples", "linking",
                "canonicalize", "export"]


def _per_layer() -> dict[str, tuple[str, str]]:
    m = {f"{layer}.build_s": ("s", LOWER) for layer in BUILD_LAYERS}
    m.update({
        "parse.commit_s": ("s", LOWER),
        "parse.mentions": ("rows", HIGHER),
        **{f"parse.quarantined.{r}": ("rows", HIGHER)
           for r in QUARANTINE_REASONS},
        "text.commit_s": ("s", LOWER),
        "assemble.lock_wait_s": ("s", LOWER),
        "assemble.checkpoints": ("count", LOWER),
        "assemble.py4j_calls": ("count", LOWER),
        "waypoints.call_s": ("s", LOWER),
        "waypoints.curvy_edges": ("rows", HIGHER),
        "pipeline.overlap": ("ratio", HIGHER),
        "pipeline.bytes_written_mb": ("MB", LOWER),
        "pipeline.split_error": ("ratio", LOWER),
    })
    # a stage's span, from submission to its end, splits into queue
    # (stage pool), model_lock wait (summed into assemble.lock_wait_s),
    # build (driver time of the stage's operator calls) and commit;
    # split_error is the largest unattributed share of a stage span
    for s in STAGES:
        m[f"pipeline.{s}.queue_s"] = ("s", LOWER)
        m[f"pipeline.{s}.build_s"] = ("s", LOWER)
        m[f"pipeline.{s}.commit_s"] = ("s", LOWER)
        m[f"pipeline.{s}.rows"] = ("rows", HIGHER)
    for s in STAGES:
        m[f"spark.{s}.tasks"] = ("count", LOWER)
        m[f"spark.{s}.executor_run_s"] = ("s", LOWER)
        m[f"spark.{s}.shuffle_mb"] = ("MB", LOWER)
    for s in SKEW_GROUPS:
        m[f"spark.{s}.task_skew"] = ("ratio", LOWER)
    m["spark.untagged.tasks"] = ("count", LOWER)
    m["spark.untagged.executor_run_s"] = ("s", LOWER)
    m["spark.spill_mb"] = ("MB", LOWER)
    m["host.steal_pct"] = ("%", LOWER)
    m["host.disk_busy_pct"] = ("%", LOWER)
    m["trace.run_s"] = ("s", LOWER)
    m["trace.overhead_s"] = ("s", LOWER)
    return m


PER_LAYER = _per_layer()
UNITS = {**END_TO_END, **PER_LAYER}


def units_map(names) -> dict[str, dict]:
    return {n: {"unit": UNITS[n][0], "better": UNITS[n][1]} for n in names}


def tail_percentile(samples: list[float], min_beyond: int = 10):
    """The highest percentile p (whole number) with at least
    `min_beyond` samples strictly above it, with its value (nearest
    rank). None when fewer than min_beyond + 1 samples exist."""
    xs = sorted(samples)
    n = len(xs)
    if n <= min_beyond:
        return None
    for p in range(99, 0, -1):
        rank = -(-p * n // 100)  # ceil(p * n / 100), 1-based
        if n - rank >= min_beyond:
            return {"percentile": p, "value": xs[rank - 1],
                    "samples": n, "beyond": n - rank}
    return None


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


# -- host samplers -----------------------------------------------------

def _children_index() -> dict[int, list[int]]:
    index: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        index.setdefault(ppid, []).append(int(entry))
    return index


def process_tree(root: int, exclude: int | None = None) -> list[int]:
    """root and its descendants, but for `exclude` and its own."""
    index = _children_index()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid == exclude:
            continue
        out.append(pid)
        todo.extend(index.get(pid, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the driver
    JVM and the Python workers it forks) but for the process `exclude`,
    sampled from /proc on a background thread between `start()` and
    `stop()`."""

    def __init__(self, exclude: int | None = None, interval_s: float = 0.1,
                 rescan_s: float = 2.0):
        self.exclude = exclude
        self.interval_s = interval_s
        self.rescan_s = rescan_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, scanned = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - scanned >= self.rescan_s:
                pids, scanned = process_tree(os.getpid(), self.exclude), now
            self.peak_kb = max(self.peak_kb, sum(map(rss_kb, pids)))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak_kb = 0

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def tree_cpu_s(exclude: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by this process and its descendants, but for the process
    `exclude`. Time the hypervisor steals is not charged to processes,
    so this moves less than wall time when the host is shared."""
    ticks = 0
    for pid in process_tree(os.getpid(), exclude):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of all CPU time stolen by the hypervisor between two
    /proc/stat samples (field 8 is steal)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


def disk_ticks() -> dict[str, int]:
    """Milliseconds spent doing I/O per whole block device."""
    out = {}
    with open("/proc/diskstats") as f:
        for line in f:
            parts = line.split()
            name = parts[2]
            if name.startswith(("loop", "ram", "dm-")) or \
                    not os.path.exists(f"/sys/block/{name}"):
                continue
            out[name] = int(parts[12])
    return out


def disk_busy_pct(before: dict[str, int], after: dict[str, int],
                  seconds: float) -> float:
    """Busy share of the busiest block device over `seconds`."""
    if seconds <= 0:
        return 0.0
    busiest = max((after[d] - before.get(d, after[d]) for d in after),
                  default=0)
    return 100.0 * busiest / (seconds * 1000.0)


# -- host speed ----------------------------------------------------------

# the pass time figures are scaled to: a round figure within the
# medians of one speed.py pass on a 4-vCPU host, 2.5 ms when its other
# tenants were quiet and 4.7 ms when they were busy
REFERENCE_PASS_S = 0.0032
# how the CPU seconds of a set-up or run follow the pass time: as its
# 0.75 power. Fitted over 36 runs of both workloads in six sets, with
# pass times from 2.5 to 4.7 ms; scaling by the whole ratio
# over-corrected: it left the runs' IQR/median at 0.08 to 0.14
# against 0.04 to 0.10 with this power (0.11 to 0.31 unscaled).
SENSITIVITY = 0.75


def read_speed(path: str) -> list[tuple[float, float]]:
    """(monotonic end, pass seconds) of every complete speed.py sample."""
    out = []
    with open(path) as f:
        for line in f:
            parts = line.split()
            if len(parts) == 2 and line.endswith("\n"):
                out.append((float(parts[0]), float(parts[1])))
    return out


def pass_s(samples: list[tuple[float, float]], start: float,
           end: float) -> float:
    """Median pass time of the samples that ended between start and end;
    of all samples when none did."""
    inside = [s for t, s in samples if start <= t <= end]
    return statistics.median(inside or [s for _, s in samples])


def at_reference_speed(cpu_s: float, pass_seconds: float) -> float:
    """CPU seconds scaled from the host speed measured while they were
    spent to the reference speed."""
    return cpu_s * (REFERENCE_PASS_S / pass_seconds) ** SENSITIVITY
