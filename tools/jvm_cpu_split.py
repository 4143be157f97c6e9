#!/usr/bin/env python3
"""Where a cold `pipeline` batch spends its CPU, by JVM thread kind.

    python3 tools/jvm_cpu_split.py [--seed N]

Run from the repository root. Starts a fresh Spark session with the
benchmark's settings (perfbench/run.py `spark_conf`, local[nproc]),
writes the seed's first `pipeline` batch (perfbench/workloads.plan) to
parquet and runs it through one `Pipeline.run(resume=False)`. Prints
CPU seconds, read from /proc, for the set-up (JVM start to the batch's
start) and for the batch:
- the driver JVM, split by thread name into the JIT compilers (C2,
  C1), executor task threads, GC and the rest;
- the Python daemons the JVM forks, and the workers they fork (with
  the CPU of workers they reaped), each with how many were seen;
- JVM child commands: the JVM's own reaped children, such as the
  `chmod` Hadoop's local file system forks for each file and directory
  it creates when the native Hadoop library is missing;
- this process, the Python driver.
Under the title, one line gives the driver JVM's class-data sharing
(`session.class_data_sharing()`): `use` or `dump` with the archive, or
`off` with the reason.

perfbench's trace times layers and stages, not threads, so it cannot
show where a change to the JVM's JIT work lands; this tool can. JVM
threads and Python processes are sampled every 0.2 s. A thread that
exits keeps the CPU of its last sample; what exiting threads used
after that is printed as `exited threads`. A Python process that lives
less than 0.2 s may go uncounted.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from metrics import process_tree  # noqa: E402  (perfbench/metrics.py)

TICK = os.sysconf("SC_CLK_TCK")
SAMPLE_S = 0.2
# thread-name prefixes as /proc shows them (cut to 15 characters)
KINDS = (("C2 compiler", ("C2 CompilerThre",)),
         ("C1 compiler", ("C1 CompilerThre",)),
         ("executor tasks", ("Executor task l",)),
         ("GC", ("GC Thread", "G1 ")))


def kind_of(comm: str) -> str:
    for kind, prefixes in KINDS:
        if comm.startswith(prefixes):
            return kind
    return "rest"


def read_stat(path: str) -> tuple[str, list[str]]:
    """(name, fields after the name) of a /proc stat file; fields[11]
    and [12] are utime and stime, [13] and [14] those of reaped
    children."""
    with open(path) as f:
        s = f.read()
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def cpu_ticks(pid: int | str, children: bool = False) -> int:
    """A process's utime + stime, with its reaped children's if asked;
    0 once it is gone."""
    try:
        fields = read_stat(f"/proc/{pid}/stat")[1]
    except FileNotFoundError:
        return 0
    return sum(int(x) for x in fields[11:15 if children else 13])


def python_processes(jvm: int) -> dict[int, str]:
    """The JVM's live Python descendants: pid -> "daemon" for those
    the JVM forked itself, "worker" for those a daemon forked."""
    out = {}
    for pid in process_tree(jvm):
        try:
            name, fields = read_stat(f"/proc/{pid}/stat")
        except FileNotFoundError:
            continue
        if pid != jvm and name.startswith("python"):
            out[pid] = "daemon" if int(fields[1]) == jvm else "worker"
    return out


class JvmThreads:
    """The last sampled CPU ticks of each thread of the driver JVM."""

    def __init__(self, pid: int):
        self.pid = pid
        self.last: dict[str, tuple[str, int]] = {}  # tid -> (kind, ticks)
        # Python pids seen since the last snapshot, by role
        self.seen: dict[str, set] = {"daemon": set(), "worker": set()}
        self.lock = threading.Lock()
        self.done = threading.Event()
        self.thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        seen = {}
        for tid in os.listdir(f"/proc/{self.pid}/task"):
            try:
                comm, fields = read_stat(f"/proc/{self.pid}/task/{tid}/stat")
            except OSError:
                continue  # the thread exited
            seen[tid] = (kind_of(comm), int(fields[11]) + int(fields[12]))
        python = python_processes(self.pid)
        with self.lock:
            self.last.update(seen)
            for pid, role in python.items():
                self.seen[role].add(pid)

    def _loop(self) -> None:
        while not self.done.wait(SAMPLE_S):
            self.sample()

    def snapshot(self) -> tuple[dict[str, float], dict[str, int]]:
        """CPU seconds so far: per thread kind, the JVM's threads that
        exited unsampled, the Python daemons and workers, the JVM's
        reaped child commands. With them, how many Python daemons and
        workers were seen since the last snapshot."""
        self.sample()
        out = {kind: 0 for kind, _ in KINDS} | {"rest": 0}
        with self.lock:
            for kind, ticks in self.last.values():
                out[kind] += ticks
            seen = {role: len(pids) for role, pids in self.seen.items()}
            self.seen = {role: set() for role in self.seen}
        out["exited threads"] = cpu_ticks(self.pid) - sum(out.values())
        # a daemon's reaped children were its workers
        out["python daemons"] = out["python workers"] = 0
        for pid, role in python_processes(self.pid).items():
            own = cpu_ticks(pid)
            out[f"python {role}s"] += own
            out["python workers"] += cpu_ticks(pid, children=True) - own
        out["JVM child commands"] = cpu_ticks(self.pid, children=True) \
            - cpu_ticks(self.pid)
        out["python driver"] = cpu_ticks("self")
        return {k: v / TICK for k, v in out.items()}, seen


def report(setup: dict, batch: dict, wall: tuple[float, float],
           seen: tuple[dict, dict]) -> None:
    jvm = [kind for kind, _ in KINDS] + ["rest", "exited threads"]
    rows = [("driver JVM", sum(setup[k] for k in jvm),
             sum(batch[k] for k in jvm))]
    rows += [(f"  {k}", setup[k], batch[k]) for k in jvm]
    rows += [(k, setup[k], batch[k])
             for k in ("python daemons", "python workers",
                       "JVM child commands", "python driver")]
    rows.append(("all", sum(setup.values()), sum(batch.values())))
    print(f"{'CPU s':<20}{'set-up':>9}{'batch':>9}{'total':>9}")
    for name, s, b in rows:
        print(f"{name:<20}{s:9.1f}{b:9.1f}{s + b:9.1f}")
    print(f"{'wall s':<20}{wall[0]:9.1f}{wall[1]:9.1f}{sum(wall):9.1f}")
    print(f"{'python seen':<20}{'set-up':>9}{'batch':>9}")
    for role in ("daemon", "worker"):
        print(f"{'  ' + role + 's':<20}{seen[0][role]:9d}{seen[1][role]:9d}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)

    import run as bench_run
    import workloads
    from gpml2pvjson_js_spark.plans.pipeline import Pipeline
    from gpml2pvjson_js_spark.session import class_data_sharing, get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    tmp = tempfile.mkdtemp(prefix="jvm_cpu_split_")
    t0 = time.monotonic()
    spark = threads = None
    try:
        spark = get_spark(app_name="jvm_cpu_split",
                          master=f"local[{len(os.sched_getaffinity(0))}]",
                          extra_conf=bench_run.spark_conf(tmp))
        threads = JvmThreads(spark.sparkContext._gateway.proc.pid)
        threads.thread.start()
        pages = workloads.plan("pipeline", args.seed, 0)
        path = os.path.join(tmp, "pages")
        workloads.write_pages(pages, path,
                              workloads.WORKLOADS["pipeline"]["files"])
        pipe = Pipeline(spark,
                        spark.read.schema(workloads.PAGES_DDL).parquet(path),
                        os.path.join(tmp, "out"))
        (setup, setup_seen), t1 = threads.snapshot(), time.monotonic()
        pipe.run(resume=False)
        (end, batch_seen), t2 = threads.snapshot(), time.monotonic()
    finally:
        if threads is not None:
            threads.done.set()
            threads.thread.join(timeout=5)
        if spark is not None:
            bench_run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"pipeline batch 0 of seed {args.seed}: {len(pages)} pages, "
          f"cold driver JVM")
    print(f"class-data sharing: {class_data_sharing()}")
    report(setup, {k: end[k] - setup[k] for k in end}, (t1 - t0, t2 - t1),
           (setup_seen, batch_seen))
    return 0


if __name__ == "__main__":
    sys.exit(main())
