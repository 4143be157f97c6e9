#!/usr/bin/env python3
"""Where a benchmark batch spends its CPU, cold and warm, by JVM thread
kind.

    python3 tools/jvm_cpu_split.py [--workload pipeline|bulk] [--seed N]
                                   [--batches N]

Run from the repository root. Starts a fresh Spark session with the
benchmark's settings (perfbench/run.py `spark_conf`, local[nproc]),
writes the seed's first N batches of the workload
(perfbench/workloads.plan; default `pipeline`, 33 pages a batch; `bulk`
is its 380-page corpus, the same every batch, as in the benchmark) to
parquet and runs them one after another in that session through the
workload's runner (perfbench/stages.py `RUNNERS`: one
`Pipeline.run(resume=False)` for `pipeline`, the mentions, quarantine
and text commits for `bulk`), as the benchmark's timed runs do. The
first batch is cold; the later ones run on a warm JVM and warm Python
workers. perfbench is only read. Prints CPU seconds, read from /proc,
for the set-up (JVM start to the first batch's start, every batch's
pages written and read), for the cold batch and, with `--batches`
above 1 (default 1), the median of the warm batches, each figure its
own median:
- the driver JVM, split by thread name into the JIT compilers (C2,
  C1), executor task threads, GC and the rest;
- the Python daemons the JVM forks, and the workers they fork (with
  the CPU of workers they reaped), each with how many were seen and
  the peak of their summed resident memory;
- JVM child commands: the JVM's own reaped children, such as the
  `chmod` Hadoop's local file system forks for each file and directory
  it creates when the native Hadoop library is missing;
- this process, the Python driver.
Under the title, one line gives the driver JVM's class-data sharing
(`session.class_data_sharing()`): `use` or `dump` with the archive, or
`off` with the reason. At the foot of the CPU table, each column's
Janino classes and compile ms: the classes Spark generated and
compiled in the driver JVM (`CodegenMetrics`) and the time Janino
took to compile them (`CodeGenerator.compileTime`); then its JIT
compile ms, the time the driver JVM's JIT compilers took
(`CompilationMXBean.getTotalCompilationTime`). Under the table, one
line per batch column gives its Spark jobs, their tasks and their
shuffle MB (read and written), from the Spark status store. So the
classes, compiles and exchanges a change removes show beside the CPU
it saves.

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
import statistics
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.join(REPO, "perfbench")]

from layers import _max_job_id, _seq  # noqa: E402  (perfbench/layers.py)
from metrics import process_tree  # noqa: E402  (perfbench/metrics.py)

TICK = os.sysconf("SC_CLK_TCK")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20
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


def rss_mb(pid: int) -> float:
    """A process's resident memory; 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE_MB
    except (FileNotFoundError, ProcessLookupError):
        return 0.0


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
        # Python pids seen since the last snapshot, by role, and the
        # peak of their summed RSS in MB
        self.seen: dict[str, set] = {"daemon": set(), "worker": set()}
        self.peak_rss = 0.0
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
        rss = sum(map(rss_mb, python))
        with self.lock:
            self.last.update(seen)
            for pid, role in python.items():
                self.seen[role].add(pid)
            self.peak_rss = max(self.peak_rss, rss)

    def _loop(self) -> None:
        while not self.done.wait(SAMPLE_S):
            self.sample()

    def snapshot(self) -> tuple[dict[str, float], dict]:
        """CPU seconds so far: per thread kind, the JVM's threads that
        exited unsampled, the Python daemons and workers, the JVM's
        reaped child commands. With them, how many Python daemons and
        workers were seen since the last snapshot, and the peak of
        their summed RSS (`rss_mb`)."""
        self.sample()
        out = {kind: 0 for kind, _ in KINDS} | {"rest": 0}
        with self.lock:
            for kind, ticks in self.last.values():
                out[kind] += ticks
            seen = {role: len(pids) for role, pids in self.seen.items()}
            seen["rss_mb"] = self.peak_rss
            self.seen = {role: set() for role in self.seen}
            self.peak_rss = 0.0
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


def spark_work(spark, first_job: int) -> tuple[int, int, float]:
    """(jobs, tasks, shuffle MB) of the jobs from `first_job` on, from
    the status store: completed tasks and shuffle bytes read plus
    written, summed over those jobs' stages."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = [j for j in _seq(store.jobsList(None)) if j.jobId() >= first_job]
    stage_ids = {sid for j in jobs for sid in _seq(j.stageIds())}
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    tasks = shuffle = 0
    # stageList(statuses, details, withSummaries, quantiles,
    # taskStatus): every stage, no per-task detail
    for st in _seq(store.stageList(None, False, False, no_quantiles,
                                   None)):
        if st.stageId() in stage_ids:
            tasks += st.numCompleteTasks()
            shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
    return len(jobs), tasks, shuffle / 2**20


# the keys `compiled` fills, in its order
COMPILED = ("classes", "compile_ms", "jit_ms")


def compiled(spark) -> tuple[int, float, int]:
    """(classes, compile ms) of the code Spark has generated and
    compiled in the driver JVM so far, and the ms its JIT compilers
    have taken."""
    jvm = spark._jvm
    return (jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount(),
            jvm.org.apache.spark.sql.catalyst.expressions.codegen
            .CodeGenerator.compileTime() / 1e6,
            jvm.java.lang.management.ManagementFactory
            .getCompilationMXBean().getTotalCompilationTime())


def next_job_id(spark) -> int:
    return _max_job_id(spark.sparkContext._jsc.sc().statusStore()) + 1


def median(figures: list[dict]) -> dict:
    """Each key's median over `figures`."""
    return {k: statistics.median(f[k] for f in figures) for k in figures[0]}


def report(columns: list[tuple[str, dict, float, dict]],
           works: list[tuple[str, tuple[float, float, float]]]) -> None:
    """One CPU table with a column per (title, CPU s, wall s, Python
    and compiles seen), then each batch's Spark work."""
    jvm = [kind for kind, _ in KINDS] + ["rest", "exited threads"]
    names = ["driver JVM", *(f"  {k}" for k in jvm), "python daemons",
             "python workers", "JVM child commands", "python driver", "all"]

    def figures(cpu):
        return [sum(cpu[k] for k in jvm), *(cpu[k] for k in jvm),
                *(cpu[k] for k in ("python daemons", "python workers",
                                   "JVM child commands", "python driver")),
                sum(cpu.values())]

    cols = [figures(cpu) for _, cpu, _, _ in columns]
    print(f"{'CPU s':<20}" + "".join(f"{t:>11}" for t, *_ in columns))
    for i, name in enumerate(names):
        print(f"{name:<20}" + "".join(f"{c[i]:11.2f}" for c in cols))
    print(f"{'wall s':<20}" + "".join(f"{w:11.2f}" for _, _, w, _ in columns))
    print(f"{'python seen':<20}" + "".join(f"{t:>11}" for t, *_ in columns))
    for role in ("daemon", "worker"):
        print(f"{'  ' + role + 's':<20}"
              + "".join(f"{seen[role]:11g}" for *_, seen in columns))
    print(f"{'  peak RSS MB':<20}"
          + "".join(f"{seen['rss_mb']:11.0f}" for *_, seen in columns))
    print(f"{'Janino classes':<20}"
          + "".join(f"{seen['classes']:11g}" for *_, seen in columns))
    print(f"{'  compile ms':<20}"
          + "".join(f"{seen['compile_ms']:11.0f}" for *_, seen in columns))
    print(f"{'JIT compile ms':<20}"
          + "".join(f"{seen['jit_ms']:11.0f}" for *_, seen in columns))
    for title, (jobs, tasks, mb) in works:
        print(f"{title} Spark work: {jobs:g} jobs, {tasks:g} tasks, "
              f"{mb:.2f} MB shuffled")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=("pipeline", "bulk"),
                   default="pipeline")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--batches", type=int, default=1,
                   help="batches to run in the session, the first cold")
    args = p.parse_args(argv)
    if args.batches < 1:
        p.error("--batches must be at least 1")

    import run as bench_run
    import stages
    import workloads
    from gpml2pvjson_js_spark.session import class_data_sharing, get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [REPO, os.environ.get("PYTHONPATH")]))
    tmp = tempfile.mkdtemp(prefix="jvm_cpu_split_")
    t0 = time.monotonic()
    spark = threads = None
    batches = []  # (CPU s, wall s, seen, Spark work) per batch
    try:
        spark = get_spark(app_name="jvm_cpu_split",
                          master=f"local[{len(os.sched_getaffinity(0))}]",
                          extra_conf=bench_run.spark_conf(tmp))
        threads = JvmThreads(spark.sparkContext._gateway.proc.pid)
        threads.thread.start()
        spec = workloads.WORKLOADS[args.workload]
        runners = []
        for i in range(args.batches):
            batch = 0 if spec["stages"] == "ingest" else i
            pages = workloads.plan(args.workload, args.seed, batch)
            path = os.path.join(tmp, "pages", str(i))
            workloads.write_pages(pages, path, spec["files"])
            runners.append(stages.RUNNERS[spec["stages"]](
                spark, spark.read.schema(workloads.PAGES_DDL).parquet(path),
                os.path.join(tmp, "out", str(i))))
        (setup, setup_seen), t1 = threads.snapshot(), time.monotonic()
        setup_seen.update(zip(COMPILED, compiled(spark)))
        for runner in runners:
            first_job, start = next_job_id(spark), compiled(spark)
            (before, _), t2 = threads.snapshot(), time.monotonic()
            runner.run()
            (end, seen), t3 = threads.snapshot(), time.monotonic()
            seen.update(zip(COMPILED, (
                b - a for a, b in zip(start, compiled(spark)))))
            batches.append(({k: end[k] - before[k] for k in end}, t3 - t2,
                            seen, spark_work(spark, first_job)))
    finally:
        if threads is not None:
            threads.done.set()
            threads.thread.join(timeout=5)
        if spark is not None:
            bench_run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"{args.workload} seed {args.seed}: {args.batches} batch(es) of "
          f"{len(pages)} pages in one session, the first on a cold driver "
          "JVM")
    print(f"class-data sharing: {class_data_sharing()}")
    cpu, wall, seen, work = batches[0]
    columns = [("set-up", setup, t1 - t0, setup_seen),
               ("cold", cpu, wall, seen)]
    works = [("cold batch", work)]
    if len(batches) > 1:
        warm = batches[1:]
        columns.append((f"warm med/{len(warm)}",
                        median([b[0] for b in warm]),
                        statistics.median(b[1] for b in warm),
                        median([b[2] for b in warm])))
        works.append((f"warm batch (median of {len(warm)})",
                      tuple(statistics.median(b[3][i] for b in warm)
                            for i in range(3))))
    report(columns, works)
    return 0


if __name__ == "__main__":
    sys.exit(main())
