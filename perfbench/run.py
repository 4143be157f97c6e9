#!/usr/bin/env python3
"""The KG pipeline benchmark.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S \
        --trace 0|1

Run from the repository root. The command generates the workload's
pages from the seed, writes them to parquet, starts a Spark session
sized for the host (local[nproc], a fixed 2 GB driver heap, scratch
under the run's own temp dir), and runs the workload back to back for
S seconds (at least one run): one caller, closed loop. Each run's
committed output is checked against the pins (check.py); a run that
raises or whose output differs counts as failed. Beside set-up and the
runs,
speed.py measures the host's speed, to which set-up and run CPU
seconds are scaled (metrics.at_reference_speed).

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are metrics.END_TO_END, measured with tracing off. With
`--trace 1` the runs are traced and the metrics are metrics.PER_LAYER
(layers.py) of the last run. A record of the run (host, git sha, Spark
settings, seed, units, every sample) goes to standard error as one
JSON line.

Workloads (workloads.py, stages.py):
- bulk: a 380-page corpus, four pages giant pathways, through the
  page-proportional stages (mentions, quarantine, text).
- pipeline: a 33-page batch, one page a giant pathway, through every
  stage of one `Pipeline.run(resume=False)`.

Neither workload warms up: on a 4-vCPU host a cold `Pipeline.run` of
the small batch takes 40 to 100 seconds, with the host's other
tenants, and the benchmark's whole schedule of runs must fit in under
an hour, so every figure includes the fresh session's JVM and Python
worker start-up.

Exits with code 2, printing no result, when the package, the pins or
the workload is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import check
import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "gpml2pvjson_js_spark"
DRIVER_MEMORY = "2g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def git_sha(repo: str) -> str | None:
    try:
        return subprocess.run(
            ["git", "-C", repo, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None  # a benchmark checkout need not be a git repository


def spark_conf(tmp: str) -> dict:
    """Session settings for this host: an explicit driver heap that fits
    beside the Python workers, and every scratch directory under the
    run's own temp dir. The heap is fixed and touched at start: a heap
    the JVM grows on its own grows with GC pause times, so the peak RSS
    of identical runs varied by a fifth with the host's speed. The
    heap's size is thus a constant part of peak_rss_mb, which moves
    with the memory of the Python driver and workers and of the JVM
    outside its heap; more heap use shows as GC CPU seconds in cpu_s."""
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }


class Bench:
    def __init__(self, args, repo: str, tmp: str, probe, speed_path: str):
        import stages
        import workloads
        self.args = args
        self.repo = repo
        self.tmp = tmp
        self.probe = probe  # speed.py, whose CPU time is not the run's
        self.speed_path = speed_path
        self.W = workloads
        self.spec = workloads.WORKLOADS[args.workload]
        self.runner = stages.RUNNERS[self.spec["stages"]]
        self.pins = check.load_pins()
        self.inputs: dict[int, tuple[str, list[dict]]] = {}
        self.prepared: dict[int, object] = {}

    # -- inputs -------------------------------------------------------
    def batch(self, i: int) -> tuple[str, list[dict]]:
        """(parquet dir, pages) of run i: the corpus itself for an
        ingest workload, the i-th batch of the seeded sequence for the
        pipeline workload."""
        if self.spec["stages"] == "ingest":
            i = 0
        if i not in self.inputs:
            pages = self.W.plan(self.args.workload, self.args.seed, i)
            path = os.path.join(self.tmp, "pages", str(i))
            self.W.write_pages(pages, path, self.spec["files"])
            self.inputs[i] = (path, pages)
        return self.inputs[i]

    def prepare(self, spark, i: int):
        """The runner of run i, with its inputs written: everything but
        the timed work."""
        if i not in self.prepared:
            path, _ = self.batch(i)
            out_root = os.path.join(self.tmp, "out", str(i))
            pages = spark.read.schema(self.W.PAGES_DDL).parquet(path)
            self.prepared[i] = self.runner(spark, pages, out_root)
        return self.prepared[i]

    # -- runs ---------------------------------------------------------
    def one_run(self, spark, i: int, traced=None) -> dict:
        out_root = os.path.join(self.tmp, "out", str(i))
        _, pages = self.batch(i)
        traced_run = None
        try:
            runner = self.prepare(spark, i)
            cpu0, start = M.tree_cpu_s(self.probe.pid), time.monotonic()
            if traced is None:
                t0 = time.perf_counter()
                runner.run()
                run_s = time.perf_counter() - t0
            else:
                traced_run = traced.run(runner.run, out_root)
                run_s = traced_run["run_s"]
            cpu_s = M.tree_cpu_s(self.probe.pid) - cpu0
            window = (start, time.monotonic())
            report = check.check_run(out_root, pages, self.pins,
                                          runner.STAGES)
            errors = report.pop("mismatches")
        except Exception as e:  # a failed run is counted, not fatal
            run_s, cpu_s, report, errors = 0.0, 0.0, {}, [repr(e)]
            window = (0.0, 0.0)
        finally:
            self.prepared.pop(i, None)
            shutil.rmtree(out_root, ignore_errors=True)
        return {"batch": i, "run_s": run_s, "cpu_s": cpu_s, "window": window,
                "ok": not errors, "pages": len(pages), "output": report,
                "errors": errors[:5], "traced": traced_run}

    def timed_loop(self, spark, traced=None) -> list[dict]:
        runs = []
        end = time.perf_counter() + self.args.seconds
        i = 0
        while not runs or time.perf_counter() < end:
            runs.append(self.one_run(spark, i, traced))
            if not runs[-1]["ok"]:
                break
            i += 1
        return runs

    def run(self) -> dict:
        from gpml2pvjson_js_spark.session import get_spark

        args = self.args
        nproc = len(os.sched_getaffinity(0))
        conf = spark_conf(self.tmp)
        sampler = M.RssSampler(exclude=self.probe.pid).start()
        spark = get_spark(app_name="perfbench", master=f"local[{nproc}]",
                          extra_conf=conf)
        try:
            self.prepare(spark, 0)
            # set-up in CPU seconds, like the runs: the wall time of a
            # JVM start varies by a third under host steal
            setup_cpu_s, setup_wall_s = (M.tree_cpu_s(self.probe.pid),
                                         process_age_s())
            setup_end = time.monotonic()
            sampler.reset()
            traced = None
            if args.trace:
                from layers import LayerTrace
                from stages import STAGE_METHODS
                traced = LayerTrace(spark, STAGE_METHODS)
            runs = self.timed_loop(spark, traced)
            peak_rss_mb = sampler.peak_kb / 1024.0
            settings = {k: spark.conf.get(k) for k in (
                "spark.master", "spark.driver.memory",
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled")}
        finally:
            sampler.stop()
            stop_spark(spark)

        samples = M.read_speed(self.speed_path)
        setup_pass_s = M.pass_s(samples, 0.0, setup_end)
        setup_s = M.at_reference_speed(setup_cpu_s, setup_pass_s)
        for r in runs:
            r["pass_s"] = M.pass_s(samples, *r.pop("window"))
            r["cpu_ref_s"] = M.at_reference_speed(r["cpu_s"], r["pass_s"])
        failed = sum(1 for r in runs if not r["ok"])
        if args.trace:
            metrics = (runs[-1]["traced"] or {}).get("metrics", {})
        else:
            metrics = end_to_end(setup_s, runs, peak_rss_mb)
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "host": {"nproc": nproc, "mem_total_kb": mem_total_kb(),
                     "python": platform.python_version()},
            "git_sha": git_sha(self.repo),
            "setup_wall_s": setup_wall_s,
            "setup_cpu_s": setup_cpu_s,
            "setup_pass_s": setup_pass_s,
            "speed_samples": len(samples),
            "spark": {**conf, **settings},
            "run_tail": M.tail_percentile([r["run_s"] for r in runs]),
            "runs": runs,
            "units": M.units_map(metrics),
        }
        print(json.dumps(record, default=str), file=sys.stderr)
        return {
            "correct": failed == 0,
            "attempted": len(runs),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": M.UNITS[k][0]}
                        for k, v in metrics.items()},
        }


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit. The JVM
    exits when its stdin closes, which would otherwise happen only as
    this process exits, leaving the JVM running after it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def end_to_end(setup_s: float, runs: list[dict],
               peak_rss_mb: float) -> dict:
    """The end-to-end metrics of an untraced invocation."""
    return {
        "setup_s": setup_s,
        "cpu_s": statistics.median(r["cpu_ref_s"] for r in runs),
        "peak_rss_mb": peak_rss_mb,
    }


def parse_args(argv):
    p = argparse.ArgumentParser(description="The KG pipeline benchmark.")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ in {repo}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [repo, HERE]
    import workloads
    if not os.path.exists(check.PINS_PATH):
        print("perfbench: pins.json is missing", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}",
              file=sys.stderr)
        return 2
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, [repo, os.environ.get("PYTHONPATH")]))
    tmp_root = os.path.join(repo, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, str(os.getpid()))
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    tempfile.tempdir = None
    speed_path = os.path.join(tmp, "speed.txt")
    probe = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "speed.py"), speed_path])
    try:
        result = Bench(args, repo, tmp, probe, speed_path).run()
    finally:
        probe.terminate()
        probe.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run's temp dir is still there
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
