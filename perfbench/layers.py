"""Per-layer figures of one traced run.

`LayerTrace` wraps, from outside the package, the operator entry points
in the namespace where `plans.pipeline` resolves them, the waypoint
kernel, the JSON-LD export, `SnapshotStore.commit`,
`DataFrame.localCheckpoint`, the py4j send path and the acquire of the
pipeline's model lock. It runs one unit of work and turns the spans,
the committed snapshots, the Spark status store and /proc samples into
the metrics of metrics.PER_LAYER.

Each stage sets a Spark job group named after itself on its pool
thread, so the status store attributes each job to a stage. Jobs
launched from helper pools (the model build's checkpoint pool, the
waypoint round pool) run on threads without a group and are reported
as `untagged`.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from gpml2pvjson_js_spark.operators import export as _export
from gpml2pvjson_js_spark.operators import waypoints as _waypoints
from gpml2pvjson_js_spark.plans import pipeline as _pipeline

import metrics as M
from spans import Tracer, self_times, subtree

GROUP_PREFIX = "perfbench:"

# (owner, attribute, layer): the operator entry points as the pipeline
# resolves them. Calls of one layer add up (canonicalize is two calls,
# linking includes the run's xref dictionary).
LAYER_CALLS = [
    (_pipeline, "parse_gpml", "parse"),
    (_pipeline, "extracted_text", "text"),
    (_pipeline, "build_document_model", "assemble"),
    (_waypoints, "synthesize_waypoints", "waypoints"),
    (_pipeline, "classify_interactions", "interactions"),
    (_pipeline, "build_triples", "triples"),
    (_pipeline, "xref_dictionary", "linking"),
    (_pipeline, "link_entities", "linking"),
    (_pipeline, "canonicalize_linked", "canonicalize"),
    (_pipeline, "rewrite_triples", "canonicalize"),
    (_export, "jsonld_documents", "export"),
]
# spans that make up the build part of a stage span
BUILD_SPANS = {layer for _, _, layer in LAYER_CALLS}
CURVY = ["ElbowLine", "CurvedLine"]


def _commit_attrs(args, kwargs) -> dict:
    return {"stage": kwargs.get("stage", args[2] if len(args) > 2 else None)}


class TimedLock:
    """A lock whose every acquire is a `lock_wait` span."""

    def __init__(self, lock, tracer: Tracer):
        self._lock = lock
        self._tracer = tracer

    def acquire(self, *args, **kwargs):
        with self._tracer.span("lock_wait"):
            return self._lock.acquire(*args, **kwargs)

    def release(self):
        self._lock.release()

    def __enter__(self):
        return self.acquire()

    def __exit__(self, *exc):
        self.release()


class LayerTrace:
    def __init__(self, spark, stage_methods):
        self.spark = spark
        self.sc = spark.sparkContext
        self.stage_methods = stage_methods

    def install(self) -> None:
        t, sc = self.tracer, self.sc
        for owner, attr, layer in LAYER_CALLS:
            t.wrap(owner, attr, layer)
        t.wrap(_pipeline.SnapshotStore, "commit", "commit",
               attrs_of=_commit_attrs)
        # the session's concrete DataFrame class, which overrides the
        # methods of pyspark.sql.DataFrame
        t.count_calls(type(self.spark.range(0)), "localCheckpoint",
                      "checkpoints")
        t.count_calls(type(sc._gateway._gateway_client),
                      "send_command", "py4j")

        # the model lock is a local of Pipeline.run: time the acquires
        # of the locks that function creates
        make_lock, run_code = threading.Lock, _pipeline.Pipeline.run.__code__

        def lock_factory():
            lock = make_lock()
            if sys._getframe(1).f_code is run_code:
                return TimedLock(lock, t)
            return lock

        t.patch(threading, "Lock", lock_factory)
        stage_methods = self.stage_methods

        def on_start(fn, args, span):
            if getattr(fn, "__func__", None) in stage_methods:
                span.attrs["stage"] = args[0]
                sc.setJobGroup(GROUP_PREFIX + args[0], args[0])

        t.propagate_to_pools(on_start)

    def run(self, work, out_root: str) -> dict:
        """Run `work()` traced. Returns its run_s, the per-layer metrics
        and, per span name, the spans' total and self time."""
        first_job = _max_job_id(self._store()) + 1
        tracer = self.tracer = Tracer()
        cpu0, disk0 = M.cpu_times(), M.disk_ticks()
        try:
            self.install()
            with tracer.span("run") as root:
                work()
        finally:
            tracer.restore()
        cpu1, disk1 = M.cpu_times(), M.disk_ticks()
        out = self._span_metrics(root)
        out.update(_snapshot_metrics(out_root))
        out.update(self._spark_metrics(first_job))
        out["host.steal_pct"] = M.steal_pct(cpu0, cpu1)
        out["host.disk_busy_pct"] = M.disk_busy_pct(disk0, disk1,
                                                    root.duration)
        out["trace.run_s"] = root.duration
        out["trace.overhead_s"] = self.overhead_s()
        return {"run_s": root.duration, "metrics": out,
                "spans": span_summary(tracer.spans)}

    # -- spans --------------------------------------------------------
    def _span_metrics(self, root) -> dict:
        spans = self.tracer.spans
        by_name: dict[str, list] = {}
        children: dict[int, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
            children.setdefault(s.parent, []).append(s)

        def total(name):
            return sum(s.duration for s in by_name.get(name, ()))

        def counted(roots, key):
            return sum(s.counts.get(key, 0) for s in subtree(spans, roots))

        out: dict[str, float] = {
            f"pipeline.{stage}.{k}": 0.0 for stage in M.STAGES
            for k in ("queue_s", "build_s", "commit_s")}
        lock_wait, split_error, busy = 0.0, 0.0, 0.0
        for s in spans:
            stage = s.attrs.get("stage")
            if stage is None or not s.name.startswith("task:"):
                continue
            # a stage task: submitted at `queued`, started at s.start;
            # each part is timed by its own spans
            kids = children.get(s.sid, ())
            queue = s.start - s.attrs["queued"]
            lock = sum(c.duration for c in kids if c.name == "lock_wait")
            build = sum(c.duration for c in kids if c.name in BUILD_SPANS)
            commit = sum(c.duration for c in kids if c.name == "commit")
            out[f"pipeline.{stage}.queue_s"] = queue
            out[f"pipeline.{stage}.build_s"] = build
            out[f"pipeline.{stage}.commit_s"] = commit
            lock_wait += lock
            busy += s.duration
            span_s = s.end - s.attrs["queued"]
            if span_s > 0:
                split_error = max(split_error, abs(
                    span_s - (queue + lock + build + commit)) / span_s)
        out["pipeline.overlap"] = busy / root.duration
        out["pipeline.split_error"] = split_error

        assemble = by_name.get("assemble", [])
        for layer in M.BUILD_LAYERS:
            out[f"{layer}.build_s"] = total(layer)
        out["parse.commit_s"] = out["pipeline.mentions.commit_s"]
        out["text.commit_s"] = out["pipeline.text.commit_s"]
        out["assemble.lock_wait_s"] = lock_wait
        out["assemble.checkpoints"] = counted(assemble, "checkpoints")
        out["assemble.py4j_calls"] = counted(assemble, "py4j")
        out["waypoints.call_s"] = total("waypoints")
        return out

    # -- Spark status store -------------------------------------------
    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _spark_metrics(self, first_job: int) -> dict:
        store = self._store()
        stage_group: dict[int, str] = {}
        for job in _seq(store.jobsList(None)):
            if job.jobId() < first_job:
                continue
            group = job.jobGroup()
            name = group.get() if group.isDefined() else ""
            name = (name[len(GROUP_PREFIX):]
                    if name.startswith(GROUP_PREFIX) else "untagged")
            for sid in _seq(job.stageIds()):
                stage_group.setdefault(sid, name)
        totals: dict[str, list] = {}
        heaviest: dict[str, tuple[int, int, int]] = {}
        spill = 0
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        # stageList(statuses, details, withSummaries, quantiles,
        # taskStatus): every stage, no per-task detail
        for st in _seq(store.stageList(None, False, False, no_quantiles,
                                       None)):
            group = stage_group.get(st.stageId())
            if group is None:
                continue
            t = totals.setdefault(group, [0, 0, 0])
            t[0] += st.numCompleteTasks()
            t[1] += st.executorRunTime()
            t[2] += st.shuffleReadBytes() + st.shuffleWriteBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            key = (st.executorRunTime(), st.stageId(), st.attemptId())
            if key > heaviest.get(group, (-1, 0, 0)):
                heaviest[group] = key
        out: dict[str, float] = {}
        for stage in M.STAGES:
            tasks, run_ms, shuffle = totals.get(stage, (0, 0, 0))
            out[f"spark.{stage}.tasks"] = tasks
            out[f"spark.{stage}.executor_run_s"] = run_ms / 1000.0
            out[f"spark.{stage}.shuffle_mb"] = shuffle / 2**20
        tasks, run_ms, _ = totals.get("untagged", (0, 0, 0))
        out["spark.untagged.tasks"] = tasks
        out["spark.untagged.executor_run_s"] = run_ms / 1000.0
        out["spark.spill_mb"] = spill / 2**20
        for stage in M.SKEW_GROUPS:
            out[f"spark.{stage}.task_skew"] = (
                _task_skew(store, *heaviest[stage][1:])
                if stage in heaviest else 0.0)
        return out

    # -- tracing cost -------------------------------------------------
    def overhead_s(self, calls: int = 20000) -> float:
        """Driver time the tracing added to the run: the wrapped calls
        and spans it recorded, times the measured cost of one (a
        wrapped no-op against the bare one, and an empty span)."""
        n_counted = sum(sum(s.counts.values()) for s in self.tracer.spans)
        n_spans = len(self.tracer.spans)

        class _Owner:
            @staticmethod
            def noop():
                return None

        probe = Tracer()
        bare = _per_call(_Owner.noop, calls)
        probe.count_calls(_Owner, "noop", "x")
        try:
            with probe.span("calibrate"):
                wrapped = _per_call(_Owner.noop, calls)
                t0 = time.perf_counter()
                for _ in range(calls // 10):
                    with probe.span("s"):
                        pass
                span_cost = (time.perf_counter() - t0) / (calls // 10)
        finally:
            probe.restore()
        return n_counted * max(wrapped - bare, 0.0) + n_spans * span_cost


def span_summary(spans) -> dict:
    """name -> count, total and self seconds of the spans of that name."""
    own = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        d = out.setdefault(s.name, {"count": 0, "total_s": 0.0,
                                    "self_s": 0.0})
        d["count"] += 1
        d["total_s"] += s.duration
        d["self_s"] += own[s.sid]
    return out


def _snapshot_metrics(out_root: str) -> dict:
    """Row counts from the committed snapshots of the traced run."""
    out: dict[str, float] = {}
    for stage in M.STAGES:
        out[f"pipeline.{stage}.rows"] = _manifest_rows(out_root, stage)
    for reason in M.QUARANTINE_REASONS:
        out[f"parse.quarantined.{reason}"] = 0
    out["parse.mentions"] = out["pipeline.mentions.rows"]
    if out["parse.mentions"]:
        errors = _column(out_root, "mentions", "error")
        for e in errors.drop_null().to_pylist():
            key = f"parse.quarantined.{e.split(':', 1)[0]}"
            if key in out:
                out[key] += 1
    out["waypoints.curvy_edges"] = 0
    if out["pipeline.edges.rows"]:
        draw_as = _column(out_root, "edges", "draw_as")
        out["waypoints.curvy_edges"] = pc.sum(
            pc.is_in(draw_as, value_set=pa.array(CURVY))).as_py() or 0
    out["pipeline.bytes_written_mb"] = _du_mb(out_root)
    return out


def _column(out_root: str, stage: str, col: str):
    return pq.read_table(os.path.join(out_root, stage, "data"),
                         columns=[col])[col]


def _per_call(fn, n: int) -> float:
    t0 = time.perf_counter()
    for _ in range(n):
        fn()
    return (time.perf_counter() - t0) / n


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _max_job_id(store) -> int:
    return max((j.jobId() for j in _seq(store.jobsList(None))), default=-1)


def _task_skew(store, stage_id: int, attempt: int) -> float:
    """max / median task duration of one stage attempt."""
    times = []
    for task in _seq(store.taskList(stage_id, attempt, 2**31 - 1)):
        d = task.duration()
        if d.isDefined():
            times.append(d.get())
    med = statistics.median(times) if times else 0
    return max(times) / med if med else 1.0


def _manifest_rows(out_root: str, stage: str) -> int:
    path = os.path.join(out_root, stage, "manifest.json")
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return json.load(f)["rows"]


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files)
    return total / 2**20
