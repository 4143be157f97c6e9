"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import check  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from spans import Span, Tracer, self_times, subtree, union_length  # noqa


# -- tail percentile ---------------------------------------------------

def test_tail_needs_more_samples_than_the_minimum_beyond():
    assert M.tail_percentile([1.0] * 10) is None


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    t = M.tail_percentile(xs)
    assert (t["percentile"], t["value"], t["beyond"]) == (90, 90.0, 10)
    t = M.tail_percentile([float(i) for i in range(1000)])
    assert (t["percentile"], t["beyond"]) == (99, 10)
    t = M.tail_percentile([float(i) for i in range(11)])
    assert (t["percentile"], t["value"], t["beyond"]) == (9, 0.0, 10)


def test_tail_ignores_sample_order():
    xs = [float(i) for i in range(50)]
    assert M.tail_percentile(xs) == M.tail_percentile(xs[::-1])


# -- span arithmetic ---------------------------------------------------

def _span(sid, start, end, parent=None, name="s"):
    s = Span(sid, name, start, parent, 0, {})
    s.end = end
    return s


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(1, 4), (3, 6), (8, 9)], 0, 10) == 6
    assert union_length([(-5, 2), (9, 20)], 0, 10) == 3
    assert union_length([], 0, 10) == 0


def test_self_time_counts_overlapping_children_once():
    # two concurrent stages overlap on [3, 4]; a third runs alone
    spans = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 3, 6, 0),
             _span(3, 8, 9, 0), _span(4, 2, 3, 1)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 6)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[4] == pytest.approx(1)


def test_subtree_follows_parents():
    spans = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 2, 3, 1),
             _span(3, 5, 6)]
    assert {s.sid for s in subtree(spans, [spans[1]])} == {1, 2}


def test_tracer_nests_spans_and_counts_per_span():
    t = Tracer()
    with t.span("outer") as outer:
        t.count("py4j")
        with t.span("inner") as inner:
            t.count("py4j", 2)
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.counts == {"py4j": 1} and inner.counts == {"py4j": 2}


def test_pool_tasks_are_parented_on_the_submitter():
    from concurrent.futures import ThreadPoolExecutor
    t = Tracer()
    t.propagate_to_pools()
    try:
        with t.span("run") as root:
            with ThreadPoolExecutor(max_workers=2) as ex:
                futures = [ex.submit(t.count, "x") for _ in range(4)]
                for f in futures:
                    f.result(timeout=10)
    finally:
        t.restore()
    tasks = [s for s in t.spans if s.name == "task:count"]
    assert len(tasks) == 4
    assert all(s.parent == root.sid and s.counts == {"x": 1}
               and s.attrs["queued"] <= s.start for s in tasks)


def test_restore_puts_back_the_originals():
    class Owner:
        @staticmethod
        def f():
            return 1

    class Child(Owner):
        pass

    original = Owner.__dict__["f"]
    t = Tracer()
    t.wrap(Owner, "f", "f")
    t.count_calls(Owner, "f", "calls")
    t.count_calls(Child, "f", "inherited")
    with t.span("s") as s:
        assert Child.f() == 1
    assert s.counts == {"calls": 1, "inherited": 1}
    t.restore()
    assert Owner.__dict__["f"] is original and "f" not in Child.__dict__


# -- generator ---------------------------------------------------------

@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_same_seed_gives_identical_pages(workload):
    assert W.plan(workload, 7) == W.plan(workload, 7)


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_other_seed_changes_content_not_amount(workload):
    a, b = W.plan(workload, 7), W.plan(workload, 8)
    assert sorted(p["html"] for p in a) != sorted(p["html"] for p in b)
    assert sorted(p["text"] for p in a) != sorted(p["text"] for p in b)

    def kinds(pages):
        return sorted(p["key"].split(":")[0] for p in pages)
    assert kinds(a) == kinds(b) == sorted(W.kinds(workload))


def test_batches_of_one_seed_differ():
    assert W.plan("pipeline", 7, 0) != W.plan("pipeline", 7, 1)


def test_written_parquet_is_byte_identical(tmp_path):
    pages = W.plan("pipeline", 3)
    W.write_pages(pages, str(tmp_path / "a"), 2)
    W.write_pages(pages, str(tmp_path / "b"), 2)
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == \
            (tmp_path / "b" / name).read_bytes()


def test_every_page_variant_is_pinned():
    pins = check.load_pins()
    for workload in W.WORKLOADS:
        for seed in range(3):
            assert {p["key"] for p in W.plan(workload, seed)} <= set(pins)


def test_giant_pathway_has_chains_deeper_than_waypoint_rounds():
    from gpml2pvjson_js_spark.operators.waypoints import MAX_ROUNDS
    assert W.GIANT_CHAIN_DEPTH > MAX_ROUNDS
    gpml = W.giant_gpml(1)
    assert gpml.count('ConnectorType="') == \
        (W.GIANT_NODES // 20) * W.GIANT_CHAIN_DEPTH


# -- output check ------------------------------------------------------

def _commit(root, stage, rows):
    d = root / stage / "data"
    d.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(rows), str(d / "part.parquet"))


def test_check_is_url_and_order_insensitive(tmp_path):
    pages = [{"url": "https://a.example/x", "key": "k:0", "text": "t"},
             {"url": "https://b.example/y", "key": "k:0", "text": "t"}]
    rows = [{"url": p["url"], "id": i, "iri": p["url"] + "#n" + str(i)}
            for p in pages for i in range(3)]
    _commit(tmp_path, "mentions", rows[::-1])
    _commit(tmp_path, "text", [{"url": p["url"], "extracted_text": "t"}
                               for p in pages])
    stages = ("mentions", "text")
    got = check.page_outputs(str(tmp_path), stages)
    pin = check.pin_of(got[pages[0]["url"]], stages)
    assert got[pages[1]["url"]]["mentions"] == pin["mentions"]
    report = check.check_run(str(tmp_path), pages, {"k:0": pin}, stages)
    assert report["mismatches"] == [] and report["rows"]["mentions"] == 6

    wrong = {"k:0": {"mentions": [3, "0" * 16]}}
    assert check.check_run(str(tmp_path), pages, wrong, stages)[
        "mismatches"]


def test_jsonld_documents_are_compared_with_sorted_keys():
    doc = {"url": "https://a.example/x", "frag": 0}
    a = check._key({**doc, "jsonld": '{"p":{"id":"https://a.example/x#p"},'
                    '"entitiesById":{"n1":{"x":1},"n2":{"x":2}}}'})
    b = check._key({**doc, "jsonld": '{"entitiesById":{"n2":{"x":2},'
                    '"n1":{"x":1}},"p":{"id":"https://a.example/x#p"}}'})
    assert a == b and "a.example" not in a


# -- metric map --------------------------------------------------------

def _benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_every_metric_with_its_unit():
    b = _benchmark_json()
    for section, declared in (("end_to_end", M.END_TO_END),
                              ("per_layer", M.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in b[section]}
        assert listed == declared
    assert sorted(w["name"] for w in b["workloads"]) == sorted(W.WORKLOADS)


def test_end_to_end_metrics_are_the_declared_ones():
    runs = [{"run_s": 2.0, "cpu_s": 9.0, "cpu_ref_s": 5.0, "pages": 10},
            {"run_s": 4.0, "cpu_s": 9.0, "cpu_ref_s": 7.0, "pages": 10}]
    out = run.end_to_end(5.0, runs, 100.0)
    assert set(out) == set(M.END_TO_END)
    assert out["cpu_s"] == 6.0


# -- host speed --------------------------------------------------------

def test_speed_samples_skip_a_partly_written_last_line(tmp_path):
    path = tmp_path / "speed.txt"
    path.write_text("10.0 0.003\n10.1 0.004\n10.2 0.0")
    assert M.read_speed(str(path)) == [(10.0, 0.003), (10.1, 0.004)]


def test_pass_time_is_the_median_inside_the_window():
    samples = [(1.0, 9.0), (2.0, 1.0), (3.0, 3.0), (4.0, 2.0), (5.0, 9.0)]
    assert M.pass_s(samples, 1.5, 4.5) == 2.0
    # a window no sample ended in falls back to every sample
    assert M.pass_s(samples, 6.0, 7.0) == 3.0


def test_cpu_seconds_scale_with_the_measured_pass_time():
    ref = M.REFERENCE_PASS_S
    assert M.at_reference_speed(10.0, ref) == 10.0
    # a slower host charges more CPU seconds for the same work, by the
    # fitted power of the slowdown the probe measured
    slow = 2 ** M.SENSITIVITY
    assert M.at_reference_speed(10.0 * slow, 2 * ref) == pytest.approx(10.0)
    assert M.at_reference_speed(10.0, 2 * ref) < 10.0


class _Seq:
    def __init__(self, items):
        self.items = list(items)

    def iterator(self):
        return _Iter(self.items)


class _Iter:
    def __init__(self, items):
        self.items = list(items)

    def hasNext(self):
        return bool(self.items)

    def next(self):
        return self.items.pop(0)


class _Opt:
    def __init__(self, value):
        self.value = value

    def isDefined(self):
        return self.value is not None

    def get(self):
        return self.value


class _Obj:
    def __init__(self, **fields):
        for k, v in fields.items():
            setattr(self, k, (lambda v=v: v))


class _Store:
    def jobsList(self, _):
        return _Seq([
            _Obj(jobId=5, jobGroup=_Opt("perfbench:edges"),
                 stageIds=_Seq([1])),
            _Obj(jobId=6, jobGroup=_Opt(None), stageIds=_Seq([2]))])

    def stageList(self, *_):
        return _Seq([_Obj(stageId=s, attemptId=0, numCompleteTasks=4,
                          executorRunTime=1000, shuffleReadBytes=2**20,
                          shuffleWriteBytes=0, memoryBytesSpilled=0,
                          diskBytesSpilled=0) for s in (1, 2)])

    def taskList(self, *_):
        return _Seq([_Obj(duration=_Opt(d)) for d in (10, 10, 10, 40)])


def test_traced_metrics_cover_the_per_layer_map(tmp_path):
    import layers
    trace = layers.LayerTrace.__new__(layers.LayerTrace)
    trace.tracer = Tracer()
    trace._store = _Store
    trace.sc = _Obj()
    trace.sc._gateway = _Obj()
    trace.sc._gateway.new_array = lambda *_: []
    trace.sc._jvm = _Obj()
    trace.sc._jvm.double = float
    # run [0, 10]. mentions: submitted at 0, parse on [0, 1], commit on
    # [1, 4]. nodes: submitted at 4, started at 5, waited on the model
    # lock until 6, committed on [6, 9]. edges: submitted at 4, built
    # the model on [4, 5.5], 0.5 s unattributed, committed on [6, 9.5].
    root = _span(0, 0, 10, name="run")
    spans = [root,
             _span(1, 0, 4, 0, "task:_stage"), _span(2, 0, 1, 1, "parse"),
             _span(3, 1, 4, 1, "commit"),
             _span(4, 5, 9, 0, "task:_stage"),
             _span(5, 5, 6, 4, "lock_wait"), _span(6, 6, 9, 4, "commit"),
             _span(7, 4, 9.5, 0, "task:_stage"),
             _span(8, 4, 4, 7, "lock_wait"), _span(9, 4, 5.5, 7, "assemble"),
             _span(10, 6, 9.5, 7, "commit")]
    for sid, stage, queued in ((1, "mentions", 0), (4, "nodes", 4),
                               (7, "edges", 4)):
        spans[sid].attrs.update(stage=stage, queued=queued)
    trace.tracer.spans = spans
    out = {**trace._span_metrics(root),
           **layers._snapshot_metrics(str(tmp_path)),
           **trace._spark_metrics(first_job=5),
           "host.steal_pct": 0.0, "host.disk_busy_pct": 0.0,
           "trace.run_s": root.duration,
           "trace.overhead_s": trace.overhead_s(calls=100)}
    assert set(out) == set(M.PER_LAYER)
    assert out["spark.edges.tasks"] == 4
    assert out["spark.untagged.executor_run_s"] == 1.0
    assert out["spark.edges.task_skew"] == 4.0
    assert (out["pipeline.mentions.queue_s"], out["parse.build_s"],
            out["pipeline.mentions.build_s"],
            out["pipeline.mentions.commit_s"]) == (0, 1, 1, 3)
    assert (out["pipeline.nodes.queue_s"], out["pipeline.nodes.build_s"],
            out["pipeline.nodes.commit_s"]) == (1, 0, 3)
    assert (out["pipeline.edges.build_s"], out["assemble.build_s"],
            out["pipeline.edges.commit_s"]) == (1.5, 1.5, 3.5)
    assert out["assemble.lock_wait_s"] == 1
    assert out["pipeline.split_error"] == pytest.approx(0.5 / 5.5)
    assert out["pipeline.overlap"] == pytest.approx(1.35)


def test_timed_lock_records_each_acquire_as_a_span():
    import threading

    import layers
    t = Tracer()
    lock = layers.TimedLock(threading.Lock(), t)
    with t.span("stage") as stage:
        with lock:
            pass
        assert lock.acquire(blocking=False)
        lock.release()
    waits = [s for s in t.spans if s.name == "lock_wait"]
    assert len(waits) == 2 and all(s.parent == stage.sid for s in waits)


def test_snapshot_metrics_count_quarantine_and_curvy_edges(tmp_path):
    import layers
    _commit(tmp_path, "mentions", [
        {"url": "u", "error": None}, {"url": "u", "error": "xml-parse: x"},
        {"url": "u", "error": "unsupported-namespace: y"}])
    _commit(tmp_path, "edges", [{"url": "u", "draw_as": d} for d in
                                ("ElbowLine", "CurvedLine", "StraightLine")])
    for stage, rows in (("mentions", 3), ("edges", 3)):
        (tmp_path / stage / "manifest.json").write_text(
            json.dumps({"rows": rows}))
    out = layers._snapshot_metrics(str(tmp_path))
    assert out["parse.mentions"] == 3
    assert out["parse.quarantined.xml-parse"] == 1
    assert out["parse.quarantined.unsupported-namespace"] == 1
    assert out["waypoints.curvy_edges"] == 2
