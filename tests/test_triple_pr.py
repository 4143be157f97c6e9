"""North-rule gate: triple P/R >= 0.95 against ALL reference golden
fixtures (/root/reference/test/expected/*.json), not a hand-curated
subset. Every golden pvjson document is inverted back to GPML
(golden.gpml_from_golden), compiled by the pass's own per-page
function (document.compile_page_group) in plain Python, with no Spark
session, and its model triples compared against the flatten of the
golden itself (golden.golden_triples). That function is the production
kernel: each task of `Pipeline.run`'s pass runs it, and
tests/test_pins_offline.py holds its output to the pins the pipeline's
snapshots were recorded from.

A per-fixture report is written to BENCH/PR_REPORT.json so regressions
are attributable to a fixture and a triple. Without the goldens the
report is "unavailable": the score tests then check that it claims no
score, with a warning, and the coverage test skips."""

import json
import os
import warnings

import pytest

from gpml2pvjson_js_spark.golden import EXPECTED_DIR, pr_report

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def report():
    rep = pr_report()
    if rep["status"] == "ok":
        # the committed report is the last one scored against real
        # goldens; a run without them must not overwrite it
        os.makedirs(f"{REPO}/BENCH", exist_ok=True)
        with open(f"{REPO}/BENCH/PR_REPORT.json", "w") as f:
            json.dump(rep, f, indent=1, sort_keys=True)
    else:
        warnings.warn(f"golden P/R gate not scored: {rep['reason']}")
    return rep


def _gate(report, key):
    """P or R >= 0.95 when the goldens are present; without them the
    report must say so and claim no score (never 1.0 over 0 fixtures)."""
    agg = report["aggregate"]
    if report["status"] == "unavailable":
        assert agg[key] is None and agg["n_fixtures"] == 0, report
        assert EXPECTED_DIR in report["reason"]
    else:
        assert report["status"] == "ok" and agg["n_fixtures"] > 0
        assert agg[key] >= 0.95, agg


def test_aggregate_precision(report):
    _gate(report, "precision")


def test_aggregate_recall(report):
    _gate(report, "recall")


def test_fixture_coverage(report):
    if report["status"] == "unavailable":
        pytest.skip(f"reference goldens absent: {report['reason']}")
    # every golden document must be exercised (91 fixtures incl. the
    # 13 real WikiPathways documents)
    assert report["aggregate"]["n_fixtures"] >= 85
    assert report["aggregate"]["n_gold"] > 5000


def test_kg_golden_pr_gate_is_false_without_reference(
        spark, tmp_path, monkeypatch):
    """kg_golden_pr gates itself: with no golden fixture to score, the
    only row is __aggregate__, with null P/R and ok false."""
    import __spark_entry__ as entry
    from gpml2pvjson_js_spark import golden

    score = golden.pr_report
    monkeypatch.setattr(golden, "pr_report", lambda: score(
        str(tmp_path / "expected")))
    rows = entry.kg_golden_pr(spark, None).collect()
    assert [r["fixture"] for r in rows] == ["__aggregate__"]
    agg = rows[0]
    assert agg["ok"] is False
    assert agg["precision"] is None and agg["recall"] is None
