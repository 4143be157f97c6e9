"""Unit tests for corpus-scrubbing operators (PII redaction,
deterministic hash sampling, repetition scoring). Behavior is pinned
on hand-computed rows; engine-parity with DuckDB is pinned separately
by the registered oracles (tools/correctness_sweep.py)."""

import pytest
from pyspark.sql import functions as F

from gpml2pvjson_js_spark.operators.scrub import (
    _hex_threshold,
    contamination_report,
    decontaminate,
    hash_sample,
    redact_pii,
    repetition_score,
    stratified_sample,
)


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (0, "mail me at alice.smith+spam@sub.example.co.uk today"),
        (1, "server 192.168.1.254 and 10.0.0.1 are up"),
        (2, "call +4915112345678 now"),
        (3, "plain text, no pii at all"),
        (4, "a@b.io via 8.8.8.8 ring +1234567 done"),
        (5, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_redact_pii_counts_and_text(pii_docs):
    out = {r["doc_id"]: r for r in redact_pii(pii_docs).collect()}
    assert out[0]["n_emails"] == 1 and out[0]["n_ips"] == 0
    assert out[0]["redacted"] == "mail me at <EMAIL> today"
    assert out[1]["n_ips"] == 2
    assert out[1]["redacted"] == "server <IP> and <IP> are up"
    assert out[2]["n_phones"] == 1
    assert out[2]["redacted"] == "call <PHONE> now"
    # no-PII row passes through byte-identical
    assert out[3]["redacted"] == "plain text, no pii at all"
    assert (out[3]["n_emails"], out[3]["n_ips"], out[3]["n_phones"]) \
        == (0, 0, 0)
    # all three categories in one row
    assert out[4]["redacted"] == "<EMAIL> via <IP> ring <PHONE> done"
    assert (out[4]["n_emails"], out[4]["n_ips"], out[4]["n_phones"]) \
        == (1, 1, 1)
    assert out[5]["redacted"] == ""


def test_hex_threshold_bounds():
    assert _hex_threshold(0.0) == "00000000"
    assert _hex_threshold(0.25) == "40000000"
    assert _hex_threshold(0.5) == "80000000"
    assert _hex_threshold(1.0) == "g"  # sorts above every hex string
    assert _hex_threshold(1.5) == "g"


@pytest.fixture(scope="module")
def keyed(spark):
    return spark.range(0, 2000).withColumnRenamed("id", "k")


def test_hash_sample_deterministic_and_unbiased(keyed):
    a = sorted(r["k"] for r in hash_sample(keyed, "k", 0.25).collect())
    b = sorted(r["k"] for r in hash_sample(keyed, "k", 0.25).collect())
    assert a == b  # same rows every run
    # md5 uniformity: 2000 keys at f=0.25 -> ~500, binomial 4 sigma ~ 78
    assert 400 <= len(a) <= 600


def test_hash_sample_nested(keyed):
    s10 = {r["k"] for r in hash_sample(keyed, "k", 0.10).collect()}
    s30 = {r["k"] for r in hash_sample(keyed, "k", 0.30).collect()}
    assert s10 <= s30  # threshold monotonicity -> nested samples
    full = {r["k"] for r in hash_sample(keyed, "k", 1.0).collect()}
    assert len(full) == 2000
    assert len({r["k"] for r in hash_sample(keyed, "k", 0.0).collect()}) == 0


def test_stratified_sample(spark):
    df = spark.range(0, 3000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "en")
         .when(F.col("id") % 3 == 1, "de")
         .otherwise("zz").alias("lang"))
    out = stratified_sample(df, "k", "lang",
                            {"en": 0.5, "de": 0.1}).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], set()).add(r["k"])
    # unlisted stratum dropped entirely (default_fraction=0)
    assert "zz" not in by_lang
    assert 400 <= len(by_lang["en"]) <= 600    # ~500 of 1000
    assert 60 <= len(by_lang["de"]) <= 140     # ~100 of 1000
    # per-stratum keep decision matches the plain sampler at the same
    # fraction (same md5-prefix mechanism)
    en_plain = {r["k"] for r in hash_sample(
        df.filter(F.col("lang") == "en"), "k", 0.5).collect()}
    assert by_lang["en"] == en_plain


def test_repetition_score_hand_computed(spark):
    rows = [
        (0, "a a a b"),      # tokens 4, distinct 2 -> dup 0.5;
                             # 2grams [a a, a a, a b] -> dup 1/3
        (1, "x y z"),        # no dups at all
        (2, "w"),            # singleton: no 2-grams
        (3, ""),             # empty -> split yields [''] (1 token)
        (4, "p q p q p q"),  # tokens 4/6 dup; 2grams 3/5 dup
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in repetition_score(df).collect()}
    assert out[0]["n_tokens"] == 4
    assert out[0]["dup_token_frac"] == pytest.approx(0.5)
    assert out[0]["dup_2gram_frac"] == pytest.approx(1 / 3)
    assert out[1]["dup_token_frac"] == 0.0
    assert out[1]["dup_2gram_frac"] == 0.0
    assert out[2]["n_tokens"] == 1
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[3]["n_tokens"] == 1  # [''], matching token_counts
    assert out[4]["dup_token_frac"] == pytest.approx(4 / 6)
    assert out[4]["dup_2gram_frac"] == pytest.approx(3 / 5)


@pytest.fixture(scope="module")
def contam_corpus(spark):
    """Train doc 10 shares exactly two distinct 3-grams with eval
    ('b c d' appears twice in doc 10 but is ONE distinct gram; 'c d e'
    is the second); doc 11 shares one; docs 12/13 share none (13 is
    shorter than n). Eval doc 1 is irrelevant noise."""
    train = spark.createDataFrame([
        (10, "a b c d e b c d"),   # grams shared w/ eval0: b c d, c d e
        (11, "x y z b c d"),       # shared: b c d
        (12, "p q r s t"),         # none
        (13, "u v"),               # shorter than n=3 -> no grams
    ], ["doc_id", "text"])
    ev = spark.createDataFrame([
        (0, "b c d e f"),
        (1, "m n o"),
    ], ["doc_id", "text"])
    return train, ev


def test_contamination_report_hand_computed(contam_corpus):
    train, ev = contam_corpus
    out = {r["doc_id"]: r for r in
           contamination_report(train, ev, n=3).collect()}
    assert len(out) == 4  # every train doc reported, zeros included
    assert out[10]["n_overlap"] == 2 and out[10]["contaminated"]
    assert out[11]["n_overlap"] == 1 and out[11]["contaminated"]
    assert out[12]["n_overlap"] == 0 and not out[12]["contaminated"]
    assert out[13]["n_overlap"] == 0 and not out[13]["contaminated"]


def test_contamination_hash_path_matches_string_path(contam_corpus):
    """hash_grams=True (the broadcast-shrinking scale default) must
    give identical reports to the raw-string join."""
    train, ev = contam_corpus
    hashed = sorted(map(tuple, contamination_report(
        train, ev, n=3, hash_grams=True).collect()))
    raw = sorted(map(tuple, contamination_report(
        train, ev, n=3, hash_grams=False).collect()))
    assert hashed == raw


def test_decontaminate_removes_only_flagged(contam_corpus):
    train, ev = contam_corpus
    kept = decontaminate(train, ev, n=3)
    assert sorted(r["doc_id"] for r in kept.collect()) == [12, 13]
    # survivors pass through with all columns intact
    assert kept.columns == train.columns


def test_decontaminate_min_overlap_threshold(contam_corpus):
    """min_overlap=2 keeps doc 11 (one shared gram) and still drops
    doc 10 (two)."""
    train, ev = contam_corpus
    kept = decontaminate(train, ev, n=3, min_overlap=2)
    assert sorted(r["doc_id"] for r in kept.collect()) == [11, 12, 13]


def test_contamination_joins_are_broadcast(contam_corpus):
    """100 TB contract: the gram join and the report/anti joins are
    BroadcastHashJoin (this session disables auto-broadcast, so these
    prove the EXPLICIT broadcasts); the train corpus never sort-merge
    joins, and the only Exchange is the per-doc count agg."""
    train, ev = contam_corpus
    for df, n_bhj in ((contamination_report(train, ev, n=3), 2),
                      (decontaminate(train, ev, n=3), 2)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert plan.count("BroadcastHashJoin") >= n_bhj, plan


def test_scrub_plans_are_narrow(pii_docs, keyed):
    """100 TB contract: no Exchange in any scrub plan (pure
    projections and filters, evaluated row by row in the JVM)."""
    for df in (redact_pii(pii_docs),
               hash_sample(keyed, "k", 0.25),
               repetition_score(pii_docs)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
