"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship — full KG-construction pipeline (parse ->
  document model -> classification -> triples -> linking ->
  canonicalization) over pages synthesized from the sf0.001 documents
  table; returns the canonical triples DataFrame.
- ``queries()``: one entry per implemented operator family from
  SURVEY.md §2 plus the training-data-pipeline operators; each callable
  takes (spark, sf_dir).
- ``oracle_sql()``: DuckDB-equivalent SQL for every SQL-expressible
  query (KG queries and hash/LSH ops are rows-only by design — DuckDB
  cannot parse GPML or reproduce xxhash64).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from gpml2pvjson_js_spark.operators.scrub import EMAIL_RE as _EMAIL_RE
from gpml2pvjson_js_spark.operators.scrub import IPV4_RE as _IPV4_RE
from gpml2pvjson_js_spark.operators.scrub import PHONE_RE as _PHONE_RE
from gpml2pvjson_js_spark.operators.scrub import _hex_threshold

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def _read(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_MODEL_CACHE: dict = {}


def _kg(spark: SparkSession, sf_dir: str, limit: int = 64) -> dict:
    """Build (and cache per sf_dir) the KG document model over pages
    synthesized from the documents table."""
    key = (sf_dir, limit)
    if key not in _MODEL_CACHE:
        from gpml2pvjson_js_spark.corpus import pages_from_documents
        from gpml2pvjson_js_spark.operators.assemble import (
            build_document_model)
        from gpml2pvjson_js_spark.operators.interactions import (
            classify_interactions)
        from gpml2pvjson_js_spark.operators.triples import build_triples
        from gpml2pvjson_js_spark.operators.linking import (
            link_entities, xref_dictionary)
        from gpml2pvjson_js_spark.operators.canonicalize import (
            canonicalize_linked, rewrite_triples)

        pages = pages_from_documents(spark, sf_dir, limit=limit) \
            .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
        model = build_document_model(spark, pages)
        inter = classify_interactions(model)
        triples = build_triples(model)
        xd = xref_dictionary(spark)
        linked = link_entities(model["nodes"], xd) \
            .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
        canon = rewrite_triples(
            triples, canonicalize_linked(linked, xd)
        ).localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
        _MODEL_CACHE[key] = {
            "pages": pages, "model": model, "interactions": inter,
            "triples": triples, "linked": linked,
            "canonical_triples": canon,
        }
    return _MODEL_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _kg(spark, SF_DEFAULT, limit=48)["canonical_triples"]


# ---------------------------------------------------------------------------
# TPC-H-style operator demonstrations (SURVEY.md §2 Spark primitives)
# ---------------------------------------------------------------------------

def q_agg_pricing_summary(spark, sf_dir):
    """A3/A1: partial+final hash aggregation with map-side combine."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate")
                  <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 2).alias("revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


def q_window_ordinal(spark, sf_dir):
    """A6/O4: the reference's only true window (publicationXref year
    ordinal) as row_number per partition."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (o.withColumn("ordinal", F.row_number().over(w))
            .filter(F.col("ordinal") <= 3)
            .select("o_custkey", "o_orderkey", "ordinal"))


def q_broadcast_dim_join(spark, sf_dir):
    """J10/J11: broadcast dimension joins (vocabulary/marker tables)."""
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"),
             F.round(F.avg("c_acctbal"), 2).alias("avg_acctbal"))
    )


def q_anti_join(spark, sf_dir):
    """P21 (empty-group filter) as a left-anti join: orders with no
    returned line item."""
    o = _read(spark, sf_dir, "orders")
    li = _read(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders_no_returns"))
    )


def q_two_hop_join(spark, sf_dir):
    """J7: the 2-hop reference-resolution join (point->anchor->edge)."""
    li = _read(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45)
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_lines"),
             # decimal accumulation: order-independent, so the hash
             # matches DuckDB's sequential sum exactly
             F.round(F.sum(F.col("l_extendedprice").cast("decimal(20,4)")
                           * (F.lit(1).cast("decimal(20,4)")
                              - F.col("l_discount").cast("decimal(20,4)"))),
                     2).cast("double").alias("revenue"))
    )


def q_bbox_agg(spark, sf_dir):
    """A3: group bounding-box min/max aggregation."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.round(F.min("l_extendedprice"), 2).alias("min_price"),
             F.round(F.max("l_extendedprice"), 2).alias("max_price"),
             F.count(F.lit(1)).alias("n_items"))
    )


def q_sorted_set_agg(spark, sf_dir):
    """A8/O1: unionLSV distinct-union + z-index sort as
    collect_set -> array_sort (joined to a stable string)."""
    o = _read(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.concat_ws(
            ",", F.array_sort(F.collect_set("o_orderpriority")))
            .alias("priorities"))
    )


def q_conditional_projection(spark, sf_dir):
    """P5-P15: ValueConverter when-chains + arithmetic projections."""
    p = _read(spark, sf_dir, "part")
    size_class = (
        F.when(F.col("p_size") < 10, F.lit("small"))
        .when(F.col("p_size") < 30, F.lit("medium"))
        .otherwise(F.lit("large")))
    return (
        p.withColumn("size_class", size_class)
        .withColumn("adj_price",
                    F.round(F.col("p_retailprice") - F.col("p_size") / 2.0, 2))
        .groupBy("size_class")
        .agg(F.count(F.lit(1)).alias("n_parts"),
             F.round(F.sum("adj_price"), 2).alias("sum_adj_price"))
    )


def q_topk_per_group(spark, sf_dir):
    """O3: top-1 candidate selection per group (orientation ranking)."""
    s = _read(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (s.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("s_nationkey", "s_suppkey",
                    F.round("s_acctbal", 2).alias("acctbal")))


def q_content_hash_id(spark, sf_dir):
    """S6: content-hash fallback id (sha256 lineage key)."""
    c = _read(spark, sf_dir, "customer")
    return c.select("c_custkey", F.sha2(F.col("c_name"), 256)
                    .alias("content_id"))


def q_zorder_sorted_lines(spark, sf_dir):
    """O1: per-document z-index ordering (sortByMap) as a sorted
    struct-array projection."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.concat_ws(",", F.transform(
            F.array_sort(F.collect_list(
                F.struct("l_shipdate", "l_linenumber"))),
            lambda s: s.l_linenumber.cast("string"))).alias("line_order"))
    )


def q_union_distinct(spark, sf_dir):
    """§2.6 set ops: stream union + distinct."""
    e = _read(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return a.union(b).distinct().agg(
        F.count(F.lit(1)).alias("n_users"))


def q_json_extract(spark, sf_dir):
    """JS1-3: semi-structured JSON access on the events props column."""
    e = _read(spark, sf_dir, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.avg("k"), 4).alias("avg_k"))
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.dedup import exact_duplicates
    docs = _read(spark, sf_dir, "documents")
    return exact_duplicates(docs).select("h", "keep", "n")


def q_lang_id(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.text_analysis import language_id
    docs = _read(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang_pred")


def q_quality_score(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.text_analysis import quality_score
    docs = _read(spark, sf_dir, "documents")
    q = quality_score(docs)
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_token_len", 4).alias("mean_token_len"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("stopword_ratio", 4).alias("stopword_ratio"),
        F.round("quality", 6).alias("quality"),
    )


def q_token_counts(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.text_analysis import token_counts
    docs = _read(spark, sf_dir, "documents")
    t = token_counts(docs)
    return t.select("doc_id",
                    F.col("ws_tokens").cast("long").alias("ws_tokens"),
                    F.col("bpe_tokens_est").cast("long")
                    .alias("bpe_tokens_est"))


def q_fingerprint(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.text_analysis import fingerprint
    docs = _read(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fp_sha256")


def q_minhash_lsh_pairs(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.dedup import minhash_lsh_pairs
    docs = _read(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.8) \
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))


def q_ngram_jaccard(spark, sf_dir):
    """Word-2-gram Jaccard near-dup (minhash-LSH blocking, exact
    verify). Distinct from minhash_lsh_pairs' default 3-grams — this
    entry pins that the `n` parameter actually reaches the shingler."""
    from gpml2pvjson_js_spark.operators.dedup import ngram_jaccard_pairs
    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, n=2, threshold=0.8) \
        .select("a", "b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash_neardup(spark, sf_dir):
    """Banded simhash near-dup with the PORTABLE 60-bit md5 token hash
    (dedup.portable_token_hash) so DuckDB can brute-force the exact
    same fingerprints: with 4 bands, Hamming<=3 pairs always share a
    band (pigeonhole), so the banded set EQUALS the oracle's all-pairs
    set — the production default differs only in the hash primitive
    (xxhash64)."""
    from gpml2pvjson_js_spark.operators.dedup import (
        portable_token_hash, simhash_near_duplicates)
    docs = _read(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs, bits=60, token_hash=portable_token_hash) \
        .select("a", "b", F.col("hamming").cast("long").alias("hamming"))


def q_ann_bruteforce(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.similarity import (
        cosine_topk_bruteforce)
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = cosine_topk_bruteforce(emb, queries, k=5)
    return out.select("q_id", "nbr_id", "rank",
                      F.round("cosine", 4).alias("cosine"))


def q_ann_lsh(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.similarity import cosine_topk_lsh
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = cosine_topk_lsh(emb, queries, k=5, dim=64)
    return out.select("q_id", "nbr_id", "rank",
                      F.round("cosine", 4).alias("cosine"))


def q_ann_ivf(spark, sf_dir):
    """IVF (inverted-file) ANN: spherical-k-means coarse cells, the
    corpus scanned once and broadcast-probed by the queries' nprobe
    nearest cells (no corpus shuffle; no oracle by nature —
    approximate, recall pinned in tests/test_training_ops.py)."""
    from gpml2pvjson_js_spark.operators.similarity import cosine_topk_ivf
    emb = _read(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    out = cosine_topk_ivf(emb, queries, k=5, n_cells=16, nprobe=4)
    return out.select("q_id", "nbr_id", "rank",
                      F.round("cosine", 4).alias("cosine"))


def q_cosine_neardup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, exact baseline (the
    oracle-checked reference; the LSH-blocked scale path is pinned by
    recall tests in tests/test_training_ops.py). Threshold 0.3 is
    data-relative: the bench embeddings are near-random (max pairwise
    cosine ~0.51), so a web-corpus 0.9 threshold would make the query
    vacuously empty."""
    from gpml2pvjson_js_spark.operators.similarity import (
        cosine_neardup_pairs)
    emb = _read(spark, sf_dir, "embeddings")
    out = cosine_neardup_pairs(emb, threshold=0.3, method="exact")
    return out.select("a", "b", F.round("cosine", 4).alias("cosine"))


def q_cosine_neardup_lsh(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, LSH-blocked SCALE path
    (the variant that runs at 100 TB: id-only multi-table sign-LSH
    bucket self-join + exact-cosine verify — never all-pairs). No
    oracle by nature (approximate recall; pinned >= threshold vs the
    exact method in tests/test_training_ops.py); registered so the
    driver exercises the scale path, not just the crossJoin
    baseline."""
    from gpml2pvjson_js_spark.operators.similarity import (
        cosine_neardup_pairs)
    emb = _read(spark, sf_dir, "embeddings")
    out = cosine_neardup_pairs(emb, threshold=0.3, method="lsh",
                               max_bucket=4096)
    return out.select("a", "b", F.round("cosine", 4).alias("cosine"))


def q_affine_transform(spark, sf_dir):
    """Affine transform of element bounding boxes (reference
    geom-utils transform(), src/geom-utils.ts:596-686) — a pure
    Catalyst F.aggregate fold of 3x3 matrices, no UDF. The oracle uses
    only scale/translate steps with dyadic-rational inputs (halves /
    quarters / small ints), so every intermediate is exact in binary
    floating point and Spark's matrix fold equals DuckDB's closed form
    bit-for-bit regardless of evaluation order; rotation (cos/sin,
    not bit-portable across libm) is pinned by tests/test_affine.py
    against a Python port of the reference instead."""
    from gpml2pvjson_js_spark.functions.affine import transform_elements
    part = _read(spark, sf_dir, "part")
    k = F.col("p_partkey")
    elems = part.select(
        k.alias("p_partkey"),
        (k % 97).cast("double").alias("x"),
        ((k * 7) % 89).cast("double").alias("y"),
        (k % 50 + 10).cast("double").alias("width"),
        (k % 30 + 5).cast("double").alias("height"),
        F.array(
            F.struct(F.lit("scale").alias("key"),
                     F.array((k % 5).cast("double") * 0.5 + 1.0,
                             (k % 4).cast("double") * 0.25 + 0.5)
                     .alias("value")),
            F.struct(F.lit("translate").alias("key"),
                     F.array((k % 11).cast("double") - 5.0,
                             (k % 13).cast("double") - 6.0)
                     .alias("value"))).alias("seq"),
        F.lit("25% 75%").alias("origin"))
    return transform_elements(elems, seq_col="seq",
                              origin_col="origin") \
        .select("p_partkey", "x", "y", "width", "height")


def q_multimodal_features(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.multimodal import (
        extract_features, synthesize_media)
    media = synthesize_media(spark, 64)
    f = extract_features(media)
    return f.select("media_id", "kind", "n_bytes", "decode_status",
                    "width", "height", "duration_ms",
                    F.round(F.aggregate(
                        F.col("feature").cast("array<double>"), F.lit(0.0),
                        lambda a, v: a + v), 4).alias("feature_sum"))


def q_multimodal_frames(spark, sf_dir):
    """Real video frame sampling: decode the synthesized Y4M clips,
    emit the luma plane nearest each planned timestamp (rows-only —
    DuckDB cannot demux Y4M; determinism + dims pinned by
    tests/test_training_ops.py::test_y4m_roundtrip_and_frame_sampling)."""
    from gpml2pvjson_js_spark.operators.multimodal import (
        sample_frames, synthesize_media)
    media = synthesize_media(spark, 64)
    return sample_frames(media, every_ms=500).select(
        "media_id", "frame_ts_ms", "frame_idx", "width", "height",
        F.round(F.col("luma_mean").cast("double"), 4).alias("luma_mean"))


def _skewed_domains(spark, sf_dir):
    """Zipf-skewed derived domain key over documents: ~90% of rows
    share one hot domain (the hot-domain shape the north rule's skew
    clause targets)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 9, F.lit("hot.example"))
        .otherwise(F.concat(F.lit("site"),
                            (F.col("doc_id") % 7).cast("string")))
        .alias("domain"),
        "n_chars")


def q_skew_salted_join(spark, sf_dir):
    """Salted hot-key join (functions/skew.py): identical results to a
    plain equi-join — the salt only changes physical placement. The
    oracle runs the UNSALTED join; value-hash equality IS the
    correctness claim."""
    from gpml2pvjson_js_spark.functions.skew import salted_join
    big = _skewed_domains(spark, sf_dir)
    dim = big.select("domain").distinct() \
        .withColumn("tag", F.upper(F.col("domain")))
    return salted_join(big, dim, "domain") \
        .select("doc_id", "domain", "n_chars", "tag")


def q_skew_salted_repartition(spark, sf_dir):
    """salted_repartition is content-preserving: same rows, spread
    over (key, salt) partitions so the hot domain cannot funnel into
    one task."""
    from gpml2pvjson_js_spark.functions.skew import salted_repartition
    big = _skewed_domains(spark, sf_dir)
    return salted_repartition(big, ["domain"], n_salts=16)


def _with_planted_pii(docs):
    """The synthetic corpus has no PII, so the driver-visible query
    plants one email, one IPv4, and one phone per row,
    deterministically from doc_id — reproduced verbatim in the oracle
    SQL so the redaction chain is hash-compared on non-trivial
    matches."""
    return docs.withColumn("text", F.concat(
        F.col("text"),
        F.lit(" Contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 200).cast("string"), F.lit(".3."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(" call +1415"),
        F.lpad((F.col("doc_id") % 100000).cast("string"), 7, "0")))


def q_pii_redaction(spark, sf_dir):
    """PII scrub (operators/scrub.py): email/IPv4/phone redaction with
    per-category counts — pure Catalyst regexp chain, oracle-checked
    byte-for-byte on the full redacted text."""
    from gpml2pvjson_js_spark.operators.scrub import redact_pii
    docs = _with_planted_pii(_read(spark, sf_dir, "documents"))
    out = redact_pii(docs)
    return out.select("doc_id",
                      F.col("n_emails").cast("long").alias("n_emails"),
                      F.col("n_ips").cast("long").alias("n_ips"),
                      F.col("n_phones").cast("long").alias("n_phones"),
                      "redacted")


def q_hash_sample(spark, sf_dir):
    """Deterministic md5-prefix sample at f=0.25 — reproducible across
    engines (oracle applies the identical predicate in SQL), nested
    across fractions, shuffle-free."""
    from gpml2pvjson_js_spark.operators.scrub import hash_sample
    docs = _read(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.25).select("doc_id", "lang")


def q_stratified_sample(spark, sf_dir):
    """Per-language deterministic sample (en 0.5, de 0.25, fr 0.1,
    es/zh default-dropped) — a literal CASE over strata, same
    md5-prefix mechanism as hash_sample."""
    from gpml2pvjson_js_spark.operators.scrub import stratified_sample
    docs = _read(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "lang",
        {"en": 0.5, "de": 0.25, "fr": 0.1}).select("doc_id", "lang")


def q_decontamination(spark, sf_dir):
    """Eval-set decontamination report (operators/scrub.py): the eval
    split is carved deterministically from documents by the same
    md5-prefix rule as hash_sample (f=0.05), the rest is train; each
    train doc gets its count of distinct word 4-grams shared with any
    eval doc (n=4 because the synthetic corpus draws from a ~30-word
    vocabulary — 8-grams would yield zero overlap and test nothing;
    the operator default stays 8 for real text). Runs the SCALE path
    (hash_grams=True, xxhash64-hashed broadcast gram set) — hashing is
    deterministic, so the oracle's raw-string join matches it exactly
    barring a 64-bit collision inside this fixed corpus (verified
    absent)."""
    from gpml2pvjson_js_spark.operators.scrub import (
        contamination_report, hash_sample)
    docs = _read(spark, sf_dir, "documents")
    eval_docs = hash_sample(docs, "doc_id", 0.05)
    train = docs.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8)
        >= F.lit(_hex_threshold(0.05)))
    return contamination_report(train, eval_docs, n=4)


def q_repetition_score(spark, sf_dir):
    """Gopher-style repetition features: duplicate-token and
    duplicate-2-gram fractions per document."""
    from gpml2pvjson_js_spark.operators.scrub import repetition_score
    docs = _read(spark, sf_dir, "documents")
    out = repetition_score(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("dup_token_frac", 6).alias("dup_token_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"))


# ---------------------------------------------------------------------------
# KG pipeline queries (GPML -> triples; non-SQL-expressible: DuckDB has
# no GPML parser, so these get rows-only checks)
# ---------------------------------------------------------------------------

def kg_mentions(spark, sf_dir):
    k = _kg(spark, sf_dir)
    return k["model"]["mentions"].select(
        "url", "frag", "gpml_element_name", "graph_id", "elem_idx")


def kg_nodes(spark, sf_dir):
    k = _kg(spark, sf_dir)
    return k["model"]["nodes"].select(
        "url", "frag", "id", "gpml_element_name", "kaavio_type",
        F.concat_ws("|", "types").alias("types"), "text_content",
        "x", "y", "width", "height", "z_index", "is_part_of")


def kg_edges(spark, sf_dir):
    k = _kg(spark, sf_dir)
    return k["model"]["edges"].select(
        "url", "frag", "id", "gpml_element_name", "marker_start",
        "marker_end", F.concat_ws("|", "types").alias("types"),
        F.concat_ws("|", "is_attached_to").alias("is_attached_to"),
        "z_index")


def kg_interactions(spark, sf_dir):
    k = _kg(spark, sf_dir)
    return k["interactions"]


def kg_triples(spark, sf_dir):
    k = _kg(spark, sf_dir)
    return k["triples"]


def kg_canonical_triples(spark, sf_dir):
    k = _kg(spark, sf_dir)
    return k["canonical_triples"]


def kg_linked(spark, sf_dir):
    k = _kg(spark, sf_dir)
    return k["linked"].select(
        "url", "frag", "id", "canonical_iri", "link_method",
        F.round("link_score", 4).alias("link_score"))


def kg_text_invariant(spark, sf_dir):
    """Per-url byte-identical extracted text check; returns one row per
    page with ok=true (any false row is an invariant violation)."""
    from gpml2pvjson_js_spark.operators.parse import extracted_text
    k = _kg(spark, sf_dir)
    pages = k["pages"]
    t = extracted_text(pages).join(pages.select("url", "text"), "url")
    return t.select(
        "url", (F.col("extracted_text") == F.col("text")).alias("ok"))


def kg_jsonld(spark, sf_dir):
    from gpml2pvjson_js_spark.operators.export import jsonld_documents
    k = _kg(spark, sf_dir)
    return jsonld_documents(k["model"])


def kg_topo_levels(spark, sf_dir):
    from gpml2pvjson_js_spark.plans.topo import (
        dependency_edges, topo_levels)
    k = _kg(spark, sf_dir)
    model = k["model"]
    ents = model["nodes"].select("url", "frag", "id").unionByName(
        model["edges"].select("url", "frag", "id"))
    return topo_levels(ents, dependency_edges(model))


def kg_golden_pr(spark, sf_dir):
    """North-rule gate: per-fixture triple precision/recall vs ALL 93
    reference golden documents (sf-independent — the goldens are the
    dataset). Row '__aggregate__' carries the corpus-wide micro
    average. `ok` is the gate, P and R >= 0.95 (currently 1.0/1.0);
    without the goldens the aggregate is the only row, with null P/R
    and `ok` false."""
    from gpml2pvjson_js_spark.golden import pr_report
    from gpml2pvjson_js_spark.session import local_frame
    rep = pr_report(spark)

    def ok(p, r):
        return rep["status"] == "ok" and p >= 0.95 and r >= 0.95

    rows = [(k, float(v["precision"]), float(v["recall"]),
             v["n_ours"], v["n_gold"], ok(v["precision"], v["recall"]))
            for k, v in sorted(rep["fixtures"].items())]
    agg = rep["aggregate"]
    rows.append(("__aggregate__", agg["precision"], agg["recall"],
                 agg["n_ours"], agg["n_gold"],
                 ok(agg["precision"], agg["recall"])))
    return local_frame(
        spark, rows, "fixture string, precision double, recall double, "
                     "n_ours long, n_gold long, ok boolean")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # relational operator demos (SURVEY.md §2 -> Spark primitives)
        "agg_pricing_summary": q_agg_pricing_summary,
        "window_ordinal": q_window_ordinal,
        "broadcast_dim_join": q_broadcast_dim_join,
        "anti_join": q_anti_join,
        "two_hop_join": q_two_hop_join,
        "bbox_agg": q_bbox_agg,
        "sorted_set_agg": q_sorted_set_agg,
        "conditional_projection": q_conditional_projection,
        "topk_per_group": q_topk_per_group,
        "content_hash_id": q_content_hash_id,
        "zorder_sorted_lines": q_zorder_sorted_lines,
        "union_distinct": q_union_distinct,
        "json_extract": q_json_extract,
        # training-data pipeline
        "dedup_exact": q_dedup_exact,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash_neardup": q_simhash_neardup,
        "ann_bruteforce": q_ann_bruteforce,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "cosine_neardup": q_cosine_neardup,
        "cosine_neardup_lsh": q_cosine_neardup_lsh,
        "affine_transform": q_affine_transform,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        # corpus scrubbing / sampling (operators/scrub.py)
        "pii_redaction": q_pii_redaction,
        "hash_sample": q_hash_sample,
        "stratified_sample": q_stratified_sample,
        "repetition_score": q_repetition_score,
        "decontamination": q_decontamination,
        # skew handling (salting: same values as unsalted oracle)
        "skew_salted_join": q_skew_salted_join,
        "skew_salted_repartition": q_skew_salted_repartition,
        # KG construction pipeline (rows-only; no SQL oracle can parse
        # GPML)
        "kg_mentions": kg_mentions,
        "kg_nodes": kg_nodes,
        "kg_edges": kg_edges,
        "kg_interactions": kg_interactions,
        "kg_triples": kg_triples,
        "kg_canonical_triples": kg_canonical_triples,
        "kg_linked": kg_linked,
        "kg_text_invariant": kg_text_invariant,
        "kg_jsonld": kg_jsonld,
        "kg_topo_levels": kg_topo_levels,
        "kg_golden_pr": kg_golden_pr,
    }


# simhash oracle: brute-force all-pairs Hamming<=3 over the SAME
# 60-bit md5 token-hash fingerprints the Spark query computes (vote
# sums + sign bits reproduced bit-for-bit in SQL; + is | here because
# the addends occupy disjoint bits)
_SIMHASH_VOTES = ",\n                   ".join(
    f"sum(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END) AS v{b}"
    for b in range(60))
_SIMHASH_FP = "\n                 + ".join(
    f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(60))
_SIMHASH_ORACLE = f"""
            WITH th AS (
              SELECT doc_id,
                     CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
              FROM (SELECT doc_id,
                           unnest(list_distinct(string_split(
                             regexp_replace(lower(trim(text)),
                                            '\\s+', ' ', 'g'),
                             ' '))) AS tok
                    FROM documents)),
            votes AS (
              SELECT doc_id,
                   {_SIMHASH_VOTES}
              FROM th GROUP BY doc_id),
            fp AS (
              SELECT doc_id,
                   ({_SIMHASH_FP}) AS simhash
              FROM votes)
            SELECT x.doc_id AS a, y.doc_id AS b,
                   CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT)
                       AS hamming
            FROM fp x JOIN fp y ON x.doc_id < y.doc_id
            WHERE bit_count(xor(x.simhash, y.simhash)) <= 3
"""

_EN = "['the','and','of','to','in','is','that','for','with']"
_DE = "['der','die','das','und','ist','nicht','ein','mit']"
_FR = "['le','la','les','et','est','pas','une','pour']"
_ES = "['el','la','los','y','es','no','una','para']"
_TOKS = "list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+'))"


def oracle_sql() -> dict[str, str]:
    return {
        "agg_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS revenue,
                   count(*) AS n_rows
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "window_ordinal": """
            SELECT o_custkey, o_orderkey, ordinal FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS ordinal
              FROM orders) WHERE ordinal <= 3
        """,
        "broadcast_dim_join": """
            SELECT r_name, count(*) AS n_customers,
                   round(avg(c_acctbal), 2) AS avg_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "anti_join": """
            SELECT o_orderpriority, count(*) AS n_orders_no_returns
            FROM orders
            WHERE NOT EXISTS (SELECT 1 FROM lineitem
                              WHERE l_orderkey = o_orderkey
                                AND l_returnflag = 'R')
            GROUP BY o_orderpriority
        """,
        "two_hop_join": """
            SELECT c_mktsegment, count(*) AS n_lines,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,4))
                                  * (1 - CAST(l_discount AS DECIMAL(20,4)))),
                              2) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_quantity > 45
            GROUP BY c_mktsegment
        """,
        "bbox_agg": """
            SELECT l_orderkey,
                   round(min(l_extendedprice), 2) AS min_price,
                   round(max(l_extendedprice), 2) AS max_price,
                   count(*) AS n_items
            FROM lineitem GROUP BY l_orderkey
        """,
        "sorted_set_agg": """
            SELECT o_custkey,
                   string_agg(DISTINCT o_orderpriority, ','
                              ORDER BY o_orderpriority) AS priorities
            FROM orders GROUP BY o_custkey
        """,
        "conditional_projection": """
            SELECT size_class, count(*) AS n_parts,
                   round(sum(adj_price), 2) AS sum_adj_price
            FROM (SELECT CASE WHEN p_size < 10 THEN 'small'
                              WHEN p_size < 30 THEN 'medium'
                              ELSE 'large' END AS size_class,
                         round(p_retailprice - p_size / 2.0, 2) AS adj_price
                  FROM part)
            GROUP BY size_class
        """,
        "topk_per_group": """
            SELECT s_nationkey, s_suppkey, round(s_acctbal, 2) AS acctbal
            FROM (SELECT s_nationkey, s_suppkey, s_acctbal,
                         row_number() OVER (PARTITION BY s_nationkey
                           ORDER BY s_acctbal DESC, s_suppkey) AS rn
                  FROM supplier) WHERE rn = 1
        """,
        "content_hash_id": """
            SELECT c_custkey, sha256(c_name) AS content_id FROM customer
        """,
        "zorder_sorted_lines": """
            SELECT l_orderkey,
                   string_agg(CAST(l_linenumber AS VARCHAR), ','
                              ORDER BY l_shipdate, l_linenumber)
                       AS line_order
            FROM lineitem GROUP BY l_orderkey
        """,
        "union_distinct": """
            SELECT count(*) AS n_users FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              UNION
              SELECT user_id FROM events WHERE event_type = 'purchase')
        """,
        "json_extract": """
            SELECT event_type, count(*) AS n_events,
                   round(avg(CAST(json_extract_string(props, '$.k')
                                  AS BIGINT)), 4) AS avg_k
            FROM events GROUP BY event_type
        """,
        "dedup_exact": """
            SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ',
                                         'g')) AS h,
                   min(doc_id) AS keep, count(*) AS n
            FROM documents
            GROUP BY 1
        """,
        "lang_id": f"""
            SELECT doc_id,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0
                          THEN 'und'
                        WHEN h_de >= greatest(h_en, h_es, h_fr) THEN 'de'
                        WHEN h_en >= greatest(h_es, h_fr) THEN 'en'
                        WHEN h_es >= h_fr THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM (SELECT doc_id,
                         len(list_intersect({_TOKS}, {_DE})) AS h_de,
                         len(list_intersect({_TOKS}, {_EN})) AS h_en,
                         len(list_intersect({_TOKS}, {_ES})) AS h_es,
                         len(list_intersect({_TOKS}, {_FR})) AS h_fr
                  FROM documents)
        """,
        "quality_score": f"""
            WITH t AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                         AS n_tokens,
                     length(text)
                       - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                         AS n_punct,
                     len(list_intersect({_TOKS}, {_EN})) AS stop_hits
              FROM documents),
            r AS (
              SELECT doc_id, n_tokens,
                     CASE WHEN n_tokens > 0
                          THEN CAST(n_chars AS DOUBLE) / n_tokens
                          ELSE 0.0 END AS mean_token_len,
                     CASE WHEN n_chars > 0
                          THEN CAST(n_punct AS DOUBLE) / n_chars
                          ELSE 0.0 END AS punct_ratio,
                     CASE WHEN n_tokens > 0
                          THEN CAST(stop_hits AS DOUBLE) / n_tokens
                          ELSE 0.0 END AS stopword_ratio
              FROM t)
            SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                   round(mean_token_len, 4) AS mean_token_len,
                   round(punct_ratio, 4) AS punct_ratio,
                   round(stopword_ratio, 4) AS stopword_ratio,
                   round(
                     (CASE WHEN n_tokens BETWEEN 5 AND 100000
                           THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN mean_token_len BETWEEN 2.0 AND 12.0
                             THEN 0.3 ELSE 0.0 END)
                     + (CASE WHEN punct_ratio <= 0.2
                             THEN 0.2 ELSE 0.0 END)
                     + least(stopword_ratio * 2, 0.1), 6) AS quality
            FROM r
        """,
        "token_counts": """
            SELECT doc_id,
                   CAST(len(regexp_split_to_array(lower(trim(text)),
                                                  '\\s+')) AS BIGINT)
                       AS ws_tokens,
                   CAST(list_sum(list_transform(
                     regexp_split_to_array(lower(trim(text)), '\\s+'),
                     t -> CAST(ceil(length(t) / 4.0) AS BIGINT)))
                       AS BIGINT) AS bpe_tokens_est
            FROM documents
        """,
        "fingerprint": """
            SELECT doc_id,
                   sha256(regexp_replace(lower(trim(text)), '\\s+', ' ',
                                         'g')) AS fp_sha256
            FROM documents
        """,
        # brute-force all-pairs shingle Jaccard: the LSH output must
        # EQUAL this set (that is the recall claim; band config is
        # sized so candidate-miss probability at j>=0.8 is ~3e-4).
        # Normalization = collapse \\s+ then space-trim (matching the
        # Arrow shingle UDF); docs with no non-empty tokens drop out.
        "minhash_lsh_pairs": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct([
                        array_to_string(w[i+1:i+3], ' ')
                        FOR i IN range(0, greatest(len(w)-3, 0)+1)
                     ]) AS shingles
              FROM (SELECT doc_id, string_split(norm, ' ') AS w
                    FROM (SELECT doc_id,
                                 trim(regexp_replace(lower(text),
                                                     '\\s+', ' ', 'g'))
                                     AS norm
                          FROM documents)
                    WHERE norm <> '')
            )
            SELECT x.doc_id AS a, y.doc_id AS b,
                   round(CAST(len(list_intersect(x.shingles, y.shingles))
                              AS DOUBLE)
                         / len(list_distinct(x.shingles || y.shingles)),
                         4) AS jaccard
            FROM sh x JOIN sh y ON x.doc_id < y.doc_id
            WHERE CAST(len(list_intersect(x.shingles, y.shingles))
                       AS DOUBLE)
                  / greatest(len(list_distinct(x.shingles || y.shingles)),
                             1) >= 0.8
        """,
        "simhash_neardup": _SIMHASH_ORACLE,
        # brute-force all-pairs word-2-gram Jaccard (same claim as the
        # minhash oracle, at n=2 — pins the shingle-size threading)
        "ngram_jaccard": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct([
                        array_to_string(w[i+1:i+2], ' ')
                        FOR i IN range(0, greatest(len(w)-2, 0)+1)
                     ]) AS shingles
              FROM (SELECT doc_id, string_split(norm, ' ') AS w
                    FROM (SELECT doc_id,
                                 trim(regexp_replace(lower(text),
                                                     '\\s+', ' ', 'g'))
                                     AS norm
                          FROM documents)
                    WHERE norm <> '')
            )
            SELECT x.doc_id AS a, y.doc_id AS b,
                   round(CAST(len(list_intersect(x.shingles, y.shingles))
                              AS DOUBLE)
                         / len(list_distinct(x.shingles || y.shingles)),
                         4) AS jaccard
            FROM sh x JOIN sh y ON x.doc_id < y.doc_id
            WHERE CAST(len(list_intersect(x.shingles, y.shingles))
                       AS DOUBLE)
                  / greatest(len(list_distinct(x.shingles || y.shingles)),
                             1) >= 0.8
        """,
        "ann_bruteforce": """
            WITH q AS (SELECT vec_id AS q_id,
                              CAST(embedding AS DOUBLE[]) AS q_vec
                       FROM embeddings WHERE vec_id < 3),
            c AS (SELECT q.q_id, e.vec_id AS nbr_id,
                         list_cosine_similarity(
                           CAST(e.embedding AS DOUBLE[]), q.q_vec) AS cos
                  FROM embeddings e, q WHERE e.vec_id <> q.q_id)
            SELECT q_id, nbr_id, rank, round(cos, 4) AS cosine
            FROM (SELECT q_id, nbr_id, cos,
                         row_number() OVER (PARTITION BY q_id
                           ORDER BY cos DESC, nbr_id) AS rank
                  FROM c)
            WHERE rank <= 5
        """,
        "cosine_neardup": """
            SELECT x.vec_id AS a, y.vec_id AS b,
                   round(list_cosine_similarity(
                           CAST(x.embedding AS DOUBLE[]),
                           CAST(y.embedding AS DOUBLE[])), 4) AS cosine
            FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
            WHERE list_cosine_similarity(
                    CAST(x.embedding AS DOUBLE[]),
                    CAST(y.embedding AS DOUBLE[])) >= 0.3
        """,
        # closed form of T(origin) . scale . translate . T(-origin)
        # applied to both bbox corners; dyadic-rational inputs make
        # Spark's matrix fold and this closed form bit-identical
        "affine_transform": """
            SELECT p_partkey,
                   sx * (dx - 0.25 * w) + (x + 0.25 * w) AS x,
                   sy * (dy - 0.75 * h) + (y + 0.75 * h) AS y,
                   sx * w AS width,
                   sy * h AS height
            FROM (
              SELECT p_partkey,
                     CAST(p_partkey % 97 AS DOUBLE) AS x,
                     CAST((p_partkey * 7) % 89 AS DOUBLE) AS y,
                     CAST(p_partkey % 50 + 10 AS DOUBLE) AS w,
                     CAST(p_partkey % 30 + 5 AS DOUBLE) AS h,
                     CAST(p_partkey % 5 AS DOUBLE) * 0.5 + 1.0 AS sx,
                     CAST(p_partkey % 4 AS DOUBLE) * 0.25 + 0.5 AS sy,
                     CAST(p_partkey % 11 AS DOUBLE) - 5.0 AS dx,
                     CAST(p_partkey % 13 AS DOUBLE) - 6.0 AS dy
              FROM part)
        """,
        # the salted variants must produce EXACTLY the unsalted
        # relational result — the salt is physical-plan-only
        "skew_salted_join": """
            WITH big AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 10 < 9 THEN 'hot.example'
                          ELSE 'site' || CAST(doc_id % 7 AS VARCHAR)
                     END AS domain,
                     n_chars
              FROM documents),
            dim AS (SELECT DISTINCT domain, upper(domain) AS tag
                    FROM big)
            SELECT b.doc_id, b.domain, b.n_chars, d.tag
            FROM big b JOIN dim d USING (domain)
        """,
        "skew_salted_repartition": """
            SELECT doc_id,
                   CASE WHEN doc_id % 10 < 9 THEN 'hot.example'
                        ELSE 'site' || CAST(doc_id % 7 AS VARCHAR)
                   END AS domain,
                   n_chars
            FROM documents
        """,
        # PII scrub: the planted email/IP/phone (derived from doc_id,
        # identical to q_pii_redaction's concat) makes the redaction
        # chain hash-compare on non-trivial matches; counts are over
        # the ORIGINAL (planted) text, replacement order email->ip->
        # phone as in operators/scrub.py.
        "pii_redaction": f"""
            WITH p AS (
              SELECT doc_id,
                     text || ' Contact user' || CAST(doc_id AS VARCHAR)
                          || '@example.com from 10.'
                          || CAST(doc_id % 200 AS VARCHAR) || '.3.'
                          || CAST(doc_id % 250 AS VARCHAR)
                          || ' call +1415'
                          || lpad(CAST(doc_id % 100000 AS VARCHAR),
                                  7, '0') AS text
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
                        AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(text, '{_IPV4_RE}'))
                        AS BIGINT) AS n_ips,
                   CAST(len(regexp_extract_all(text, '{_PHONE_RE}'))
                        AS BIGINT) AS n_phones,
                   regexp_replace(regexp_replace(regexp_replace(text,
                       '{_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_IPV4_RE}', '<IP>', 'g'),
                       '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
            FROM p
        """,
        # deterministic md5-prefix sampling: the predicate is the
        # SAME bytes in both engines (md5 of the key's decimal string,
        # first 8 hex chars compared lexically), so the kept id set —
        # not just its size — must match exactly.
        "hash_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                  < '{_hex_threshold(0.25)}'
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
                  CASE lang
                    WHEN 'en' THEN '{_hex_threshold(0.5)}'
                    WHEN 'de' THEN '{_hex_threshold(0.25)}'
                    WHEN 'fr' THEN '{_hex_threshold(0.1)}'
                    ELSE '{_hex_threshold(0.0)}' END
        """,
        # decontamination: eval split = md5-prefix < f(0.05) (same rule
        # as hash_sample), train = the rest; 4-gram sets are built
        # positionally with the same tokenization as repetition_score,
        # distinct per doc, and the report counts each train doc's
        # distinct grams appearing in ANY eval doc. The oracle joins
        # raw gram strings; the Spark side joins xxhash64(gram) — equal
        # results barring a 64-bit collision in this fixed corpus.
        "decontamination": f"""
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS w
              FROM documents),
            g AS (
              SELECT doc_id,
                     list_distinct(
                       [array_to_string(w[i+1:i+4], ' ')
                        FOR i IN range(0, greatest(len(w) - 3, 0))]
                     ) AS grams
              FROM t),
            ev AS (
              SELECT DISTINCT unnest(grams) AS gram FROM g
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    < '{_hex_threshold(0.05)}'),
            tr AS (
              SELECT doc_id, unnest(grams) AS gram FROM g
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    >= '{_hex_threshold(0.05)}'),
            hits AS (
              SELECT tr.doc_id, count(*) AS n_overlap
              FROM tr JOIN ev USING (gram) GROUP BY tr.doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
                   coalesce(h.n_overlap, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM documents
                  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        >= '{_hex_threshold(0.05)}') d
            LEFT JOIN hits h USING (doc_id)
        """,
        # repetition features: tokenization identical to token_counts
        # (lower/trim/split on \s+); 2-grams built positionally so
        # duplicate fractions match Spark's transform(sequence(...)).
        "repetition_score": """
            WITH t AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS w
              FROM documents),
            g AS (
              SELECT doc_id, w,
                     [w[i+1] || ' ' || w[i+2]
                      FOR i IN range(0, greatest(len(w) - 1, 0))] AS g2
              FROM t)
            SELECT doc_id,
                   CAST(len(w) AS BIGINT) AS n_tokens,
                   round(CASE WHEN len(w) > 0
                              THEN (len(w) - len(list_distinct(w)))
                                   / CAST(len(w) AS DOUBLE)
                              ELSE 0.0 END, 6) AS dup_token_frac,
                   round(CASE WHEN len(g2) > 0
                              THEN (len(g2) - len(list_distinct(g2)))
                                   / CAST(len(g2) AS DOUBLE)
                              ELSE 0.0 END, 6) AS dup_2gram_frac
            FROM g
        """,
    }
