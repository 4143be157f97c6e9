"""Corpus-scrubbing operators for the training-data pipeline: PII
redaction, deterministic hash-based sampling (plain and stratified),
and repetition/boilerplate scoring.

Everything here is pure Catalyst — narrow projections and filters
built from ``regexp_*`` / array expressions, no UDFs, no shuffles —
so every operator runs in the JVM, row by row (interpreted in a
``session.get_spark`` session, which turns code generation off), and
scales linearly with input at any corpus size. Each is also deliberately
ANSI-SQL-expressible so a DuckDB oracle can replicate it
byte-for-byte (the patterns below stick to the regex subset with
identical semantics in Java regex and RE2: ``\\d``, ``\\b``,
character classes, bounded quantifiers, greedy matching).

Scale notes (100 TB):
- ``redact_pii`` / ``repetition_score`` are per-row projections; the
  only data motion is the scan itself, and column pruning keeps that
  scan to (id, text).
- ``hash_sample`` filters on a prefix of md5(key) — a deterministic,
  data-independent predicate, so the sample is reproducible across
  runs/engines and composable: threshold monotonicity guarantees
  sample(f1) is a SUBSET of sample(f2) whenever f1 <= f2, which is
  what lets a pipeline carve nested train/eval corpora without a
  shuffle or a stored assignment table.
- ``stratified_sample`` is the same filter with a per-stratum
  threshold (a CASE over a small literal map) — still a narrow
  filter; no groupBy, no window, no sampling state.
- ``contamination_report`` / ``decontaminate`` (GPT-3/Gopher-style
  eval-set decontamination) keep the 100 TB train side cheap: the
  eval side (benchmarks are small by construction) collapses to a
  distinct 8-byte-hashed n-gram set that is explicitly broadcast, so
  the train side is one narrow explode + broadcast hash join + one
  map-side-combinable count per doc — the only shuffle is that
  per-doc agg, and removal is a broadcast anti-join (the flagged-id
  set is small), so the surviving corpus never shuffles at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# PII patterns — kept to the Java-regex/RE2 common subset so Spark
# and SQL oracles agree exactly.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{7,15}\b"

EMAIL_TAG = "<EMAIL>"
IP_TAG = "<IP>"
PHONE_TAG = "<PHONE>"


def redact_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails, IPv4 addresses, and +international phone
    numbers from `text_col`, adding per-category match counts.

    Counts are computed on the ORIGINAL text (so they are independent
    of replacement order); the replacement chain runs email -> ip ->
    phone, which is order-safe because no tag introduces text a later
    pattern can match. Adds columns: ``redacted`` (the scrubbed
    text), ``n_emails``, ``n_ips``, ``n_phones``.
    """
    text = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, EMAIL_RE, EMAIL_TAG),
            IPV4_RE, IP_TAG),
        PHONE_RE, PHONE_TAG)
    return docs.withColumns({
        "n_emails": F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)),
        "n_ips": F.size(F.regexp_extract_all(text, F.lit(IPV4_RE), 0)),
        "n_phones": F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)),
        "redacted": redacted,
    })


def _hex_threshold(fraction: float) -> str:
    """Map a sampling fraction to an 8-hex-char threshold: a row is
    kept iff the first 8 hex chars of md5(key) compare lexically
    below it. Fixed-width lowercase hex compares lexically exactly
    like the 32-bit integer it encodes, so the kept fraction is
    threshold / 2^32 (up to md5 uniformity). fraction >= 1.0 returns
    'g', which every hex string sorts below (keep-all)."""
    if fraction >= 1.0:
        return "g"
    f = max(fraction, 0.0)
    return format(int(f * (1 << 32)), "08x")


def _keep(key: Column, fraction_or_threshold) -> Column:
    th = (_hex_threshold(fraction_or_threshold)
          if isinstance(fraction_or_threshold, float)
          else fraction_or_threshold)
    return F.substring(F.md5(key.cast("string")), 1, 8) < F.lit(th)


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Deterministic sample: keep rows where the md5-prefix of the
    key falls below `fraction` of the 32-bit hash space. Reproducible
    across runs and engines (md5 of the key's string form), and
    nested: hash_sample(f1) ⊆ hash_sample(f2) for f1 <= f2."""
    return df.filter(_keep(F.col(key_col), float(fraction)))


def stratified_sample(df: DataFrame, key_col: str, strata_col: str,
                      fractions: dict[str, float],
                      default_fraction: float = 0.0) -> DataFrame:
    """Per-stratum deterministic sample: each stratum value gets its
    own fraction (unlisted strata get `default_fraction`, default
    drop). Same md5-prefix mechanism as `hash_sample`, so samples are
    reproducible and nested per stratum; the stratum map is a literal
    CASE — no shuffle, no state."""
    th = F.lit(_hex_threshold(float(default_fraction)))
    for stratum in sorted(fractions):
        th = F.when(F.col(strata_col) == stratum,
                    F.lit(_hex_threshold(float(fractions[stratum])))) \
            .otherwise(th)
    return df.filter(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 8) < th)


def _distinct_ngrams(text_col: str, n: int) -> Column:
    """Distinct positional word n-grams of `text_col`, tokenized
    exactly like repetition_score/text_analysis (lower, trim, split
    on whitespace) so contamination thresholds and repetition
    thresholds see the same token stream. Documents shorter than n
    tokens yield an empty array (never a partial gram)."""
    toks = f"split(lower(trim({text_col})), '\\\\s+')"
    return F.expr(
        f"array_distinct(CASE WHEN size({toks}) >= {n} THEN "
        f"transform(sequence(1, size({toks}) - {n} + 1), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))) "
        f"ELSE array() END)")


def contamination_report(train: DataFrame, eval_docs: DataFrame,
                         n: int = 8, id_col: str = "doc_id",
                         text_col: str = "text",
                         hash_grams: bool = True) -> DataFrame:
    """Eval-set contamination report (the GPT-3 appendix-C /
    Gopher recipe): for every train document, count the DISTINCT
    word n-grams it shares with ANY eval document, and flag it
    contaminated if that count is > 0. Returns one row per train doc:
    (id_col, n_overlap, contaminated).

    Shape at scale: the eval side reduces to a distinct gram set —
    small by construction (eval benchmarks are thousands of docs, not
    billions) — hashed to 8-byte xxhash64 when `hash_grams` (the
    default; shrinks the broadcast ~10x vs raw strings and is
    deterministic, so results are reproducible run-over-run) and
    EXPLICITLY broadcast (this repo disables auto-broadcast). The
    train side is a narrow explode + broadcast hash join; the only
    shuffle is the map-side-combinable count per doc. The hit table
    (one row per contaminated doc) is broadcast back onto the train
    ids, so the full train corpus itself never shuffles.
    """
    grams = _distinct_ngrams(text_col, n)
    key = (lambda c: F.xxhash64(c)) if hash_grams else (lambda c: c)
    eval_grams = (eval_docs
                  .select(F.explode(grams).alias("_gram"))
                  .select(key(F.col("_gram")).alias("_gk"))
                  .distinct())
    hits = (train
            .select(F.col(id_col), F.explode(grams).alias("_gram"))
            .select(id_col, key(F.col("_gram")).alias("_gk"))
            .join(F.broadcast(eval_grams), "_gk")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_overlap")))
    return (train.select(id_col)
            .join(F.broadcast(hits), id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("n_overlap"), F.lit(0))
                     .cast("long").alias("n_overlap"))
            .withColumn("contaminated", F.col("n_overlap") > 0))


def decontaminate(train: DataFrame, eval_docs: DataFrame,
                  n: int = 8, id_col: str = "doc_id",
                  text_col: str = "text",
                  hash_grams: bool = True,
                  min_overlap: int = 1) -> DataFrame:
    """Drop train documents sharing >= `min_overlap` distinct word
    n-grams with the eval set (min_overlap=1 is the GPT-3
    any-collision rule; raise it for Gopher-style thresholded
    flagging that tolerates incidental short-phrase overlap). The
    flagged-id set is small, so removal is a broadcast LEFT ANTI
    join — the surviving corpus passes through without a shuffle."""
    flagged = (contamination_report(train, eval_docs, n=n,
                                    id_col=id_col, text_col=text_col,
                                    hash_grams=hash_grams)
               .filter(F.col("n_overlap") >= min_overlap)
               .select(id_col))
    return train.join(F.broadcast(flagged), id_col, "left_anti")


def repetition_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition/boilerplate features: fraction of duplicate tokens
    and duplicate word-2-grams (Gopher-style repetition filters).
    Adds ``n_tokens``, ``dup_token_frac``, ``dup_2gram_frac`` — all
    0.0 on empty/singleton token lists. Tokenization matches
    text_analysis (lower, trim, split on whitespace) so thresholds
    learned on one operator's output transfer to the other."""
    df = docs.withColumn(
        "_rs_toks", F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
    n = F.size(F.col("_rs_toks"))
    nd = F.size(F.array_distinct(F.col("_rs_toks")))
    # sequence(1, 0) would generate a DESCENDING [1, 0] — guard n < 2
    # with an explicit empty array instead.
    grams2 = F.when(n >= 2, F.expr(
        "transform(sequence(1, size(_rs_toks) - 1), "
        "i -> concat(element_at(_rs_toks, i), ' ', "
        "element_at(_rs_toks, i + 1)))")) \
        .otherwise(F.array().cast("array<string>"))
    df = df.withColumn("_rs_g2", grams2)
    n2 = F.size(F.col("_rs_g2"))
    nd2 = F.size(F.array_distinct(F.col("_rs_g2")))
    out = df.withColumns({
        "n_tokens": n,
        "dup_token_frac": F.when(
            n > 0, (n - nd).cast("double") / n).otherwise(F.lit(0.0)),
        "dup_2gram_frac": F.when(
            n2 > 0, (n2 - nd2).cast("double") / n2).otherwise(F.lit(0.0)),
    })
    return out.drop("_rs_toks", "_rs_g2")
