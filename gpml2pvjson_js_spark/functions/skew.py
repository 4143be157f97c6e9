"""Skew-handling primitives: salted repartitioning and salted
broadcast-replicated joins for hot keys.

The web corpus the pipeline targets is Zipf-distributed two ways:
hot DOMAINS (one site contributes a large share of pages, so any
url-domain-keyed shuffle funnels into few reducers) and GIANT PAGES
(one url carries an outsized GPML payload, so per-url aggregations
skew). AQE's skew-join splitting (enabled in session.py) handles the
sort-merge-join case at runtime; these helpers cover what AQE cannot:

- `salted_repartition` — pre-shuffle placement. AQE only splits
  skewed partitions inside joins; a plain `repartition(key)` before a
  mapInPandas/aggregation stage still funnels a hot key into one
  task. Appending a deterministic salt to the distribution key spreads
  a hot key over `n_salts` tasks without changing row content.
- `salted_join` — skew-robust equi-join against a SMALL right side:
  the big side gets a random-but-deterministic salt in [0, n_salts),
  the small side is replicated n_salts times (it is broadcast anyway,
  so replication costs n_salts * |small|, not a shuffle), and the join
  key becomes (key, salt). A hot key's rows land in n_salts parallel
  tasks instead of one. This is the classic salting construction;
  with an actual broadcast join the hash lookup itself does not skew,
  so this matters when the right side exceeds the broadcast threshold
  and Spark falls back to a shuffle join — the salt keeps that
  fallback balanced too.

Everything is a pure Catalyst expression (xxhash64 + pmod); no Python
UDFs, no nondeterminism (salts derive from row content, so retries and
resumed runs place rows identically — required for the lineage
manifests' per-partition row counts to be reproducible).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def salt_column(cols: list[str | Column], n_salts: int = DEFAULT_SALTS,
                seed: int = 0) -> Column:
    """Deterministic salt in [0, n_salts) derived from `cols` (use
    fine-grained columns — e.g. the element id inside a giant page —
    so one hot coarse key spreads)."""
    return F.pmod(F.xxhash64(*cols, F.lit(seed)), F.lit(n_salts)) \
        .cast("int")


def salted_repartition(df: DataFrame, keys: list[str],
                       fine_cols: list[str] | None = None,
                       n_salts: int = DEFAULT_SALTS,
                       num_partitions: int | None = None) -> DataFrame:
    """repartition by (keys..., salt): rows with the same hot key
    spread over up to n_salts partitions; co-location within a salt
    group is preserved. `fine_cols` (default: all columns not in
    keys) feed the salt hash so the spread is content-deterministic."""
    fine = fine_cols or [c for c in df.columns if c not in keys]
    salted = df.withColumn("__salt", salt_column(fine, n_salts))
    parts = [F.col(k) for k in keys] + [F.col("__salt")]
    out = (salted.repartition(num_partitions, *parts)
           if num_partitions else salted.repartition(*parts))
    return out.drop("__salt")


def salted_join(big: DataFrame, small: DataFrame,
                key: str | list[str],
                how: str = "inner",
                n_salts: int = DEFAULT_SALTS,
                broadcast_small: bool = True) -> DataFrame:
    """Equi-join `big` (skewed key distribution) with `small` on
    `key` (one name or a list), salted so a hot key occupies n_salts
    tasks. The small side is replicated n_salts times driver-free via
    a range crossJoin.

    broadcast_small=True (dimension-sized small side): the replicated
    dict stays broadcastable at n_salts * |small|. broadcast_small=
    False (small side ABOVE the broadcast threshold, e.g. a full xref
    dictionary): both sides shuffle on (key..., __salt) — the salt
    still spreads each hot key over n_salts reducers, which a plain
    key-partitioned shuffle join cannot do.

    Only big-side-preserving joins are valid: the replicated small
    side would emit each UNMATCHED small-side row n_salts times under
    right/full/right_semi semantics."""
    valid = {"inner", "left", "left_outer", "leftouter",
             "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how.lower() not in valid:
        raise ValueError(
            f"salted_join: how={how!r} unsupported — the small side is "
            f"replicated {n_salts}x, so only big-side-preserving joins "
            f"({sorted(valid)}) produce correct results")
    keys = [key] if isinstance(key, str) else list(key)
    fine = [c for c in big.columns if c not in keys]
    b = big.withColumn("__salt", salt_column(fine, n_salts))
    replicas = small.sparkSession.range(n_salts) \
        .select(F.col("id").cast("int").alias("__salt"))
    s = small.crossJoin(F.broadcast(replicas))
    if broadcast_small:
        s = F.broadcast(s)
    return b.join(s, keys + ["__salt"], how).drop("__salt")
