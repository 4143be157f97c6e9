"""Skew handling: salted repartitioning spreads hot keys; salted
joins match unsalted results exactly (north rule: 'skew from hot
domains and giant pages is handled via salted repartitioning and AQE
skew-join splitting')."""

import pyspark.sql.functions as F
import pytest

from gpml2pvjson_js_spark.functions.skew import (
    salt_column, salted_join, salted_repartition)


@pytest.fixture(scope="module")
def hot_df(spark):
    """Zipf-ish: 90% of rows share one hot domain key."""
    return spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot.example"))
        .otherwise(F.concat(F.lit("site"), F.col("id") % 7))
        .alias("domain"),
        F.col("id").alias("row_id"),
        (F.col("id") * 3 % 101).alias("payload"))


def _partition_sizes(df):
    return [r["n"] for r in
            df.groupBy(F.spark_partition_id().alias("p"))
              .agg(F.count("*").alias("n")).collect()]


def test_salted_repartition_spreads_hot_key(hot_df):
    plain = hot_df.repartition(16, "domain")
    salted = salted_repartition(hot_df, ["domain"], n_salts=16,
                                num_partitions=16)
    # unsalted: the hot key funnels ~1800 rows into one partition
    assert max(_partition_sizes(plain)) >= 1500
    # salted: no partition dominates
    assert max(_partition_sizes(salted)) <= 600
    # content unchanged
    assert sorted(r["row_id"] for r in salted.collect()) == \
        list(range(2000))


def test_salted_repartition_is_deterministic(hot_df):
    a = salted_repartition(hot_df, ["domain"], n_salts=8,
                           num_partitions=8)
    b = salted_repartition(hot_df, ["domain"], n_salts=8,
                           num_partitions=8)
    sizes = sorted(_partition_sizes(a))
    assert sizes == sorted(_partition_sizes(b))


def test_salted_join_matches_plain_join(spark, hot_df):
    dim = spark.createDataFrame(
        [("hot.example", "H")] + [(f"site{i}", f"S{i}")
                                  for i in range(7)],
        ["domain", "tag"])
    plain = hot_df.join(dim, "domain").select("row_id", "tag")
    salted = salted_join(hot_df, dim, "domain").select("row_id", "tag")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark, hot_df):
    dim = spark.createDataFrame([("hot.example", "H")],
                                ["domain", "tag"])
    out = salted_join(hot_df, dim, "domain", how="left")
    assert out.count() == 2000
    assert out.filter(F.col("tag").isNull()).count() == \
        hot_df.filter(F.col("domain") != "hot.example").count()


def test_salted_join_rejects_small_side_preserving_how(spark, hot_df):
    """right/full would emit each unmatched small-side row n_salts
    times (the small side is replicated); the guard must refuse."""
    dim = spark.createDataFrame([("hot.example", "H")],
                                ["domain", "tag"])
    for how in ("right", "full", "outer", "right_outer", "cross"):
        with pytest.raises(ValueError, match="salted_join"):
            salted_join(hot_df, dim, "domain", how=how)


def test_salt_column_range(spark, hot_df):
    vals = {r[0] for r in hot_df
            .select(salt_column(["row_id"], 8)).distinct().collect()}
    assert vals <= set(range(8)) and len(vals) == 8
