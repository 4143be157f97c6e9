"""The per-process memoization of input-independent Column expression
lists (entities._finish / _eff_exprs, skew.salt_column,
converters.html_unescape_name) must (a) actually return the cached
objects on repeat calls and (b) change nothing about results — the
cached Columns are the same immutable expression trees the
un-memoized code built every time."""

from pyspark.sql import functions as F

from gpml2pvjson_js_spark.functions import converters as C
from gpml2pvjson_js_spark.functions.skew import salt_column
from gpml2pvjson_js_spark.operators import entities as E


def test_html_unescape_name_is_memoized_and_equivalent(spark):
    assert C.html_unescape_name("t") is C.html_unescape_name("t")
    assert C.html_unescape_name("t") is not C.html_unescape_name("u")
    df = spark.createDataFrame(
        [("&lt;b&gt; &amp; #38; &#x263a;",), (None,)], "t string")
    got = [r[0] for r in
           df.select(C.html_unescape_name("t").alias("o")).collect()]
    want = [r[0] for r in
            df.select(C.html_unescape(F.col("t")).alias("o")).collect()]
    assert got == want == ["<b> & #38; ☺", None]


def test_salt_column_memoized_for_names_only():
    assert salt_column(["x", "y"], 8) is salt_column(["x", "y"], 8)
    assert salt_column(["x", "y"], 8) is not salt_column(["x"], 8)
    assert salt_column(["x"], 8) is not salt_column(["x"], 4)
    # Column inputs stay un-cached (identity differs) but still work
    assert salt_column([F.col("x")], 8) is not salt_column([F.col("x")], 8)


def test_finish_and_eff_exprs_are_cached():
    first = E._eff_exprs()
    assert E._eff_exprs() is first
    cols = E._ENTITY_COLS
    assert len(set(cols)) == len(cols)  # select list has no dup names


def test_nodeish_and_edge_exprs_are_cached():
    from gpml2pvjson_js_spark.operators import edges as Ed
    first = E._nodeish_exprs()
    assert E._nodeish_exprs() is first
    l1, l2, l3 = first
    assert set(l2) == {"_w", "_h", "_anchor_w"}
    assert "kaavio_type" in l3 and "_dbl" in l1
    ef = Ed._edge_exprs()
    assert Ed._edge_exprs() is ef
    pts, outcols = ef
    assert "marker_start" in outcols and "types" in outcols


def test_dim_frames_cached_per_session_and_equal(spark):
    d1 = E.defaults_df(spark)
    assert E.defaults_df(spark) is d1
    g1 = E.group_style_df(spark)
    assert E.group_style_df(spark) is g1
    # cached handle carries exactly the rows a fresh build produces
    fresh = E._build_defaults_df(spark)
    assert d1.schema == fresh.schema
    assert sorted(map(tuple, d1.collect())) == \
        sorted(map(tuple, fresh.collect()))
    freshg = E._build_group_style_df(spark)
    assert g1.schema == freshg.schema
    assert sorted(map(tuple, g1.collect())) == \
        sorted(map(tuple, freshg.collect()))
