"""Affine transforms over element bounding boxes (reference parity:
``transform`` / ``getTransformationMatrix`` / ``rotate`` / ``scale`` /
``translate`` in src/geom-utils.ts:415-686).

The reference applies a per-element transformation sequence (rotate /
scale / translate, y-axis pointing down) about a CSS-style
transform-origin ("50% 50%" default, keyword / percent / em / px
components), by folding the sequence into one 3x3 matrix and mapping
the bounding box's top-left and bottom-right corners through it
(src/geom-utils.ts:596-686). Note this function is dead code in the
reference's own GPML->pvjson conversion path (no call sites there —
SURVEY.md §8); it is implemented here because it is part of the
public geom-utils API surface a rendering consumer uses.

Spark-first design: the whole computation is Catalyst expressions —
the variable-length sequence folds through ``F.aggregate`` with an
``array<double>(9)`` row-major matrix as the accumulator, so the
operator is JVM-side and shuffle-free (a pure per-row ``Project``,
interpreted in a ``session.get_spark`` session). No UDF, no python workers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# struct element type of a transformation step; `value` is
# [theta] for rotate, [sx, sy] for scale, [dx, dy] for translate
SEQ_TYPE = "array<struct<key:string,value:array<double>>>"

_IDENTITY = [1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0]


def _step_matrix(t: Column) -> list[Column]:
    """Row-major 3x3 entries for one transformation struct. Mirrors
    the reference's `transformations` dispatch (geom-utils.ts:450-494):
    rotate(theta) is CLOCKWISE because the y axis points down."""
    k, v = t["key"], t["value"]
    zero, one = F.lit(0.0), F.lit(1.0)
    rot = [F.cos(v[0]), -F.sin(v[0]), zero,
           F.sin(v[0]), F.cos(v[0]), zero,
           zero, zero, one]
    sc = [v[0], zero, zero,
          zero, v[1], zero,
          zero, zero, one]
    tr = [one, zero, v[0],
          zero, one, v[1],
          zero, zero, one]
    return [F.when(k == "rotate", rot[i])
            .when(k == "scale", sc[i])
            .otherwise(tr[i]) for i in range(9)]


def _mat_mul(acc: Column, t: Column) -> Column:
    """acc (array<double> 9, row-major) x step-matrix(t), the same
    left-to-right concatenation order as getTransformationMatrix
    (geom-utils.ts:497-512)."""
    m = _step_matrix(t)
    out = []
    for i in range(3):
        for j in range(3):
            out.append(sum((acc[i * 3 + k] * m[k * 3 + j]
                            for k in range(1, 3)),
                           acc[i * 3 + 0] * m[0 * 3 + j]))
    return F.array(*out)


def _origin_component(tok: Column, extent: Column, base: Column) -> Column:
    """One component of the transform-origin string -> absolute
    coordinate. Keyword -> percent mapping, then percent-of-extent,
    em (x12 — the reference's documented hack), or bare/px number;
    finally shifted by the box's top-left (geom-utils.ts:608-651)."""
    mapped = (F.when(tok.isin("left", "top"), F.lit("0%"))
              .when(tok == "center", F.lit("50%"))
              .when(tok.isin("right", "bottom"), F.lit("100%"))
              .otherwise(tok))
    num = (F.when(mapped.contains("%"),
                  F.regexp_replace(mapped, "%", "").cast("double")
                  / F.lit(100.0) * extent)
           .when(tok.contains("em"),
                 F.regexp_replace(mapped, "em", "").cast("double")
                 * F.lit(12.0))
           .otherwise(F.regexp_replace(mapped, "px", "").cast("double")))
    return num + base


def _apply(m: Column, px: Column, py: Column) -> tuple[Column, Column]:
    """multiplyMatrixByVector for [px, py, 1] (geom-utils.ts:513-528);
    affine matrices keep z == 1 so no perspective divide."""
    return (m[0] * px + m[1] * py + m[2],
            m[3] * px + m[4] * py + m[5])


def transform_elements(df: DataFrame,
                       x: str = "x", y: str = "y",
                       width: str = "width", height: str = "height",
                       seq_col: str = "transformation_sequence",
                       origin_col: str | None = None) -> DataFrame:
    """Apply each row's transformation sequence to its bounding box,
    replacing x/y/width/height — the batch equivalent of the
    reference's per-element ``transform()`` (geom-utils.ts:596-686).

    ``seq_col`` must be ``SEQ_TYPE``; a NULL sequence means identity
    (the reference defaults to []). ``origin_col`` is an optional
    string column ("50% 50%" when absent/NULL, like the reference).
    """
    ox_tok = F.split(F.coalesce(
        (F.col(origin_col) if origin_col else F.lit(None).cast("string")),
        F.lit("50% 50%")), " ")
    cx, cy, cw, ch = (F.col(c).cast("double")
                      for c in (x, y, width, height))
    ox = _origin_component(ox_tok[0], cw, cx)
    oy = _origin_component(ox_tok[1], ch, cy)

    step = "struct<key:string,value:array<double>>"
    pre = F.struct(F.lit("translate").alias("key"),
                   F.array(ox, oy).alias("value")).cast(step)
    post = F.struct(F.lit("translate").alias("key"),
                    F.array(-ox, -oy).alias("value")).cast(step)
    seq = F.concat(
        F.array(pre),
        F.coalesce(F.col(seq_col).cast(SEQ_TYPE),
                   F.array().cast(SEQ_TYPE)),
        F.array(post))

    m = F.aggregate(
        seq,
        F.array(*[F.lit(v) for v in _IDENTITY]),
        _mat_mul)

    tlx, tly = _apply(m, cx, cy)
    brx, bry = _apply(m, cx + cw, cy + ch)
    return (df.withColumn("__tlx", tlx).withColumn("__tly", tly)
            .withColumn("__brx", brx).withColumn("__bry", bry)
            .withColumn(x, F.col("__tlx"))
            .withColumn(y, F.col("__tly"))
            .withColumn(width, F.col("__brx") - F.col("__tlx"))
            .withColumn(height, F.col("__bry") - F.col("__tly"))
            .drop("__tlx", "__tly", "__brx", "__bry"))
