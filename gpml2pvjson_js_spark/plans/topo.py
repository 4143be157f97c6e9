"""Topological levels (O2): the reference's fixpoint scheduler
(src/2013a/toPvjson.ts:470-637, RECURSION_LIMIT=1000) resolves one
document in memory, and every dependency is scoped to its (url, frag),
so the levels come from one grouped-map pass: each document's entity
and dependency rows reach one Python call (`document_levels`).

An entity's dependencies are what must be resolved before it
(contains ∪ isAttachedTo ∪ isAttachedToOrVia). Both kinds of row
travel in ONE frame with a role flag rather than as a `cogroup` of two
frames: cogroup segfaulted inside pyarrow 16.1. Entities left
unresolved — a cycle, or a dependency that names no entity of the
document — get level -1, matching the reference's cycle tolerance
(leftovers appended unsorted).

`kahn_levels` is the package's one level order: the document
compiler's hyperedge waypoints (operators/waypoints.py) take theirs
from it too, over the row indices of a document's curvy edges.
"""

from __future__ import annotations

from collections import defaultdict

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..operators.entities import DOC_KEY

_KEY = [*DOC_KEY, "id"]
_ROLE = "_topo_entity"


def dependency_edges(model: dict) -> DataFrame:
    """(url, frag, id, dep_id) for burr->host, edge->target,
    group->member."""
    nodes, edges = model["nodes"], model["edges"]
    burr = nodes.filter(F.col("is_attached_to").isNotNull()).select(
        *DOC_KEY, "id", F.col("is_attached_to").alias("dep_id"))
    # edge-level attachment (isAttachedTo)
    edge = edges.filter(F.col("is_attached_to").isNotNull()).select(
        *DOC_KEY, "id", F.explode("is_attached_to").alias("dep_id"))
    # point-level attachment incl. anchors (isAttachedToOrVia,
    # ref: src/edge/edge.ts:92-106)
    via = edges.filter(F.col("point_targets").isNotNull()).select(
        *DOC_KEY, "id",
        F.explode("point_targets").alias("pt")
    ).select(*DOC_KEY, "id", F.col("pt.point_ref").alias("dep_id"))
    grp = nodes.filter(F.col("contains").isNotNull()).select(
        *DOC_KEY, "id", F.explode("contains").alias("dep_id"))
    return burr.unionByName(edge).unionByName(via).unionByName(grp) \
        .distinct()


def kahn_levels(ids, deps: dict) -> dict:
    """Kahn's algorithm: entity ids + {id: dependency ids} -> {id:
    level} for the ids that resolve. An id with no dependencies is
    level 0; any other is 1 + the max level of its dependencies once
    they all have one. A None id, like SQL's null, has no dependencies
    and satisfies none."""
    waiting = {i: len(deps[i]) for i in ids
               if i is not None and deps.get(i)}
    level = {i: 0 for i in ids if i not in waiting}
    dependents = defaultdict(list)
    for i in waiting:
        for d in deps[i]:
            dependents[d].append(i)
    ready = [i for i in level if i is not None]
    for d in ready:  # grows while it is walked
        for i in dependents[d]:
            waiting[i] -= 1
            if not waiting[i]:
                level[i] = 1 + max(level[x] for x in deps[i])
                ready.append(i)
    return level


def document_levels(table: pa.Table, schema: pa.Schema) -> pa.Table:
    """One document's rows (role flag set: an entity; unset: a
    dependency) -> one row per entity row, with its level or -1."""
    cols = table.to_pydict()
    ids, deps = [], defaultdict(set)
    for i, d, is_entity in zip(cols["id"], cols["dep_id"], cols[_ROLE]):
        if is_entity:
            ids.append(i)
        else:
            deps[i].add(d)
    lv = kahn_levels(ids, deps)
    n = len(ids)
    return pa.Table.from_pydict(
        {"url": cols["url"][:1] * n, "frag": cols["frag"][:1] * n,
         "id": ids, "topo_level": [lv.get(i, -1) for i in ids]},
        schema=schema)


def topo_levels(entities: DataFrame, deps: DataFrame) -> DataFrame:
    """entities(url, frag, id) + deps(url, frag, id, dep_id) ->
    (url, frag, id, topo_level), one row per entity row; topo_level =
    -1 marks cycle/unresolved rows (quarantine). Lazy."""
    schema = T.StructType([entities.schema[c] for c in _KEY]
                          + [T.StructField("topo_level", T.IntegerType())])
    arrow_schema = to_arrow_schema(schema)
    rows = entities.select(*_KEY, F.lit(True).alias(_ROLE)).unionByName(
        deps.select(*_KEY, "dep_id", F.lit(False).alias(_ROLE)),
        allowMissingColumns=True)
    return rows.groupBy(*DOC_KEY).applyInArrow(
        lambda t: document_levels(t, arrow_schema), schema)
