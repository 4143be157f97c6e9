"""Assemble the full document model: pages -> {nodes, edges, citations,
vocabularies, pathways, quarantine}.

This is the Spark-first replacement for the reference's dataflow
scheduler + topological fixpoint (O2, src/2013a/toPvjson.ts:470-710):
every reference the triple/JSON-LD outputs need (state->parent,
group->members, edge->target, anchor->edge, burr->host) stays inside
one (url, frag), so one grouped pass resolves them all in memory
(document.py) and nodes, edges and pathways each join its staged
output once. Per-element conversion stays in Catalyst (entities.py,
edges.py). A generic iterative topo-level operator is still provided
in plans/topo.py for hyperedge-depth diagnostics and cycle quarantine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import document as D
from . import edges as E
from . import entities as N
from .entities import DOC_KEY
from .parse import parse_gpml


_STAGE_LEVELS = {
    "ser": StorageLevel.MEMORY_AND_DISK,   # serialized in PySpark
    "disk": StorageLevel.DISK_ONLY,
}


_SCRATCH: dict = {}
_SCRATCH_LOCK = __import__("threading").Lock()


def _cleanup_scratch() -> None:
    """Staged frames are process-lifetime scratch; remove the root on
    interpreter exit so repeated runs don't leak kgstage_* dirs on
    tmpfs (crashed runs can still leave them behind — they are safe to
    delete)."""
    import shutil
    root = _SCRATCH.get("root")
    if root:
        shutil.rmtree(root, ignore_errors=True)


def _scratch_root(spark_master: str | None = None) -> str:
    """Per-process scratch root for parquet staging: explicit env
    override, else under the first SPARK_LOCAL_DIRS entry (the legs
    point that at tmpfs), else the system tempdir.

    Both fallbacks are DRIVER-LOCAL paths, which is only correct when
    the executors share the driver's filesystem (local / local-cluster
    masters): on a real multi-node cluster executors would write
    partitions to their own nodes while the driver lists only its
    local path, silently yielding incomplete frames. Parquet staging
    on such a cluster therefore REQUIRES SPARK_GRAFT_STAGE_SCRATCH to
    name job-scoped shared storage, and we fail fast instead of
    returning partial data."""
    import atexit
    import os
    import tempfile
    with _SCRATCH_LOCK:
        if "root" not in _SCRATCH:
            base = os.environ.get("SPARK_GRAFT_STAGE_SCRATCH")
            if not base:
                if spark_master and not spark_master.startswith(
                        ("local", "local-cluster")):
                    raise RuntimeError(
                        "SPARK_GRAFT_STAGE_STORAGE=parquet on a "
                        f"non-local master ({spark_master!r}) requires "
                        "SPARK_GRAFT_STAGE_SCRATCH to point at shared "
                        "storage reachable from every executor — a "
                        "driver-local tempdir would silently drop the "
                        "partitions other nodes wrote.")
                local = os.environ.get("SPARK_LOCAL_DIRS",
                                       "").split(",")[0]
                base = local or None
            _SCRATCH["root"] = tempfile.mkdtemp(prefix="kgstage_",
                                                dir=base)
            _SCRATCH["n"] = 0
            atexit.register(_cleanup_scratch)
        return _SCRATCH["root"]


def _next_stage_path() -> str:
    import os
    with _SCRATCH_LOCK:
        _SCRATCH["n"] += 1
        return os.path.join(_SCRATCH["root"], f"s{_SCRATCH['n']:03d}")


def _stage(df: DataFrame) -> DataFrame:
    """Fan-out staging, mode via SPARK_GRAFT_STAGE_STORAGE:

    - "ser" (default): lazy SERIALIZED localCheckpoint. Cuts both the
      logical plan (driver analysis cost — without the cut, DAG
      construction alone costs 80+ s) and the execution lineage,
      without the deserialized-row block storage that GC-thrashes at
      high parallelism. Best single-node latency; block ser/deser is
      memory-bandwidth-bound, so thread-scaling tops out early. On a
      MULTI-executor fleet every consumer task fetches the full-width
      row blocks (75% remotely at 4 executors) — the block manager
      cannot prune columns.
    - "parquet": write the frame once to scratch parquet and re-read
      it — the multi-executor scale path. Consumers become parquet
      scans again, so Catalyst prunes columns per subtree (the wide
      `converted` frame fans out into ~6 consumers that each need a
      slice of it) and the bytes that do move are columnar-compressed
      instead of kryo rows. Plan and lineage are cut exactly as with
      a checkpoint. Scratch root: SPARK_GRAFT_STAGE_SCRATCH, else
      SPARK_LOCAL_DIRS (the same device shuffle scratch uses).
    - "none": pure lazy pass-through — fan-out subtrees re-execute or
      reuse shuffle materialization; pays a one-time driver
      plan-analysis cost (80+ s at sf0.1), amortized only on very
      long jobs.
    - "disk": DISK_ONLY blocks (page-cache backed, zero heap).
    All modes measured in BENCH/PLANS.md."""
    import os
    mode = os.environ.get("SPARK_GRAFT_STAGE_STORAGE", "ser")
    if mode == "none":
        return df
    if mode == "parquet":
        _scratch_root(df.sparkSession.conf.get("spark.master", None))
        path = _next_stage_path()
        df.write.mode("overwrite").parquet(path)
        return df.sparkSession.read.schema(df.schema).parquet(path)
    return df.localCheckpoint(
        eager=False,
        storageLevel=_STAGE_LEVELS.get(mode,
                                       StorageLevel.MEMORY_AND_DISK))


def build_document_model(spark: SparkSession, pages: DataFrame,
                         mentions: DataFrame | None = None,
                         stage_outputs: bool = True) -> dict:
    """`stage_outputs=False` skips the checkpoint on the RETURNED
    frames (internal fan-out staging is unaffected). It exists for a
    SINGLE-consumer caller — one that writes each frame exactly once
    and never re-reads it — where the checkpoint would serialize every
    row twice. Callers that build on the returned frames lazily keep
    the default: without the cut, the 20-branch triples union
    re-inlines the model's plan into one multi-MB plan. The snapshot
    pipeline keeps it too (see the comment where it calls this)."""
    if mentions is None:
        mentions = parse_gpml(pages)

    quarantine = mentions.filter(F.col("gpml_element_name") == "_error")
    ok = mentions.filter(F.col("gpml_element_name") != "_error")

    # the mention scan fans out into the kernel input, nodes and edges;
    # stage it with a lazy SERIALIZED localCheckpoint. The checkpoint
    # leaf cuts the logical plan, so every consumer's analysis/
    # optimization sees a tiny RDD scan instead of re-walking the
    # 60-column conversion DAG (measured: un-staged, DAG *construction*
    # alone costs 80+ s driver-side). Serialized storage matters just
    # as much: the round-1 DESERIALIZED default kept whole stages as
    # Java objects in a fixed heap and anti-scaled — 4x the cores ran
    # 1.4x slower from GC thrash; MEMORY_AND_DISK (serialized) keeps
    # the N -> 4N scaling efficiency >= 0.8 at replicate 64.
    converted = _stage(N.convert_nodeish(N.with_defaults(ok, spark)))

    # every in-document reference (state parent, group membership and
    # bbox, point targets and the anchor hop, waypoints, re-basing,
    # burrs, contains) resolves in ONE grouped pass (document.py);
    # staged because nodes, edges and pathways each join it once
    derived = _stage(D.resolve_documents(converted))
    nodes = N.build_nodes(converted, derived)
    edges = E.build_edges(converted, derived)

    citations = N.build_citations(ok)
    vocabularies = N.build_vocabularies(ok)
    if stage_outputs:
        citations, vocabularies = _stage(citations), _stage(vocabularies)

    # pathway.contains: top-level (not grouped, not burr) entities,
    # z-sorted, from the kernel's per-document row; pathway.type gains
    # Pathway Ontology IRIs (ref: src/2013a/toPvjson.ts:663-667,920-936)
    contains = derived.filter(F.col("elem_idx").isNull()) \
        .select(*DOC_KEY, "contains")
    po = vocabularies.filter(F.col("ontology") == "Pathway Ontology") \
        .groupBy(*DOC_KEY).agg(F.collect_list("id").alias("pw_terms"))
    pathways = (
        N.build_pathways(ok).join(contains, DOC_KEY, "left")
        .join(po, DOC_KEY, "left")
        .withColumn(
            "types",
            F.when(F.col("pw_terms").isNotNull(),
                   F.array_union("types", "pw_terms"))
            .otherwise(F.col("types")))
        .drop("pw_terms")
        .withColumn("contains",
                    F.coalesce("contains",
                               F.array().cast("array<string>")))
    )

    # stage the final frames (unless the caller commits them itself —
    # see docstring)
    if stage_outputs:
        nodes, edges, pathways = (_stage(df)
                                  for df in (nodes, edges, pathways))
    return {
        "mentions": ok,
        "quarantine": quarantine,
        "nodes": nodes,
        "edges": edges,
        "citations": citations,
        "vocabularies": vocabularies,
        "pathways": pathways,
    }
