"""Assemble the full document model: pages -> {nodes, edges, citations,
vocabularies, pathways, quarantine}.

This is the Spark-first replacement for the reference's dataflow
scheduler + topological fixpoint (O2, src/2013a/toPvjson.ts:470-637):
because every dependency the triple/JSON-LD outputs need is expressible
as a bounded join DAG (state->parent, anchor->edge, edge->target,
group->members), no driver-side fixpoint is required for assembly.
A generic iterative topo-level operator is still provided in
plans/topo.py for hyperedge-depth diagnostics and cycle quarantine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


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


def _stage_many(named: dict) -> dict:
    """Checkpoint INDEPENDENT sibling frames concurrently.

    With AQE on, each lazy localCheckpoint's toRdd synchronously
    materializes the subtree's shuffle stages (AdaptiveSparkPlanExec
    awaitReady) — so sequential _stage calls serialize cluster work on
    the driver construction thread, one frame at a time, while the
    executors sit mostly idle. Submitting sibling checkpoints from a
    small thread pool overlaps those materialization jobs exactly the
    way the pipeline overlaps stage commits (guide §2.6). This is
    driver threading only: the frames still source from the committed
    parquet / prior checkpoints, so the round-5 anti-scaling failure
    (model stages sourced from a shared full-width parse checkpoint,
    reverted on evidence) does not reappear.
    """
    import os
    items = {k: v for k, v in named.items() if v is not None}
    if len(items) <= 1 or \
            os.environ.get("SPARK_GRAFT_PARALLEL_PLANNING", "1") != "1":
        return {k: _stage(df) for k, df in named.items()}
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=min(4, len(items))) as ex:
        futs = {k: ex.submit(_stage, df) for k, df in items.items()}
        out = dict(named)
        out.update({k: f.result() for k, f in futs.items()})
        return out


from . import edges as E
from . import entities as N
from . import groups as G
from . import waypoints as W
from .entities import DOC_KEY
from .parse import parse_gpml


def _z_index_of(*frames: DataFrame) -> DataFrame:
    parts = [
        f.select(*DOC_KEY, F.col("id").alias("zid"),
                 F.col("z_index").alias("z"))
        for f in frames
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _with_burrs(hosts: DataFrame, burrs: DataFrame) -> DataFrame:
    """hosts gain burrs=[burr ids z-sorted] (J8,
    ref: src/2013a/toPvjson.ts:680-710)."""
    b = burrs.select(
        *DOC_KEY, F.col("is_attached_to").alias("host_id"),
        F.col("id").alias("burr_id"), F.col("z_index").alias("z"))
    agg = b.groupBy(*DOC_KEY, "host_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("z", "burr_id"))),
            lambda s: s.burr_id,
        ).alias("burrs")).select(
            F.col("url").alias("b_url"), F.col("frag").alias("b_frag"),
            "host_id", "burrs")
    return hosts.join(
        agg,
        (hosts.id == agg.host_id) & (hosts.url == agg.b_url)
        & (hosts.frag == agg.b_frag),
        "left",
    ).drop("b_url", "b_frag", "host_id")


def build_document_model(spark: SparkSession, pages: DataFrame,
                         mentions: DataFrame | None = None,
                         stage_outputs: bool = True) -> dict:
    """`stage_outputs=False` skips the checkpoint on the RETURNED
    frames (internal fan-out staging is unaffected). It exists for a
    SINGLE-consumer caller — one that writes each frame exactly once
    and never re-reads it — where the checkpoint would serialize every
    row twice. The snapshot pipeline deliberately keeps the default ON
    despite looking single-consumer: its five model frames share
    subtrees (edges feed nodes' z-map and pathways' contains-agg), so
    the checkpoints dedupe that work across five CONCURRENT commits —
    measured +16% slower without them on a 4-executor fleet (156.3 s
    vs 134.4 s at replicate 512, BENCH/PLANS.md round 4). The lazy-DAG
    path also keeps the default: without the cut, the 20-branch
    triples union re-inlines the whole join DAG into one multi-MB
    plan."""
    if mentions is None:
        mentions = parse_gpml(pages)

    quarantine = mentions.filter(F.col("gpml_element_name") == "_error")
    ok = mentions.filter(F.col("gpml_element_name") != "_error")

    # the mention scan fans out into ~8 downstream subtrees; stage it
    # with a lazy SERIALIZED localCheckpoint. The checkpoint leaf cuts
    # the logical plan, so every consumer's analysis/optimization sees
    # a tiny RDD scan instead of re-walking the 60-column conversion
    # DAG (measured: un-staged, DAG *construction* alone costs 80+ s
    # driver-side). Serialized storage matters just as much: the
    # round-1 DESERIALIZED default kept whole stages as Java objects
    # in a fixed heap and anti-scaled — 4x the cores ran 1.4x slower
    # from GC thrash; MEMORY_AND_DISK (serialized) keeps the N -> 4N
    # scaling efficiency >= 0.8 at replicate 64.
    converted = _stage(N.convert_nodeish(N.with_defaults(ok, spark)))

    citations = N.build_citations(ok)
    vocabularies = N.build_vocabularies(ok)
    # sibling frames checkpoint CONCURRENTLY (_stage_many): states'
    # self-join and citations' window materialize their AQE stages in
    # overlapping jobs instead of serially on this thread.
    # citations/vocabularies depend only on `ok`, so their (returned-
    # frame) checkpoints can ride this early round when stage_outputs.
    early = {"free_nodes": N.build_free_nodes(converted),
             "states": N.build_states(converted)}
    if stage_outputs:
        early["citations"] = citations
        early["vocabularies"] = vocabularies
    early = _stage_many(early)
    free_nodes, states = early["free_nodes"], early["states"]
    if stage_outputs:
        citations, vocabularies = early["citations"], \
            early["vocabularies"]
    anchors = N.build_anchors(converted)
    membership = G.group_membership(converted)
    groups = _stage(G.build_groups(converted, free_nodes, states,
                                   membership))

    # edge endpoint targets: free nodes, states, groups, anchors
    targets = (
        free_nodes.unionByName(states)
        .unionByName(groups.drop("gpml_group_id"), allowMissingColumns=True)
        .unionByName(anchors)
        .select(*DOC_KEY, "id", "gpml_element_name", "width", "height",
                "attachment_position", "is_attached_to")
    )
    edges0 = E.convert_edges(converted)
    edges1 = E.resolve_edge_points(edges0, targets)
    # implicit Elbow/Curved waypoints (F4/F5) before group re-basing;
    # staged because the edges fan out into the nodes' z-map, the
    # pathways' contains and the returned edges, and each un-staged
    # consumer would re-run the Python kernel
    edges1 = _stage(W.synthesize_waypoints(edges1))

    # rebase grouped members (A4)
    node_like = free_nodes.unionByName(states, allowMissingColumns=True)
    node_like = G.rebase_members(node_like, groups, membership)
    anchors2 = anchors.withColumn("is_part_of", F.lit(None).cast("string"))

    # edges: shift every point by the containing group's origin
    m2 = G.member_origins(groups, membership)
    edges2 = edges1.join(
        m2,
        (edges1.id == m2.member_id) & (edges1.url == m2.m_url)
        & (edges1.frag == m2.m_frag),
        "left",
    ).drop("m_url", "m_frag", "member_id")
    edges2 = edges2.withColumn(
        "points",
        F.when(
            F.col("gid").isNotNull(),
            F.transform(
                "points",
                lambda p: p.withField("x", p.x - F.col("gx"))
                .withField("y", p.y - F.col("gy")),
            ),
        ).otherwise(F.col("points")),
    ).withColumn("is_part_of", F.col("gid")).drop("gid", "gx", "gy")

    # burrs arrays on hosts
    burrs_all = states.unionByName(anchors).select(
        *DOC_KEY, "id", "is_attached_to", "z_index")
    node_like = _with_burrs(node_like, burrs_all)
    edges3 = _with_burrs(edges2, burrs_all)
    groups2 = _with_burrs(groups, burrs_all)

    # group contains (z-sorted member ids)
    zmap = _z_index_of(node_like, edges3)
    groups3 = G.group_contains(groups2, membership, zmap)

    nodes = (
        node_like.unionByName(anchors2.withColumn(
            "burrs", F.lit(None).cast("array<string>")),
            allowMissingColumns=True)
        .unionByName(groups3.withColumn("is_part_of",
                                        F.lit(None).cast("string")),
                     allowMissingColumns=True)
    )

    pathways = N.build_pathways(ok)

    # pathway.contains: top-level (not grouped, not burr) entities,
    # z-sorted; pathway.type gains Pathway Ontology IRIs
    # (ref: src/2013a/toPvjson.ts:663-667,920-936)
    top = (
        nodes.filter(F.col("kaavio_type") != "Burr")
        .select(*DOC_KEY, "id", "z_index", "is_part_of")
        .unionByName(edges3.select(*DOC_KEY, "id", "z_index", "is_part_of"))
        .filter(F.col("is_part_of").isNull())
    )
    contains = top.groupBy(*DOC_KEY).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("z_index"),
                                                 F.col("id")))),
            lambda s: s.id,
        ).alias("contains"))
    po = vocabularies.filter(F.col("ontology") == "Pathway Ontology") \
        .groupBy(*DOC_KEY).agg(F.collect_list("id").alias("pw_terms"))
    pathways = (
        pathways.join(contains, DOC_KEY, "left")
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
    # see docstring): every downstream consumer (interactions,
    # triples, linking) references nodes/edges several times —
    # without the cut, the 20-branch triples union re-inlines the
    # whole join DAG into one multi-MB plan
    if stage_outputs:
        final = _stage_many({"nodes": nodes, "edges": edges3,
                             "pathways": pathways})
        nodes, edges3, pathways = final["nodes"], final["edges"], \
            final["pathways"]
    return {
        "mentions": ok,
        "quarantine": quarantine,
        "nodes": nodes,
        "edges": edges3,
        "citations": citations,
        "vocabularies": vocabularies,
        "pathways": pathways,
    }
