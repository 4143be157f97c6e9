"""Assemble the full document model: pages -> {nodes, edges, citations,
vocabularies, pathways, quarantine} and the document compiler's staged
output, of which the interactions, triples, JSON-LD documents, linked
mentions and canonical triples are projections.

This is the Spark-first replacement for the reference's one-document
compiler (src/Processor.ts:88-121) and its dataflow scheduler +
topological fixpoint (O2, src/2013a/toPvjson.ts:470-710): every
element converts on its own, and every reference the triple/JSON-LD
outputs need (state->parent, group->members, edge->target,
anchor->edge, burr->host) stays inside one (url, frag). So one grouped
pass over the ok mention rows (document.py) converts each document's
elements and resolves its references in memory, and emits the rows of
all five model frames, the document's interactions, triples, JSON-LD
text and linked mentions; each is a projection of that one staged
output, and so are the canonical triples: the canonical ids are
columns of the staged triple rows, so each triple is staged once.
Linking and canonicalization read only the dictionary beyond the
document, and the dictionary is a driver-built Python index
(linking.link_index) handed to the compiler. Spark keeps the grouping
and the quarantine filter. Given a snapshot store, the mentions are
laid out as it commits them before the pass, which groups on that
layout, so neither the pass nor any projection's commit plans an
exchange of its own. A per-document topo-level
operator is still provided in plans/topo.py for hyperedge-depth
diagnostics and cycle quarantine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import document as D
from . import frames
from .linking import link_index
from .parse import parse_gpml


def _stage(df: DataFrame) -> DataFrame:
    """Eager SERIALIZED localCheckpoint: cuts the logical plan, so each
    consumer's analysis sees a tiny RDD scan instead of re-walking the
    plan behind it, and the execution lineage, so the consumers read
    blocks instead of re-running the Python pass.

    Eager, because the consumers commit concurrently (Pipeline.run),
    and over a lazy checkpoint the first commits race to compute the
    same blocks (Spark's "Block rdd_N_0 already exists" WARN). The
    eager form computes the compiler exactly once, through an
    RDD-level count, with no extra SQL plan to optimize and codegen (a
    `DataFrame.count()` would add one). Serialized storage
    matters as much: DESERIALIZED blocks kept whole stages as Java
    objects in a fixed heap and anti-scaled from GC thrash (4x the
    cores ran 1.4x slower)."""
    return df.localCheckpoint(eager=True,
                              storageLevel=StorageLevel.MEMORY_AND_DISK)


def build_document_model(spark: SparkSession, pages: DataFrame,
                         mentions: DataFrame | None = None,
                         store=None) -> dict:
    """The model frames of `pages` (or of their parsed `mentions`), and
    under `compiled` the document compiler's staged output.

    The compiler's output is staged once, and the staging is computed
    before this returns: the five frames here, and the interactions,
    triples, documents, linked mentions and canonical triples
    (`classify_interactions`, `build_triples`, `jsonld_documents`,
    `link_entities`, `canonical_triples`), are projections of it that
    only read its blocks. Without the stage each consumer would re-run
    the Python pass.

    With a snapshot `store` (plans/pipeline.py, SnapshotStore), the
    ok mentions are laid out as the store commits (`store.layout`) and
    the compiler groups on the layout's keys (`store.layout_keys`), so
    every projection carries them and commits with no exchange."""
    if mentions is None:
        mentions = parse_gpml(pages)

    quarantine = mentions.filter(F.col("gpml_element_name") == "_error")
    ok = mentions.filter(F.col("gpml_element_name") != "_error")
    keys = None
    if store is not None:
        ok, keys = store.layout(ok), store.layout_keys()
    compiled = _stage(D.resolve_documents(ok, link_index(), keys))
    return {
        "mentions": ok,
        "quarantine": quarantine,
        **{role: frames.select_frame(compiled, role)
           for role in frames.MODEL_FRAMES},
        "compiled": compiled,
    }
