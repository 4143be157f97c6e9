"""Assemble the full document model: pages -> {nodes, edges, citations,
vocabularies, pathways, quarantine} and the document compiler's staged
output, of which the interactions, triples and JSON-LD documents are
projections.

This is the Spark-first replacement for the reference's one-document
compiler (src/Processor.ts:88-121) and its dataflow scheduler +
topological fixpoint (O2, src/2013a/toPvjson.ts:470-710): every
element converts on its own, and every reference the triple/JSON-LD
outputs need (state->parent, group->members, edge->target,
anchor->edge, burr->host) stays inside one (url, frag). So one grouped
pass over the ok mention rows (document.py) converts each document's
elements and resolves its references in memory, and emits the rows of
all five model frames, the document's interactions, triples and JSON-LD
text; each is a projection of that one staged output. Spark keeps the
grouping, the quarantine filter and everything that crosses documents
(linking, canonicalization, the triple rewrite). A per-document
topo-level operator is still provided in plans/topo.py for
hyperedge-depth diagnostics and cycle quarantine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import document as D
from . import frames
from .parse import parse_gpml


def _stage(df: DataFrame) -> DataFrame:
    """Lazy SERIALIZED localCheckpoint: cuts the logical plan, so each
    consumer's analysis sees a tiny RDD scan instead of re-walking the
    plan behind it, and the execution lineage, so the consumers read
    blocks instead of re-running the Python pass. Serialized storage
    matters as much: DESERIALIZED blocks kept whole stages as Java
    objects in a fixed heap and anti-scaled from GC thrash (4x the
    cores ran 1.4x slower)."""
    return df.localCheckpoint(eager=False,
                              storageLevel=StorageLevel.MEMORY_AND_DISK)


def build_document_model(spark: SparkSession, pages: DataFrame,
                         mentions: DataFrame | None = None) -> dict:
    """The model frames of `pages` (or of their parsed `mentions`), and
    under `compiled` the document compiler's staged output.

    The compiler's output is staged once: the five frames here, and
    the interactions, triples and documents (`classify_interactions`,
    `build_triples`, `jsonld_documents`), are projections of it, so
    without the stage each consumer would re-run the Python pass."""
    if mentions is None:
        mentions = parse_gpml(pages)

    quarantine = mentions.filter(F.col("gpml_element_name") == "_error")
    ok = mentions.filter(F.col("gpml_element_name") != "_error")
    compiled = _stage(D.resolve_documents(ok))
    return {
        "mentions": ok,
        "quarantine": quarantine,
        **{role: frames.select_frame(compiled, role)
           for role in frames.MODEL_FRAMES},
        "compiled": compiled,
    }
