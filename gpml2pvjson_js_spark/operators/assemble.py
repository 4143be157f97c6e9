"""Assemble the full document model: pages -> {nodes, edges, citations,
vocabularies, pathways, quarantine}.

This is the Spark-first replacement for the reference's one-document
compiler (src/Processor.ts:88-121) and its dataflow scheduler +
topological fixpoint (O2, src/2013a/toPvjson.ts:470-710): every
element converts on its own, and every reference the triple/JSON-LD
outputs need (state->parent, group->members, edge->target,
anchor->edge, burr->host) stays inside one (url, frag). So one grouped
pass over the ok mention rows (document.py) converts each document's
elements and resolves its references in memory, and emits the rows of
all five model frames; each frame is a projection of that one staged
output. Spark keeps the grouping, the quarantine filter and everything
that crosses documents. A generic iterative topo-level operator is
still provided in plans/topo.py for hyperedge-depth diagnostics and
cycle quarantine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from . import document as D
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
    """The model frames of `pages` (or of their parsed `mentions`).

    The document compiler's output is staged once: the five frames
    are projections of it, so without the stage each consumer would
    re-run the Python pass, and a lazy consumer such as the 20-branch
    triples union would re-inline its plan."""
    if mentions is None:
        mentions = parse_gpml(pages)

    quarantine = mentions.filter(F.col("gpml_element_name") == "_error")
    ok = mentions.filter(F.col("gpml_element_name") != "_error")
    compiled = _stage(D.resolve_documents(ok))
    return {
        "mentions": ok,
        "quarantine": quarantine,
        **{role: D.select_frame(compiled, role) for role in D.FRAMES},
    }
