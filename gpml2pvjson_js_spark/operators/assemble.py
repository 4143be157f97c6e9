"""Assemble the full document model: pages -> the one pass per page's
staged output, of which the mentions, the quarantine, the text, the
five model frames (nodes, edges, citations, vocabularies, pathways),
the interactions, the triples, the JSON-LD documents, the linked
mentions and the canonical triples are projections.

This is the Spark-first replacement for the reference's streaming
compiler from bytes to documents (bin/gpml2pvjson splits its input
into pathway chunks; src/Processor.ts:88-121 compiles one) and its
dataflow scheduler + topological fixpoint (O2,
src/2013a/toPvjson.ts:470-710): every element converts on its own,
and every reference the triple/JSON-LD outputs need (state->parent,
group->members, edge->target, anchor->edge, burr->host) stays inside
one (url, frag), which never spans two pages. So one grouped pass
over the pages (document.py) parses each page, extracts its text,
converts each document's elements and resolves its references in
memory, and emits the mention rows, the text and the rows of all
five model frames, the document's interactions, triples, JSON-LD
text and linked mentions; each is a projection of that one staged
output, and so are the canonical triples: the canonical ids are
columns of the staged triple rows, so each triple is staged once.
Linking and canonicalization read only the dictionary beyond the
document, and the dictionary is a driver-built Python index
(linking.link_index) handed to the pass. Spark keeps the grouping.
Given a snapshot store, the pages are laid out as it commits before
the pass, which groups on that layout, so that layout is the only
exchange: no projection's commit plans one of its own. A per-document
topo-level operator is still provided in plans/topo.py for
hyperedge-depth diagnostics and cycle quarantine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from . import document as D
from . import frames
from .linking import link_index
from .parse import text_schema


def _stage(df: DataFrame) -> DataFrame:
    """Eager SERIALIZED localCheckpoint: cuts the logical plan, so each
    consumer's analysis sees a tiny RDD scan instead of re-walking the
    plan behind it, and the execution lineage, so the consumers read
    blocks instead of re-running the Python pass.

    Eager, because the consumers commit concurrently (Pipeline.run),
    and over a lazy checkpoint the first commits race to compute the
    same blocks (Spark's "Block rdd_N_0 already exists" WARN). The
    eager form computes the pass exactly once, through an
    RDD-level count, with no extra SQL plan to optimize and codegen (a
    `DataFrame.count()` would add one). Serialized storage
    matters as much: DESERIALIZED blocks kept whole stages as Java
    objects in a fixed heap and anti-scaled from GC thrash (4x the
    cores ran 1.4x slower)."""
    return df.localCheckpoint(eager=True,
                              storageLevel=StorageLevel.MEMORY_AND_DISK)


def build_document_model(spark: SparkSession, pages: DataFrame,
                         store=None) -> dict:
    """The frames of `pages`, and under `compiled` the one pass's
    staged output.

    The pass's output is staged once, and the staging is computed
    before this returns: the frames here (the ok `mentions`, the
    `quarantine`d ones, the `text` and the five model frames), and
    the interactions, triples, documents, linked mentions and
    canonical triples (`classify_interactions`, `build_triples`,
    `jsonld_documents`, `link_entities`, `canonical_triples`), are
    projections of it that only read its blocks. Without the stage
    each consumer would re-run the Python pass.

    With a snapshot `store` (plans/pipeline.py, SnapshotStore), the
    pages are laid out as the store commits (`store.layout`) and the
    pass groups on the layout's keys (`store.layout_keys`), so every
    projection carries them and commits with no exchange."""
    text = text_schema(pages)
    pages, keys = pages.select("url", "html"), None
    if store is not None:
        pages, keys = store.layout(pages), store.layout_keys()
    compiled = _stage(D.compile_pages(pages, link_index(), keys))
    return {
        **{role: frames.select_frame(compiled, role)
           for role in ("mentions", "quarantine", *frames.MODEL_FRAMES)},
        "text": frames.select_frame(compiled, "text", frame=text),
        "compiled": compiled,
    }
