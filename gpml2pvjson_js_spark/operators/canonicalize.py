"""Canonicalization: every linked mention maps to the representative
of its owl:sameAs component, then triple subj/obj are rewritten to
those canonical ids.

The reference has no distributed analog — its nearest mechanism is the
promise-cache forward-reference resolution (src/Processor.ts:278-318);
this stage is mandated by the north rule.

The sameAs graph (`linking.same_as_edges`) is the dictionary's alias
pairs plus one link edge per linked mention. `link_entities` keeps at
most ONE link per mention (the exact and similarity paths partition
mentions disjointly and each keeps a single best match), so a mention
is a leaf of its link target and never merges two IRI components: the
components of the full graph are the components of the DICTIONARY-
scale alias graph with mention leaves attached. `canonicalize_linked`
therefore collects the alias pairs, finds their components with a
union-find on the driver (`alias_components`), and assigns mentions
with one broadcast join of that component map, a local relation
(`session.local_frame`) that runs no Python task. Exactness against
the full graph is pinned by test_canonicalize_linked_matches_generic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import local_frame

_SER = StorageLevel.MEMORY_AND_DISK


def _rank_key(node: str) -> tuple[bool, str]:
    """Representative order: IRIs before other ids, then lexicographic.

    A scheme prefix alone does NOT discriminate: mention keys are
    url#frag#id and so start with http(s) too, and on a low-sorting
    page domain a bare lexicographic min would make the mention key the
    component representative. Mention keys always contain '#';
    BridgeDb-style canonical xref IRIs (identifiers.org) never carry a
    fragment."""
    is_iri = node.startswith(("http://", "https://")) and "#" not in node
    return not is_iri, node


def alias_components(pairs) -> dict[str, str]:
    """Undirected (a, b) pairs -> {node: representative}, the
    representative being the min-`_rank_key` member of the node's
    connected component. Union-find with path halving."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]
        return x

    for a, b in pairs:
        ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
        if ra != rb:
            # the root is always its set's representative
            if _rank_key(rb) < _rank_key(ra):
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def canonicalize_linked(linked: DataFrame,
                        xref_dict: DataFrame) -> DataFrame:
    """(url, frag, id, canonical): every linked mention mapped to the
    representative of its sameAs component (module docstring), or to
    its own link target when that IRI has no alias."""
    from .linking import alias_edges
    pairs = alias_edges(xref_dict).dropna().collect()
    comp = local_frame(linked.sparkSession,
                       list(alias_components(pairs).items()),
                       "c_iri string, component string")
    m = linked.filter(F.col("canonical_iri").isNotNull())
    # explicit hint: auto-broadcast is disabled session-wide (see
    # session.py — corpus frames must never be size-guessed into a
    # broadcast), and comp is dictionary-scale by construction
    return m.join(F.broadcast(comp), m.canonical_iri == F.col("c_iri"),
                  "left") \
        .select("url", "frag", "id",
                F.coalesce("component", "canonical_iri")
                .alias("canonical")) \
        .dropDuplicates(["url", "frag", "id"])


def rewrite_triples(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite subj/obj to canonical ids where a mapping exists (two
    equi joins on (url, frag, local id)). The canonical map feeds both
    the subj and obj joins — a lazy checkpoint computes it once
    instead of inlining its build (broadcast join + dedup exchange)
    twice."""
    cmap = cmap.localCheckpoint(eager=False, storageLevel=_SER)
    s = cmap.select(F.col("url").alias("s_url"), F.col("frag").alias("s_frag"),
                    F.col("id").alias("s_id"),
                    F.col("canonical").alias("s_canon"))
    o = cmap.select(F.col("url").alias("o_url"), F.col("frag").alias("o_frag"),
                    F.col("id").alias("o_id"),
                    F.col("canonical").alias("o_canon"))
    t = triples.join(
        s, (triples.url == s.s_url) & (triples.frag == s.s_frag)
        & (triples.subj == s.s_id), "left",
    ).join(
        o, (triples.url == o.o_url) & (triples.frag == o.o_frag)
        & (triples.obj == o.o_id), "left",
    )
    return t.select(
        "url", "frag", "pathway_id",
        F.coalesce("s_canon", "subj").alias("subj"),
        "pred",
        F.coalesce("o_canon", "obj").alias("obj"),
    )
