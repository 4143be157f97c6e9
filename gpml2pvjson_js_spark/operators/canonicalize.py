"""Canonicalization: every linked mention maps to the representative
of its owl:sameAs component, then triple subj/obj are rewritten to
those canonical ids.

The reference has no distributed analog — its nearest mechanism is the
promise-cache forward-reference resolution (src/Processor.ts:278-318);
this stage is mandated by the north rule.

The sameAs graph is the dictionary's alias pairs plus one link edge per
linked mention. Linking keeps at most ONE link per mention (the exact
and similarity paths partition mentions disjointly and each keeps a
single best match), so a mention is a leaf of its link target and never
merges two IRI components: the components of the full graph are the
components of the DICTIONARY-scale alias graph with mention leaves
attached. So `alias_components` finds them once on the driver, for the
linking index (linking.link_index), and the document compiler
(document.py) rewrites each document's triples through them
(`canonicalize_document`). The canonical ids are columns of the
compiler's triple rows (`canonical_subj`, `canonical_obj`): each
triple is one row, which the pass writes to the `triples` snapshot
with its plain pair and to `canonical_triples` with its canonical one.
Exactness against the full graph is pinned by
test_canonicalize_linked_matches_generic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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


def canonicalize_document(linked: list[dict], triples: list[dict],
                          components: dict) -> list[dict]:
    """One document's triples with subj and obj rewritten to the
    canonical id of the mention they name: the representative of its
    link target's component, or the target itself when that IRI has no
    alias. Where a GraphId has several linked rows, the last in
    document order wins."""
    canonical = {r["id"]: components.get(r["canonical_iri"],
                                         r["canonical_iri"])
                 for r in linked if r["canonical_iri"] is not None}
    return [{**t, "subj": canonical.get(t["subj"], t["subj"]),
             "obj": canonical.get(t["obj"], t["obj"])} for t in triples]


# kept as a name perfbench's trace wraps where plans/pipeline.py
# imports it; the package's callers read the snapshot itself
def canonical_triples(model: dict) -> DataFrame:
    """(url, frag, pathway_id, subj, pred, obj): the model's triples,
    their subject and object the canonical ids (the model's
    `canonical_triples` snapshot)."""
    return model["canonical_triples"]
