"""Entity linking: mentions -> BridgeDb-style canonical xref IRIs.

North-rule stage with no reference counterpart (the reference's CURIE
`<xrefDataSource>:<xrefIdentifier>` type entries,
src/Processor.ts:381-386, are the linking keys).

PAPER.md maps linking to a broadcast dictionary join. The dictionary
(`XREF_ROWS`, 141 rows) is that broadcast's small side, so it is a
Python index: `link_index` builds it once on the driver, with no Spark
call, and the document compiler (document.py) links each document's
node rows with it (`link_document`). Every linked row is keyed on its
own mention, so linking never crosses documents. Two paths, per
mention:

1. exact: the `(datasource, identifier)` lookup;
2. blocked similarity for xref-less mentions: block on the first
   normalized label token, score token-set Jaccard, and keep the best
   candidate at or above SIM_THRESHOLD, ties to the smallest IRI — the
   blocked similarity join of "Distributed Similarity Joins over Top-K
   Rankings" (EDBT 2020), its dictionary side in memory.

`label_tokens` normalizes labels exactly as the Spark expression that
linking used before, so the linked rows stay the same.
"""

from __future__ import annotations

import re
from typing import NamedTuple

from pyspark.sql import DataFrame

from .canonicalize import alias_components

# datasource -> identifiers.org prefix (public registry prefixes)
DATASOURCE_PREFIX = {
    "Entrez Gene": "ncbigene",
    "Ensembl": "ensembl",
    "CAS": "cas",
    "Uniprot-TrEMBL": "uniprot",
    "WikiPathways": "wikipathways",
    "PubMed": "pubmed",
    "ChEBI": "chebi",
    "HMDB": "hmdb",
}

SIM_THRESHOLD = 0.5

# Deterministic BridgeDb-style dictionary (FIXTURES.md §4): covers the
# fixture xrefs, adds label rows for similarity linking and alias_of
# rows that induce sameAs edges.
# (datasource, identifier, label, alias_of Entrez Gene identifier)
XREF_ROWS = [
    ("Entrez Gene", "7157", "TP53", None),
    ("Entrez Gene", "1950", "EGF", None),
    ("Entrez Gene", "1956", "EGFR", None),
    ("Entrez Gene", "3098", "HK1", None),
    ("Entrez Gene", "581", "BAX", None),
    ("Entrez Gene", "596", "BCL2", None),
    ("Entrez Gene", "1019", "CDK4", None),
    ("Entrez Gene", "595", "CCND1", None),
    ("Entrez Gene", "5925", "RB1", None),
    ("Entrez Gene", "1869", "E2F1", None),
    ("Entrez Gene", "7027", "TFDP1", None),
    ("Entrez Gene", "207", "AKT1", None),
    ("Entrez Gene", "3845", "KRAS", None),
    ("CAS", "56-65-5", "ATP", None),
    ("CAS", "50-99-7", "Glucose", None),
    ("CAS", "56-73-5", "Glucose-6-phosphate", None),
    ("Uniprot-TrEMBL", "P31749", "AKT1", "207"),   # sameAs Entrez 207
    ("Ensembl", "ENSG00000284190", "MIR21", None),
    ("WikiPathways", "WP254", "Apoptosis", None),
    # label-only entries for similarity linking
    ("Entrez Gene", "3091", "HIF1A", None),
    ("CAS", "64-17-5", "Ethanol", None),
] + [("Entrez Gene", str(900000 + i), f"G{i}", None) for i in range(120)]


def canonical_iri(datasource, identifier):
    """The identifiers.org IRI of an xref; None for an unknown
    datasource or a missing identifier."""
    prefix = DATASOURCE_PREFIX.get(datasource)
    if prefix is None or identifier is None:
        return None
    return f"https://identifiers.org/{prefix}/{identifier}"


_STRIPPED = re.compile("[^a-z0-9 ]")
_SPACES = re.compile(" +")


def label_tokens(label: str) -> list[str]:
    """The distinct tokens of a normalized label, in order: Spark's
    `array_distinct(split(regexp_replace(lower(trim(label)),
    '[^a-z0-9 ]', ''), '\\s+'))`. `trim` strips only U+0020, so a label
    that starts with another blank keeps an empty first token; after
    the replace only spaces separate tokens, and a label with nothing
    left is the one token ''."""
    norm = _STRIPPED.sub("", label.strip(" ").lower())
    return list(dict.fromkeys(_SPACES.split(norm)))


class LinkIndex(NamedTuple):
    """The dictionary as the kernel reads it."""
    # (datasource, identifier) -> IRI
    exact: dict
    # first label token -> [(label token set, IRI)]
    blocks: dict
    # IRI -> representative of its sameAs component (aliased IRIs only)
    components: dict


def link_index(rows=XREF_ROWS) -> LinkIndex:
    """The linking index of dictionary rows `(datasource, identifier,
    label, alias_of)`."""
    exact, blocks, aliases = {}, {}, []
    for ds, ident, label, alias_of in rows:
        iri = canonical_iri(ds, ident)
        exact[ds, ident] = iri
        toks = label_tokens(label)
        blocks.setdefault(toks[0], []).append((frozenset(toks), iri))
        alias = canonical_iri("Entrez Gene", alias_of)
        if iri is not None and alias is not None:
            aliases.append((iri, alias))
    return LinkIndex(exact, blocks, alias_components(aliases))


# no candidate: the score the similarity path gives a mention whose
# block is empty
_NO_MATCH = (0.0, None)


def _rank(match: tuple) -> tuple:
    """Best first: the higher score, then the smaller IRI, a null IRI
    before any."""
    score, iri = match
    return -score, iri is not None, iri or ""


def best_match(label: str, index: LinkIndex) -> tuple:
    """(score, IRI) of the best dictionary label in the label's block."""
    toks = label_tokens(label)
    mine = set(toks)
    return min(((len(mine & theirs) / len(mine | theirs), iri)
                for theirs, iri in index.blocks.get(toks[0], ())),
               key=_rank, default=_NO_MATCH)


def _row(r: dict, iri=None, method=None, score=None) -> dict:
    return {"url": r["url"], "frag": r["frag"], "id": r["id"],
            "canonical_iri": iri, "link_method": method,
            "link_score": score}


def link_document(nodes: list[dict], index: LinkIndex) -> list[dict]:
    """One document's node rows -> its linked rows (frames.LINKED), in
    document order: one per node with an xref, and one per id among
    the xref-less labelled nodes, at its last row, linked to the best
    candidate of all that id's labels."""
    best: dict = {}
    for r in nodes:
        if r["xref_identifier"] is None and r["text_content"] is not None:
            best[r["id"]] = min(best.get(r["id"], _NO_MATCH),
                                best_match(r["text_content"], index),
                                key=_rank)
    out = []
    for r in reversed(nodes):
        if r["xref_identifier"] is not None:
            iri = index.exact.get((r["xref_datasource"],
                                   r["xref_identifier"]))
            out.append(_row(r) if iri is None
                       else _row(r, iri, "exact", 1.0))
        elif r["text_content"] is not None and r["id"] in best:
            score, iri = best.pop(r["id"])
            out.append(_row(r) if score < SIM_THRESHOLD
                       else _row(r, iri, "similarity", score))
    out.reverse()
    return out


# kept as a name perfbench's trace wraps where plans/pipeline.py
# imports it; the package's callers read the snapshot itself
def link_entities(model: dict) -> DataFrame:
    """(url, frag, id, canonical_iri, link_method, link_score): the
    model's `linked` snapshot (assemble.build_document_model)."""
    return model["linked"]
