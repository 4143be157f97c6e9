"""Materialize (url, frag, pathway_id, subj, pred, obj) triples from
the document model.

This is the north-star output (BASELINE.json north_rule): the flattened
knowledge-graph form of the reference's `{pathway, entitiesById}`
JSON-LD document (src/Processor.ts:88-121). Predicate vocabulary per
FIXTURES.md §3.3.

Every triple is a function of one entity row of one document, so the
document compiler (document.py) flattens each document's committed
rows with `document_triples` and stages the distinct triples under two
roles: `model_triples` (the entity frames) and `interaction_triples`
(the BioPAX roles not already among them). The distinct key holds
`url` and `frag`, so a distinct per document is the corpus-wide
distinct. Each triple is staged once: its row also carries the
canonical ids of its subject and object as columns
(`canonical_subj`, `canonical_obj`), which the canonical triples
project (canonicalize.py). `build_triples` projects the plain pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import frames
from ..functions import mappings as M

TRIPLE_COLS = ["url", "frag", "pathway_id", "subj", "pred", "obj"]


def build_triples(model: dict, with_interactions: bool = True
                  ) -> DataFrame:
    """The distinct triples of the model (frames.TRIPLES); without the
    interaction triples when `with_interactions` is false."""
    roles = ["model_triples"]
    if with_interactions:
        roles.append("interaction_triples")
    return frames.select_frame(model["compiled"], *roles,
                               frame=frames.TRIPLES)


def _xref(r: dict):
    ds, ident = r["xref_datasource"], r["xref_identifier"]
    return None if ds is None or ident is None else f"{ds}:{ident}"


def _node(r: dict) -> list:
    return [*((M.PRED_TYPE, t) for t in r["types"] or ()),
            (M.PRED_LABEL, r["text_content"]), (M.PRED_XREF, _xref(r)),
            (M.PRED_IS_PART_OF, r["is_part_of"]),
            *((M.PRED_CITATION, c) for c in r["citations"] or ()),
            *((M.PRED_CONTAINS, c) for c in r["contains"] or ()),
            # burrs (States/Anchors) attach to a host entity
            ("wp:attachedTo", r["is_attached_to"])]


def _edge(r: dict) -> list:
    return [*((M.PRED_TYPE, t) for t in r["types"] or ()),
            (M.PRED_SOURCE, r["endpoint_first_ref"]),
            (M.PRED_TARGET, r["endpoint_last_ref"]),
            (M.PRED_IS_PART_OF, r["is_part_of"]),
            *((M.PRED_CITATION, c) for c in r["citations"] or ())]


def _citation(r: dict) -> list:
    return [*((M.PRED_TYPE, t) for t in r["types"] or ()),
            (M.PRED_XREF, _xref(r)), (M.PRED_LABEL, r["standard_name"])]


def _vocabulary(r: dict) -> list:
    """openControlledVocabulary entities: IRI subject, type + term
    (ref entity shape: golden openControlledVocabulary entries)."""
    return [*((M.PRED_TYPE, t) for t in r["types"] or ()),
            (M.PRED_TERM, r["term"])]


def _pathway(r: dict) -> list:
    types = r["types"] or ()
    return [*((M.PRED_TYPE, t) for t in types),
            (M.PRED_LABEL, r["name"]),
            *((M.PRED_CONTAINS, c) for c in r["contains"] or ()),
            # wp:ontologyTag for every vocab IRI in types beyond "Pathway"
            *((M.PRED_ONTOLOGY_TAG, t) for t in types
              if t is not None and t.startswith("http"))]


def _interaction(r: dict) -> list:
    return [(M.PRED_TYPE, r["biopax_type"]),
            (M.PRED_CONTROLLER, r["controller"]),
            (M.PRED_CONTROLLED, r["controlled"]),
            (M.PRED_LEFT, r["left"]), (M.PRED_RIGHT, r["right"]),
            (M.PRED_CONTROL_TYPE, r["control_type"]),
            (M.PRED_CONVERSION_DIRECTION, r["conversion_direction"]),
            *((M.PRED_PARTICIPANT, p) for p in r["participants"] or ())]


_FLATTEN = {"nodes": _node, "edges": _edge, "citations": _citation,
            "vocabularies": _vocabulary, "pathways": _pathway,
            "interactions": _interaction}


def _flatten(rows: dict, roles, seen: set) -> list[dict]:
    out = []
    for role in roles:
        for r in rows.get(role, ()):
            if r["id"] is None:
                continue
            for pred, obj in _FLATTEN[role](r):
                key = (r["url"], r["frag"], r["pathway_id"], r["id"], pred,
                       obj)
                if obj is not None and key not in seen:
                    seen.add(key)
                    out.append(dict(zip(TRIPLE_COLS, key)))
    return out


def document_triples(rows: dict) -> tuple[list[dict], list[dict]]:
    """One document's committed rows by role -> its distinct model
    triples, and its distinct interaction triples not among them."""
    seen: set = set()
    return (_flatten(rows, frames.MODEL_FRAMES, seen),
            _flatten(rows, ["interactions"], seen))
