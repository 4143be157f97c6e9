"""BioPAX interaction classification (J12): marker + endpoint entity
types -> biopaxType / controlType / role assignment, and BioPAX group
typing (J13).

A port of the reference's per-document classification
(src/pvjsonToBioPAX/Interaction.ts:94-276, src/pvjsonToBioPAX/Group.ts
:16-42, and the ArrowHead->BioPAX tables) to plain Python over one
document's committed node and edge rows; the document compiler
(document.py) calls `classify`, the pass writes the rows as the
`interactions` snapshot, and `classify_interactions` reads it. For
each Interaction edge:

- the graphical source/target follow the marker direction
  (Interaction.ts:104-118);
- each endpoint's entity type facts come from its node or edge; a
  GraphId that repeats resolves to the last element carrying it;
- an Arrow between two physical entities is re-disambiguated as a
  conversion, and between an edge and a physical entity or pathway as
  a stimulation (Interaction.ts:128-165);
- the marker table (`_marker_tables`) gives biopaxType and
  controlType; an unmatched marker leaves the edge unclassified;
- roles: controller/controlled, left/right or participants
  (Interaction.ts:203-232);
- a Catalysis whose controller is not a BioPAX node type is demoted to
  a generic Interaction (Interaction.ts:240-253);
- a generic Interaction that a Catalysis controls is upgraded to a
  Conversion with left/right from its participants
  (Interaction.ts:255-271).

An edge GraphId that repeats keeps the classification of its last
edge. A Group containing at least one edge is a Pathway, else a Complex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import frames
from ..functions.mappings import (
    BIOPAX_NODE_TYPES,
    BIOPAX_PHYSICAL_ENTITY_TYPES,
    MARKER_MAPPINGS,
    PVJSON_TO_BIOPAX,
)

_PHYSICAL = frozenset(BIOPAX_PHYSICAL_ENTITY_TYPES)
_NODE_TYPES = frozenset(BIOPAX_NODE_TYPES)
_CONTROL = ("Control", "Catalysis")
_CONVERSION = ("Conversion", "BiochemicalReaction", "Degradation")
_GENERIC = ("Interaction", "MolecularInteraction")
_NO_FACTS = (False, False, False, False)


# kept as a name perfbench's trace wraps where plans/pipeline.py
# imports it; the package's callers read the snapshot itself
def classify_interactions(model: dict) -> DataFrame:
    """The interactions frame (frames.INTERACTIONS) of the model: one
    row per classified Interaction edge and per kept Group (the
    model's `interactions` snapshot)."""
    return model["interactions"]


def _marker_tables(strict_reference: bool) -> tuple[dict, dict, bool]:
    """(marker -> biopaxType, marker -> controlType, lowercase lookup).

    The reference's classification table (ArrowHeadMappings.json)
    keys raw 'mim-*' strings while converted pvjson markers are
    'Mim*'-cased, so the reference NEVER classifies direct mim-*
    markers — only 'Arrow'/'TBar'/'none' plus the two values its Arrow
    re-disambiguation synthesizes ('mim-conversion'/'mim-stimulation',
    Interaction.ts:128-165 + :167).

    strict_reference=True (default) reproduces that exactly: a
    case-SENSITIVE table holding only the reachable keys, so
    'MimCatalysis' misses while the synthesized 'MIMConversion' hits.
    strict_reference=False is the intent-fulfilling mode (lowercased
    keys — every mim-* marker classifies per the table)."""
    if strict_reference:
        keys = {k: k for k in ("Arrow", "TBar", "none", "MIMConversion",
                               "MIMStimulation")}
    else:
        keys = {m.lower(): m for m in MARKER_MAPPINGS}
    bp = {k: MARKER_MAPPINGS[m]["bp"] for k, m in keys.items()}
    ct = {k: MARKER_MAPPINGS[m]["control_type"] for k, m in keys.items()
          if MARKER_MAPPINGS[m]["control_type"]}
    return bp, ct, not strict_reference


def _facts(entity: dict, is_edge: bool) -> tuple:
    """(is_edge, is_physical, is_pathway, is_biopax_node)."""
    types = entity["types"] or ()
    bp = {PVJSON_TO_BIOPAX[t] for t in types if t in PVJSON_TO_BIOPAX}
    return (is_edge, not bp.isdisjoint(_PHYSICAL), "Pathway" in types,
            not bp.isdisjoint(_NODE_TYPES))


def _classify_edge(e: dict, facts: dict, tables: tuple) -> dict | None:
    bp_of, ct_of, lower = tables
    start, end = e["marker_start"], e["marker_end"]
    has_start = start is not None and start != "none"
    has_end = end is not None and end != "none"
    marker = start if has_start else end if has_end else "none"
    first, last = e["endpoint_first_ref"], e["endpoint_last_ref"]
    source, target = (last, first) if has_start else (first, last)
    if source is None or target is None:
        return None
    s_edge, s_phys, s_pw, s_node = facts.get(source, _NO_FACTS)
    t_edge, t_phys, t_pw, _ = facts.get(target, _NO_FACTS)
    if marker == "Arrow":
        if s_phys and t_phys:
            marker = "MIMConversion"
        elif (s_edge and (t_phys or t_pw)) or ((s_phys or s_pw) and t_edge):
            marker = "MIMStimulation"
    key = marker.lower() if lower else marker
    bt = bp_of.get(key)
    if bt is None:
        return None
    is_ctrl, is_conv = bt in _CONTROL, bt in _CONVERSION
    row = {
        "url": e["url"], "frag": e["frag"], "pathway_id": e["pathway_id"],
        "id": e["id"], "marker_eff": marker, "biopax_type": bt,
        "control_type": ct_of.get(key),
        "controller": source if is_ctrl else None,
        "controlled": target if is_ctrl else None,
        "left": source if is_conv else None,
        "right": target if is_conv else None,
        "participants": [source, target]
        if bt in _GENERIC or not (is_ctrl or is_conv) else None,
        "conversion_direction": None if not is_conv else
        "REVERSIBLE" if has_start and has_end else "LEFT-TO-RIGHT",
    }
    if bt == "Catalysis" and not s_node:
        row.update(biopax_type="Interaction", control_type=None,
                   controller=None, controlled=None,
                   participants=[target, source])
    return row


def classify(nodes: list[dict], edges: list[dict],
             strict_reference: bool = True) -> list[dict]:
    """One document's committed node and edge rows, each kind in
    element order -> its interactions rows: the classified Interaction
    edges, then one BioPAX type per kept Group."""
    facts = {}
    entities = [(n, False) for n in nodes] + [(e, True) for e in edges]
    for entity, is_edge in sorted(entities, key=lambda x: x[0]["elem_idx"]):
        if entity["id"] is not None:
            facts[entity["id"]] = _facts(entity, is_edge)
    tables = _marker_tables(strict_reference)
    classified = [r for r in (
        _classify_edge(e, facts, tables) for e in edges
        if e["gpml_element_name"] == "Interaction") if r is not None]
    catalysed = {r["controlled"] for r in classified
                 if r["biopax_type"] == "Catalysis"}
    by_id = {}
    for r in classified:
        parts = r["participants"] or []
        if r["id"] in catalysed and r["biopax_type"] == "Interaction" \
                and len(parts) >= 2:
            r.update(biopax_type="Conversion", left=parts[0],
                     right=parts[1], participants=None,
                     conversion_direction="LEFT-TO-RIGHT")
        by_id[r["id"]] = r

    edge_ids = {e["id"] for e in edges if e["id"] is not None}
    groups = {}
    for g in nodes:
        if g["kaavio_type"] != "Group":
            continue
        row = groups.setdefault((g["pathway_id"], g["id"]), {
            **dict.fromkeys(frames.INTERACTIONS.names),
            "url": g["url"], "frag": g["frag"],
            "pathway_id": g["pathway_id"], "id": g["id"],
            "biopax_type": "Complex"})
        if not edge_ids.isdisjoint(g["contains"] or ()):
            row["biopax_type"] = "Pathway"
    return [*by_id.values(), *groups.values()]
