"""The kernel of the one pass per page: each page's mention rows, its
text, and what the document compiler makes of each of its documents;
and the compiler itself, one
document's mention rows -> the finished rows of the five model frames,
its BioPAX interactions, its triples with their canonical ids, its
JSON-LD document and its linked mentions.

The reference is a one-document compiler: it turns each GPML element
into its typed pvjson entity, resolves the document's references in
one in-memory pass and emits one `{pathway, entitiesById}` per
document (src/Processor.ts:88-121,373-560,
src/2013a/toPvjson.ts:470-710); its BioPAX classification reads only
that document too (src/pvjsonToBioPAX/Interaction.ts:94-276); and
the reference's CLI splits its input into pathway chunks and compiles
each one (bin/gpml2pvjson:61-96). Every reference is scoped to its
(url, frag), and a document never spans two pages, so the pass
(assemble.py) hands the pages of each url to `compile_page_group`,
which parses them (parse.page_mentions), extracts their text
(parse.extract_page_text) and hands each document's ok
mention rows to `compile_document`, which

1. layers the class defaults and the group-style overrides
   (P16, ref: src/2013a/toPvjson.ts:114-156, src/group.ts:153-181);
2. converts every element's values (functions/converters.py):
   colours, stroke, fill, rotation, HTML decoding, encodeURI, marker
   -> SBO/WP typing, processType CURIEs, vocabulary IRIs, citation
   ordinals and pathway names (P1-P22, J10, J11, A1, A6);
3. resolves the references, in dependency order:
   - states: ZOrder inherited from the parent, burr offset against the
     parent's size (J3/J8, ref: src/Processor.ts:251-276);
   - groups: bounding box over node and edge-endpoint members; empty
     groups are dropped and nested groups are not bbox members
     (A3/P21, ref: src/group.ts:28-150, src/2013a/toPvjson.ts:781);
   - edge points: attachment against node/state/group/anchor targets,
     with the anchor hop to the anchor's edge (J7,
     ref: src/edge/edge.ts:148-317);
   - Elbow/Curved waypoints (F4/F5), `waypoints.resolve_document`:
     hyperedges in the level order of `plans.topo.kahn_levels`;
   - members re-based to their group's origin, gaining isPartOf (A4,
     ref: src/2013a/toPvjson.ts:800-860);
   - burrs on their hosts, group and pathway `contains`, each sorted
     by zIndex with nulls first and ties by id (J8/O1,
     ref: src/2013a/toPvjson.ts:663-667,680-710,791-798);
4. makes each model row as its frame stores it (frames.stored), and
   from those rows classifies the interactions (interactions.py),
   flattens the distinct triples (triples.py) and writes the JSON-LD
   document (export.py);
5. links the node rows against the linking index (linking.py), and
   rewrites the triples through the sameAs components
   (canonicalize.py) into columns of the triple rows themselves
   (`canonical_subj`, `canonical_obj`), so each triple is one row.
   The index is built once on the driver and handed to every call, so
   neither crosses documents.

A GraphId (or GroupId) that repeats inside one document resolves to the
last element carrying it in document order, like the reference's
`entitiesById` overwrite.

The kernel returns the rows by role (frames.FRAMES) as Python dicts;
the pass (assemble.py) gathers each snapshot's rows over its urls into
one Arrow table per row group of that snapshot's file. The model values
are those the earlier Catalyst projections produced, nulls and NaNs
included; the string casts are Spark's `try_cast`, a numeric attribute
no `float` reads is null (parse._f), and a document whose compile still
raises is quarantined alone (`compile_page_group`).

The rows stay plain Python values, without pandas: most documents are
small, and building a pandas frame of some 90 columns per document
cost more than compiling it. The compiler reads the mention rows as
the mentions snapshot stores them (parse.page_mentions), so it
compiles what that snapshot holds.

Bound: the kernel sees a whole page at once, so one page's html and
mention rows must fit in one Python worker's memory; a page with tens
of thousands of elements is still a few MB. Beyond that, the pass
holds at most a row group of pending rows per output, by their
estimated Arrow bytes (assemble.ROW_GROUP_BYTES), so a worker's
memory does not grow with its partition.
"""

from __future__ import annotations

from collections import defaultdict

from . import edges as E
from . import entities as N
from . import export as X
from . import frames
from . import interactions as I
from . import linking as L
from . import triples as TR
from . import waypoints as W
from .canonicalize import canonicalize_document
from .parse import extract_page_text, page_mentions
from ..functions import converters as C

_NAN = float("nan")
_FREE = ("DataNode", "Shape", "Label")
_NODE_LIKE = (*_FREE, "State")
# group bbox members: re-based into their group, hosts of burrs, and
# the elements whose zIndex a group's contains sorts by
_GEO = (*_NODE_LIKE, *E.EDGE_NAMES)
_BURRS = ("State", "Anchor")
_NODE_NAMES = (*_NODE_LIKE, "Anchor", "Group")
_ELEMENTS = (*_NODE_NAMES, *E.EDGE_NAMES)

# --- reference resolution ----------------------------------------------

def _null(v) -> bool:
    return v is None or v != v


def _num(v) -> float:
    """A null double as NaN: arithmetic on it gives NaN, which goes
    back to Spark as null, like null arithmetic in Catalyst."""
    return _NAN if v is None else v


def _min(vals) -> float:
    vals = [v for v in vals if not _null(v)]
    return min(vals) if vals else _NAN


def _max(vals) -> float:
    vals = [v for v in vals if not _null(v)]
    return max(vals) if vals else _NAN


def _z_sorted(items) -> list[str]:
    """(z, id) pairs -> ids, null z first, then ascending z, ties by
    id."""
    return [i for _, i in sorted(
        items, key=lambda zi: (not _null(zi[0]),
                               0.0 if _null(zi[0]) else zi[0], zi[1]))]


def _edge_box(pts) -> tuple:
    """An edge member's box from its first and last explicit points
    (least/greatest skip nulls)."""
    if pts is None:
        return _NAN, _NAN, _NAN, _NAN
    xs = (pts[0]["x"], pts[-1]["x"])
    ys = (pts[0]["y"], pts[-1]["y"])
    x, y = _min(xs), _min(ys)
    return x, y, x + (_max(xs) - x), y + (_max(ys) - y)


def _group_box(group: dict, members: list[dict]) -> None:
    """Bounding box of a group's node and edge members plus padding
    and stroke width; zIndex is the members' least."""
    boxes = []
    for m in members:
        if m["gpml_element_name"] in _NODE_LIKE:
            boxes.append((m["x"], m["y"], _num(m["x"]) + _num(m["width"]),
                          _num(m["y"]) + _num(m["height"]), m["z_index"]))
        else:
            boxes.append((*_edge_box(m["pts"]), m["z_index"]))
    min_x, min_y = _min(b[0] for b in boxes), _min(b[1] for b in boxes)
    max_x, max_y = _max(b[2] for b in boxes), _max(b[3] for b in boxes)
    pad = _num(group["padding"]) + _num(group["stroke_width"])
    group.update(x=min_x - pad, y=min_y - pad,
                 width=max_x - min_x + 2 * pad,
                 height=max_y - min_y + 2 * pad,
                 z_index=_min(b[4] for b in boxes))


def _resolve_points(edge: dict, target) -> None:
    """Each explicit point against the element its GraphRef names;
    `target(ref)` is that element when it can be attached to."""
    pts = edge["pts"]
    if pts is None:
        edge["points"] = None
        return
    points, edge_refs, targets = [], [], []
    for p in pts:
        ref = p["graph_ref"]
        t = target(ref)
        point = {"x": p["x"], "y": p["y"], "is_attached_to": ref,
                 "attachment_position": None, "attachment_offset": None,
                 "orientation": None, "marker": p["marker"]}
        edge_ref = None
        if t is not None and t["gpml_element_name"] == "Anchor":
            # the anchor hop: the edge attaches to the anchor's edge
            edge_ref = t["graph_ref"]
            point["attachment_position"] = t["attachment_position"]
            point["attachment_offset"] = [0.0, 0.0]
        elif ref is not None:
            width = _num(t["width"]) if t is not None else _NAN
            height = _num(t["height"]) if t is not None else _NAN
            point["attachment_position"] = [p["pos_x"], p["pos_y"]]
            point["attachment_offset"] = [p["roff_x"] * width,
                                          p["roff_y"] * height]
            if t is not None:
                edge_ref = ref
                sign = 1.0 if p["idx"] == 0 else -1.0
                point["orientation"] = [
                    sign * C.orientation_scalar(p["pos_x"]),
                    sign * C.orientation_scalar(p["pos_y"])]
        points.append(point)
        edge_refs.append(edge_ref)
        if ref is not None:
            targets.append({"elem": None if t is None
                            else t["gpml_element_name"], "point_ref": ref})
    edge["points"] = points
    edge["is_attached_to"] = [r for r in edge_refs if r is not None] or None
    edge["point_targets"] = targets
    edge["endpoint_first_ref"] = edge_refs[0]
    edge["endpoint_last_ref"] = edge_refs[-1]


def _resolve(els: list[dict]) -> tuple[set, list]:
    """Resolve the references among a document's element rows in
    place; returns the kept groups' elem_idx and the pathway's
    contains."""
    by_id = {e["id"]: e for e in els}
    groups = {e["group_id_"]: e for e in els
              if e["gpml_element_name"] == "Group"}

    # 1. states
    for e in els:
        e["z_index"] = e["zorder"]
        if e["gpml_element_name"] == "State":
            parent = by_id.get(e["graph_ref"], {})
            if _null(e["z_index"]):
                e["z_index"] = parent.get("zorder")
            rel = e["_rel_offset"]
            if rel is not None:
                e["attachment_offset"] = [
                    _num(rel[0]) * _num(parent.get("width")),
                    _num(rel[1]) * _num(parent.get("height"))]

    # 2. groups: membership by GroupRef, bbox over node/edge members
    members = defaultdict(list)
    for e in els:
        g = groups.get(e["group_ref"]) \
            if e["group_ref"] is not None else None
        if g is not None:
            e["group"] = g
            members[g["elem_idx"]].append(e)
    kept = set()
    for g in groups.values():
        geo = [m for m in members[g["elem_idx"]]
               if m["gpml_element_name"] in _GEO]
        if geo:
            _group_box(g, geo)
            kept.add(g["elem_idx"])

    def kept_group(e) -> bool:
        return e["gpml_element_name"] == "Group" and e["elem_idx"] in kept

    # 3. edge points, 4. waypoints
    def target(ref):
        t = by_id.get(ref) if ref is not None else None
        if t is not None and (t["gpml_element_name"] in
                              (*_NODE_LIKE, "Anchor") or kept_group(t)):
            return t
        return None

    edges = [e for e in els if e["gpml_element_name"] in E.EDGE_NAMES]
    for e in edges:
        _resolve_points(e, target)
    W.resolve_document(edges)

    # 5. rebase members of kept groups
    for e in els:
        g = e.get("group")
        name = e["gpml_element_name"]
        if g is None or g["elem_idx"] not in kept or name not in _GEO:
            continue
        e["is_part_of"] = g["id"]
        gx, gy = _num(g["x"]), _num(g["y"])
        if name in _NODE_LIKE:
            e["x"], e["y"] = _num(e["x"]) - gx, _num(e["y"]) - gy
        elif e["points"] is not None:
            e["points"] = [{**p, "x": _num(p.get("x")) - gx,
                            "y": _num(p.get("y")) - gy}
                           for p in e["points"]]

    # 6. burrs, group contains, pathway contains
    burrs = defaultdict(list)
    for e in els:
        if e["gpml_element_name"] in _BURRS:
            host = by_id.get(e["graph_ref"])
            if host is not None and (
                    host["gpml_element_name"] in _GEO or kept_group(host)):
                burrs[host["elem_idx"]].append((e["z_index"], e["id"]))
    for e in els:
        if e["elem_idx"] in burrs:
            e["burrs"] = _z_sorted(burrs[e["elem_idx"]])
        if kept_group(e):
            e["contains"] = _z_sorted(
                (m["z_index"] if m["gpml_element_name"] in _GEO else None,
                 m["id"]) for m in members[e["elem_idx"]])
    top = [(e["z_index"], e["id"]) for e in els
           if (e["gpml_element_name"] in (*_FREE, *E.EDGE_NAMES)
               or kept_group(e)) and e.get("is_part_of") is None]
    return kept, _z_sorted(top)


# --- the kernel ----------------------------------------------------------

def _key_fields(r: dict, *names) -> dict:
    return {n: r[n] for n in names}


def _compile_error(url: str, frag: int, exc: Exception) -> dict:
    """The quarantine row of a page or a document whose compile raised
    `exc`: a mention row of its url and frag, with `error`
    `compile: <type>: <message>` (the first line of the exception's
    message, at most 200 characters; `compile: <type>` when it has
    none) and every other field null."""
    error = f"compile: {type(exc).__name__}"
    message = next(iter(str(exc).splitlines()), "")[:200]
    return frames.stored("mentions", {
        "url": url, "frag": frag, "gpml_element_name": "_error",
        "error": f"{error}: {message}" if message else error})


def compile_page_group(pages, index: L.LinkIndex) -> dict[str, list[dict]]:
    """The pages of one url (`(url, html)` pairs; two when a batch
    holds the url twice) -> their rows by role (frames.FRAMES): each
    page's mention rows and text, and the compiled rows of each of
    their documents. The ok mention rows of one (url, frag) compile as
    one document, whichever page they came from. Nothing raises out of
    it: a page whose parse raises gets one `_compile_error` row (frag
    0), and a document whose compile raises one with its frag, in place
    of its mention and compiled rows; the page keeps its text and its
    other documents."""
    rows = defaultdict(list)
    docs = defaultdict(list)
    for url, html in pages:
        try:
            mentions = page_mentions(url, html)
        except Exception as exc:
            mentions = [_compile_error(url, 0, exc)]
        for r in mentions:
            if r["gpml_element_name"] == "_error":
                rows["quarantine"].append(r)
            else:
                rows["mentions"].append(r)
                docs[r["frag"]].append(r)
        rows["text"].append({"url": url,
                             "extracted_text": extract_page_text(html)})
    failed = set()
    for frag, recs in docs.items():
        try:
            compiled = compile_document(recs, index)
        except Exception as exc:
            failed.add(frag)
            rows["quarantine"].append(
                _compile_error(recs[0]["url"], frag, exc))
            continue
        for role, rs in compiled.items():
            rows[role].extend(rs)
    if failed:
        rows["mentions"] = [r for r in rows["mentions"]
                            if r["frag"] not in failed]
    return rows


def compile_document(recs: list[dict], index: L.LinkIndex
                     ) -> dict[str, list[dict]]:
    """One document's ok mention rows, as dicts -> its rows by role
    (frames.FRAMES), each row keyed by its frame's field names, the
    mentions linked against `index` (linking.link_index)."""
    recs = sorted(recs, key=lambda r: r["elem_idx"])
    by_name = defaultdict(list)
    for r in recs:
        by_name[r["gpml_element_name"]].append(r)

    els = []
    for r in recs:
        name = r["gpml_element_name"]
        if name not in _ELEMENTS:
            continue
        e = E.convert_edge(r) if name in E.EDGE_NAMES else N.convert_node(r)
        e.update(url=r["url"], frag=r["frag"], pathway_id=r["pathway_id"],
                 elem_idx=r["elem_idx"], gpml_element_name=name,
                 group_id_=r["group_id"], group_ref=r["group_ref"],
                 graph_ref=r["graph_ref"], zorder=r["zorder"],
                 comments=r["comments"],
                 xref_datasource=r["xref_datasource"],
                 xref_identifier=r["xref_identifier"])
        if name in E.EDGE_NAMES:
            e["is_attached_to"] = None
        els.append(e)
    kept, contains = _resolve(els)

    rows = {role: [] for role in frames.FRAMES}
    for e in els:
        if e["gpml_element_name"] in E.EDGE_NAMES:
            rows["edges"].append(frames.stored("edges", e))
        elif e["gpml_element_name"] != "Group" or e["elem_idx"] in kept:
            rows["nodes"].append(frames.stored("nodes", e))
    for r, row in zip(by_name["PublicationXref"],
                      N.citation_rows(by_name["PublicationXref"])):
        row.update(_key_fields(r, "url", "frag", "pathway_id", "elem_idx",
                               "xref_identifier"))
        rows["citations"].append(frames.stored("citations", row))
    po_terms = []
    for r in by_name["openControlledVocabulary"]:
        row = N.vocabulary_row(r)
        row.update(_key_fields(r, "url", "frag", "pathway_id", "elem_idx",
                               "ontology", "xref_identifier"))
        rows["vocabularies"].append(frames.stored("vocabularies", row))
        if r["ontology"] == "Pathway Ontology" and row["id"] is not None:
            po_terms.append(row["id"])
    for r in by_name["Pathway"]:
        row = N.pathway_row(r, contains, po_terms)
        row.update(_key_fields(r, "url", "frag", "pathway_id", "organism",
                               "license", "last_modified"),
                   comments=r["comments"])
        rows["pathways"].append(frames.stored("pathways", row))

    rows["interactions"] = I.classify(rows["nodes"], rows["edges"])
    rows["model_triples"], rows["interaction_triples"] = \
        TR.document_triples(rows)
    rows["documents"] = X.document_rows(rows)
    rows["linked"] = L.link_document(rows["nodes"], index)
    triples = rows["model_triples"] + rows["interaction_triples"]
    for t, c in zip(triples, canonicalize_document(
            rows["linked"], triples, index.components)):
        t["canonical_subj"], t["canonical_obj"] = c["subj"], c["obj"]
    return rows
