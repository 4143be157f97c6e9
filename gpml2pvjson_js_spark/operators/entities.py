"""Mentions -> typed pvjson-style entities, one element at a time.

Re-expresses the reference's per-element "compiler"
(processKV/getPvjsonValue/processType, ref: src/Processor.ts:373-560,
KeyMappings src/2013a/KeyMappings.json, defaults layering
src/2013a/toPvjson.ts:114-156) as plain Python over one mention row
(a dict), with the value converters of functions/converters.py:

- class defaults  (P16) : GPML_DEFAULTS by element name
- group style     (P16) : GROUP_STYLE_MAPPINGS by Style, with override
                          precedence (ref: src/group.ts:153-181)

`convert_node` gives a node's row before reference resolution;
`citation_rows`, `vocabulary_row` and `pathway_row` give the finished
rows of the other entity kinds. The document kernel (document.py) calls
them per element and derives everything that follows a reference
inside a document (a State's parent, group membership and bounding
box, burrs, contains).
"""

from __future__ import annotations

import re

import numpy as np

from ..functions import converters as C
from ..functions.mappings import (
    GPML_DEFAULTS,
    GPML_ELEMENT_NAME_TO_KAAVIO_TYPE,
    GROUP_STYLE_MAPPINGS,
    VOCABULARY_NAME_TO_IRI,
)

DOC_KEY = ["url", "frag"]

_DEFAULT_COLS = [
    "color", "fill_color", "shape_type", "line_style", "line_thickness",
    "font_size", "font_name", "font_weight", "font_style",
    "font_decoration", "font_strikethru", "align", "valign",
    "fill_opacity", "wp_type", "state_type", "connector_type",
    "anchor_shape",
]
# the group style overrides even an element's explicit value
# (`assign(oldValue, mappingValue)`, ref: src/group.ts:162-176)
_STYLE_COLS = ("shape_type", "line_style", "line_thickness", "fill_color")

_DOUBLE_LINE_KEY = "org.pathvisio.DoubleLineProperty"
_CELLULAR_KEY = "org.pathvisio.CellularComponentProperty"
_BACKPAGE_KEY = "org.pathvisio.model.BackpageHead"

_PW_SEARCH = ("http://wikipathways.org/index.php/Special:SearchPathways"
              "?query=")
# "Name (variant)" -> standardName/displayName
# (ref: src/2013a/toPvjson.ts:256-273); java.util.regex's `.` matches
# no line terminator
_NOT_EOL = "[^\n\r\u0085\u2028\u2029]"
_SPLITTABLE = re.compile(r"[^()]*\([^()]*\)[^()]*")
_STANDARD = re.compile(f"({_NOT_EOL}*?) \\(")
_DISPLAY = re.compile(f"\\(({_NOT_EOL}*?)\\)")


def effective(r: dict) -> dict:
    """The element's graphics after the class defaults and, for a
    Group, its Style's overrides (P16)."""
    name = r["gpml_element_name"]
    d = GPML_DEFAULTS.get(name, {})
    eff = {c: r[c] if r[c] is not None else d.get(c)
           for c in _DEFAULT_COLS}
    style = None
    if name == "Group":
        style = GROUP_STYLE_MAPPINGS.get(
            r["style"] if r["style"] is not None else d.get("style"))
    if style is not None:
        eff.update({c: style[c] for c in _STYLE_COLS})
        eff["padding"], eff["style_types"] = style["padding"], style["types"]
    else:
        eff["padding"], eff["style_types"] = d.get("padding_attr"), None
    return eff


def curie(datasource, identifier) -> list:
    """processType's "DB:ID" type, when both fields exist
    (ref: src/Processor.ts:373-393)."""
    return [] if datasource is None or identifier is None \
        else [f"{datasource}:{identifier}"]


def citation_ids(refs):
    """BiopaxRef ids -> the citation entities' ids."""
    return None if refs is None else [
        None if r is None else "publicationXref" + r for r in refs]


def _rel(rel_x, rel_y, scalar):
    if rel_x is None or rel_y is None:
        return None
    return [scalar(rel_x), scalar(rel_y)]


def dims(r: dict, eff: dict) -> tuple:
    """(double line, no-Points stroke width, width, height): getDimension
    adds LineThickness when DoubleLineProperty is set
    (ref: src/2013a/ValueConverters.ts:166-179)."""
    double = (r["attributes"] or {}).get(_DOUBLE_LINE_KEY) == "Double"
    sw = C.stroke_width(eff["line_thickness"], eff["shape_type"], False)
    extra = sw if double else 0.0
    return (double, sw,
            None if r["width"] is None else r["width"] + extra,
            None if r["height"] is None else r["height"] + extra)


def convert_node(r: dict) -> dict:
    """A DataNode/Shape/Label/State/Anchor/Group mention -> its node
    row, before reference resolution (P1-P22)."""
    name = r["gpml_element_name"]
    eff = effective(r)
    attrs = r["attributes"] or {}
    shape = eff["shape_type"]
    is_anchor = name == "Anchor"
    double, sw, w, h = dims(r, eff)
    cx, cy = r["center_x"], r["center_y"]
    x = None if cx is None or w is None else cx - w / 2
    y = None if cy is None or h is None else cy - h / 2
    rot = C.rotation_degrees(r["rotation"]) \
        if name == "Shape" or r["rotation"] is not None else None
    explicit = r["graph_id_explicit"]
    if is_anchor:
        a_shape = eff["anchor_shape"]
        draw = "Circle" if a_shape == "Circle" else "Rectangle" \
            if a_shape == "None" and explicit is not None and not explicit \
            else "None"
        w = h = 8.0 if a_shape == "Circle" else (
            0.0 if explicit else 4.0) if a_shape == "None" else None
    else:
        draw = shape
    position = r["position"]
    if is_anchor and position is not None:
        # the array Arrow delivered here before the kernel computed it:
        # the anchor hop hands it on, and hyperedge_start_orientation's
        # truth test of it raises (ROADMAP item 4 pins that defect)
        att_pos = np.array([position, 0.0])
    else:
        att_pos = _rel(r["rel_x"], r["rel_y"], C.rel_position_scalar)
    types = C.union_types(
        eff["style_types"] if name == "Group" else [], [name],
        C.arr(GPML_ELEMENT_NAME_TO_KAAVIO_TYPE.get(name)),
        curie(r["xref_datasource"], r["xref_identifier"]))
    cc = attrs.get(_CELLULAR_KEY)
    if name == "DataNode":
        types = C.union_types(types, C.arr(eff["wp_type"]))
    elif name == "Shape" and cc is not None:
        types = C.union_types(
            types, ["PhysicalEntity", "CellularComponent"], [cc])
    text_decoration = None
    if eff["font_decoration"] is not None \
            or eff["font_strikethru"] is not None:
        text_decoration = C.text_decoration(eff["font_decoration"],
                                            eff["font_strikethru"])
    rounded = 15.0 if shape == "RoundedRectangle" else None
    is_group = name == "Group"
    return {
        "id": r["graph_id"],
        "kaavio_type": GPML_ELEMENT_NAME_TO_KAAVIO_TYPE.get(name),
        "types": types,
        "text_content": C.html_unescape(r["text_label"]),
        "href": C.encode_uri(C.html_unescape(r["href"])),
        "wp_type": eff["wp_type"] if name in ("DataNode", "Group")
        else None,
        "state_type": eff["state_type"] if name in ("State", "Group")
        else None,
        "x": x,
        "y": y,
        "width": w,
        "height": h,
        "draw_as": C.map_value(draw),
        "stroke": C.css_color(eff["color"]),
        "stroke_width": 0.0 if is_anchor else sw,
        "stroke_dasharray": C.stroke_dasharray(eff["line_style"]),
        "stroke_style": "double" if double else None,
        "fill": C.fill(eff["fill_color"], shape, False),
        "fill_opacity": eff["fill_opacity"],
        "rotation": rot,
        "text_rotation": -rot if rot is not None and rot != 0.0 else None,
        "font_family": eff["font_name"],
        "font_size": eff["font_size"],
        "font_weight": C.kebab(eff["font_weight"]),
        "font_style": C.kebab(eff["font_style"]),
        "text_align": C.kebab(eff["align"]),
        "vertical_align": C.kebab(eff["valign"]),
        "text_decoration": text_decoration,
        "padding": eff["padding"],
        "rx": rounded,
        "ry": rounded,
        "cellular_component": cc,
        "backpage_head": attrs.get(_BACKPAGE_KEY),
        "citations": citation_ids(r["biopax_refs"]),
        "is_attached_to": r["graph_ref"],
        "attachment_position": att_pos,
        "attachment_relative_offset": None if is_anchor or name == "State"
        else _rel(r["rel_x"], r["rel_y"], C.rel_offset_scalar),
        # a State's relative offset becomes its absolute offset below
        "_rel_offset": None if is_anchor
        else _rel(r["rel_x"], r["rel_y"], C.rel_offset_scalar),
        "attachment_offset": [0.0, 0.0]
        if is_anchor and position is not None else None,
        "group_id": None if is_group else r["group_id"],
        "gpml_group_id": r["group_id"] if is_group else None,
    }


def citation_rows(pubs: list[dict]) -> list[dict]:
    """PublicationXref entities + year-ordered citation ordinal (A6,
    the reference's only window function,
    ref: src/2013a/toPvjson.ts:939-980)."""
    rows = []
    for r in pubs:
        rows.append({
            "id": None if r["pub_id"] is None
            else "publicationXref" + r["pub_id"],
            "gpml_element_name": "PublicationXref",
            "xref_datasource": r["pub_db"],
            "standard_name": C.html_unescape(r["pub_title"]),
            "source": C.html_unescape(r["pub_source"]),
            "year": C.cast_int(r["pub_year"]),
            "authors": None if r["pub_authors"] is None
            else [C.html_unescape(a) for a in r["pub_authors"]],
            "types": C.union_types(["PublicationXref"], curie(
                r["pub_db"], r["xref_identifier"])),
        })
    order = sorted(range(len(rows)), key=lambda i: (
        rows[i]["year"] is None, rows[i]["year"] or 0,
        pubs[i]["elem_idx"]))
    for n, i in enumerate(order, 1):
        rows[i]["text_content"] = str(n)
    return rows


def vocabulary_row(r: dict) -> dict:
    """openControlledVocabulary entity; ontology name -> IRI prefix,
    unknown ontologies get none (J10, ref: src/2013a/toPvjson.ts
    :892-937)."""
    prefix = VOCABULARY_NAME_TO_IRI.get(r["ontology"])
    ident = r["xref_identifier"]
    return {
        "term": r["vocab_term"],
        "iri_prefix": prefix,
        "id": None if prefix is None or ident is None else prefix + ident,
        "types": ["openControlledVocabulary"],
        "gpml_element_name": "openControlledVocabulary",
    }


def pathway_row(r: dict, contains: list, po_terms: list) -> dict:
    """Pathway metadata row -> pathway entity (A1/P19/JS1,
    ref: src/2013a/toPvjson.ts:234-320); its type gains the document's
    Pathway Ontology IRIs (ref: src/2013a/toPvjson.ts:920-936)."""
    d = GPML_DEFAULTS["Pathway"]
    name = C.html_unescape(r["name"] if r["name"] is not None
                           else d["name"])
    standard = display = name
    if " (" in name and _SPLITTABLE.fullmatch(name):
        m = _STANDARD.match(name)
        standard = m.group(1) if m else ""
        m = _DISPLAY.search(name)
        display = m.group(1) if m else ""
    organism, license_ = r["organism"], r["license"]
    lines = ["Name: " + name]
    if organism is not None:
        lines.append("Organism: " + organism)
    if license_ is not None:
        lines.append("License: " + license_)
    species = "" if organism is None else "&species=" + organism
    return {
        "id": r["pathway_id"],
        "gpml_element_name": "Pathway",
        "kaavio_type": "Group",
        "name": name,
        "standard_name": standard,
        "display_name": display,
        "text_content": "\n".join(lines),
        "is_similar_to": C.encode_uri(
            _PW_SEARCH + name + species + "&doSearch=1"),
        "data_source": C.html_unescape(r["data_source"]),
        "data_source_version": r["version"],
        "author": C.html_unescape(r["author"]),
        "email": C.html_unescape(r["email"]),
        "maintainer": C.html_unescape(r["maintainer"]),
        "width": r["board_width"],
        "height": r["board_height"] if r["board_height"] is not None
        else d["board_height"],
        "types": C.union_types(["Pathway"], po_terms),
        "contains": contains,
    }
