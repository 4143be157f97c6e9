"""GPML extraction: pages -> one row per GPML element, and each page's
canonical text.

The row kernels of the reference's streaming SAX parse
(ref: src/spinoffs/cxml-xpath.ts:61-213 + selector table
src/2013a/toPvjson.ts:169-198): `page_mentions` turns one page into a
*flat typed mention row* per GPML element, and `extract_page_text`
into its canonical text. All conversion semantics (key mapping,
defaults, value converters, reference resolution) happen later, in
Python, one document at a time, in the document compiler
(document.py), which calls both kernels inside its one pass per page.
This module is pure extraction plus the order-sensitive jobs that
genuinely need document order:

- multi-fragment splitting (ref: bin/gpml2pvjson:61-96)
- ``rdf:id`` -> ``rdf:ID`` fixup (ref: src/2013a/toPvjson.ts:163-167)
- stable GraphId synthesis ``pvjsgeneratedid<hex>``
  (ref: src/GraphIdManager.ts:31-53) which depends on the document
  order of elements and on existing hex-parsable ids.

A mention row is made as the mentions snapshot stores it
(frames.stored, the package's one commit rule, where MENTIONS_SCHEMA
lives too). A numeric attribute is read with Python's `float`, and one
that `float` cannot read is null (`_f`).

`parse_gpml` and `extracted_text` are the same kernels as Spark
frames of their own, one Arrow pass over the pages each.
"""

from __future__ import annotations

import hashlib
import re
import xml.etree.ElementTree as ET
from typing import Iterable, Iterator

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.mappings import SUPPORTED_NAMESPACES
from . import frames
from .frames import MENTIONS_SCHEMA

_SCRIPT_RE = re.compile(
    r'<script type="application/gpml\+xml">\n?(.*?)\n?</script>',
    re.DOTALL,
)
_XML_DECL_RE = re.compile(r"<\?xml[^>]*\?>")
_P_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)
_RDF_ID_FIX = (' rdf:id="', ' rdf:ID="')

_ARROW_MENTIONS = to_arrow_schema(MENTIONS_SCHEMA)


# Elements that may carry a GraphId (ref: Processor.ts:212-249 is applied
# to exactly the element streams below plus nested Anchors).
_ID_CAPABLE = {
    "DataNode", "State", "Interaction", "GraphicalLine", "Label", "Shape",
    "Group",
}
_EDGE_TAGS = {"Interaction", "GraphicalLine"}


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _parse_int_js(s: str) -> int | None:
    """Emulate JS parseInt(s, 16): optional 0x/0X prefix, then the
    longest valid hex prefix, else NaN."""
    m = re.match(r"\s*([+-]?)(0[xX])?([0-9a-fA-F]+)", s or "")
    if not m:
        return None
    sign, _, digits = m.groups()
    v = int(digits, 16)
    return -v if sign == "-" else v


class _GraphIdManager:
    """Stable id synthesis (ref: src/GraphIdManager.ts:31-53)."""

    NAMESPACE = "pvjsgeneratedid"

    def __init__(self):
        self.counter = int("a00", 16)

    def generate(self) -> str:
        self.counter += 1
        return self.NAMESPACE + format(self.counter, "x")

    def record_existing(self, graph_id: str) -> None:
        v = _parse_int_js(graph_id)
        if v is not None and v > self.counter:
            self.counter = v


def extract_fragments(html: bytes) -> list[str]:
    """Pull GPML fragments out of a page; supports embedded
    ``<script type="application/gpml+xml">`` blocks and bare
    (possibly concatenated) GPML streams like the reference CLI
    (ref: bin/gpml2pvjson:61-96)."""
    try:
        text = html.decode("utf-8")
    except UnicodeDecodeError:
        text = html.decode("utf-8", errors="replace")
    frags = _SCRIPT_RE.findall(text)
    if frags:
        return frags
    if "<Pathway" in text and "<html" not in text[:512].lower():
        # bare GPML: split a concatenated stream on XML declarations
        chunks = [c for c in _XML_DECL_RE.split(text) if c.strip()]
        return [c.strip() for c in chunks if "<Pathway" in c]
    return []


def extract_page_text(html: bytes | None) -> str | None:
    """Canonical extracted text: the contents of every top-level
    ``<p>`` element, joined by newline; none for a page with no html.
    Byte-identical per url is the pipeline invariant (BASELINE.json
    input_hint)."""
    if html is None:
        return None
    try:
        text = html.decode("utf-8")
    except UnicodeDecodeError:
        text = html.decode("utf-8", errors="replace")
    return "\n".join(_P_RE.findall(text))


def _clean(v):
    """GPML empty-string values are treated as missing
    (VALUES_TO_SKIP, ref: src/Processor.ts:60,483-485)."""
    return v if v not in ("", None) else None


def _f(v):
    """A numeric attribute as Python's `float` reads it, None if it
    cannot. Not JS `parseFloat`'s reading: "12px" is None, not 12, and
    "inf", "1_0" and " 1 " read as inf, 10.0 and 1.0. (The reference's
    XSD-typed parse, cxml, is not at hand to follow.)"""
    v = _clean(v)
    if v is None:
        return None
    try:
        return float(v)
    except ValueError:
        return None


def _graphics_fields(graphics: ET.Element | None) -> dict:
    if graphics is None:
        return {}
    g = graphics.attrib
    return {
        "center_x": _f(g.get("CenterX")),
        "center_y": _f(g.get("CenterY")),
        "width": _f(g.get("Width")),
        "height": _f(g.get("Height")),
        "zorder": _f(g.get("ZOrder")),
        "color": _clean(g.get("Color")),
        "fill_color": _clean(g.get("FillColor")),
        "shape_type": _clean(g.get("ShapeType")),
        "line_style": _clean(g.get("LineStyle")),
        "line_thickness": _f(g.get("LineThickness")),
        "connector_type": _clean(g.get("ConnectorType")),
        "rotation": _clean(g.get("Rotation")),
        "font_size": _f(g.get("FontSize")),
        "font_name": _clean(g.get("FontName")),
        "font_weight": _clean(g.get("FontWeight")),
        "font_style": _clean(g.get("FontStyle")),
        "font_decoration": _clean(g.get("FontDecoration")),
        "font_strikethru": _clean(g.get("FontStrikethru")),
        "align": _clean(g.get("Align")),
        "valign": _clean(g.get("Valign")),
        "rel_x": _f(g.get("RelX")),
        "rel_y": _f(g.get("RelY")),
        "fill_opacity": _f(g.get("FillOpacity")),
    }


def _children_fields(elem: ET.Element) -> dict:
    out: dict = {}
    comments, biopax_refs, attributes = [], [], {}
    for child in elem:
        tag = _local(child.tag)
        if tag == "Comment":
            comments.append({
                "content": child.text or "",
                "source": _clean(child.get("Source")),
            })
        elif tag == "BiopaxRef":
            if child.text:
                biopax_refs.append(child.text)
        elif tag == "Attribute":
            key, value = child.get("Key"), child.get("Value")
            if key and value not in ("", None):
                attributes[key] = value
        elif tag == "Xref":
            out["xref_datasource"] = _clean(child.get("Database"))
            out["xref_identifier"] = _clean(child.get("ID"))
    if comments:
        out["comments"] = comments
    if biopax_refs:
        out["biopax_refs"] = biopax_refs
    if attributes:
        out["attributes"] = attributes
    return out


def _parse_fragment(url: str, frag_idx: int, fragment: str) -> list[dict]:
    """One GPML fragment -> mention rows in document order."""
    base = {"url": url, "frag": frag_idx}
    pathway_id = (
        "hash://sha256/"
        + hashlib.sha256(fragment.encode("utf-8")).hexdigest()
    )
    base["pathway_id"] = pathway_id

    # rdf:id fixup (ref: src/2013a/toPvjson.ts:163-167)
    fragment = fragment.replace(*_RDF_ID_FIX)
    try:
        root = ET.fromstring(fragment)
    except ET.ParseError as exc:
        return [{**base, "gpml_element_name": "_error",
                 "error": f"xml-parse: {exc}"}]

    ns = root.tag[1:].rsplit("}", 1)[0] if root.tag.startswith("{") else ""
    if ns not in SUPPORTED_NAMESPACES:
        # namespace gate (ref: src/2013a/toPvjson.ts:235-240)
        return [{**base, "gpml_element_name": "_error",
                 "error": f"unsupported-namespace: {ns}"}]

    rows: list[dict] = []
    idman = _GraphIdManager()
    elem_idx = 0

    def emit(row: dict) -> None:
        nonlocal elem_idx
        row["elem_idx"] = elem_idx
        elem_idx += 1
        rows.append(row)

    def ensure_graph_id(attrs: dict) -> tuple[str, bool]:
        gid = _clean(attrs.get("GraphId"))
        if gid is not None:
            idman.record_existing(gid)
            return gid, True
        return idman.generate(), False

    # pathway metadata row (attrs + Graphics attrs merged,
    # ref: src/2013a/toPvjson.ts:234-247)
    p = root.attrib
    graphics = None
    for child in root:
        if _local(child.tag) == "Graphics":
            graphics = child
            break
    pathway_row = {
        **base,
        "gpml_element_name": "Pathway",
        "name": _clean(p.get("Name")),
        "organism": _clean(p.get("Organism")),
        "license": _clean(p.get("License")),
        "data_source": _clean(p.get("Data-Source")),
        "version": _clean(p.get("Version")),
        "author": _clean(p.get("Author")),
        "email": _clean(p.get("Email")),
        "maintainer": _clean(p.get("Maintainer")),
        "last_modified": _clean(p.get("Last-Modified")),
        "board_width": _f(graphics.get("BoardWidth")) if graphics is not None else None,
        "board_height": _f(graphics.get("BoardHeight")) if graphics is not None else None,
    }
    pw_comments = [
        {"content": c.text or "", "source": _clean(c.get("Source"))}
        for c in root if _local(c.tag) == "Comment"
    ]
    if pw_comments:
        pathway_row["comments"] = pw_comments
    emit(pathway_row)

    for child in root:
        tag = _local(child.tag)
        if tag in _ID_CAPABLE:
            gid, explicit = ensure_graph_id(child.attrib)
            graphics_el = None
            for sub in child:
                if _local(sub.tag) == "Graphics":
                    graphics_el = sub
                    break
            row = {
                **base,
                "gpml_element_name": tag,
                "graph_id": gid,
                "graph_id_explicit": explicit,
                "group_id": _clean(child.get("GroupId")),
                "group_ref": _clean(child.get("GroupRef")),
                "graph_ref": _clean(child.get("GraphRef")),
                "text_label": _clean(child.get("TextLabel")),
                "href": _clean(child.get("Href")),
                "wp_type": _clean(child.get("Type")),
                "state_type": _clean(child.get("StateType")),
                "style": _clean(child.get("Style")),
                **_graphics_fields(graphics_el),
                **_children_fields(child),
            }
            if tag in _EDGE_TAGS and graphics_el is not None:
                points, anchors = [], []
                for i, sub in enumerate(graphics_el):
                    stag = _local(sub.tag)
                    if stag == "Point":
                        points.append({
                            "idx": len(points),
                            "x": _f(sub.get("X")),
                            "y": _f(sub.get("Y")),
                            "rel_x": _f(sub.get("RelX")),
                            "rel_y": _f(sub.get("RelY")),
                            "graph_ref": _clean(sub.get("GraphRef")),
                            "arrow_head": _clean(sub.get("ArrowHead")),
                        })
                    elif stag == "Anchor":
                        anchors.append(sub)
                row["points"] = points
                emit(row)
                # anchors follow their parent edge in processing order
                # (ref: src/2013a/toPvjson.ts:396-454)
                for anchor in anchors:
                    agid, aexplicit = ensure_graph_id(anchor.attrib)
                    emit({
                        **base,
                        "gpml_element_name": "Anchor",
                        "graph_id": agid,
                        "graph_id_explicit": aexplicit,
                        # an Anchor is attached to its parent edge
                        "graph_ref": gid,
                        "position": _f(anchor.get("Position")),
                        "anchor_shape": _clean(anchor.get("Shape")),
                        # inherit parent edge ZOrder
                        # (ref: src/Processor.ts:251-276)
                        "zorder": row.get("zorder"),
                    })
            else:
                emit(row)
        elif tag == "Biopax":
            for bp in child:
                btag = _local(bp.tag)
                if btag == "PublicationXref":
                    fields = {}
                    authors = []
                    for sub in bp:
                        stag = _local(sub.tag)
                        if stag == "AUTHORS":
                            if sub.text:
                                authors.append(sub.text)
                        else:
                            fields[stag] = sub.text
                    rdf_id = None
                    for k, v in bp.attrib.items():
                        if _local(k) == "ID":
                            rdf_id = v
                    emit({
                        **base,
                        "gpml_element_name": "PublicationXref",
                        "pub_id": rdf_id,
                        "xref_identifier": _clean(fields.get("ID")),
                        "pub_db": _clean(fields.get("DB")),
                        "pub_title": _clean(fields.get("TITLE")),
                        "pub_source": _clean(fields.get("SOURCE")),
                        "pub_year": _clean(fields.get("YEAR")),
                        "pub_authors": authors or None,
                    })
                elif btag == "openControlledVocabulary":
                    fields = {}
                    for sub in bp:
                        fields[_local(sub.tag)] = sub.text
                    emit({
                        **base,
                        "gpml_element_name": "openControlledVocabulary",
                        "ontology": _clean(fields.get("Ontology")),
                        "vocab_term": _clean(fields.get("TERM")),
                        "xref_identifier": _clean(fields.get("ID")),
                    })
    return rows


def page_mentions(url: str, html: bytes | None) -> list[dict]:
    """One page's mention rows (`_error` rows included), as the
    mentions snapshot stores them (frames.stored): every
    MENTIONS_SCHEMA field, and a NaN (a "NaN" coordinate) null at every
    nesting level. A page with no html has none."""
    if html is None:
        return []
    return [frames.stored("mentions", r)
            for i, frag in enumerate(extract_fragments(html))
            for r in _parse_fragment(url, i, frag)]


def text_schema(pages: DataFrame) -> T.StructType:
    """(url, extracted_text), each as nullable as the pages' url and
    html."""
    return T.StructType([
        T.StructField("url", T.StringType(), pages.schema["url"].nullable),
        T.StructField("extracted_text", T.StringType(),
                      pages.schema["html"].nullable)])


def parse_gpml(pages: DataFrame) -> DataFrame:
    """pages(url, html, ...) -> mentions (one row per GPML element,
    `page_mentions`), one Arrow pass over the pages; only
    ``url``/``html`` are read (column pruning keeps the scan
    narrow)."""

    def run(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [r for url, html in zip(batch["url"].to_pylist(),
                                           batch["html"].to_pylist())
                    for r in page_mentions(url, html)]
            yield pa.RecordBatch.from_pylist(rows, schema=_ARROW_MENTIONS)

    return pages.select("url", "html").mapInArrow(run, MENTIONS_SCHEMA)


def extracted_text(pages: DataFrame) -> DataFrame:
    """(url, extracted_text) re-extracted from html by
    `extract_page_text`, one Arrow pass over the pages: must match the
    corpus `text` column byte-for-byte (the pytest invariant)."""

    def run(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [batch["url"], pa.array(
                    [extract_page_text(h) for h in batch["html"].to_pylist()],
                    pa.string())],
                ["url", "extracted_text"])

    return pages.select("url", "html").mapInArrow(run, text_schema(pages))
