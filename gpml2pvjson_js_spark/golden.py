"""Golden-fixture kit: measure triple P/R against the reference's own
expected outputs.

Two pure-Python halves (no Spark needed):

- ``golden_triples(doc)``: flatten a reference expected pvjson document
  (/root/reference/test/expected/*.json, the output shape of
  src/Processor.ts:88-121) into the same (subj, pred, obj) vocabulary
  that operators/triples.py materializes from the document model. This
  is the ground-truth triple set for the north-rule P/R gate.

- ``gpml_from_golden(doc)``: invert a golden pvjson document back into
  a structurally-equivalent GPML2013a input (ids, labels, xrefs,
  groups, states, anchors, interaction points/markers, biopax). The
  inverse mappings mirror src/2013a/ValueConverters.ts (position
  scalars, marker casing, rotation radians) — geometry attributes are
  carried through but only structure feeds triples.

Pathway ids are content hashes of the original GPML bytes
(bin/gpml2pvjson:55-108), which a reconstruction cannot reproduce, so
both sides normalize the pathway id to ``@PATHWAY@``.
"""

from __future__ import annotations

import math
import re
from typing import Iterable

PATHWAY_TOKEN = "@PATHWAY@"

PRED_TYPE = "rdf:type"
PRED_LABEL = "rdfs:label"
PRED_XREF = "wp:xref"
PRED_CONTAINS = "wp:contains"
PRED_IS_PART_OF = "wp:isPartOf"
PRED_SOURCE = "wp:source"
PRED_TARGET = "wp:target"
PRED_ONTOLOGY_TAG = "wp:ontologyTag"
PRED_CITATION = "wp:citation"
PRED_ATTACHED_TO = "wp:attachedTo"
PRED_TERM = "wp:term"


def _hop(ents: dict, ref: str | None) -> str | None:
    """Anchor hop: an edge endpoint attached to an Anchor is, at the
    edge level, attached to the anchor's parent edge
    (ref: src/edge/edge.ts:148-317; mirrors document._resolve_points)."""
    if ref is None:
        return None
    t = ents.get(ref)
    if t is not None and t.get("gpmlElementName") == "Anchor":
        return t.get("isAttachedTo")
    return ref


def golden_triples(doc: dict) -> set[tuple[str, str, str]]:
    """Flatten {pathway, entitiesById} into (subj, pred, obj) with the
    vocabulary of operators/triples.py (see its generators 1:1)."""
    ents = doc.get("entitiesById", {})
    out: set[tuple[str, str, str]] = set()

    def add(s, p, o):
        if s is not None and o is not None:
            out.add((str(s), p, str(o)))

    for eid, v in ents.items():
        elem = v.get("gpmlElementName")
        kaavio = v.get("kaavioType")
        sid = v.get("id", eid)
        if elem == "openControlledVocabulary":
            # vocabulary entity: term label + ontology-scoped xref
            for t in v.get("type") or []:
                add(sid, PRED_TYPE, t)
            add(sid, PRED_TERM, v.get("term"))
            continue
        if elem == "PublicationXref":
            for t in v.get("type") or []:
                add(sid, PRED_TYPE, t)
            ds, ident = v.get("xrefDataSource"), v.get("xrefIdentifier")
            if ds is not None and ident is not None:
                add(sid, PRED_XREF, f"{ds}:{ident}")
            add(sid, PRED_LABEL, v.get("standardName"))
            continue
        if kaavio == "Edge":
            for t in v.get("type") or []:
                add(sid, PRED_TYPE, t)
            pts = v.get("points") or []
            if pts:
                add(sid, PRED_SOURCE, _hop(ents, pts[0].get("isAttachedTo")))
                add(sid, PRED_TARGET, _hop(ents, pts[-1].get("isAttachedTo")))
            add(sid, PRED_IS_PART_OF, v.get("isPartOf"))
            for c in v.get("citations") or []:
                add(sid, PRED_CITATION, c)
            continue
        # node-like: SingleFreeNode / Burr / Group
        for t in v.get("type") or []:
            add(sid, PRED_TYPE, t)
        add(sid, PRED_LABEL, v.get("textContent"))
        ds, ident = v.get("xrefDataSource"), v.get("xrefIdentifier")
        if ds is not None and ident is not None:
            add(sid, PRED_XREF, f"{ds}:{ident}")
        add(sid, PRED_IS_PART_OF, v.get("isPartOf"))
        for c in v.get("citations") or []:
            add(sid, PRED_CITATION, c)
        for m in v.get("contains") or []:
            add(sid, PRED_CONTAINS, m)
        att = v.get("isAttachedTo")
        if isinstance(att, str):
            add(sid, PRED_ATTACHED_TO, att)

    p = doc.get("pathway", {})
    for t in p.get("type") or []:
        add(PATHWAY_TOKEN, PRED_TYPE, t)
        if isinstance(t, str) and t.startswith("http"):
            add(PATHWAY_TOKEN, PRED_ONTOLOGY_TAG, t)
    add(PATHWAY_TOKEN, PRED_LABEL, p.get("name"))
    for m in p.get("contains") or []:
        add(PATHWAY_TOKEN, PRED_CONTAINS, m)
    return out


# ---------------------------------------------------------------------------
# golden pvjson -> GPML inversion
# ---------------------------------------------------------------------------

_GPML_NS = "http://pathvisio.org/GPML/2013a"
_BP_NS = "http://www.biopax.org/release/biopax-level3.owl#"
_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

# drawAs -> GPML ConnectorType (inverse of ValueMappings,
# src/2013a/toPvjson.ts dialect tables)
_CONNECTOR_INV = {
    "StraightLine": None,  # default
    "ElbowLine": "Elbow",
    "CurvedLine": "Curved",
    "SegmentedLine": "Segmented",
}

# group type -> GPML Style attribute (GroupMappingsByStyle inverse)
_GROUP_STYLE_INV = {
    "GroupGroup": "Group",
    "GroupComplex": "Complex",
    "GroupPathway": "Pathway",
    "GroupNone": None,
}


def _esc(s) -> str:
    # escape \n/\t/\r numerically: bare ones inside attribute values
    # would be whitespace-normalized away by any conforming XML parser
    return (str(s).replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;")
            .replace("\n", "&#10;").replace("\t", "&#9;")
            .replace("\r", "&#13;"))


def _marker_inv(m: str | None) -> str | None:
    """pvjson marker -> GPML ArrowHead. CamelCased mim markers revert
    to their mim-kebab source form; an EXPLICIT 'none' marker (golden
    markerStart/End == "none", which adds the MarkerMappings 'none'
    types) comes from a GPML arrowhead that ValueMappings sends to
    'none' — 'Line' is its canonical preimage. Absent marker -> no
    ArrowHead attribute."""
    if m is None:
        return None
    if m == "none":
        return "Line"
    if m.startswith("Mim"):
        return "mim-" + re.sub(r"(?<!^)([A-Z])", r"-\1",
                               m[3:]).lower().lstrip("-")
    return m


def _rel_inv(pos: float, off: float, extent: float) -> float:
    """position scalar (+ absolute offset) -> GPML RelX/RelY
    (inverse of rel_position_scalar/rel_offset_scalar,
    src/2013a/ValueConverters.ts:405-432)."""
    rel01 = pos + ((off / extent) if extent else 0.0)
    return 2.0 * rel01 - 1.0


def _fmt(x: float) -> str:
    return repr(float(x))


class _Inverter:
    def __init__(self, doc: dict):
        self.doc = doc
        self.ents: dict = doc.get("entitiesById", {})
        self.groups = {k: v for k, v in self.ents.items()
                       if v.get("gpmlElementName") == "Group"}
        # anchors indexed by parent edge
        self.anchors_by_edge: dict[str, list] = {}
        for v in self.ents.values():
            if v.get("gpmlElementName") == "Anchor":
                self.anchors_by_edge.setdefault(
                    v.get("isAttachedTo"), []).append(v)

    def _group_ref(self, v: dict) -> str:
        gid = v.get("isPartOf")
        if gid and gid in self.groups:
            return f' GroupRef="GID_{_esc(gid)}"'
        return ""

    def _biopax_refs(self, v: dict) -> list[str]:
        return [f"    <BiopaxRef>{_esc(c[len('publicationXref'):])}"
                f"</BiopaxRef>"
                for c in v.get("citations") or []
                if isinstance(c, str) and c.startswith("publicationXref")]

    def _comments(self, v: dict) -> list[str]:
        out = []
        for c in v.get("comments") or []:
            src = c.get("source") if isinstance(c, dict) else None
            content = c.get("content") if isinstance(c, dict) else c
            s = f' Source="{_esc(src)}"' if src else ""
            out.append(f"    <Comment{s}>{_esc(content)}</Comment>")
        return out

    def _graphics_box(self, v: dict, extra: str = "") -> str:
        w = float(v.get("width") or 0.0)
        h = float(v.get("height") or 0.0)
        cx = float(v.get("x") or 0.0) + w / 2.0
        cy = float(v.get("y") or 0.0) + h / 2.0
        z = v.get("zIndex")
        zs = f' ZOrder="{int(z)}"' if z is not None else ""
        rot = v.get("rotation")
        rs = ""
        if rot is not None and float(rot) != 0.0:
            rs = f' Rotation="{_fmt(math.radians(float(rot)))}"'
        return (f'    <Graphics CenterX="{_fmt(cx)}" CenterY="{_fmt(cy)}" '
                f'Width="{_fmt(w)}" Height="{_fmt(h)}"{zs}{rs}{extra} />')

    def _xref(self, v: dict) -> str:
        ds = v.get("xrefDataSource") or ""
        ident = v.get("xrefIdentifier") or ""
        return f'    <Xref Database="{_esc(ds)}" ID="{_esc(ident)}" />'

    def _datanode(self, eid: str, v: dict) -> str:
        lines = [f'  <DataNode TextLabel="{_esc(v.get("textContent", ""))}" '
                 f'GraphId="{_esc(eid)}" Type="{_esc(v.get("wpType", ""))}"'
                 f"{self._group_ref(v)}>"]
        lines += self._comments(v) + self._biopax_refs(v)
        lines.append(self._graphics_box(v))
        lines.append(self._xref(v))
        lines.append("  </DataNode>")
        return "\n".join(lines)

    def _label(self, eid: str, v: dict) -> str:
        href = v.get("href")
        hr = f' Href="{_esc(href)}"' if href else ""
        lines = [f'  <Label TextLabel="{_esc(v.get("textContent", ""))}" '
                 f'GraphId="{_esc(eid)}"{hr}{self._group_ref(v)}>']
        lines += self._comments(v) + self._biopax_refs(v)
        lines.append(self._graphics_box(v))
        lines.append("  </Label>")
        return "\n".join(lines)

    def _shape(self, eid: str, v: dict) -> str:
        tl = v.get("textContent")
        tls = f' TextLabel="{_esc(tl)}"' if tl is not None else ""
        lines = [f'  <Shape GraphId="{_esc(eid)}"{tls}'
                 f"{self._group_ref(v)}>"]
        lines += self._comments(v) + self._biopax_refs(v)
        cc = v.get("cellularComponent")
        if cc:
            lines.append(
                '    <Attribute '
                'Key="org.pathvisio.CellularComponentProperty" '
                f'Value="{_esc(cc)}" />')
        lines.append(self._graphics_box(v))
        lines.append("  </Shape>")
        return "\n".join(lines)

    def _state(self, eid: str, v: dict) -> str:
        host = self.ents.get(v.get("isAttachedTo"), {})
        hw = float(host.get("width") or 0.0)
        hh = float(host.get("height") or 0.0)
        ad = v.get("attachmentDisplay") or {}
        pos = ad.get("position") or [0.5, 0.5]
        off = ad.get("offset") or [0.0, 0.0]
        rel_x = _rel_inv(float(pos[0]), float(off[0]), hw)
        rel_y = _rel_inv(float(pos[1]), float(off[1]), hh)
        lines = [f'  <State GraphRef="{_esc(v.get("isAttachedTo", ""))}" '
                 f'TextLabel="{_esc(v.get("textContent", ""))}" '
                 f'GraphId="{_esc(eid)}">']
        lines += self._comments(v) + self._biopax_refs(v)
        lines.append(
            f'    <Graphics RelX="{_fmt(rel_x)}" RelY="{_fmt(rel_y)}" '
            f'Width="{_fmt(float(v.get("width") or 0.0))}" '
            f'Height="{_fmt(float(v.get("height") or 0.0))}" />')
        lines.append(self._xref(v))
        lines.append("  </State>")
        return "\n".join(lines)

    def _point(self, p: dict, marker: str | None) -> str:
        a = f'X="{_fmt(float(p.get("x") or 0.0))}" ' \
            f'Y="{_fmt(float(p.get("y") or 0.0))}"'
        ref = p.get("isAttachedTo")
        if ref is not None:
            a += f' GraphRef="{_esc(ref)}"'
            target = self.ents.get(ref, {})
            if target.get("gpmlElementName") != "Anchor":
                ad = p.get("attachmentDisplay") or {}
                pos = ad.get("position") or [0.5, 0.5]
                off = ad.get("offset") or [0.0, 0.0]
                tw = float(target.get("width") or 0.0)
                th = float(target.get("height") or 0.0)
                rel_x = _rel_inv(float(pos[0]), float(off[0]), tw)
                rel_y = _rel_inv(float(pos[1]), float(off[1]), th)
                a += f' RelX="{_fmt(rel_x)}" RelY="{_fmt(rel_y)}"'
        ah = _marker_inv(marker)
        if ah:
            a += f' ArrowHead="{_esc(ah)}"'
        return f"      <Point {a} />"

    def _edge(self, eid: str, v: dict) -> str:
        elem = v.get("gpmlElementName", "Interaction")
        lines = [f'  <{elem} GraphId="{_esc(eid)}"{self._group_ref(v)}>']
        lines += self._comments(v) + self._biopax_refs(v)
        ct = _CONNECTOR_INV.get(v.get("drawAs"))
        cts = f' ConnectorType="{ct}"' if ct else ""
        ls = ' LineStyle="Broken"' if v.get("strokeDasharray") else ""
        sw = v.get("strokeWidth")
        lt = f' LineThickness="{_fmt(float(sw))}"' if sw is not None else ""
        z = v.get("zIndex")
        zs = f' ZOrder="{int(z)}"' if z is not None else ""
        lines.append(f"    <Graphics{zs}{lt}{cts}{ls}>")
        pts = v.get("points") or []
        for i, p in enumerate(pts):
            marker = (v.get("markerStart") if i == 0
                      else v.get("markerEnd") if i == len(pts) - 1
                      else None)
            lines.append(self._point(p, marker))
        for anc in self.anchors_by_edge.get(eid, []):
            ad = anc.get("attachmentDisplay") or {}
            pos = (ad.get("position") or [0.0])[0]
            shape = ("Circle" if anc.get("drawAs") in ("Circle", "Ellipse")
                     else "None")
            lines.append(
                f'      <Anchor Position="{_fmt(float(pos))}" '
                f'Shape="{shape}" GraphId="{_esc(anc.get("id"))}" />')
        lines.append("    </Graphics>")
        if elem == "Interaction":
            lines.append(self._xref(v))
        lines.append(f"  </{elem}>")
        return "\n".join(lines)

    def _group(self, eid: str, v: dict) -> str:
        style = None
        for t in v.get("type") or []:
            if t in _GROUP_STYLE_INV:
                style = _GROUP_STYLE_INV[t]
        sty = f' Style="{style}"' if style else ""
        tl = v.get("textContent")
        tls = f' TextLabel="{_esc(tl)}"' if tl is not None else ""
        open_tag = (f'  <Group GroupId="GID_{_esc(eid)}" '
                    f'GraphId="{_esc(eid)}"{sty}{tls}')
        children = self._comments(v) + self._biopax_refs(v)
        if not children:
            return open_tag + " />"
        return "\n".join([open_tag + ">", *children, "  </Group>"])

    def _biopax(self) -> str:
        pubs, vocabs = [], []
        for v in self.ents.values():
            if v.get("gpmlElementName") == "PublicationXref":
                pubs.append(v)
            elif v.get("gpmlElementName") == "openControlledVocabulary":
                vocabs.append(v)
        # pathway-level vocabularies also live in pathway.type as IRIs
        if not pubs and not vocabs:
            return ""
        dt = 'rdf:datatype="http://www.w3.org/2001/XMLSchema#string"'
        lines = [f'  <Biopax xmlns:bp="{_BP_NS}" xmlns:rdf="{_RDF_NS}">']
        for p in pubs:
            rid = str(p.get("id", ""))
            rid = rid[len("publicationXref"):] if rid.startswith(
                "publicationXref") else rid
            lines.append(f'    <bp:PublicationXref rdf:id="{_esc(rid)}">')
            for key, field in (("ID", "xrefIdentifier"),
                               ("DB", "xrefDataSource"),
                               ("TITLE", "standardName"),
                               ("SOURCE", "source"), ("YEAR", "year")):
                val = p.get(field)
                if val is not None:
                    lines.append(f"      <bp:{key} {dt}>{_esc(val)}"
                                 f"</bp:{key}>")
            for a in p.get("authors") or []:
                lines.append(f"      <bp:AUTHORS {dt}>{_esc(a)}"
                             f"</bp:AUTHORS>")
            lines.append("    </bp:PublicationXref>")
        for v in vocabs:
            lines.append("    <bp:openControlledVocabulary>")
            lines.append(f'      <bp:TERM {dt}>{_esc(v.get("term", ""))}'
                         f"</bp:TERM>")
            lines.append(
                f'      <bp:ID {dt}>{_esc(v.get("xrefIdentifier", ""))}'
                f"</bp:ID>")
            lines.append(
                f'      <bp:Ontology {dt}>{_esc(v.get("ontology", ""))}'
                f"</bp:Ontology>")
            lines.append("    </bp:openControlledVocabulary>")
        lines.append("  </Biopax>")
        return "\n".join(lines)

    def render(self) -> str:
        p = self.doc.get("pathway", {})
        attrs = f'xmlns="{_GPML_NS}" Name="{_esc(p.get("name", ""))}"'
        if p.get("dataSourceVersion"):
            attrs += f' Version="{_esc(p["dataSourceVersion"])}"'
        if p.get("organism"):
            attrs += f' Organism="{_esc(p["organism"])}"'
        if p.get("license"):
            attrs += f' License="{_esc(p["license"])}"'
        parts = [f"<Pathway {attrs}>"]
        for c in p.get("comments") or []:
            src = c.get("source") if isinstance(c, dict) else None
            content = c.get("content") if isinstance(c, dict) else c
            s = f' Source="{_esc(src)}"' if src else ""
            parts.append(f"  <Comment{s}>{_esc(content)}</Comment>")
        parts.append(
            f'  <Graphics BoardWidth="{_fmt(float(p.get("width") or 0))}" '
            f'BoardHeight="{_fmt(float(p.get("height") or 0))}" />')

        renderers = {
            "DataNode": self._datanode,
            "Label": self._label,
            "Shape": self._shape,
            "State": self._state,
            "Interaction": self._edge,
            "GraphicalLine": self._edge,
        }
        # document order: GPML2013a schema order is DataNode, State,
        # Interaction, GraphicalLine, Label, Shape, Group
        order = ["DataNode", "State", "Interaction", "GraphicalLine",
                 "Label", "Shape"]
        for elem in order:
            for eid, v in self.ents.items():
                if v.get("gpmlElementName") == elem:
                    parts.append(renderers[elem](str(v.get("id", eid)), v))
        for eid, v in self.ents.items():
            if v.get("gpmlElementName") == "Group":
                parts.append(self._group(str(v.get("id", eid)), v))
        bp = self._biopax()
        if bp:
            parts.append(bp)
        parts.append("</Pathway>")
        return ('<?xml version="1.0" encoding="UTF-8"?>\n'
                + "\n".join(parts) + "\n")


def gpml_from_golden(doc: dict) -> str:
    """Reconstruct a structurally-equivalent GPML2013a document from a
    reference expected pvjson document."""
    return _Inverter(doc).render()


# ---------------------------------------------------------------------------
# Corpus-wide P/R harness
# ---------------------------------------------------------------------------

EXPECTED_DIR = "/root/reference/test/expected"


def golden_fixture_docs(expected_dir: str = EXPECTED_DIR) -> dict:
    """{fixture name: parsed expected pvjson doc} for every golden."""
    import glob
    import json
    import os
    out = {}
    for path in sorted(glob.glob(f"{expected_dir}/*.json")):
        name = os.path.basename(path)[:-5]
        with open(path) as f:
            out[name] = json.load(f)
    return out


def golden_pages(spark, docs: dict):
    """One Common-Crawl-style page per golden fixture, embedding the
    reconstructed GPML, so the whole golden corpus runs through the
    production parse -> model -> triples path in a single job."""
    import datetime
    from .corpus import PAGES_SCHEMA
    rows = []
    for i, (name, doc) in enumerate(sorted(docs.items())):
        gpml = gpml_from_golden(doc)
        html = ("<html><head><title>golden</title></head><body>\n"
                '<script type="application/gpml+xml">\n'
                + gpml + "\n</script>\n</body></html>")
        rows.append((
            f"https://golden.example/{name}",
            datetime.datetime(2020, 1, 6) + datetime.timedelta(seconds=i),
            html.encode("utf-8"),
            f"golden fixture {name}",
            "en",
        ))
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def spark_triples_by_fixture(spark, pages) -> dict:
    """Run the document-model pipeline over the golden pages; return
    {fixture: set((subj, pred, obj))} with pathway ids normalized."""
    from pyspark.sql import functions as F
    from .operators.assemble import build_document_model
    from .operators.triples import build_triples

    model = build_document_model(spark, pages)
    triples = build_triples(model, with_interactions=False)
    norm = triples.select(
        F.element_at(F.split("url", "/"), -1).alias("fixture"),
        F.when(F.col("subj") == F.col("pathway_id"),
               F.lit(PATHWAY_TOKEN)).otherwise(F.col("subj")).alias("subj"),
        "pred", "obj",
    )
    out: dict = {}
    for row in norm.collect():
        out.setdefault(row["fixture"], set()).add(
            (row["subj"], row["pred"], row["obj"]))
    return out


def pr_report(spark, expected_dir: str = EXPECTED_DIR,
              exclude: Iterable[str] = ()) -> dict:
    """Corpus-wide triple precision/recall vs the reference goldens.

    Returns {"status", "aggregate": {...}, "fixtures": {name: {...}}}
    where the aggregate is micro-averaged over every fixture triple.
    With no fixture under `expected_dir` the status is "unavailable"
    and precision/recall are None: there is nothing to score."""
    docs = {k: v for k, v in golden_fixture_docs(expected_dir).items()
            if k not in set(exclude)}
    if not docs:
        return {
            "status": "unavailable",
            "reason": f"no reference golden fixtures under {expected_dir}",
            "aggregate": {"precision": None, "recall": None,
                          "true_positives": 0, "n_ours": 0, "n_gold": 0,
                          "n_fixtures": 0},
            "fixtures": {},
        }
    gold = {name: golden_triples(doc) for name, doc in docs.items()}
    ours = spark_triples_by_fixture(spark, golden_pages(spark, docs))

    fixtures = {}
    tp = n_ours = n_gold = 0
    for name in sorted(docs):
        g = gold.get(name, set())
        o = ours.get(name, set())
        inter = g & o
        tp += len(inter)
        n_ours += len(o)
        n_gold += len(g)
        fixtures[name] = {
            "precision": round(len(inter) / len(o), 4) if o else 1.0,
            "recall": round(len(inter) / len(g), 4) if g else 1.0,
            "n_ours": len(o), "n_gold": len(g),
            "missing": sorted(g - o)[:20],
            "extra": sorted(o - g)[:20],
        }
    agg = {
        "precision": round(tp / n_ours, 4) if n_ours else 1.0,
        "recall": round(tp / n_gold, 4) if n_gold else 1.0,
        "true_positives": tp, "n_ours": n_ours, "n_gold": n_gold,
        "n_fixtures": len(docs),
    }
    return {"status": "ok", "aggregate": agg, "fixtures": fixtures}
