"""JSON-LD document export (JS1/JS2): the per-page `{pathway,
entitiesById}` document the reference emits as NDJSON
(ref: src/Processor.ts:88-121, bin/gpml2pvjson:104-120,
src/2013a/toPvjson.ts:281-309).

The document compiler (document.py) writes each document's JSON text
itself, from the committed values of its model rows, with
`document_rows`: one row per Pathway element, its `entitiesById` the
document's nodes, edges, citations and vocabularies, each kind in
element order; the pass writes them as the `documents` snapshot, which
`jsonld_documents` reads.

The bytes are those Spark's `to_json` (Jackson) wrote for the same
values: keys in the same order, null fields dropped at every level,
null array elements kept as `null`, strings escaped as Jackson escapes
them, doubles spelled by `java_double` (`Double.toString`), and a
non-finite double quoted ("NaN", "Infinity"). A NaN survives the
compiler only in `rotation`/`textRotation`; everywhere else it is null.
"""

from __future__ import annotations

import math
import re
import struct

from pyspark.sql import DataFrame

from ..functions.mappings import (
    FONT_EXTRA_CLASSES,
    FONT_EXTRA_DEFAULTS,
    JSONLD_CONTEXT,
)


# kept as a name perfbench's trace wraps in this module; the
# package's callers read the snapshot itself
def jsonld_documents(model: dict) -> DataFrame:
    """One row per Pathway element: (url, frag, pathway_id, jsonld),
    the full {pathway, entitiesById} JSON-LD document string
    (NDJSON-ready, S5): the model's `documents` snapshot."""
    return model["documents"]


# --- Double.toString ------------------------------------------------------
# A port of the JDK 17 digit generator (jdk.internal.math.FloatingDecimal,
# BinaryToASCIIBuffer.dtoa and getChars), which Jackson's writeNumber
# uses. It is not the shortest round-trip spelling Python's repr gives:
# 2**60 is 1.15292150460684698E18 there, 1.152921504606847e+18 here.

_N_5_BITS = [(5 ** i).bit_length() for i in range(27)]
# floor(log10(2**p)) for 1 < p < 64: the decimal digits of a large
# integer below its 53 significant bits
_INSIGNIFICANT = [0, 0] + [len(str(1 << p)) - 1 for p in range(2, 64)]


def _wrap(v: int, bits: int) -> int:
    """v as a signed two's-complement integer of `bits` bits."""
    v &= (1 << bits) - 1
    return v - (1 << bits) if v >> (bits - 1) else v


def _long_digits(dec_exp: int, lvalue: int, insignificant: int
                 ) -> tuple[list[int], int]:
    if insignificant:
        pow10 = 10 ** insignificant
        residue = lvalue % pow10
        lvalue //= pow10
        dec_exp += insignificant
        if residue >= pow10 >> 1:
            lvalue += 1
    text = str(lvalue)
    return [int(c) for c in text.rstrip("0")], dec_exp + len(text)


def _estimate_dec_exp(fract: int, bin_exp: int) -> int:
    d2 = struct.unpack(">d", struct.pack(
        ">Q", (0x3FF << 52) | (fract & ((1 << 52) - 1))))[0]
    d = (d2 - 1.5) * 0.289529654 + 0.176091259 + bin_exp * 0.301029995663981
    return math.floor(d)


def _dtoa(bin_exp: int, fract: int, n_sig: int) -> tuple[list[int], int]:
    """(digits, decimal exponent) of fract * 2**(bin_exp - 52)."""
    tail = (fract & -fract).bit_length() - 1
    n_fract_bits = 53 - tail
    n_tiny = max(0, n_fract_bits - bin_exp - 1)
    if -21 <= bin_exp <= 62 and n_tiny < 27 \
            and n_fract_bits + _N_5_BITS[n_tiny] < 64 and n_tiny == 0:
        # an integer that fits a long
        insignificant = 0
        if bin_exp > n_sig:
            p2 = bin_exp - n_sig - 1
            insignificant = _INSIGNIFICANT[p2] if 1 < p2 < 64 else 0
        v = fract << (bin_exp - 52) if bin_exp >= 52 \
            else fract >> (52 - bin_exp)
        return _long_digits(0, v, insignificant)

    dec_exp = _estimate_dec_exp(fract, bin_exp)
    b5 = max(0, -dec_exp)
    b2 = b5 + n_tiny + bin_exp
    s5 = max(0, dec_exp)
    s2 = s5 + n_tiny
    m5, m2 = b5, b2 - n_sig
    fract >>= tail
    b2 -= n_fract_bits - 1
    common = min(b2, s2)
    b2, s2, m2 = b2 - common, s2 - common, m2 - common
    if n_fract_bits == 1:
        m2 -= 1
    if m2 < 0:
        b2, s2, m2 = b2 - m2, s2 - m2, 0

    b_bits = n_fract_bits + b2 + (_N_5_BITS[b5] if b5 < 27 else b5 * 3)
    ten_s_bits = s2 + 1 + (_N_5_BITS[s5 + 1] if s5 + 1 < 27
                           else (s5 + 1) * 3)
    b = (fract * 5 ** b5) << b2
    s = 5 ** s5 << s2
    m = 5 ** m5 << m2
    tens = s * 10
    digits: list[int] = []
    if b_bits < 64 and ten_s_bits < 64:
        # int or long arithmetic, where m may overflow
        width = 32 if b_bits < 32 and ten_s_bits < 32 else 64
        q, b = divmod(b, s)
        b *= 10
        m = _wrap(m * 10, width)
        low, high = b < m, _wrap(b + m, width) > tens
        if q == 0 and not high:
            dec_exp -= 1
        else:
            digits.append(q)
        if dec_exp < -3 or dec_exp >= 8:
            low = high = False
        while not low and not high:
            q, b = divmod(b, s)
            b *= 10
            m = _wrap(m * 10, width)
            if m > 0:
                low, high = b < m, _wrap(b + m, width) > tens
            else:
                low = high = True
            digits.append(q)
        low_diff = (b << 1) - tens
    else:
        m *= 10
        q, b = divmod(b, s)
        b *= 10
        low, high = b < m, b + m >= tens
        if q == 0 and not high:
            dec_exp -= 1
        else:
            digits.append(q)
        if dec_exp < -3 or dec_exp >= 8:
            low = high = False
        while not low and not high:
            q, b = divmod(b, s)
            b *= 10
            m *= 10
            low, high = b < m, b + m >= tens
            digits.append(q)
        low_diff = (b << 1) - tens if high and low else 0
    dec_exp += 1
    if high and (not low or low_diff > 0
                 or (low_diff == 0 and digits[-1] & 1)):
        i = len(digits) - 1
        while digits[i] == 9 and i > 0:
            digits[i] = 0
            i -= 1
        if digits[i] == 9:  # carry out of the first digit
            digits[0] = 1
            dec_exp += 1
        else:
            digits[i] += 1
    return digits, dec_exp


def java_double(d: float) -> str:
    """`Double.toString(d)` of JDK 17."""
    if d != d:
        return "NaN"
    if math.isinf(d):
        return "Infinity" if d > 0 else "-Infinity"
    bits = struct.unpack(">Q", struct.pack(">d", d))[0]
    sign = "-" if bits >> 63 else ""
    fract = bits & ((1 << 52) - 1)
    bin_exp = (bits >> 52) & 0x7FF
    if bin_exp == 0:
        if fract == 0:
            return sign + "0.0"
        n_sig = fract.bit_length()
        shift = 53 - n_sig
        fract <<= shift
        bin_exp = 1 - shift
    else:
        fract |= 1 << 52
        n_sig = 53
    digits, e = _dtoa(bin_exp - 1023, fract, n_sig)
    ds = "".join(map(str, digits))
    if 0 < e < 8:
        whole = ds[:e]
        if len(whole) < e:
            return f"{sign}{whole}{'0' * (e - len(whole))}.0"
        return f"{sign}{whole}.{ds[e:] or '0'}"
    if -3 < e <= 0:
        return f"{sign}0.{'0' * -e}{ds}"
    return f"{sign}{ds[0]}.{ds[1:] or '0'}E{e - 1}"


# --- to_json ---------------------------------------------------------------

_ESCAPES = {'"': '\\"', "\\": "\\\\", "\b": "\\b", "\t": "\\t",
            "\n": "\\n", "\f": "\\f", "\r": "\\r"}
_TO_ESCAPE = re.compile('[\x00-\x1f"\\\\]')


def _escape(m: re.Match) -> str:
    c = m.group()
    return _ESCAPES.get(c) or f"\\u{ord(c):04X}"


def string(v) -> str | None:
    return None if v is None else f'"{_TO_ESCAPE.sub(_escape, v)}"'


def double(v) -> str | None:
    if v is None:
        return None
    v = float(v)
    return java_double(v) if math.isfinite(v) else f'"{java_double(v)}"'


def integer(v) -> str | None:
    return None if v is None else str(int(v))


def array(encode):
    """An array encoder whose elements `encode` writes; a null element
    is `null`."""
    def write(vals) -> str | None:
        if vals is None:
            return None
        return "[" + ",".join("null" if v is None else encode(v)
                              for v in vals) + "]"
    return write


def obj(pairs) -> str:
    """A JSON object of (key, encoded value) pairs, null values
    dropped."""
    return "{" + ",".join(f'"{k}":{v}' for k, v in pairs
                          if v is not None) + "}"


_STRINGS, _DOUBLES = array(string), array(double)
_COMMENTS = array(lambda c: obj([("content", string(c["content"])),
                                 ("source", string(c["source"]))]))


def _attachment(position, offset):
    if position is None:
        return None
    return obj([("position", _DOUBLES(position)),
                ("offset", _DOUBLES(offset))])


def _point(p: dict) -> str:
    return obj([("isAttachedTo", string(p.get("is_attached_to"))),
                ("attachmentDisplay", _attachment(
                    p.get("attachment_position"),
                    p.get("attachment_offset"))),
                ("x", double(p.get("x"))), ("y", double(p.get("y"))),
                ("orientation", _DOUBLES(p.get("orientation")))])


_POINTS = array(_point)
_FONT_EXTRAS = [(k, double(v) if isinstance(v, float) else string(v))
                for k, v in FONT_EXTRA_DEFAULTS.items()]


def _node_json(r: dict) -> str:
    return obj([
        ("id", string(r["id"])),
        ("textContent", string(r["text_content"])),
        ("wpType", string(r["wp_type"])),
        ("stateType", string(r["state_type"])),
        ("x", double(r["x"])), ("y", double(r["y"])),
        ("width", double(r["width"])), ("height", double(r["height"])),
        ("zIndex", double(r["z_index"])),
        ("drawAs", string(r["draw_as"])), ("stroke", string(r["stroke"])),
        ("strokeWidth", double(r["stroke_width"])),
        ("strokeDasharray", string(r["stroke_dasharray"])),
        ("strokeStyle", string(r["stroke_style"])),
        ("fill", string(r["fill"])),
        ("fillOpacity", double(r["fill_opacity"])),
        ("rotation", double(r["rotation"])),
        ("textRotation", double(r["text_rotation"])),
        ("fontFamily", string(r["font_family"])),
        ("fontSize", double(r["font_size"])),
        ("fontWeight", string(r["font_weight"])),
        ("fontStyle", string(r["font_style"])),
        ("textAlign", string(r["text_align"])),
        ("verticalAlign", string(r["vertical_align"])),
        ("textDecoration", string(r["text_decoration"])),
        ("padding", double(r["padding"])),
        ("rx", double(r["rx"])), ("ry", double(r["ry"])),
        ("xrefDataSource", string(r["xref_datasource"])),
        ("xrefIdentifier", string(r["xref_identifier"])),
        ("cellularComponent", string(r["cellular_component"])),
        ("citations", _STRINGS(r["citations"])),
        ("comments", _COMMENTS(r["comments"])),
        ("isAttachedTo", string(r["is_attached_to"])),
        ("attachmentDisplay", _attachment(r["attachment_position"],
                                          r["attachment_offset"])),
        ("isPartOf", string(r["is_part_of"])),
        ("contains", _STRINGS(r["contains"])),
        ("burrs", _STRINGS(r["burrs"])),
        ("href", string(r["href"])),
        ("type", _STRINGS(r["types"])),
        ("kaavioType", string(r["kaavio_type"])),
        ("gpmlElementName", string(r["gpml_element_name"])),
        *(_FONT_EXTRAS if r["gpml_element_name"] in FONT_EXTRA_CLASSES
          else ()),
    ])


def _edge_json(r: dict) -> str:
    return obj([
        ("id", string(r["id"])),
        ("strokeWidth", double(r["stroke_width"])),
        ("zIndex", double(r["z_index"])),
        ("points", _POINTS(r["points"])),
        ("stroke", string(r["stroke"])),
        ("strokeDasharray", string(r["stroke_dasharray"])),
        ("drawAs", string(r["draw_as"])), ("fill", string(r["fill"])),
        ("type", _STRINGS(r["types"])),
        ("kaavioType", string(r["kaavio_type"])),
        ("gpmlElementName", string(r["gpml_element_name"])),
        ("markerStart", string(r["marker_start"])),
        ("markerEnd", string(r["marker_end"])),
        ("isAttachedTo", _STRINGS(r["is_attached_to"])),
        ("citations", _STRINGS(r["citations"])),
        ("comments", _COMMENTS(r["comments"])),
        ("isPartOf", string(r["is_part_of"])),
        ("burrs", _STRINGS(r["burrs"])),
    ])


def _citation_json(r: dict) -> str:
    return obj([
        ("id", string(r["id"])),
        ("xrefIdentifier", string(r["xref_identifier"])),
        ("xrefDataSource", string(r["xref_datasource"])),
        ("standardName", string(r["standard_name"])),
        ("source", string(r["source"])), ("year", integer(r["year"])),
        ("authors", _STRINGS(r["authors"])),
        ("type", _STRINGS(r["types"])),
        ("gpmlElementName", string(r["gpml_element_name"])),
        ("textContent", string(r["text_content"])),
    ])


def _vocabulary_json(r: dict) -> str:
    return obj([
        ("term", string(r["term"])),
        ("xrefIdentifier", string(r["xref_identifier"])),
        ("ontology", string(r["ontology"])),
        ("type", _STRINGS(r["types"])),
        ("gpmlElementName", string(r["gpml_element_name"])),
        ("id", string(r["id"])),
    ])


def _pathway_json(r: dict) -> str:
    return obj([
        ("@context", _STRINGS([JSONLD_CONTEXT])),
        ("fill", string("white")), ("strokeWidth", double(0.0)),
        ("stroke", string("black")),
        ("contains", _STRINGS(r["contains"])),
        ("drawAs", string("rect")), ("gpmlElementName", string("Pathway")),
        ("height", double(r["height"])), ("kaavioType", string("Group")),
        ("name", string(r["name"])), ("padding", double(5.0)),
        ("type", _STRINGS(r["types"])), ("width", double(r["width"])),
        ("x", double(0.0)), ("y", double(0.0)), ("zIndex", double(0.0)),
        ("fontSize", double(12.0)), ("fontWeight", string("bold")),
        ("textAlign", string("left")), ("verticalAlign", string("top")),
        ("organism", string(r["organism"])),
        ("license", string(r["license"])),
        ("dataSource", string(r["data_source"])),
        ("dataSourceVersion", string(r["data_source_version"])),
        ("author", string(r["author"])), ("email", string(r["email"])),
        ("maintainer", string(r["maintainer"])),
        ("lastModified", string(r["last_modified"])),
        ("comments", _COMMENTS(r["comments"])),
        ("standardName", string(r["standard_name"])),
        ("displayName", string(r["display_name"])),
        ("textContent", string(r["text_content"])),
        ("isSimilarTo", string(r["is_similar_to"])),
        ("id", string(r["id"])),
    ])


_ENTITY_JSON = {"nodes": _node_json, "edges": _edge_json,
                "citations": _citation_json,
                "vocabularies": _vocabulary_json}


def document_rows(rows: dict) -> list[dict]:
    """One document's committed rows by role -> its documents rows, one
    per Pathway element. An entity without an id has no entry."""
    body = ",".join(
        f"{string(r['id'])}:{_ENTITY_JSON[role](r)}"
        for role in _ENTITY_JSON for r in rows.get(role, ())
        if r["id"] is not None)
    return [{"url": p["url"], "frag": p["frag"],
             "pathway_id": p["pathway_id"],
             "jsonld": f'{{"pathway":{_pathway_json(p)},'
                       f'"entitiesById":{{{body}}}}}'}
            for p in rows.get("pathways", ())]
