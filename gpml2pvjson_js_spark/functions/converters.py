"""GPML value -> pvjson value converters, in plain Python.

Re-expression of the reference's src/2013a/ValueConverters.ts (P4-P14
in SURVEY.md §2.2). The document kernel (operators/document.py) calls
these once per element. Each one ports the semantics of the Catalyst
expression it replaced, not those of a Python library:

- regular expressions follow java.util.regex: `$` also matches before
  a final line terminator, and `.` matches no line terminator;
- HTML decoding decodes numeric entities first, in one
  non-recursive pass, then exactly six named entities;
- `encode_uri` is Java's URLEncoder plus a fixed table of rewrites;
- the string casts (`cast_double`, `cast_int`) accept what Spark's
  ANSI-mode casts (the Spark 4 default) accept, and raise where they
  raise.

`_map_literal` builds a literal map column for the Catalyst operator
that still looks up a dialect table (linking).
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from .mappings import NAMED_COLORS, VALUE_MAPPINGS

_PAIR_SEP = "\x1e"
_KV_SEP = "\x1f"


def _map_literal(d: dict) -> Column:
    """Literal map column. Encoded as ONE string literal through
    str_to_map (constant-folded to a map literal by Catalyst) instead
    of create_map(2N literal expressions) — keeps plan trees, plan
    strings, and codegen units small for the 40+-entry dialect maps."""
    flat = _PAIR_SEP.join(f"{k}{_KV_SEP}{v}" for k, v in d.items())
    return F.str_to_map(F.lit(flat), F.lit(_PAIR_SEP), F.lit(_KV_SEP))


# java.util.regex's `$` without MULTILINE: the end of input, or before
# a line terminator that ends it
_JAVA_END = "(?:\r\n|[\n\r\u0085\u2028\u2029])?\\Z"
_HEX6 = re.compile("[0-9a-fA-F]{6}" + _JAVA_END)
_HEX3 = re.compile("[0-9a-fA-F]{3}" + _JAVA_END)


def map_value(v):
    """ValueMappings lookup with identity fallback
    (ref: src/Processor.ts:435-440)."""
    return VALUE_MAPPINGS.get(v, v)


def css_color(v):
    """gpmlColorToCssColor (ref: src/2013a/ValueConverters.ts:314-332):
    'Transparent'/'None' pass through lowercased; hex gets '#'; named
    colors resolve via the rgbcolor table; unknown -> None."""
    if v is None:
        return None
    low = v.lower()
    if low in ("transparent", "none"):
        return low
    if _HEX6.match(v):
        return "#" + low
    if _HEX3.match(v):
        return "#" + "".join(c + c for c in low[:3])
    return NAMED_COLORS.get(low)


def kebab(v):
    """kebabCase for single-word GPML enum values (Center -> center)."""
    return None if v is None else v.lower()


_DEC_ENTITY = re.compile(r"&#([0-9]{1,7});")
_HEX_ENTITY = re.compile(r"&#[xX]([0-9a-fA-F]{1,6});")
_NAMED_ENTITIES = (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                   ("&apos;", "'"), ("&nbsp;", " "), ("&amp;", "&"))


def _chr(cp: int) -> str:
    """A code point as a string. A lone surrogate is malformed UTF-16,
    which Spark 4's decode rejects."""
    if 0xD800 <= cp <= 0xDFFF:
        raise ValueError(f"malformed UTF-16 code point {cp:#x}")
    return chr(cp)


def _decode_numeric(piece: str) -> str:
    for pattern, base in ((_DEC_ENTITY, 10), (_HEX_ENTITY, 16)):
        m = pattern.match(piece)
        if m:
            cp = int(m.group(1), base)
            if cp <= 0x10FFFF:
                return _chr(cp) + piece[m.end():]
    return piece


def html_unescape(v):
    """he.decode for the entities that occur in GPML text
    (ref: decodeIfNotEmpty, src/2013a/ValueConverters.ts:38-40).
    Numeric entities decode FIRST, each piece of the text before a
    '&#' once, so a '&#' that the later '&amp;' -> '&' rewrite produces
    is not decoded again (he is non-recursive); then the six named
    entities, in order."""
    if v is None:
        return None
    first, *rest = v.split("&#")
    out = first + "".join(_decode_numeric("&#" + p) for p in rest)
    for ent, rep in _NAMED_ENTITIES:
        out = out.replace(ent, rep)
    return out


_URL_SAFE = frozenset("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
                      "0123456789.-*_")
# JS encodeURI keeps exactly A-Za-z0-9 ; , / ? : @ & = + $ - _ . ! ~
# * ' ( ) # and percent-encodes everything else as uppercase UTF-8.
# Java's URLEncoder keeps A-Za-z0-9 . - * _ , maps space to '+', and
# encodes the rest — so the delta is a FIXED set of literal rewrites.
# Order matters: '+' (space) must become %20 before %2B is restored
# to '+'.
_URL_ENCODE_FIXUPS = [
    ("+", "%20"),
    # unreserved in JS, encoded by Java
    ("%21", "!"), ("%7E", "~"), ("%27", "'"), ("%28", "("),
    ("%29", ")"),
    # reserved set kept by encodeURI
    ("%3B", ";"), ("%2F", "/"), ("%3F", "?"), ("%3A", ":"),
    ("%40", "@"), ("%26", "&"), ("%3D", "="), ("%2B", "+"),
    ("%24", "$"), ("%2C", ","), ("%23", "#"),
]


def _url_encode(v: str) -> str:
    """java.net.URLEncoder.encode(v, UTF-8)."""
    out = []
    for c in v:
        if c in _URL_SAFE:
            out.append(c)
        elif c == " ":
            out.append("+")
        else:
            out.extend(f"%{b:02X}" for b in c.encode("utf-8"))
    return "".join(out)


def encode_uri(v):
    """JS encodeURI for Href values (ref: src/2013a/ValueConverters.ts
    :308-311), as URLEncoder plus literal fixups."""
    if v is None:
        return None
    out = _url_encode(v)
    for frm, to in _URL_ENCODE_FIXUPS:
        out = out.replace(frm, to)
    return out


# java.lang.Double.parseDouble's grammar, after String.trim
_JAVA_DOUBLE = re.compile(
    r"[+-]?(?:NaN|Infinity|(?:(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|0[xX](?:[0-9a-fA-F]+\.?|[0-9a-fA-F]*\.[0-9a-fA-F]+)[pP][+-]?[0-9]+)"
    r"[fFdD]?)")
# the literals Spark accepts where parseDouble fails, matched trimmed
# and lowercased
_SPECIAL_DOUBLES = {"inf": math.inf, "+inf": math.inf, "infinity": math.inf,
                    "+infinity": math.inf, "-inf": -math.inf,
                    "-infinity": -math.inf, "nan": math.nan}
_INT = re.compile(r"[+-]?[0-9]+")


def _java_trim(v: str) -> str:
    """String.trim: strips every char <= U+0020 from both ends."""
    i, j = 0, len(v)
    while i < j and v[i] <= " ":
        i += 1
    while j > i and v[j - 1] <= " ":
        j -= 1
    return v[i:j]


def _invalid_cast(v: str, to: str):
    raise ValueError(f"[CAST_INVALID_INPUT] The value '{v}' of the type "
                     f"\"STRING\" cannot be cast to \"{to}\"")


def cast_double(v):
    """Spark's ANSI string -> double cast: parseDouble, then the special
    literals inf/infinity/nan in any case; other input raises."""
    if v is None:
        return None
    s = _java_trim(v)
    if _JAVA_DOUBLE.fullmatch(s):
        if s[-1] in "fFdD":
            s = s[:-1]
        return float.fromhex(s) if "x" in s or "X" in s else float(s)
    special = _SPECIAL_DOUBLES.get(s.lower())
    if special is None:
        _invalid_cast(v, "DOUBLE")
    return special


def cast_int(v):
    """Spark's ANSI string -> int cast: surrounding whitespace trimmed,
    an optional sign, digits; a fraction, malformed or out-of-range
    input raises."""
    if v is None:
        return None
    s = _java_trim(v)
    if _INT.fullmatch(s) and -2**31 <= int(s) < 2**31:
        return int(s)
    _invalid_cast(v, "INT")


_SIDES = {"Top": 0.0, "Right": 0.5 * math.pi, "Bottom": math.pi,
          "Left": 1.5 * math.pi}
_TWO_PI = 2.0 * math.pi
_RADIANS_TO_DEGREES = 57.29577951308232  # java.lang.Math.toDegrees


def rotation_degrees(v) -> float:
    """Rotation: radians (or a side keyword) -> normalized [0, 2pi) ->
    degrees (ref: src/2013a/ValueConverters.ts:191-222 + Angle.ts:60-62).
    None -> 0. The normalization is Spark's pmod."""
    rad = _SIDES.get(v)
    if rad is None:
        rad = cast_double(v)
    if rad is None:
        rad = 0.0
    r = math.fmod(rad, _TWO_PI) if math.isfinite(rad) else math.nan
    if r < 0:
        r = math.fmod(r + _TWO_PI, _TWO_PI)
    return r * _RADIANS_TO_DEGREES


def text_decoration(font_decoration, font_strikethru) -> str:
    """underline / line-through / none synthesis
    (ref: src/2013a/ValueConverters.ts:270-288)."""
    under = font_decoration == "Underline"
    strike = font_strikethru == "Strikethru"
    if under and strike:
        return "underline line-through"
    if under:
        return "underline"
    return "line-through" if strike else "none"


def stroke_dasharray(line_style):
    """Solid -> absent (None); Broken -> '5,3'
    (ref: src/2013a/ValueConverters.ts:224-238)."""
    return "5,3" if line_style == "Broken" else None


def _real_shape(shape_type) -> bool:
    return shape_type is not None and shape_type.lower() != "none"


def stroke_width(line_thickness, shape_type, has_points: bool) -> float:
    """LineThickness converter (ref: src/2013a/ValueConverters.ts:351-381):
    0 if undefined; the value if ShapeType is a real shape or the element
    has edge Points; else 0."""
    if line_thickness is None:
        return 0.0
    if _real_shape(shape_type) or has_points:
        return line_thickness
    return 0.0


def fill(fill_color, shape_type, has_points: bool):
    """FillColor converter (ref: src/2013a/ValueConverters.ts:339-349)."""
    if _real_shape(shape_type) or has_points:
        return css_color(fill_color)
    return "transparent"


def rel_position_scalar(rel):
    """RelX/RelY -> position scalar with clamping into [0,1]
    (ref: src/2013a/ValueConverters.ts:405-432). NaN sorts above every
    number, as in Spark's comparisons."""
    if rel is None:
        return None
    rel01 = (rel + 1.0) / 2.0
    if rel01 < 0:
        return 0.0
    return 1.0 if rel01 > 1 or rel01 != rel01 else rel01


def rel_offset_scalar(rel):
    """RelX/RelY -> relative offset scalar (spill outside [0,1]); None
    gives 0."""
    if rel is None:
        return 0.0
    rel01 = (rel + 1.0) / 2.0
    if rel01 < 0:
        return rel01
    return rel01 - 1.0 if rel01 > 1 or rel01 != rel01 else 0.0


def orientation_scalar(position) -> float:
    """Initial edge emanation sign along an axis
    (ref: src/edge/edge.ts:74-82); None gives 0."""
    return -1.0 if position == 0.0 else 1.0 if position == 1.0 else 0.0


def union_types(*arrays):
    """unionLSV (ref: src/spinoffs/jsonld-utils.ts:85-89): the arrays
    concatenated, distinct in first-seen order, None elements dropped —
    lodash union and Spark's array_union both keep insertion order. Like
    array_union, a None array makes the result None."""
    if any(a is None for a in arrays):
        return None
    out = []
    for a in arrays:
        for v in a:
            if v is not None and v not in out:
                out.append(v)
    return out


def arr(v) -> list:
    """arrayify a scalar (None -> empty list)."""
    return [] if v is None else [v]
