"""The value converters (functions/converters.py) against a table of
inputs and outputs. Every expected value was computed once by the
Catalyst expressions these converters replaced, under Spark 4.1.2 with
ANSI mode on, and is written in as a literal, except where Spark
raised: where a cast raised, the casts now give `try_cast`'s null
(NULL), and where the decode of a lone surrogate raised,
`html_unescape` gives U+FFFD."""

import math

import pytest

from gpml2pvjson_js_spark.functions import converters as C

NAN = float("nan")
NULL = object()


def _check(fn, args, want):
    if want is NULL:
        assert fn(*args) is None
        return
    got = fn(*args)
    if isinstance(want, float) and math.isnan(want):
        assert isinstance(got, float) and math.isnan(got)
    else:
        assert got == want and type(got) is type(want)
        if isinstance(want, float):
            assert math.copysign(1.0, got) == math.copysign(1.0, want)


@pytest.mark.parametrize("value, want", [
    ("ff0000", "#ff0000"), ("FF00aa", "#ff00aa"),   # hex6
    ("F0A", "#ff00aa"), ("f0a", "#ff00aa"),         # hex3
    ("Red", "#ff0000"), ("lightGoldenRodYellow", "#fafad2"),  # named
    ("Transparent", "transparent"), ("NONE", "none"),
    ("notacolor", None), ("#ff0000", None), ("abcd", None), ("", None),
    ("ÄÄÄ", None), (None, None),
    # java.util.regex's `$` also matches before one final terminator
    ("ff0000\n", "#ff0000\n"), ("ff0000\r", "#ff0000\r"),
    ("F0A\u2028", "#ff00aa"), ("ff0000\n\n", None),
])
def test_css_color(value, want):
    _check(C.css_color, (value,), want)


@pytest.mark.parametrize("value, want", [
    ("&amp;#38;", "&#38;"),            # non-recursive
    ("&#38;#38;", "&#38;"),
    ("&&#35;38;", "&#38;"),
    ("&#x0041;&amp;#x41;", "A&#x41;"),
    ("&#x1F600;", "\U0001F600"),       # astral
    ("&#1114111;", "\U0010FFFF"), ("&#x10FFFF;", "\U0010FFFF"),
    ("&#1114112;", "&#1114112;"),      # out of range
    ("&#12345678;", "&#12345678;"),
    ("&#12", "&#12"), ("&#x;", "&#x;"), ("&#;", "&#;"), ("a&#", "a&#"),
    ("&#65;&#x42;&#X43;", "ABC"), ("&#00065;", "A"),
    ("&lt;b&gt; &amp; &quot;q&quot; &apos;a&apos; &nbsp;x",
     "<b> & \"q\" 'a'  x"),
    ("&amp;lt;", "&lt;"),
    ("plain", "plain"), ("", ""), (None, None),
    # a lone surrogate is malformed UTF-16: U+FFFD, as he.decode gives
    ("&#xD800;", "\uFFFD"), ("&#55357;", "\uFFFD"),
])
def test_html_unescape(value, want):
    _check(C.html_unescape, (value,), want)


ENCODE_URI = [
    ("http://example.org/more info", "http://example.org/more%20info"),
    ("http://example.org/ünïcødé päth/?q=a b&x=1+2#frag",
     "http://example.org/%C3%BCn%C3%AFc%C3%B8d%C3%A9%20p%C3%A4th/"
     "?q=a%20b&x=1+2#frag"),
    ("https://a.b/~user/file(1).txt;v=2,3$@!'*",
     "https://a.b/~user/file(1).txt;v=2,3$@!'*"),
    ('100% "sure" <tag> [x] {y} |z| \\w^`',
     "100%25%20%22sure%22%20%3Ctag%3E%20%5Bx%5D%20%7By%7D%20%7Cz%7C"
     "%20%5Cw%5E%60"),
    ("emoji \U0001F600 and 中文",
     "emoji%20%F0%9F%98%80%20and%20%E4%B8%AD%E6%96%87"),
    ("%20+%2B", "%2520+%252B"), ("a\tb\nc", "a%09b%0Ac"),
    ("", ""), (None, None),
]


def test_encode_uri_matches_js_semantics():
    """encode_uri == JS encodeURI (ref src/2013a/ValueConverters.ts:
    308-311): keep A-Za-z0-9;,/?:@&=+$-_.!~*'()# and uppercase-UTF-8
    percent-encode the rest."""
    for value, want in ENCODE_URI:
        _check(C.encode_uri, (value,), want)


@pytest.mark.parametrize("value, want", [
    ("Top", 0.0), ("Right", 90.0), ("Bottom", 180.0), ("Left", 270.0),
    (None, 0.0), ("0", 0.0), ("-0.0", -0.0),
    ("-1.5", 274.0563307303765), ("7", 41.07045659157626),
    ("1e1", 212.95779513082323), (" 2 ", 114.59155902616465),
    ("\t3\n", 171.88733853924697), ("1.5d", 85.94366926962348),
    ("1.5f", 85.94366926962348), ("0x1p3", 98.36623610465858),
    ("6.283185307179586", 0.0), ("-6.283185307179586", -0.0),
    ("NaN", NAN), ("nan", NAN), ("Infinity", NAN), ("-inf", NAN),
    ("INF", NAN), ("1e400", NAN),
    # try_cast gives null for anything else
    ("top", NULL), ("+nan", NULL), ("abc", NULL), ("", NULL),
    ("1,5", NULL), ("0x1p99999", NAN),
])
def test_rotation_degrees(value, want):
    _check(C.rotation_degrees, (value,), want)


@pytest.mark.parametrize("value, want", [
    ("2005", 2005), (" 2001 ", 2001), ("\t12\n", 12), ("+1998", 1998),
    ("-7", -7), ("007", 7), ("2147483647", 2147483647),
    ("-2147483648", -2147483648), (None, None),
    ("2147483648", NULL), ("2001.0", NULL), ("2001.", NULL),
    ("1e3", NULL), ("0x10", NULL), ("٢٠٠١", NULL), ("abc", NULL),
    ("", NULL), ("00000000002001", 2001),
    pytest.param("1" * 5000, NULL, id="5000-digits"),
])
def test_cast_int(value, want):
    _check(C.cast_int, (value,), want)


@pytest.mark.parametrize("decoration, strikethru, want", [
    ("Underline", "Strikethru", "underline line-through"),
    ("Underline", None, "underline"), ("Underline", "Normal", "underline"),
    (None, "Strikethru", "line-through"), ("Normal", "Normal", "none"),
    (None, None, "none"), ("underline", "strikethru", "none"),
])
def test_text_decoration(decoration, strikethru, want):
    _check(C.text_decoration, (decoration, strikethru), want)


@pytest.mark.parametrize("rel, position, offset", [
    (-3.0, 0.0, -1.0), (-1.0, 0.0, 0.0), (-0.5, 0.25, 0.0),
    (0.0, 0.5, 0.0), (0.5, 0.75, 0.0), (1.0, 1.0, 0.0), (2.0, 1.0, 0.5),
    (5.0, 1.0, 2.0), (math.inf, 1.0, math.inf),
    (-math.inf, 0.0, -math.inf), (None, None, 0.0),
])
def test_rel_position_and_offset_clamping(rel, position, offset):
    _check(C.rel_position_scalar, (rel,), position)
    _check(C.rel_offset_scalar, (rel,), offset)


@pytest.mark.parametrize("thickness, shape, has_points, width, fill", [
    (2.0, "Rectangle", False, 2.0, "#ff0000"),
    (2.0, "None", False, 0.0, "transparent"),
    (0.5, "NONE", False, 0.0, "transparent"),
    (2.0, "none", True, 2.0, "#ff0000"),
    (2.0, None, False, 0.0, "transparent"),
    (None, "Rectangle", True, 0.0, "#ff0000"),
])
def test_stroke_width_and_fill(thickness, shape, has_points, width, fill):
    _check(C.stroke_width, (thickness, shape, has_points), width)
    _check(C.fill, ("Red", shape, has_points), fill)


def test_union_types_keeps_first_seen_order_and_drops_nulls():
    assert C.union_types(["b", None, "a"], ["a", "c"], [None, "b", "d"]) \
        == ["b", "a", "c", "d"]
    assert C.union_types(None, ["a"]) is None
