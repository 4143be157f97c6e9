"""Property-based tests (hypothesis) for the pure kernels the Spark
stages are built from.

Rationale: at the 10^12-page design point the parse stage sees
adversarial bytes (truncated XML, wrong encodings, hostile attribute
values); the pipeline invariant is QUARANTINE, NEVER THROW — a single
uncaught exception in the Arrow UDF kills an executor task and, after
retries, the job. The reference pins this with hand-picked fixtures
(test/inputs, SURVEY.md §5); here hypothesis searches the input space.
These run the pure Python functions directly — the same code the
Arrow passes execute per batch — so they are fast and shrinkable.

The sameAs-components property packs many random graphs into one
`alias_components` call (node ids namespaced per graph, so components
never cross graphs) and compares against the brute-force union-find
oracle of conftest.py.
"""

from __future__ import annotations

from xml.sax.saxutils import quoteattr

import pytest
from pyspark.sql import functions as F

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover - baked into the env
    pytest.skip("hypothesis not available", allow_module_level=True)

from gpml2pvjson_js_spark.operators.parse import (
    _parse_fragment,
    _parse_int_js,
    extract_fragments,
    extract_page_text,
)
from tests.conftest import _uf_components

# pure-python kernels: plenty of examples, they run in microseconds
# derandomize: fixed per-test seed so CI/driver runs are
# reproducible — a fresh random search belongs in a dev loop
# (HYPOTHESIS_PROFILE), not a release gate
_FAST = settings(max_examples=200, deadline=None, derandomize=True,
                 suppress_health_check=[HealthCheck.too_slow])


@_FAST
@given(st.binary(max_size=4096))
def test_extract_fragments_total_and_deterministic(data):
    """Any byte string: returns a list of str, never raises, and is a
    pure function of the bytes (parse.py:extract_fragments is called
    per page inside the Arrow batch UDF)."""
    out = extract_fragments(data)
    assert isinstance(out, list)
    assert all(isinstance(f, str) for f in out)
    assert out == extract_fragments(data)


@_FAST
@given(st.binary(max_size=4096))
def test_extract_page_text_total_and_deterministic(data):
    """Any byte string: extracted text is a str and byte-identical
    across calls — the per-url invariant (BASELINE.json input_hint)
    reduced to its pure kernel."""
    out = extract_page_text(data)
    assert isinstance(out, str)
    assert out == extract_page_text(data)


@_FAST
@given(st.text(max_size=2048))
def test_parse_fragment_quarantines_never_throws(fragment):
    """Arbitrary text as a GPML fragment: rows come back (possibly a
    single `_error` quarantine row), never an exception, and every row
    carries the page provenance + content-hash id (S6)."""
    rows = _parse_fragment("http://fuzz.example/p", 0, fragment)
    assert isinstance(rows, list) and rows
    for r in rows:
        assert r["url"] == "http://fuzz.example/p"
        assert r["frag"] == 0
        assert r["pathway_id"].startswith("hash://sha256/")
    assert rows == _parse_fragment("http://fuzz.example/p", 0, fragment)


_GPML_NS = "http://pathvisio.org/GPML/2013a"

# XML 1.0 Char production: #x9|#xA|#xD|[#x20-#xD7FF]|[#xE000-#xFFFD]|
# [#x10000-#x10FFFF] — C0 controls are ILLEGAL even as character
# references, so a generator that emits them is producing non-well-
# formed documents, not hostile values (those correctly quarantine,
# covered by test_parse_fragment_quarantines_never_throws).
_XML_TEXT = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20,
                      blacklist_categories=("Cs",),
                      blacklist_characters="￾￿"),
        st.sampled_from("\t\n\r"),
    ),
    max_size=48,
)


@_FAST
@given(name=_XML_TEXT, organism=_XML_TEXT,
       labels=st.lists(_XML_TEXT, max_size=5))
def test_parse_fragment_wellformed_hostile_values(name, organism, labels):
    """Well-formed GPML whose attribute values and text content are
    arbitrary (XML-escaped) strings: parses to a Pathway row plus one
    row per DataNode, no quarantine, no exception — hostile VALUES
    must flow through as data, only hostile STRUCTURE quarantines."""
    nodes = "".join(
        f'<DataNode TextLabel={quoteattr(lbl)} GraphId="n{i}">'
        f'<Graphics CenterX="1.0" CenterY="2.0" Width="10.0" '
        f'Height="10.0"/><Xref Database="" ID=""/></DataNode>'
        for i, lbl in enumerate(labels)
    )
    frag = (
        f'<Pathway xmlns="{_GPML_NS}" Name={quoteattr(name)} '
        f'Organism={quoteattr(organism)} BoardWidth="100.0" '
        f'BoardHeight="100.0">{nodes}</Pathway>'
    )
    rows = _parse_fragment("http://fuzz.example/p", 0, frag)
    names = [r["gpml_element_name"] for r in rows]
    assert "_error" not in names
    assert names.count("Pathway") == 1
    assert names.count("DataNode") == len(labels)
    # the escaped value round-trips exactly ('' is treated as missing,
    # VALUES_TO_SKIP — ref: src/Processor.ts:60,483-485)
    pw = next(r for r in rows if r["gpml_element_name"] == "Pathway")
    assert pw["name"] == (name if name != "" else None)


_HEX = st.text(alphabet="0123456789abcdefABCDEF", min_size=1, max_size=12)


@_FAST
@given(digits=_HEX, sign=st.sampled_from(["", "+", "-"]),
       prefix=st.sampled_from(["", "0x", "0X"]),
       garbage=st.sampled_from(["", "zzz", " tail", "#x"]))
def test_parse_int_js_matches_js_parseint(digits, sign, prefix, garbage):
    """JS parseInt(s, 16) semantics (ref: GraphIdManager counter
    recovery): optional sign, optional 0x, longest hex prefix wins,
    trailing garbage ignored."""
    v = _parse_int_js(sign + prefix + digits + garbage)
    expected = int(digits, 16) * (-1 if sign == "-" else 1)
    assert v == expected


@_FAST
@given(st.text(max_size=32).filter(
    lambda s: not __import__("re").match(
        r"\s*[+-]?(0[xX])?[0-9a-fA-F]", s or "")))
def test_parse_int_js_nan_on_nonhex(s):
    assert _parse_int_js(s) is None


# ---------------------------------------------------------------------------
# alias_components vs union-find oracle on random graphs
# ---------------------------------------------------------------------------

_NODE_STYLES = (
    "http://z{g}.example.org/e{n}",          # canonical-IRI shape
    "http://pages.example/p{g}#0#id{n}",     # mention-key shape
    "urn:x{g}:{n}",                          # plain id
)


@st.composite
def _graph(draw):
    n = draw(st.integers(min_value=2, max_value=9))
    style_of = [draw(st.sampled_from(range(len(_NODE_STYLES))))
                for _ in range(n)]
    m = draw(st.integers(min_value=1, max_value=14))
    edges = []
    for _ in range(m):
        a = draw(st.integers(min_value=0, max_value=n - 1))
        b = draw(st.integers(min_value=0, max_value=n - 1))
        if a != b:
            edges.append((a, b, style_of))
    return edges


@settings(max_examples=200, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.data_too_large])
@given(graphs=st.lists(_graph(), min_size=1, max_size=12))
def test_alias_components_matches_union_find(graphs):
    """Random graphs (chains, stars, cycles, multi-edges, every node
    naming style) packed into one pair list with per-graph node
    namespaces: `alias_components` must equal a brute-force union-find
    with the same representative order, for every node of every
    graph."""
    from gpml2pvjson_js_spark.operators.canonicalize import (
        alias_components)

    all_edges: list[tuple[str, str]] = []
    for g, edges in enumerate(graphs):
        for a, b, style_of in edges:
            na = _NODE_STYLES[style_of[a]].format(g=g, n=a)
            nb = _NODE_STYLES[style_of[b]].format(g=g, n=b)
            all_edges.append((na, nb))
    assert alias_components(all_edges) == _uf_components(all_edges)


# ---------------------------------------------------------------------------
# scrub operators vs pure-Python oracles on random ASCII corpora
# ---------------------------------------------------------------------------
# Alphabet is printable ASCII on purpose: the oracles below use
# Python `re`, and \d / \s / \b diverge from Java regex on unicode
# (Python matches unicode digits/spaces by default, Java does not);
# on ASCII the two engines agree exactly, which is the property under
# test. Unicode behavior is pinned separately by the DuckDB oracles
# over the real corpus.

_SCRUB_ALPHABET = " abcdefghij0123456789.@+-"

_scrub_text = st.text(alphabet=st.sampled_from(list(_SCRUB_ALPHABET)),
                      max_size=60)


def _py_redact(text: str):
    import re
    from gpml2pvjson_js_spark.operators.scrub import (
        EMAIL_RE, EMAIL_TAG, IP_TAG, IPV4_RE, PHONE_RE, PHONE_TAG)
    counts = tuple(len(re.findall(p, text, re.ASCII))
                   for p in (EMAIL_RE, IPV4_RE, PHONE_RE))
    out = re.sub(EMAIL_RE, EMAIL_TAG, text, flags=re.ASCII)
    out = re.sub(IPV4_RE, IP_TAG, out, flags=re.ASCII)
    out = re.sub(PHONE_RE, PHONE_TAG, out, flags=re.ASCII)
    return counts, out


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(texts=st.lists(_scrub_text, min_size=1, max_size=40))
def test_redact_pii_matches_re_and_is_idempotent(spark, texts):
    """One Spark call over a batch of random ASCII strings: counts
    and redacted text must equal Python `re` with the same patterns,
    and re-redacting the redacted text must be a no-op (no tag ever
    creates a new match)."""
    from gpml2pvjson_js_spark.operators.scrub import redact_pii
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    once = redact_pii(df)
    twice = (redact_pii(once.select("doc_id",
                                    F.col("redacted").alias("text")))
             .select("doc_id", F.col("redacted").alias("re_redacted")))
    rows = {r["doc_id"]: r for r in
            once.join(twice, "doc_id").collect()}
    for i, text in enumerate(texts):
        (ne, ni, np_), red = _py_redact(text)
        r = rows[i]
        assert (r["n_emails"], r["n_ips"], r["n_phones"]) == (ne, ni, np_)
        assert r["redacted"] == red
        assert r["re_redacted"] == r["redacted"]


def _py_tokens(text: str):
    import re
    return re.split(r"\s+", text.lower().strip())


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(texts=st.lists(_scrub_text, min_size=1, max_size=40))
def test_repetition_score_matches_python_and_bounded(spark, texts):
    """Duplicate-token/2-gram fractions equal a direct Python
    computation with the shared tokenization, and are always in
    [0, 1] with n_tokens >= 1 (empty text tokenizes to [''])."""
    from gpml2pvjson_js_spark.operators.scrub import repetition_score
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    rows = {r["doc_id"]: r for r in repetition_score(df).collect()}
    for i, text in enumerate(texts):
        toks = _py_tokens(text)
        g2 = [f"{toks[j]} {toks[j+1]}" for j in range(len(toks) - 1)]
        r = rows[i]
        assert r["n_tokens"] == len(toks) >= 1
        exp_tok = (len(toks) - len(set(toks))) / len(toks)
        exp_g2 = ((len(g2) - len(set(g2))) / len(g2)) if g2 else 0.0
        assert r["dup_token_frac"] == pytest.approx(exp_tok)
        assert r["dup_2gram_frac"] == pytest.approx(exp_g2)
        assert 0.0 <= r["dup_token_frac"] <= 1.0
        assert 0.0 <= r["dup_2gram_frac"] <= 1.0


def _py_grams(text: str, n: int) -> set:
    toks = _py_tokens(text)
    return {" ".join(toks[i:i + n])
            for i in range(len(toks) - n + 1)} if len(toks) >= n else set()


@settings(max_examples=5, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.data_too_large])
@given(train=st.lists(_scrub_text, min_size=1, max_size=25),
       ev=st.lists(_scrub_text, min_size=1, max_size=8),
       n=st.integers(min_value=1, max_value=4))
def test_contamination_report_matches_python_oracle(spark, train, ev, n):
    """contamination_report (the hashed scale path) over random
    corpora equals a direct Python distinct-n-gram intersection for
    every train doc, zeros included."""
    from gpml2pvjson_js_spark.operators.scrub import contamination_report
    tdf = spark.createDataFrame(list(enumerate(train)),
                                "doc_id long, text string")
    edf = spark.createDataFrame(list(enumerate(ev)),
                                "doc_id long, text string")
    ev_grams = set().union(*(_py_grams(t, n) for t in ev))
    rows = {r["doc_id"]: r for r in
            contamination_report(tdf, edf, n=n).collect()}
    assert len(rows) == len(train)
    for i, text in enumerate(train):
        exp = len(_py_grams(text, n) & ev_grams)
        assert rows[i]["n_overlap"] == exp
        assert rows[i]["contaminated"] == (exp > 0)
