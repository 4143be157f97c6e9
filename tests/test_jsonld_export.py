"""JSON-LD document export (JS1/JS2): byte-level parity with the
reference golden document for the exactly-reconstructed `one-node`
fixture (the only difference allowed is the content-hash id, which is
a function of the raw input bytes)."""

import json

from pyspark.sql import functions as F

from gpml2pvjson_js_spark.operators.export import jsonld_documents


def test_one_node_document_matches_golden_exactly(model, golden):
    docs = jsonld_documents(model)
    row = docs.filter(F.col("url").contains("/one-node/")).collect()[0]
    ours = json.loads(row["jsonld"])
    g = golden("one-node")
    ours["pathway"]["id"] = g["pathway"]["id"] = "X"
    assert ours["pathway"] == g["pathway"]
    assert ours["entitiesById"] == g["entitiesById"]


def test_documents_are_valid_json_per_page(model):
    docs = jsonld_documents(model).collect()
    assert len(docs) == 15  # one per fragment incl. empty + multi
    for r in docs:
        d = json.loads(r["jsonld"])
        assert "pathway" in d and "entitiesById" in d
        assert d["pathway"]["type"][0] == "Pathway"


def _stream() -> bytes:
    """Two concatenated GPML documents on one stream."""
    from gpml2pvjson_js_spark.corpus import gpml_data_nodes, gpml_groups

    return (gpml_data_nodes() + "\n" + gpml_groups()).encode()


def _main(monkeypatch, data: bytes, *argv) -> int:
    """The CLI's `main` with `data` on stdin."""
    import io
    import types

    from gpml2pvjson_js_spark.__main__ import main

    monkeypatch.setattr("sys.stdin",
                        types.SimpleNamespace(buffer=io.BytesIO(data)))
    return main(list(argv))


def test_cli_convert_bytes_multidoc():
    """The reference's stdin->stdout CLI surface: concatenated GPML
    docs on one stream come back as one JSON-LD document per pathway,
    in input order, byte-deterministic across runs
    (ref: bin/gpml2pvjson:61-96)."""
    from gpml2pvjson_js_spark.__main__ import convert_bytes

    stream = _stream()
    docs = convert_bytes(stream, "file://stdin")
    assert len(docs) == 2
    parsed = [json.loads(d) for d in docs]
    assert all(set(p) == {"pathway", "entitiesById"} for p in parsed)
    # doc 0 is the data-node fixture, doc 1 the groups fixture
    assert any(v.get("gpmlElementName") == "Group"
               for v in parsed[1]["entitiesById"].values())
    assert docs == convert_bytes(stream, "file://stdin")


def test_cli_id_and_pathway_version_flags():
    """Reference CLI options: `--id` overrides pathway.id on every
    document of the stream (ref: src/2013a/toPvjson.ts:219-230 via
    bin/gpml2pvjson:52), `--pathway-version` is a CLI-side post-set
    appended to the pathway object (ref: bin/gpml2pvjson:112-114),
    and with neither flag the compiler's bytes pass through untouched
    (content-hash fallback, ref: bin/gpml2pvjson:57-59,108-111)."""
    from gpml2pvjson_js_spark.__main__ import convert_bytes

    stream = _stream()
    iri = "http://identifiers.org/wikipathways/WP4"

    plain = convert_bytes(stream, "file://stdin")
    assert all(json.loads(d)["pathway"]["id"].startswith("hash://sha256/")
               for d in plain)

    flagged = convert_bytes(stream, "file://stdin",
                            pathway_id=iri, pathway_version="90358")
    assert len(flagged) == len(plain)
    for doc in flagged:
        p = json.loads(doc)["pathway"]
        assert p["id"] == iri  # one id for every doc, like the ref CLI
        assert p["pathwayVersion"] == "90358"
        # JS property-insertion order: appended at the end
        assert list(p)[-1] == "pathwayVersion"
    # everything except id/pathwayVersion is unchanged
    for a, b in zip(plain, flagged):
        da, db = json.loads(a), json.loads(b)
        db["pathway"].pop("pathwayVersion")
        db["pathway"]["id"] = da["pathway"]["id"]
        assert da == db

    # version-only: id keeps its content-hash fallback
    ver_only = convert_bytes(stream, "file://stdin",
                             pathway_version="7")
    for doc in ver_only:
        p = json.loads(doc)["pathway"]
        assert p["id"].startswith("hash://sha256/")
        assert p["pathwayVersion"] == "7"


def test_cli_bytes_are_the_pipelines_documents(spark, tmp_path_factory,
                                               monkeypatch, capsysbinary):
    """The CLI runs the pass's own function: on every catalog page of
    the benchmark and on the two-document stream, its documents are
    the rows of the `documents` snapshot `Pipeline.run` commits for
    the same page, in frag order, byte for byte (the stream's through
    `main`, as NDJSON)."""
    import datetime
    import random

    from gpml2pvjson_js_spark.__main__ import convert_bytes
    from gpml2pvjson_js_spark.corpus import PAGES_SCHEMA
    from gpml2pvjson_js_spark.plans.pipeline import Pipeline
    from tests.test_pins_offline import workloads

    stream_url = "https://cli.example/stream"
    pages = {stream_url: _stream()}
    for kind, variant in workloads.catalog():
        url = f"https://cli.example/{kind}/{variant}"
        pages[url] = workloads.page(kind, variant, url,
                                    random.Random(0))["html"]
    ts = datetime.datetime(2020, 1, 1)
    df = spark.createDataFrame(
        [(url, ts, html, "", "en") for url, html in pages.items()],
        PAGES_SCHEMA)
    out = Pipeline(spark, df, str(tmp_path_factory.mktemp("cli"))) \
        .run(resume=False)
    committed = {}
    for r in sorted(out["documents"].collect(), key=lambda r: r["frag"]):
        committed.setdefault(r["url"], []).append(r["jsonld"])
    assert len(committed[stream_url]) == 2
    for url, html in pages.items():
        assert convert_bytes(html, url) == committed.get(url, []), url

    assert _main(monkeypatch, pages[stream_url],
                 "--pathway-iri", stream_url) == 0
    assert capsysbinary.readouterr().out == "".join(
        doc + "\n" for doc in committed[stream_url]).encode()


def test_cli_prints_each_quarantine_reason_and_fails(monkeypatch, capsys):
    """A document that does not compile is quarantined as in the pass:
    the CLI writes the documents that compiled, prints each quarantine
    row's reason on stderr, and exits 1."""
    from gpml2pvjson_js_spark.corpus import gpml_data_nodes, gpml_groups

    assert _main(monkeypatch, b"<Pathway><oops") == 1
    got = capsys.readouterr()
    assert got.out == ""
    assert "xml-parse: unclosed token: line 1, column 9" in got.err
    assert "no <Pathway> documents" not in got.err

    broken = gpml_groups().replace("<DataNode", '<DataNode A="1" A="2"', 1)
    stream = (gpml_data_nodes() + "\n" + broken).encode()
    assert _main(monkeypatch, stream) == 1
    got = capsys.readouterr()
    [doc] = got.out.splitlines()
    assert not any(v.get("gpmlElementName") == "Group"
                   for v in json.loads(doc)["entitiesById"].values())
    assert "pathway 1: xml-parse: duplicate attribute" in got.err

    assert _main(monkeypatch, _stream()) == 0
    got = capsys.readouterr()
    assert len(got.out.splitlines()) == 2 and got.err == ""


def test_cli_runs_without_java(tmp_path):
    """`python -m gpml2pvjson_js_spark` starts no JVM: with JAVA_HOME
    naming a missing directory and no `java` on PATH it still prints
    both documents of the two-document stream."""
    import os
    import shutil
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.pathsep.join(
        d for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and not os.path.exists(os.path.join(d, "java")))
    env = {**os.environ, "JAVA_HOME": str(tmp_path / "no-java"),
           "PATH": path, "PYTHONPATH": repo}
    assert shutil.which("java", path=path) is None
    done = subprocess.run(
        [sys.executable, "-m", "gpml2pvjson_js_spark"], input=_stream(),
        capture_output=True, env=env, cwd=str(tmp_path), timeout=120)
    assert done.returncode == 0, done.stderr.decode()
    docs = done.stdout.decode().splitlines()
    assert len(docs) == 2
    assert all(set(json.loads(d)) == {"pathway", "entitiesById"}
               for d in docs)


# --- the compiler's JSON writer against Spark's to_json -----------------

_SPECIAL_DOUBLES = [
    1e7, 9999999.0, 1e-3, 9.99e-4, -0.0, 0.0, 5e-324, 2.2250738585072e-308,
    1.7976931348623157e308, 2.0 ** 60, 1e23, 0.1, 123.456, -42.0,
    float("nan"), float("inf"), float("-inf")]
_SPECIAL_STRINGS = [
    "", 'say "hi"', "back\\slash", "".join(map(chr, range(32))), "\x7f",
    "line sep ", "\U0001d11e clef", "café 漢字",
    "</script>", "tab\tnew\nline"]


def _random_double(rng):
    import struct
    kind = rng.randrange(4)
    if kind == 0:  # any bit pattern: subnormals, huge, tiny, NaN, inf
        return struct.unpack(">d", struct.pack(">Q", rng.getrandbits(64)))[0]
    if kind == 1:
        return rng.random() * 10.0 ** rng.randint(-12, 25)
    if kind == 2:  # coordinates and their differences
        return round(rng.uniform(-3000, 3000), rng.randint(0, 4)) \
            - round(rng.uniform(0, 900), 2)
    return rng.choice(_SPECIAL_DOUBLES)


def _random_string(rng):
    if rng.random() < 0.5:
        return rng.choice(_SPECIAL_STRINGS)
    pool = [chr(c) for c in range(0x20)] + list('"\\/ab zé ') \
        + ["\U0001f600", "漢"]
    return "".join(rng.choice(pool) for _ in range(rng.randint(0, 12)))


def _maybe(rng, make, p_null=0.2):
    return None if rng.random() < p_null else make()


def test_json_writer_is_byte_identical_to_spark_to_json(spark):
    """The kernel's JSON writer (export.py) spells doubles, strings,
    arrays with null elements and nested structs with null fields
    byte for byte as Spark's to_json (Jackson) does."""
    import random

    from gpml2pvjson_js_spark.operators.export import (
        array, double, obj, string)

    rng = random.Random(7)
    rows = []
    for i in range(4000):
        def ds(n):
            return [_maybe(rng, lambda: _random_double(rng))
                    for _ in range(n)]
        rows.append((
            i,
            _random_string(rng) if i % 7 else None,
            _SPECIAL_DOUBLES[i] if i < len(_SPECIAL_DOUBLES)
            else _maybe(rng, lambda: _random_double(rng), 0.1),
            _maybe(rng, lambda: ds(rng.randint(0, 4))),
            _maybe(rng, lambda: [_maybe(rng, lambda: _random_string(rng))
                                 for _ in range(rng.randint(0, 3))]),
            _maybe(rng, lambda: (
                _maybe(rng, lambda: _random_double(rng)),
                _maybe(rng, lambda: _random_string(rng)),
                _maybe(rng, lambda: ds(2)))),
            _maybe(rng, lambda: [(_maybe(rng, lambda: _random_double(rng)),
                                  _maybe(rng, lambda: _random_string(rng)))
                                 for _ in range(rng.randint(0, 3))]),
        ))
    df = spark.createDataFrame(rows, (
        "i int, s string, d double, ad array<double>, sa array<string>, "
        "st struct<x: double, y: string, z: array<double>>, "
        "ast array<struct<x: double, y: string>>"))
    got = dict(df.select("i", F.to_json(F.struct(
        "s", "d", "ad", "sa", "st", "ast"))).collect())

    doubles, strings = array(double), array(string)
    for i, s, d, ad, sa, st, ast in rows:
        mine = obj([
            ("s", string(s)), ("d", double(d)), ("ad", doubles(ad)),
            ("sa", strings(sa)),
            ("st", None if st is None else obj([
                ("x", double(st[0])), ("y", string(st[1])),
                ("z", doubles(st[2]))])),
            ("ast", array(lambda e: obj([("x", double(e[0])),
                                         ("y", string(e[1]))]))(ast))])
        assert mine == got[i], (i, s, d, ad, sa, st, ast)


# entitiesById entries of the one-node and groups fixtures, cut from the
# documents Spark's to_json wrote before the compiler wrote them
ONE_NODE_ENTITIES = [
    '"d6efe":{"id":"d6efe","textContent":"GeneProduct","wpType":"GeneProduct","x":50.0,"y":155.0,"width":80.0,"height":20.0,"zIndex":32768.0,"drawAs":"rect","stroke":"#000000","strokeWidth":1.0,"fill":"#ffffff","fontFamily":"Arial","fontSize":10.0,"fontWeight":"normal","fontStyle":"normal","textAlign":"center","verticalAlign":"middle","textDecoration":"none","padding":8.0,"type":["DataNode","SingleFreeNode","GeneProduct"],"kaavioType":"SingleFreeNode","gpmlElementName":"DataNode","lineHeight":1.1,"overflow":"hidden","textOverflow":"clip","whiteSpace":"pre"}',  # noqa: E501
]
GROUPS_ENTITIES = [
    '"ga001":{"id":"ga001","textContent":"CDK4","wpType":"GeneProduct","x":8.0,"y":8.0,"width":80.0,"height":20.0,"zIndex":32768.0,"drawAs":"rect","stroke":"#000000","strokeWidth":1.0,"fill":"#ffffff","fontFamily":"Arial","fontSize":10.0,"fontWeight":"normal","fontStyle":"normal","textAlign":"center","verticalAlign":"middle","textDecoration":"none","padding":8.0,"xrefDataSource":"Entrez Gene","xrefIdentifier":"1019","isPartOf":"gg001","type":["DataNode","SingleFreeNode","Entrez Gene:1019","GeneProduct"],"kaavioType":"SingleFreeNode","gpmlElementName":"DataNode","lineHeight":1.1,"overflow":"hidden","textOverflow":"clip","whiteSpace":"pre"}',  # noqa: E501
    '"ga002":{"id":"ga002","textContent":"CCND1","wpType":"GeneProduct","x":8.0,"y":38.0,"width":80.0,"height":20.0,"zIndex":32769.0,"drawAs":"rect","stroke":"#000000","strokeWidth":1.0,"fill":"#ffffff","fontFamily":"Arial","fontSize":10.0,"fontWeight":"normal","fontStyle":"normal","textAlign":"center","verticalAlign":"middle","textDecoration":"none","padding":8.0,"xrefDataSource":"Entrez Gene","xrefIdentifier":"595","isPartOf":"gg001","type":["DataNode","SingleFreeNode","Entrez Gene:595","GeneProduct"],"kaavioType":"SingleFreeNode","gpmlElementName":"DataNode","lineHeight":1.1,"overflow":"hidden","textOverflow":"clip","whiteSpace":"pre"}',  # noqa: E501
    '"ga003":{"id":"ga003","textContent":"RB1","wpType":"GeneProduct","x":560.0,"y":110.0,"width":80.0,"height":20.0,"zIndex":32770.0,"drawAs":"rect","stroke":"#000000","strokeWidth":1.0,"fill":"#ffffff","fontFamily":"Arial","fontSize":10.0,"fontWeight":"normal","fontStyle":"normal","textAlign":"center","verticalAlign":"middle","textDecoration":"none","padding":8.0,"xrefDataSource":"Entrez Gene","xrefIdentifier":"5925","type":["DataNode","SingleFreeNode","Entrez Gene:5925","GeneProduct"],"kaavioType":"SingleFreeNode","gpmlElementName":"DataNode","lineHeight":1.1,"overflow":"hidden","textOverflow":"clip","whiteSpace":"pre"}',  # noqa: E501
    '"ga004":{"id":"ga004","textContent":"E2F1","wpType":"GeneProduct","x":12.0,"y":12.0,"width":80.0,"height":20.0,"zIndex":32771.0,"drawAs":"rect","stroke":"#000000","strokeWidth":1.0,"fill":"#ffffff","fontFamily":"Arial","fontSize":10.0,"fontWeight":"normal","fontStyle":"normal","textAlign":"center","verticalAlign":"middle","textDecoration":"none","padding":8.0,"xrefDataSource":"Entrez Gene","xrefIdentifier":"1869","isPartOf":"gg002","type":["DataNode","SingleFreeNode","Entrez Gene:1869","GeneProduct"],"kaavioType":"SingleFreeNode","gpmlElementName":"DataNode","lineHeight":1.1,"overflow":"hidden","textOverflow":"clip","whiteSpace":"pre"}',  # noqa: E501
    '"ga005":{"id":"ga005","textContent":"TFDP1","wpType":"GeneProduct","x":12.0,"y":42.0,"width":80.0,"height":20.0,"zIndex":32772.0,"drawAs":"rect","stroke":"#000000","strokeWidth":1.0,"fill":"#ffffff","fontFamily":"Arial","fontSize":10.0,"fontWeight":"normal","fontStyle":"normal","textAlign":"center","verticalAlign":"middle","textDecoration":"none","padding":8.0,"xrefDataSource":"Entrez Gene","xrefIdentifier":"7027","isPartOf":"gg002","type":["DataNode","SingleFreeNode","Entrez Gene:7027","GeneProduct"],"kaavioType":"SingleFreeNode","gpmlElementName":"DataNode","lineHeight":1.1,"overflow":"hidden","textOverflow":"clip","whiteSpace":"pre"}',  # noqa: E501
    '"gg001":{"id":"gg001","x":272.0,"y":92.0,"width":96.0,"height":66.0,"zIndex":32768.0,"drawAs":"none","stroke":"#808080","strokeWidth":0.0,"strokeDasharray":"5,3","fill":"transparent","fillOpacity":0.1,"fontSize":1.0,"fontWeight":"bold","textAlign":"center","verticalAlign":"middle","padding":8.0,"contains":["ga001","ga002"],"type":["Group","GroupGroup"],"kaavioType":"Group","gpmlElementName":"Group"}',  # noqa: E501
    '"gg002":{"id":"gg002","x":268.0,"y":238.0,"width":104.0,"height":74.0,"zIndex":32771.0,"drawAs":"Octagon","stroke":"#808080","strokeWidth":1.0,"fill":"#b4b464","fillOpacity":0.1,"fontSize":1.0,"fontWeight":"bold","textAlign":"center","verticalAlign":"middle","padding":11.0,"contains":["ga004","ga005"],"type":["Group","Complex","GroupComplex"],"kaavioType":"Group","gpmlElementName":"Group"}',  # noqa: E501
    '"ge001":{"id":"ge001","strokeWidth":1.0,"zIndex":12288.0,"points":[{"isAttachedTo":"gg001","attachmentDisplay":{"position":[1.0,0.5],"offset":[0.0,0.0]},"x":360.0,"y":125.0,"orientation":[1.0,0.0]},{"isAttachedTo":"ga003","attachmentDisplay":{"position":[0.0,0.5],"offset":[0.0,0.0]},"x":560.0,"y":120.0,"orientation":[1.0,-0.0]}],"stroke":"#000000","drawAs":"StraightLine","fill":"none","type":["Interaction","Edge","SBO:0000169","Inhibition"],"kaavioType":"Edge","gpmlElementName":"Interaction","markerEnd":"TBar","isAttachedTo":["gg001","ga003"]}',  # noqa: E501
]


def test_fixture_entities_are_pinned_byte_for_byte():
    """entitiesById lists the nodes, then the edges, each in element
    order, with the bytes to_json wrote for them."""
    from gpml2pvjson_js_spark.corpus import FIXTURES
    from tests.conftest import compiled_rows

    for name, entries in (("one-node", ONE_NODE_ENTITIES),
                          ("groups", GROUPS_ENTITIES)):
        [doc] = compiled_rows(FIXTURES[name]())["documents"]
        body = doc["jsonld"].split(',"entitiesById":{', 1)[1]
        assert body == ",".join(entries) + "}}", name


def test_nan_rotation_is_quoted_and_other_nans_are_dropped():
    from gpml2pvjson_js_spark import corpus as C
    from tests.conftest import compiled_rows

    gpml = C._doc(C._pathway_open(), C._datanode("n1", "A"),
                  C._state("s1", "nobody"))
    gpml = gpml.replace('<Graphics CenterX="90.0"',
                        '<Graphics Rotation="NaN" CenterX="90.0"', 1)
    jsonld = compiled_rows(gpml)["documents"][0]["jsonld"]
    assert '"rotation":"NaN","textRotation":"NaN"' in jsonld
    entities = json.loads(jsonld)["entitiesById"]
    # an offset against a missing parent is [null, null], not NaN
    assert entities["s1"]["attachmentDisplay"]["offset"] == [None, None]
