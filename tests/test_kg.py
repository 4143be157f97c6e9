"""Interaction classification, triple materialization (P/R vs curated
expected triples), linking, canonicalization, topo levels."""

import pytest
from pyspark.sql import functions as F

from gpml2pvjson_js_spark import corpus as C
from gpml2pvjson_js_spark.operators.canonicalize import (
    alias_components, canonical_triples, canonicalize_document)
from gpml2pvjson_js_spark.operators.interactions import classify
from gpml2pvjson_js_spark.operators.linking import (
    XREF_ROWS, canonical_iri, label_tokens, link_document, link_entities,
    link_index)
from gpml2pvjson_js_spark.plans.topo import dependency_edges, topo_levels
from tests.conftest import _uf_components, compiled_rows


def _classified(gpml: str, strict_reference: bool = True) -> dict:
    rows = compiled_rows(gpml)
    return {r["id"]: r for r in classify(
        rows["nodes"], rows["edges"], strict_reference=strict_reference)}


def test_classification_roles_strict():
    """Default strict_reference=True reproduces the reference's marker
    key-casing behavior (ArrowHeadMappings keys 'mim-*' never match
    converted 'Mim*' markers, Interaction.ts:167)."""
    i = _classified(C.gpml_interactions())
    # Arrow between two physical entities -> Conversion: the
    # re-disambiguation synthesizes 'MIMConversion' which DOES match
    assert i["ie001"]["biopax_type"] == "Conversion"
    assert i["ie001"]["left"] == "ia001" and i["ie001"]["right"] == "ia002"
    assert i["ie001"]["conversion_direction"] == "LEFT-TO-RIGHT"
    # direct mim-* markers are never classified by the reference
    assert "ie002" not in i
    assert "ie003" not in i
    # TBar inhibition ('TBar' key matches in both modes)
    assert i["ie004"]["biopax_type"] == "Control"
    assert i["ie004"]["control_type"] == "INHIBITION"
    assert i["ie004"]["controller"] == "ia007"
    assert i["ie004"]["controlled"] == "ia006"
    # unconnected edge is not classified
    assert "ie005" not in i


def test_classification_roles_intent():
    """strict_reference=False fulfils the classification table's
    intent: every mim-* marker classifies."""
    i = _classified(C.gpml_interactions(), strict_reference=False)
    # mim-conversion
    assert i["ie002"]["biopax_type"] == "Conversion"
    # catalysis via anchor: controller HK1, controlled the conversion edge
    assert i["ie003"]["biopax_type"] == "Catalysis"
    assert i["ie003"]["controller"] == "ia005"
    assert i["ie003"]["controlled"] == "ie002"


def test_classification_hyperedge_depth():
    i = _classified(C.gpml_hyperedge(), strict_reference=False)
    assert i["he002"]["controlled"] == "he001"
    assert i["he003"]["controlled"] == "he002"
    assert i["he003"]["control_type"] == "INHIBITION"


def _node(idx, nid, types, kaavio="SingleFreeNode", contains=None):
    return {"url": "u", "frag": 0, "pathway_id": "p", "elem_idx": idx,
            "id": nid, "types": types, "kaavio_type": kaavio,
            "contains": contains}


def _line(idx, eid, source, target, marker_end=None):
    return {"url": "u", "frag": 0, "pathway_id": "p", "elem_idx": idx,
            "id": eid, "types": ["Interaction", "Edge"],
            "gpml_element_name": "Interaction", "marker_start": None,
            "marker_end": marker_end, "endpoint_first_ref": source,
            "endpoint_last_ref": target}


def test_catalysis_fix_ups_and_group_typing():
    nodes = [_node(0, "p1", ["Protein"]), _node(1, "p2", ["Protein"]),
             _node(2, "lab", ["Label"]),
             _node(3, "g1", ["Group"], "Group", contains=["e1", "p1"]),
             _node(4, "g2", ["Group"], "Group", contains=["p2"])]
    edges = [_line(5, "e1", "p1", "p2"),
             # a protein catalyses the plain line: it becomes a Conversion
             _line(6, "c1", "p1", "e1", "MimCatalysis"),
             # a Label is no BioPAX node: the Catalysis is demoted
             _line(7, "c2", "lab", "p2", "MimCatalysis")]
    i = {r["id"]: r for r in classify(nodes, edges, strict_reference=False)}
    assert (i["e1"]["biopax_type"], i["e1"]["left"], i["e1"]["right"],
            i["e1"]["participants"], i["e1"]["conversion_direction"]) == (
        "Conversion", "p1", "p2", None, "LEFT-TO-RIGHT")
    assert (i["c1"]["biopax_type"], i["c1"]["controller"],
            i["c1"]["controlled"]) == ("Catalysis", "p1", "e1")
    assert (i["c2"]["biopax_type"], i["c2"]["controller"],
            i["c2"]["controlled"], i["c2"]["participants"]) == (
        "Interaction", None, None, ["p2", "lab"])
    # a Group containing an edge is a Pathway, else a Complex
    assert i["g1"]["biopax_type"] == "Pathway"
    assert i["g2"]["biopax_type"] == "Complex"
    # the default strict mode never reaches the mim-* markers
    strict = {r["id"] for r in classify(nodes, edges)}
    assert strict == {"e1", "g1", "g2"}


def test_repeated_graph_id_resolves_to_the_last_element():
    nodes = [_node(0, "x", ["Protein"]), _node(1, "p2", ["Protein"]),
             _node(2, "x", ["Label"])]
    edges = [_line(3, "dup", "p2", "x", "TBar"),
             _line(4, "dup", "x", "p2", "MimCatalysis")]
    i = classify(nodes, edges, strict_reference=False)
    # one row per id, the last edge's; its controller `x` is the Label
    assert [(r["id"], r["biopax_type"], r["participants"]) for r in i] \
        == [("dup", "Interaction", ["p2", "x"])]


def test_interactions_stage_is_the_classifier_per_document(interactions):
    """The staged interactions frame holds, per document, the rows of
    the Python classifier."""
    from gpml2pvjson_js_spark.operators.frames import INTERACTIONS
    staged = sorted(
        tuple(r.asDict()[f] for f in INTERACTIONS.names[3:])
        for r in interactions.filter(
            F.col("url").contains("/interactions/")).collect())
    pure = sorted(tuple(r[f] for f in INTERACTIONS.names[3:])
                  for r in _classified(C.gpml_interactions()).values())
    assert staged == pure and pure


# Curated expected triples for the `interactions` fixture, derived by
# applying the reference semantics by hand (FIXTURES.md §3.3).
EXPECTED_INTERACTION_TRIPLES = {
    ("ie001", "wp:source", "ia001"), ("ie001", "wp:target", "ia002"),
    ("ie002", "wp:source", "ia003"), ("ie002", "wp:target", "ia004"),
    ("ie003", "wp:source", "ia005"), ("ie003", "wp:target", "ie002"),
    ("ie004", "wp:source", "ia007"), ("ie004", "wp:target", "ia006"),
    ("ie001", "rdf:type", "Conversion"),
    ("ie001", "bp:left", "ia001"), ("ie001", "bp:right", "ia002"),
    # ie002 (mim-conversion) / ie003 (mim-catalysis) carry direct
    # mim-* markers: the reference never classifies those (strict
    # mode), so no bp:/Conversion/Catalysis triples for them
    ("ie004", "bp:controller", "ia007"),
    ("ie004", "bp:controlled", "ia006"),
    ("ie004", "bp:controlType", "INHIBITION"),
    ("ia001", "wp:xref", "Entrez Gene:1950"),
    ("ia003", "wp:xref", "CAS:50-99-7"),
    ("ia001", "rdfs:label", "EGF"),
    ("ia001", "rdf:type", "Protein"),
    ("ia003", "rdf:type", "Metabolite"),
    ("ianch1", "wp:attachedTo", "ie002"),
}


def test_triple_precision_recall(triples):
    got = {(r["subj"], r["pred"], r["obj"])
           for r in triples.filter(
               F.col("url").contains("/interactions/")).collect()}
    expected = EXPECTED_INTERACTION_TRIPLES
    tp = len(got & expected)
    recall = tp / len(expected)
    assert recall >= 0.95, sorted(expected - got)
    # precision over the predicates we curated
    preds = {p for _, p, _ in expected}
    got_curated = {t for t in got if t[1] in preds
                   and t[1] != "rdf:type" and t[1] != "rdfs:label"
                   and t[1] != "wp:xref" and t[1] != "wp:attachedTo"}
    exp_roles = {t for t in expected if t[1].startswith(("bp:", "wp:source",
                                                         "wp:target"))}
    extra = got_curated - exp_roles
    precision = 1 - len(extra) / max(len(got_curated), 1)
    assert precision >= 0.95, sorted(extra)


def test_linking_exact_and_similarity(model):
    linked = link_entities(model)
    by_id = {(r["url"].split("/")[-2], r["id"]): r.asDict()
             for r in linked.collect()}
    akt = by_id[("states", "sa001")]
    assert akt["link_method"] == "exact"
    assert akt["canonical_iri"] == "https://identifiers.org/ncbigene/207"
    # no duplicate link rows
    assert linked.groupBy("url", "frag", "id").count() \
        .filter("count > 1").count() == 0


def test_similarity_link_blocked_join(model):
    linked = link_entities(model)
    # label-only DataNode "Glucose"-like: the data-nodes fixture has
    # xrefs; the shapes-labels Label "a label" must stay unlinked
    lab = linked.filter(F.col("url").contains("/shapes-labels/")
                        & (F.col("id") == "lb001")).collect()
    assert lab and lab[0]["link_method"] is None


# Label normalization, as Spark's `array_distinct(split(regexp_replace(
# lower(trim(label)), '[^a-z0-9 ]', ''), '\\s+'))` gave it: `trim`
# strips only U+0020.
@pytest.mark.parametrize("label, tokens", [
    ("TP53", ["tp53"]),
    (" TP53 ", ["tp53"]),
    ("\n TP53", ["", "tp53"]),
    ("\tTP53", ["tp53"]),
    ("TP53\t", ["tp53"]),
    ("\u00a0TP53", ["tp53"]),
    ("TP\u00a0 53", ["tp", "53"]),
    ("a  b", ["a", "b"]),
    ("Tp53 TP53", ["tp53"]),
    ("x\r\ny", ["xy"]),
    ("Glucose-6-phosphate", ["glucose6phosphate"]),
    ("!!!", [""]),
    ("--", [""]),
    ("", [""]),
    (" ", [""]),
    ("\u0130", ["i"]),
    ("\u0130stanbul", ["istanbul"]),
    ("\u00df", [""]),
    ("stra\u00dfe", ["strae"]),
    ("\u039f\u0394\u039f\u03a3", [""]),
    ("\u212a", ["k"]),
])
def test_label_tokens_follow_spark_normalization(label, tokens):
    assert label_tokens(label) == tokens


def _mention(mid, text=None, xref=(None, None)):
    return {"url": "u", "frag": 0, "id": mid, "xref_datasource": xref[0],
            "xref_identifier": xref[1], "text_content": text}


def test_similarity_tie_goes_to_the_smallest_iri():
    """Equal scores go to the smallest IRI as a string (ncbigene/10
    before ncbigene/2); below SIM_THRESHOLD or with an empty block the
    mention stays unlinked; a repeated id links once, to the best
    candidate of all its labels, at its last row."""
    index = link_index([("Entrez Gene", "2", "foo bar", None),
                        ("Entrez Gene", "10", "foo baz", None),
                        ("Entrez Gene", "3", "qux", None)])
    got = link_document([
        _mention("m1", "Foo"), _mention("m2", "foo bar baz qux"),
        _mention("m3", "qux qux"), _mention("m4", "zzz"),
        _mention("m5", "foo a b c d"), _mention("m6", "qux zzz"),
        _mention("m6", "zzz"), _mention("m7", xref=("CAS", "1")),
    ], index)
    iri = "https://identifiers.org/ncbigene/"
    assert [(r["id"], r["canonical_iri"], r["link_method"],
             r["link_score"]) for r in got] == [
        ("m1", iri + "10", "similarity", 0.5),
        ("m2", iri + "10", "similarity", 0.5),
        ("m3", iri + "3", "similarity", 1.0),
        ("m4", None, None, None),
        ("m5", None, None, None),
        ("m6", iri + "3", "similarity", 0.5),
        ("m7", None, None, None)]


def test_alias_components_merges_alias():
    comp = alias_components([("a", "b"), ("b", "c"), ("x", "y")])
    assert comp == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_alias_components_chain_of_200_has_one_representative():
    """A 200-node chain, its pairs in reverse order, is one component
    whatever its diameter: nothing caps the number of hops."""
    ids = [f"n{i:03d}" for i in range(200)]
    comp = alias_components([(ids[i + 1], ids[i])
                             for i in reversed(range(199))])
    assert comp == dict.fromkeys(ids, "n000")


def test_component_rep_prefers_iri_over_hot_domain_mention():
    """A mention key on a domain that sorts BEFORE identifiers.org
    (e.g. a.example) must still lose to the canonical IRI: mention
    keys (url#frag#id) start with https too, so the representative
    choice cannot be a bare lexicographic min."""
    mention = "https://a.example/page#0#m1"
    iri = "https://identifiers.org/ncbigene/207"
    assert alias_components([(mention, iri)]) == {mention: iri, iri: iri}


def test_alias_components_isolated_pair_and_cycle_mix():
    """An isolated pair, a square with pendant leaves, and a pendant
    leaf that is the component's min and so its representative."""
    comp = alias_components([
        ("p1", "p2"),                    # isolated pair
        ("q2", "q3"), ("q3", "q4"), ("q4", "q5"), ("q5", "q2"),
        ("q2", "q1"),                    # pendant leaf, is the min
        ("q5", "q9"),                    # pendant leaf, not the min
    ])
    assert comp["p1"] == comp["p2"] == "p1"
    assert all(comp[f"q{i}"] == "q1" for i in (1, 2, 3, 4, 5, 9))
    assert len(comp) == 8


def _rewritten(rows, cmap) -> list[tuple]:
    """The triples of `rows`, subj and obj mapped through `cmap`."""
    return sorted((t["url"], t["frag"], t["pathway_id"],
                   cmap.get((t["url"], t["frag"], t["subj"]), t["subj"]),
                   t["pred"],
                   cmap.get((t["url"], t["frag"], t["obj"]), t["obj"]))
                  for t in rows)


def test_canonicalize_linked_matches_generic(model, triples):
    """The canonical triples equal the triples rewritten through the
    components of the FULL sameAs graph, found by brute force: the
    dictionary's alias pairs plus one edge from each linked mention to
    its IRI (the invariant that keeps mentions out of the component
    search)."""
    linked = [r for r in link_entities(model).collect()
              if r["canonical_iri"] is not None]
    aliases = [(canonical_iri(ds, ident),
                canonical_iri("Entrez Gene", alias_of))
               for ds, ident, _, alias_of in XREF_ROWS if alias_of]
    comp = _uf_components(aliases + [
        (f"{r['url']}#{r['frag']}#{r['id']}", r["canonical_iri"])
        for r in linked])
    keys = [(r["url"], r["frag"], r["id"]) for r in linked]
    assert len(set(keys)) == len(keys)  # one linked row per mention
    cmap = {k: comp["#".join(map(str, k))] for k in keys}
    got = sorted(map(tuple, canonical_triples(model).collect()))
    assert got == _rewritten(triples.collect(), cmap)
    # the alias merge is exercised: the Uniprot AKT1 mention takes the
    # Entrez IRI
    akt = ("/data-nodes/", "dn003")
    assert [v for k, v in cmap.items() if akt[0] in k[0]
            and k[2] == akt[1]] == ["https://identifiers.org/ncbigene/207"]


def test_link_index_holds_exact_map_blocks_and_components():
    """The index is plain Python, built from the dictionary rows: the
    exact map holds every row, each block lists its labels' token sets,
    and the component map holds only the aliased IRIs."""
    index = link_index()
    assert len(index.exact) == len(XREF_ROWS) == 141
    assert index.exact["Uniprot-TrEMBL", "P31749"] == \
        "https://identifiers.org/uniprot/P31749"
    assert sorted(index.blocks["akt1"]) == [
        (frozenset({"akt1"}), "https://identifiers.org/ncbigene/207"),
        (frozenset({"akt1"}), "https://identifiers.org/uniprot/P31749")]
    assert index.components == dict.fromkeys(
        ["https://identifiers.org/uniprot/P31749",
         "https://identifiers.org/ncbigene/207"],
        "https://identifiers.org/ncbigene/207")


def test_dictionary_without_aliases_keeps_link_targets():
    """With no alias_of rows the component map is empty, and every
    linked mention canonicalizes to its own link target: the staged
    triple rows' canonical ids are their subject and object mapped
    through the link targets."""
    no_alias = link_index([r[:3] + (None,) for r in XREF_ROWS])
    assert no_alias.components == {}
    rows = compiled_rows(C.gpml_data_nodes(), index=no_alias)
    targets = {(r["url"], r["frag"], r["id"]): r["canonical_iri"]
               for r in rows["linked"] if r["canonical_iri"] is not None}
    assert "https://identifiers.org/uniprot/P31749" in targets.values()
    staged = rows["model_triples"] + rows["interaction_triples"]
    assert sorted((t["url"], t["frag"], t["pathway_id"],
                   t["canonical_subj"], t["pred"], t["canonical_obj"])
                  for t in staged) == _rewritten(staged, targets)


@pytest.mark.parametrize("gpml", [C.gpml_data_nodes, C.gpml_interactions])
def test_compiler_stages_each_distinct_triple_once(gpml):
    """The compiler has no `canonical_triples` role: each distinct
    triple is one staged row, under `model_triples` or
    `interaction_triples`, and its canonical columns are
    canonicalize_document's rewrite of its subject and object."""
    index = link_index()
    rows = compiled_rows(gpml(), index=index)
    assert "canonical_triples" not in rows
    staged = rows["model_triples"] + rows["interaction_triples"]
    plain = [{k: t[k] for k in ("url", "frag", "pathway_id", "subj",
                                "pred", "obj")} for t in staged]
    assert plain and len({tuple(t.values()) for t in plain}) == len(plain)
    rewritten = canonicalize_document(rows["linked"], plain,
                                      index.components)
    assert [(t["canonical_subj"], t["canonical_obj"]) for t in staged] \
        == [(t["subj"], t["obj"]) for t in rewritten]
    # the rewrite is exercised: the linked mentions' triples differ
    assert any(t["canonical_subj"] != t["subj"] for t in staged)


def test_canonical_rewrite_preserves_counts(model, triples):
    out = canonical_triples(model)
    assert out.count() == triples.count()
    # AKT1 mention rewritten to its canonical IRI
    akt = out.filter((F.col("pred") == "rdfs:label")
                     & (F.col("obj") == "AKT1")).collect()
    assert akt and akt[0]["subj"].startswith("https://identifiers.org/")


def test_topo_levels(model):
    ents = model["nodes"].select("url", "frag", "id").unionByName(
        model["edges"].select("url", "frag", "id"))
    deps = dependency_edges(model)
    lv = {r["id"]: r["topo_level"]
          for r in topo_levels(ents, deps).filter(
              F.col("url").contains("/hyperedge/")).collect()}
    assert lv["ha001"] == 0
    assert lv["he001"] == 1
    assert lv["hanch1"] == 2
    assert lv["he002"] == 3
    assert lv["hanch2"] == 4
    assert lv["he003"] == 5
    assert -1 not in lv.values()


def test_topo_levels_have_no_depth_cap(spark):
    """Per document (frag): a 12-deep chain gets levels 0-11; a 2-cycle
    gets -1, and so does an entity whose dependency names an entity of
    another document only; a repeated id takes the dependencies of all
    its rows, and each of its rows gets the level."""
    chain = [f"c{i:02d}" for i in range(12)]
    ents = [(0, i) for i in chain] + [(1, "a"), (1, "b"), (2, "m"),
                                       (3, "r"), (3, "r"), (3, "x"),
                                       (3, "y")]
    deps = [(0, chain[i + 1], chain[i]) for i in range(11)] + [
        (1, "a", "b"), (1, "b", "a"), (2, "m", "c00"),
        (3, "r", "x"), (3, "r", "y"), (3, "y", "x")]
    e = spark.createDataFrame([("u", f, i) for f, i in ents],
                              "url string, frag int, id string")
    d = spark.createDataFrame([("u", f, i, di) for f, i, di in deps],
                              "url string, frag int, id string, "
                              "dep_id string")
    got = sorted((r["frag"], r["id"], r["topo_level"])
                 for r in topo_levels(e, d).collect())
    assert got == sorted(
        [(0, c, n) for n, c in enumerate(chain)]
        + [(1, "a", -1), (1, "b", -1), (2, "m", -1), (3, "r", 2),
           (3, "r", 2), (3, "x", 0), (3, "y", 1)])


def test_kg_queries_share_one_run_per_root(spark, monkeypatch):
    """The driver contract's `kg_*` queries read the snapshots of one
    `Pipeline.run` per (sf_dir, limit): the first query runs the pass
    and commits its stages, and every later one resumes the committed
    root, running no pass and committing nothing. `kg_text_invariant`
    compares the pass's `text` snapshot with the documents table: one
    ok row per page."""
    import __spark_entry__ as entry
    from gpml2pvjson_js_spark.plans import pipeline

    sf = "/root/testdata/sf0.001"
    calls = []
    build, commit = (pipeline.build_document_model,
                     pipeline.SnapshotStore.commit_files)

    def spy_build(*args, **kwargs):
        calls.append("pass")
        return build(*args, **kwargs)

    def spy_commit(self, spark, stage, *args):
        calls.append(stage)
        return commit(self, spark, stage, *args)

    monkeypatch.setattr(pipeline, "build_document_model", spy_build)
    monkeypatch.setattr(pipeline.SnapshotStore, "commit_files", spy_commit)
    text = entry.kg_text_invariant(spark, sf).collect()
    ran = list(calls)
    # the pass and every commit, unless an earlier test ran them
    assert ran in ([], ["pass", *pipeline.STAGES])
    assert len(text) == 64 == len({r["url"] for r in text})
    assert all(r["ok"] for r in text)
    triples = entry.kg_triples(spark, sf).count()
    assert triples == entry.kg_canonical_triples(spark, sf).count() > 0
    assert list(entry._kg(spark, sf)) == pipeline.STAGES
    assert calls == ran
