"""Interaction classification, triple materialization (P/R vs curated
expected triples), linking, canonicalization, topo levels."""

from pyspark.sql import functions as F

from gpml2pvjson_js_spark import corpus as C
from gpml2pvjson_js_spark.operators.canonicalize import (
    alias_components, canonicalize_linked, rewrite_triples)
from gpml2pvjson_js_spark.operators.interactions import classify
from gpml2pvjson_js_spark.operators.linking import (
    link_entities, same_as_edges, xref_dictionary)
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


def test_linking_exact_and_similarity(spark, model):
    xd = xref_dictionary(spark)
    linked = link_entities(model["nodes"], xd)
    by_id = {(r["url"].split("/")[-2], r["id"]): r.asDict()
             for r in linked.collect()}
    akt = by_id[("states", "sa001")]
    assert akt["link_method"] == "exact"
    assert akt["canonical_iri"] == "https://identifiers.org/ncbigene/207"
    # no duplicate link rows
    assert linked.groupBy("url", "frag", "id").count() \
        .filter("count > 1").count() == 0


def test_similarity_link_blocked_join(spark, model):
    xd = xref_dictionary(spark)
    linked = link_entities(model["nodes"], xd)
    # label-only DataNode "Glucose"-like: the data-nodes fixture has
    # xrefs; the shapes-labels Label "a label" must stay unlinked
    lab = linked.filter(F.col("url").contains("/shapes-labels/")
                        & (F.col("id") == "lb001")).collect()
    assert lab and lab[0]["link_method"] is None


def test_linking_salted_fallback_at_dictionary_scale(spark, model):
    """Above the broadcast threshold the exact-linking join must use
    the salted shuffle path with IDENTICAL results: same links from
    the toy dictionary and from a 200k-row dictionary-scale superset
    (filler labels never collide), and the executed plan salts the
    hot datasource key instead of hash-partitioning on it alone."""
    from gpml2pvjson_js_spark.operators.linking import (
        synthetic_xref_dictionary)

    def snap(df):
        return sorted(
            (r["url"], r["frag"], r["id"], r["canonical_iri"],
             r["link_method"],
             round(r["link_score"], 4) if r["link_score"] is not None
             else None)
            for r in df.collect())

    toy = snap(link_entities(model["nodes"], xref_dictionary(spark)))
    big_dict = synthetic_xref_dictionary(spark, 200_000)
    big_df = link_entities(model["nodes"], big_dict,
                           dict_broadcastable=False)
    assert snap(big_df) == toy
    plan = big_df._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in plan  # the exact join shuffles on (key, salt)


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


def test_canonicalize_linked_matches_generic(spark, model):
    """The pipeline's alias-graph path must equal the components of
    the FULL sameAs graph, mention leaves included, row for row (the
    invariant that keeps corpus-sized frames out of the component
    search)."""
    xd = xref_dictionary(spark)
    linked = link_entities(model["nodes"], xd)
    comp = _uf_components([tuple(r) for r in
                           same_as_edges(linked, xd).collect()])
    generic = {(r["url"], r["frag"], r["id"],
                comp[f"{r['url']}#{r['frag']}#{r['id']}"])
               for r in linked.filter(
                   F.col("canonical_iri").isNotNull()).collect()}
    fast = canonicalize_linked(linked, xd)
    assert sorted(generic) == sorted(map(tuple, fast.collect()))
    # and the fast path actually exercises the alias merge: the
    # Uniprot alias row maps some mention to the Entrez IRI
    assert fast.filter(
        F.col("canonical") ==
        "https://identifiers.org/ncbigene/207").count() > 0


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_dictionary_and_component_map_are_local_relations(spark):
    """The dictionary, its alias pairs and canonicalization's component
    map (with aliases and without) plan as `LocalTableScan`s: no Python
    RDD (`ExistingRDD`), so reading them runs no Python task."""
    from gpml2pvjson_js_spark.operators.linking import alias_edges
    from gpml2pvjson_js_spark.session import local_frame

    xd = xref_dictionary(spark)
    no_alias = xd.filter(F.col("alias_of_iri").isNull())
    linked = local_frame(spark, [
        ("https://p.example/a", 0, "n1",
         "https://identifiers.org/uniprot/P31749"),
        ("https://p.example/a", 0, "n2",
         "https://identifiers.org/ncbigene/3098"),
    ], "url string, frag int, id string, canonical_iri string")
    for df in (xd, alias_edges(xd), canonicalize_linked(linked, xd),
               canonicalize_linked(linked, no_alias)):
        plan = _executed_plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert sorted(canonicalize_linked(linked, xd).collect()) == [
        ("https://p.example/a", 0, "n1",
         "https://identifiers.org/ncbigene/207"),
        ("https://p.example/a", 0, "n2",
         "https://identifiers.org/ncbigene/3098")]


def test_dictionary_without_aliases_keeps_link_targets(spark, model):
    """With no alias_of rows the component map is empty, and every
    linked mention canonicalizes to its own link target."""
    xd = xref_dictionary(spark).filter(F.col("alias_of_iri").isNull())
    linked = link_entities(model["nodes"], xd)
    targets = {(r["url"], r["frag"], r["id"], r["canonical_iri"])
               for r in linked.filter(
                   F.col("canonical_iri").isNotNull()).collect()}
    assert targets
    canonical = canonicalize_linked(linked, xd).collect()
    assert sorted(map(tuple, canonical)) == sorted(targets)


def test_canonical_rewrite_preserves_counts(spark, model, triples):
    xd = xref_dictionary(spark)
    linked = link_entities(model["nodes"], xd)
    out = rewrite_triples(triples, canonicalize_linked(linked, xd))
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
