"""Pin conversion semantics against the reference golden outputs
(/root/reference/test/expected/*.json). The `one-node` fixture input is
reconstructed exactly, so every converted field must match the golden
entity/pathway byte-for-byte (float-exact)."""

from pyspark.sql import functions as F

from tests.conftest import rows_by_id

# golden entity key -> our nodes column
FIELD_MAP = {
    "textContent": "text_content",
    "x": "x", "y": "y", "width": "width", "height": "height",
    "zIndex": "z_index",
    "drawAs": "draw_as", "stroke": "stroke", "fill": "fill",
    "strokeWidth": "stroke_width",
    "fontSize": "font_size", "fontWeight": "font_weight",
    "fontStyle": "font_style", "fontFamily": "font_family",
    "textAlign": "text_align", "verticalAlign": "vertical_align",
    "textDecoration": "text_decoration", "padding": "padding",
    "kaavioType": "kaavio_type", "gpmlElementName": "gpml_element_name",
    "wpType": "wp_type",
}


def test_one_node_entity_matches_golden(model, golden):
    g = golden("one-node")["entitiesById"]["d6efe"]
    ours = rows_by_id(model["nodes"], "/one-node/")["d6efe"]
    for gk, ok in FIELD_MAP.items():
        assert ours.get(ok) == g[gk], f"{gk}: {ours.get(ok)!r} != {g[gk]!r}"
    assert sorted(ours["types"]) == sorted(g["type"])


def test_one_node_pathway_matches_golden(model, golden):
    g = golden("one-node")["pathway"]
    p = {k: v for k, v in model["pathways"]
         .filter(F.col("url").contains("/one-node/"))
         .collect()[0].asDict().items() if v is not None}
    assert p["name"] == g["name"]
    assert p["standard_name"] == g["standardName"]
    assert p["display_name"] == g["displayName"]
    assert p["text_content"] == g["textContent"]
    assert p["is_similar_to"] == g["isSimilarTo"]
    assert p["width"] == g["width"] and p["height"] == g["height"]
    assert p["data_source_version"] == g["dataSourceVersion"]
    assert p["contains"] == g["contains"]
    assert p["types"] == g["type"]
    # the hash fallback id scheme (bin/gpml2pvjson:55-108)
    assert p["id"].startswith("hash://sha256/")


def test_mim_marker_types_match_reference_behavior(model):
    """The reference's live pipeline never unions SBO/WP terms for
    mim-* markers (MarkerMappings keys are MIM*-cased while converted
    markers are Mim*-cased — observed in goldens: WP4 idd31b36db has
    type ['Interaction','Edge']). We reproduce that byte-for-byte."""
    edges = rows_by_id(model["edges"], "/hyperedge/")
    he2 = edges["he002"]  # marker mim-catalysis
    assert sorted(he2["types"]) == ["Edge", "Interaction"]
    assert he2["marker_end"] == "MimCatalysis"
    he1 = edges["he001"]  # marker Arrow
    assert sorted(he1["types"]) == sorted(
        ["Interaction", "Edge", "SBO:0000167", "SBO:0000393",
         "SBO:0000394", "DirectedInteraction"])


def test_group_style_defaults_match_golden_shape(model):
    """Style 'Group' group: overrides + class defaults as in golden
    groups.json cb201 (strokeWidth 0, drawAs none, strokeDasharray 5,3,
    fill transparent, fontSize 1, fillOpacity 0.1)."""
    ours = rows_by_id(model["nodes"], "/groups/")["gg001"]
    assert ours["draw_as"] == "none"
    assert ours["stroke_width"] == 0.0
    assert ours["stroke_dasharray"] == "5,3"
    assert ours["fill"] == "transparent"
    assert ours["fill_opacity"] == 0.1
    assert ours["font_size"] == 1.0
    assert ours["font_weight"] == "bold"
    assert ours["stroke"] == "#808080"
    assert ours["text_align"] == "center"
    assert ours["vertical_align"] == "middle"
    assert sorted(ours["types"]) == ["Group", "GroupGroup"]
    assert ours["padding"] == 8.0


def test_publication_xref_ordinal_and_curie(model):
    """A6 window: citation numbers assigned by ascending year
    (src/2013a/toPvjson.ts:939-962)."""
    cites = rows_by_id(model["citations"], "/publication-xrefs/")
    early = cites["publicationXrefa54"]
    late = cites["publicationXrefc70"]
    assert early["year"] == 1999 and early["text_content"] == "1"
    assert late["year"] == 2005 and late["text_content"] == "2"
    assert "PubMed:15961557" in late["types"]
    assert late["standard_name"] == "A later paper"


def test_vocabulary_iri(model):
    vocabs = rows_by_id(model["vocabularies"], "/vocab/")
    assert "http://identifiers.org/pw/PW:0000003" in vocabs
    assert "http://identifiers.org/doid/DOID:162" in vocabs
    v = vocabs["http://identifiers.org/pw/PW:0000003"]
    assert v["ontology"] == "Pathway Ontology"
    assert v["types"] == ["openControlledVocabulary"]


def test_pathway_ontology_tag_on_pathway(model):
    p = model["pathways"].filter(F.col("url").contains("/vocab/")) \
        .collect()[0]
    assert "http://identifiers.org/pw/PW:0000003" in p["types"]
    assert "http://identifiers.org/doid/DOID:162" not in p["types"]
