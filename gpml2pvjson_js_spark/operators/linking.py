"""Entity linking: mentions -> BridgeDb-style canonical xref IRIs.

North-rule stage with no reference counterpart (the reference's CURIE
`<xrefDataSource>:<xrefIdentifier>` type entries,
src/Processor.ts:381-386, are the linking keys).

Two paths:
1. exact: broadcast dictionary join on (datasource, identifier)
2. blocked similarity join for xref-less mentions: block on
   (lang-agnostic) normalized-label first token, score with token-set
   Jaccard computed by Catalyst array functions, keep the best match
   per mention above a threshold (window row_number) — the standard
   distributed blocked-similarity-join shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .entities import DOC_KEY

# datasource -> identifiers.org prefix (public registry prefixes)
DATASOURCE_PREFIX = {
    "Entrez Gene": "ncbigene",
    "Ensembl": "ensembl",
    "CAS": "cas",
    "Uniprot-TrEMBL": "uniprot",
    "WikiPathways": "wikipathways",
    "PubMed": "pubmed",
    "ChEBI": "chebi",
    "HMDB": "hmdb",
}

SIM_THRESHOLD = 0.5


def canonical_iri(datasource_col, identifier_col):
    from ..functions.converters import _map_literal
    prefix = F.element_at(_map_literal(DATASOURCE_PREFIX), datasource_col)
    return F.when(
        prefix.isNotNull() & identifier_col.isNotNull(),
        F.concat(F.lit("https://identifiers.org/"), prefix, F.lit("/"),
                 identifier_col),
    )


def xref_dictionary(spark: SparkSession) -> DataFrame:
    """Deterministic BridgeDb-style dictionary (FIXTURES.md §4):
    covers the fixture xrefs, adds label rows for similarity linking
    and alias_of rows that induce sameAs edges.

    A local relation (`session.local_frame`): the `canonical_iri`
    projection folds into its `LocalTableScan`, so broadcasting it or
    collecting its alias pairs runs no Python task."""
    rows = [
        # (datasource, identifier, label, alias_of_identifier)
        ("Entrez Gene", "7157", "TP53", None),
        ("Entrez Gene", "1950", "EGF", None),
        ("Entrez Gene", "1956", "EGFR", None),
        ("Entrez Gene", "3098", "HK1", None),
        ("Entrez Gene", "581", "BAX", None),
        ("Entrez Gene", "596", "BCL2", None),
        ("Entrez Gene", "1019", "CDK4", None),
        ("Entrez Gene", "595", "CCND1", None),
        ("Entrez Gene", "5925", "RB1", None),
        ("Entrez Gene", "1869", "E2F1", None),
        ("Entrez Gene", "7027", "TFDP1", None),
        ("Entrez Gene", "207", "AKT1", None),
        ("Entrez Gene", "3845", "KRAS", None),
        ("CAS", "56-65-5", "ATP", None),
        ("CAS", "50-99-7", "Glucose", None),
        ("CAS", "56-73-5", "Glucose-6-phosphate", None),
        ("Uniprot-TrEMBL", "P31749", "AKT1", "207"),   # sameAs Entrez 207
        ("Ensembl", "ENSG00000284190", "MIR21", None),
        ("WikiPathways", "WP254", "Apoptosis", None),
        # label-only entries for similarity linking
        ("Entrez Gene", "3091", "HIF1A", None),
        ("CAS", "64-17-5", "Ethanol", None),
    ] + [("Entrez Gene", str(900000 + i), f"G{i}", None) for i in range(120)]
    df = local_frame(
        spark, rows, "datasource string, identifier string, label string, "
                     "alias_of string")
    alias_target = canonical_iri(
        F.lit("Entrez Gene"), F.col("alias_of"))
    return df.select(
        "datasource", "identifier", "label",
        canonical_iri(F.col("datasource"), F.col("identifier"))
        .alias("canonical_iri"),
        alias_target.alias("alias_of_iri"),
    )


def synthetic_xref_dictionary(spark: SparkSession,
                              n_rows: int = 1_000_000) -> DataFrame:
    """The toy dictionary plus n_rows deterministic filler xrefs —
    a dictionary-scale stand-in (BridgeDb ships ~60M xrefs) for
    exercising the above-broadcast-threshold linking path. Filler
    labels are zz-prefixed so the similarity blocking never collides
    with fixture labels: linking results on fixture corpora are
    IDENTICAL to the toy dictionary's."""
    extra_id = (F.col("id") + 10_000_000).cast("string")
    extra = spark.range(n_rows).select(
        F.lit("Entrez Gene").alias("datasource"),
        extra_id.alias("identifier"),
        F.concat(F.lit("zz"), F.col("id").cast("string")).alias("label"),
        canonical_iri(F.lit("Entrez Gene"), extra_id)
        .alias("canonical_iri"),
        F.lit(None).cast("string").alias("alias_of_iri"),
    )
    return xref_dictionary(spark).unionByName(extra)


def _norm_label(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"[^a-z0-9 ]", "")


def _tokens(col):
    return F.array_distinct(F.split(_norm_label(col), r"\s+"))


def link_entities(nodes: DataFrame, xref_dict: DataFrame,
                  dict_broadcastable: bool = True) -> DataFrame:
    """-> (url, frag, id, canonical_iri, link_method, link_score).

    Only linkable mentions participate (DataNodes & friends with an
    xref or a text label).

    dict_broadcastable=False is the dictionary-scale path (a real
    BridgeDb dump exceeds any broadcast threshold): the exact join
    becomes a SALTED shuffle join — hot xrefs (TP53 on millions of
    pages) spread over n_salts reducers instead of one — with
    identical results."""
    linkable = nodes.filter(
        F.col("xref_identifier").isNotNull()
        | F.col("text_content").isNotNull()
    ).select(*DOC_KEY, "id", "xref_datasource", "xref_identifier",
             "text_content")

    d = xref_dict.select(
        F.col("datasource").alias("d_ds"),
        F.col("identifier").alias("d_id"),
        F.col("label").alias("d_label"),
        F.col("canonical_iri").alias("d_iri"),
    )

    # path 1: exact CURIE join (broadcast dim, or salted shuffle join
    # when the dictionary is too big to broadcast)
    big = linkable.filter(F.col("xref_identifier").isNotNull()).select(
        *DOC_KEY, "id",
        F.col("xref_datasource").alias("ds"),
        F.col("xref_identifier").alias("ident"))
    dd = d.select(F.col("d_ds").alias("ds"), F.col("d_id").alias("ident"),
                  "d_iri")
    if dict_broadcastable:
        joined = big.join(F.broadcast(dd), ["ds", "ident"], "left")
    else:
        from ..functions.skew import salted_join
        joined = salted_join(big, dd, ["ds", "ident"], how="left",
                             broadcast_small=False)
    exact = joined.select(
        *DOC_KEY, "id",
        F.col("d_iri").alias("canonical_iri"),
        F.when(F.col("d_iri").isNotNull(),
               F.lit("exact")).alias("link_method"),
        F.when(F.col("d_iri").isNotNull(), F.lit(1.0)).alias("link_score"),
    )

    # path 2: blocked similarity join on normalized label
    unref = linkable.filter(F.col("xref_identifier").isNull()
                            & F.col("text_content").isNotNull())
    unref = unref.withColumn("toks", _tokens(F.col("text_content"))) \
        .withColumn("block", F.element_at("toks", 1))
    db = d.withColumn("d_toks", _tokens(F.col("d_label"))) \
          .withColumn("d_block", F.element_at("d_toks", 1))
    if dict_broadcastable:
        db = F.broadcast(db)
    # (above threshold the block join shuffles both sides on the
    # block token; AQE skew splitting handles hot blocks)
    cand = unref.join(db, F.col("block") == F.col("d_block"), "left")
    inter = F.size(F.array_intersect("toks", "d_toks"))
    union = F.size(F.array_union("toks", "d_toks"))
    cand = cand.withColumn(
        "score",
        F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0)))
    w = Window.partitionBy(*DOC_KEY, "id").orderBy(
        F.desc("score"), F.asc("d_iri"))
    best = cand.withColumn("rn", F.row_number().over(w)) \
        .filter(F.col("rn") == 1)
    sim = best.select(
        *DOC_KEY, "id",
        F.when(F.col("score") >= SIM_THRESHOLD,
               F.col("d_iri")).alias("canonical_iri"),
        F.when(F.col("score") >= SIM_THRESHOLD,
               F.lit("similarity")).alias("link_method"),
        F.when(F.col("score") >= SIM_THRESHOLD,
               F.col("score")).alias("link_score"),
    )
    return exact.unionByName(sim)


def alias_edges(xref_dict: DataFrame) -> DataFrame:
    """Dictionary-internal owl:sameAs pairs (IRI -> IRI). DICTIONARY-
    scale — independent of corpus size — which is what lets
    `canonicalize_linked` find their components on the driver."""
    return xref_dict.filter(F.col("alias_of_iri").isNotNull()) \
        .select(F.col("canonical_iri").alias("src"),
                F.col("alias_of_iri").alias("dst"))


def same_as_edges(linked: DataFrame, xref_dict: DataFrame) -> DataFrame:
    """owl:sameAs pairs: dictionary aliases plus entity->canonical
    links: the graph whose connected components canonicalization
    resolves.

    Structural invariant consumed by `canonicalize_linked`: the link
    edges attach each mention key to AT MOST ONE IRI — `link_entities`
    partitions mentions disjointly between the exact and similarity
    paths and each path keeps a single best match — so mention nodes
    are always degree-1 leaves and never merge two IRI components."""
    link_edges = linked.filter(F.col("canonical_iri").isNotNull()).select(
        F.concat_ws("#", "url", F.col("frag").cast("string"),
                    "id").alias("src"),
        F.col("canonical_iri").alias("dst"),
    )
    return alias_edges(xref_dict).unionByName(link_edges).distinct()
