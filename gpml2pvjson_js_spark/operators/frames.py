"""The frames the one pass per page (document.py) emits, by role, the
snapshots it writes of them (OUTPUTS), and the one rule by which a row
of a frame is stored (`stored`).

The roles are the page's `mentions` (MENTIONS_SCHEMA; the `_error` rows
are the `quarantine` role), its `text`, and what the document compiler
makes of the ok mentions: the five model frames (nodes, edges,
citations, vocabularies, pathways), the BioPAX `interactions`, the
triples (`model_triples`, and the `interaction_triples` that are not
among them), the JSON-LD `documents` and the `linked` mentions. Each
distinct triple is one row: it also carries its subject and object
rewritten to their canonical ids (`canonical_subj`, `canonical_obj`,
canonicalize.py), so the triples and the canonical triples are two
outputs of the same rows. No output holds `model_triples` alone: a
caller that wants them (golden.py) reads the compiler's rows.

Write side: a mention row (parse.page_mentions, and the quarantine row
of a document that fails to compile) and a row of the five model
frames is made as `stored` returns it, once, where it is made. What
the compiler reads after that (the interactions, the triples, the
JSON-LD) is what the snapshot holds, and the pass writes every row as
given (assemble.stage_table).

Each output is one snapshot: its frame, then the url-hash `bucket`
of the page its rows came from (operators/assemble.py writes it,
plans/pipeline.py commits it). Read side: `as_frame` reads a snapshot
back as its frame, nullability included, which is how
plans/pipeline.Snapshots returns every committed output.
"""

from __future__ import annotations

from operator import is_
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_S, _D, _I = T.StringType(), T.DoubleType(), T.IntegerType()
_STRS, _DOUBLES = T.ArrayType(_S), T.ArrayType(_D)


def _struct(*fields, required=()) -> T.StructType:
    return T.StructType([T.StructField(n, t, n not in required)
                         for n, t in fields])


_COMMENTS = T.ArrayType(_struct(("content", _S), ("source", _S)))
_POINT = _struct(("x", _D), ("y", _D), ("is_attached_to", _S),
                 ("attachment_position", _DOUBLES),
                 ("attachment_offset", _DOUBLES),
                 ("orientation", _DOUBLES), ("marker", _S))
_KEY = (("url", _S), ("frag", _I))

# one row per GPML element of a page (parse.page_mentions)
MENTIONS_SCHEMA = _struct(
    *_KEY, ("pathway_id", _S), ("elem_idx", _I), ("gpml_element_name", _S),
    ("graph_id", _S), ("graph_id_explicit", T.BooleanType()),
    ("group_id", _S), ("group_ref", _S), ("graph_ref", _S),
    ("text_label", _S), ("href", _S), ("wp_type", _S), ("state_type", _S),
    ("style", _S), ("xref_datasource", _S), ("xref_identifier", _S),
    # graphics
    ("center_x", _D), ("center_y", _D), ("width", _D), ("height", _D),
    ("zorder", _D), ("color", _S), ("fill_color", _S), ("shape_type", _S),
    ("line_style", _S), ("line_thickness", _D), ("connector_type", _S),
    ("rotation", _S), ("font_size", _D), ("font_name", _S),
    ("font_weight", _S), ("font_style", _S), ("font_decoration", _S),
    ("font_strikethru", _S), ("align", _S), ("valign", _S),
    ("position", _D), ("rel_x", _D), ("rel_y", _D), ("anchor_shape", _S),
    ("fill_opacity", _D),
    ("points", T.ArrayType(_struct(
        ("idx", _I), ("x", _D), ("y", _D), ("rel_x", _D), ("rel_y", _D),
        ("graph_ref", _S), ("arrow_head", _S)))),
    ("biopax_refs", _STRS), ("comments", _COMMENTS),
    ("attributes", T.MapType(_S, _S)),
    # pathway-level
    ("name", _S), ("organism", _S), ("license", _S), ("data_source", _S),
    ("version", _S), ("author", _S), ("email", _S), ("maintainer", _S),
    ("last_modified", _S), ("board_width", _D), ("board_height", _D),
    # publication xref
    ("pub_id", _S), ("pub_db", _S), ("pub_title", _S), ("pub_source", _S),
    ("pub_year", _S), ("pub_authors", _STRS),
    # controlled vocabulary
    ("ontology", _S), ("vocab_term", _S),
    # quarantine
    ("error", _S),
    required=("url", "frag"))

NODES = _struct(
    *_KEY, ("pathway_id", _S), ("elem_idx", _I), ("id", _S),
    ("gpml_element_name", _S), ("kaavio_type", _S), ("types", _STRS),
    ("text_content", _S), ("href", _S), ("wp_type", _S),
    ("state_type", _S), ("x", _D), ("y", _D), ("width", _D),
    ("height", _D), ("z_index", _D), ("draw_as", _S), ("stroke", _S),
    ("stroke_width", _D), ("stroke_dasharray", _S), ("stroke_style", _S),
    ("fill", _S), ("fill_opacity", _D), ("rotation", _D),
    ("text_rotation", _D), ("font_family", _S), ("font_size", _D),
    ("font_weight", _S), ("font_style", _S), ("text_align", _S),
    ("vertical_align", _S), ("text_decoration", _S), ("padding", _D),
    ("rx", _D), ("ry", _D), ("xref_datasource", _S),
    ("xref_identifier", _S), ("cellular_component", _S),
    ("backpage_head", _S), ("citations", _STRS), ("comments", _COMMENTS),
    ("is_attached_to", _S), ("attachment_position", _DOUBLES),
    ("attachment_relative_offset", _DOUBLES),
    ("attachment_offset", _DOUBLES), ("group_id", _S), ("group_ref", _S),
    ("is_part_of", _S), ("burrs", _STRS), ("gpml_group_id", _S),
    ("contains", _STRS),
    required=("url", "frag"))
EDGES = _struct(
    *_KEY, ("id", _S), ("pathway_id", _S), ("elem_idx", _I),
    ("gpml_element_name", _S), ("kaavio_type", _S), ("types", _STRS),
    ("marker_start", _S), ("marker_end", _S), ("draw_as", _S),
    ("stroke", _S), ("stroke_width", _D), ("stroke_dasharray", _S),
    ("fill", _S), ("z_index", _D), ("citations", _STRS),
    ("comments", _COMMENTS), ("group_ref", _S), ("xref_datasource", _S),
    ("xref_identifier", _S), ("is_attached_to", _STRS),
    ("point_targets", T.ArrayType(
        _struct(("elem", _S), ("point_ref", _S)), containsNull=False)),
    ("endpoint_first_ref", _S), ("endpoint_last_ref", _S),
    ("points", T.ArrayType(_POINT, containsNull=False)),
    ("is_part_of", _S), ("burrs", _STRS),
    required=("url", "frag", "kaavio_type"))
CITATIONS = _struct(
    *_KEY, ("pathway_id", _S), ("elem_idx", _I), ("id", _S),
    ("gpml_element_name", _S), ("xref_identifier", _S),
    ("xref_datasource", _S), ("standard_name", _S), ("source", _S),
    ("year", _I), ("authors", _STRS), ("types", _STRS),
    ("text_content", _S),
    required=("url", "frag", "gpml_element_name", "types",
              "text_content"))
VOCABULARIES = _struct(
    *_KEY, ("pathway_id", _S), ("elem_idx", _I), ("ontology", _S),
    ("term", _S), ("xref_identifier", _S), ("iri_prefix", _S),
    ("id", _S), ("types", T.ArrayType(_S, containsNull=False)),
    ("gpml_element_name", _S),
    required=("url", "frag", "types", "gpml_element_name"))
PATHWAYS = _struct(
    *_KEY, ("pathway_id", _S), ("id", _S), ("gpml_element_name", _S),
    ("kaavio_type", _S), ("name", _S), ("standard_name", _S),
    ("display_name", _S), ("text_content", _S), ("is_similar_to", _S),
    ("organism", _S), ("license", _S), ("data_source", _S),
    ("data_source_version", _S), ("author", _S), ("email", _S),
    ("maintainer", _S), ("last_modified", _S), ("width", _D),
    ("height", _D), ("comments", _COMMENTS),
    ("types", T.ArrayType(_S, containsNull=False)), ("contains", _STRS),
    required=("url", "frag", "gpml_element_name", "kaavio_type",
              "text_content", "height", "contains"))
INTERACTIONS = _struct(
    *_KEY, ("pathway_id", _S), ("id", _S), ("marker_eff", _S),
    ("biopax_type", _S), ("control_type", _S), ("controller", _S),
    ("controlled", _S), ("left", _S), ("right", _S),
    ("participants", _STRS), ("conversion_direction", _S))
_TRIPLE = (*_KEY, ("pathway_id", _S), ("subj", _S), ("pred", _S),
           ("obj", _S))
TRIPLES = _struct(*_TRIPLE)
# a triple row of the compiler: the triple, then its subject and object
# as canonicalize_document rewrites them
STAGED_TRIPLES = _struct(*_TRIPLE, ("canonical_subj", _S),
                         ("canonical_obj", _S))
# the field each TRIPLES field of a canonical triple reads
CANONICAL = {"subj": "canonical_subj", "obj": "canonical_obj"}
DOCUMENTS = _struct(*_KEY, ("pathway_id", _S), ("jsonld", _S))
LINKED = _struct(*_KEY, ("id", _S), ("canonical_iri", _S),
                 ("link_method", _S), ("link_score", _D))
# the quarantined mentions, every field nullable, as a filter of the
# committed mentions gave them
QUARANTINE = T.StructType([T.StructField(f.name, f.dataType)
                           for f in MENTIONS_SCHEMA.fields])
# a page's text (parse.text_schema gives the nullability of a pages
# frame's own)
TEXT = _struct(("url", _S), ("extracted_text", _S))
MODEL_FRAMES = ("nodes", "edges", "citations", "vocabularies", "pathways")
# each role's rows as the compiler makes them
FRAMES = {"nodes": NODES, "edges": EDGES, "citations": CITATIONS,
          "vocabularies": VOCABULARIES, "pathways": PATHWAYS,
          "interactions": INTERACTIONS, "model_triples": STAGED_TRIPLES,
          "interaction_triples": STAGED_TRIPLES, "documents": DOCUMENTS,
          "linked": LINKED, "mentions": MENTIONS_SCHEMA,
          "quarantine": QUARANTINE, "text": TEXT}


# a null in a non-nullable field is stored as this literal (`zero`)
ZERO = {_D: 0.0, _I: 0, _S: ""}
_ZERO_SQL = {_D: "0.0D", _I: "0", _S: "''"}


def zero(t: T.DataType):
    """What a null in a non-nullable field of type `t` is stored as."""
    return [] if isinstance(t, T.ArrayType) else ZERO[t]


def _nan_to_null(v, t: T.DataType):
    """`v`, of type `t`, with every NaN null, at every nesting level:
    `v` itself when it holds no NaN, else a copy (a struct's with every
    field of `t`)."""
    if v is None:
        return None
    if isinstance(t, T.DoubleType):
        return None if v != v else v
    if isinstance(t, T.ArrayType):
        xs = list(v)
        out = [_nan_to_null(x, t.elementType) for x in xs]
    elif isinstance(t, T.StructType):
        xs = [v.get(n) for n in t.names]
        out = [_nan_to_null(x, f.dataType) for x, f in zip(xs, t.fields)]
    else:
        return v
    if all(map(is_, out, xs)):
        return v
    return out if isinstance(t, T.ArrayType) else dict(zip(t.names, out))


# per role, the double fields where NaN is a value, not null: the
# rotations, where the converters make NaN of a "NaN" or "Infinity"
# as Spark's cast does; everywhere else NaN only stands for null
# arithmetic (document._num) or a "NaN" coordinate
_NAN_KEPT = {"nodes": ("rotation", "text_rotation")}


def _plan(role: str, frame: T.StructType) -> tuple:
    """What `stored` visits of a role's rows: every field, in order;
    the double fields whose NaN is null, and the array and struct
    fields that hold such doubles; each non-nullable field, with its
    zero."""
    kept = _NAN_KEPT.get(role, ())
    bearing = [f for f in frame.fields if f.name not in kept
               and "double" in f.dataType.simpleString()]
    return (frame.names, [f.name for f in bearing if f.dataType == _D],
            [(f.name, f.dataType) for f in bearing if f.dataType != _D],
            [(f.name, zero(f.dataType)) for f in frame.fields
             if not f.nullable])


_PLANS = {role: _plan(role, frame) for role, frame in FRAMES.items()}


def stored(role: str, row: dict) -> dict:
    """`row` as the snapshot of `role`'s frame (FRAMES) stores it:
    every field of the frame, in order, and no other (a field `row`
    lacks is null); NaN null at every nesting level, but where NaN is
    a value (`_NAN_KEPT`); and a null in a non-nullable field its
    `zero`."""
    names, doubles, nested, required = _PLANS[role]
    out = dict.fromkeys(names)
    out.update(row)
    if len(out) > len(names):  # `row` has fields beyond the frame's
        out = {n: out[n] for n in names}
    for n in doubles:
        v = out[n]
        if v != v:
            out[n] = None
    for n, t in nested:
        v = out[n]
        if v is not None:
            out[n] = _nan_to_null(v, t)
    for n, z in required:
        if out[n] is None:
            out[n] = z
    return out


class Output(NamedTuple):
    """One snapshot the pass writes: its frame, the roles whose rows it
    holds, and, for each frame field that reads another field of those
    rows, that field."""
    frame: T.StructType
    roles: tuple[str, ...]
    read: dict = {}


_TRIPLE_ROLES = ("model_triples", "interaction_triples")
# every output of the pass: the pipeline's stages, in their order
OUTPUTS = {
    "mentions": Output(MENTIONS_SCHEMA, ("mentions", "quarantine")),
    "quarantine": Output(QUARANTINE, ("quarantine",)),
    **{role: Output(FRAMES[role], (role,)) for role in MODEL_FRAMES},
    "interactions": Output(INTERACTIONS, ("interactions",)),
    "triples": Output(TRIPLES, _TRIPLE_ROLES),
    "linked": Output(LINKED, ("linked",)),
    "canonical_triples": Output(TRIPLES, _TRIPLE_ROLES, CANONICAL),
    "documents": Output(DOCUMENTS, ("documents",)),
    "text": Output(TEXT, ("text",)),
}


def _zero_sql(t: T.DataType) -> str:
    if isinstance(t, T.ArrayType):
        return "array()"
    if isinstance(t, T.StructType):
        return "named_struct(" + ", ".join(
            f"'{f.name}', CAST(NULL AS {f.dataType.simpleString()})"
            for f in t.fields) + ")"
    return _ZERO_SQL[t]


def _restore_sql(col: str, t: T.DataType, nullable: bool,
                 depth: int = 0) -> str:
    """The expression that reads `col`, of type `t` as a file scan
    gives it, as nullable as `nullable` and `t` declare, at the top
    level and in array elements. A coalesce only drops the nullable
    flag: the file stores those values REQUIRED, so it never fires."""
    if isinstance(t, T.ArrayType) and not t.containsNull:
        x = f"x{depth}"
        col = (f"transform({col}, {x} -> "
               f"{_restore_sql(x, t.elementType, False, depth + 1)})")
    return col if nullable else f"coalesce({col}, {_zero_sql(t)})"


def as_frame(df: DataFrame, frame: T.StructType) -> DataFrame:
    """A snapshot read back (`SnapshotStore.read`: Spark reads every
    field of a file as nullable) as `frame`: its fields, in order, each
    as nullable as `frame` declares. One `selectExpr`."""
    return df.selectExpr(*(
        f"{_restore_sql(f'`{f.name}`', f.dataType, f.nullable)} "
        f"AS `{f.name}`" for f in frame.fields))
