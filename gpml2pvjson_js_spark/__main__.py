"""stdin -> stdout GPML-to-JSON-LD CLI — the reference's primary
user surface.

    python -m gpml2pvjson_js_spark < file.gpml > out.ndjson
    python -m gpml2pvjson_js_spark --pathway-iri http://example.org/WP1 \
        < many_pathways.gpml > out.ndjson

Parity target: `bin/gpml2pvjson` (ref: bin/gpml2pvjson:61-96) — the
reference CLI splits a concatenated stdin stream into per-pathway
chunks and emits one JSON-LD document per pathway as NDJSON. Here
stdin is one page (url = --pathway-iri) and the page parser's
multi-doc splitter (operators/parse.py, S1) does the same chunking, so
`cat a.gpml b.gpml | python -m gpml2pvjson_js_spark` yields one NDJSON
line per embedded pathway, exactly like piping the concatenation
through the reference binary.

The CLI runs the pass's own function: each task of the pass's
`mapInArrow` compiles its pages one url at a time with
`document.compile_page_group`, and the CLI calls it on its one page,
in plain Python, with no Spark session and no JVM. Its documents, in
frag order, are the bytes `Pipeline.run` commits as the `documents`
snapshot of the same page (tests/test_jsonld_export.py checks it).
A document that does not compile is quarantined, as in the pass: its
reason goes to stderr, and the exit status is 1.
"""

from __future__ import annotations

import argparse
import json
import sys


def _compile(gpml: bytes, pathway_iri: str) -> dict[str, list[dict]]:
    """`gpml` as one page of url `pathway_iri`, compiled as a pass task
    compiles a page: its rows by role (frames.FRAMES)."""
    from gpml2pvjson_js_spark.operators.document import compile_page_group
    from gpml2pvjson_js_spark.operators.linking import link_index

    return compile_page_group([(pathway_iri, gpml)], link_index())


def _documents(rows: dict, pathway_id: str | None,
               pathway_version: str | None) -> list[str]:
    """The JSON-LD of compiled `rows` in frag order, post-set as
    `convert_bytes` says."""
    docs = [r["jsonld"] for r in sorted(rows["documents"],
                                        key=lambda r: r["frag"])]
    if pathway_id is None and pathway_version is None:
        return docs
    # object-level mutation exactly like the reference CLI (which
    # mutates pvjson then re-stringifies through ndjson.serialize);
    # compact separators + ensure_ascii=False match to_json's style
    out = []
    for doc in docs:
        d = json.loads(doc)
        if pathway_id is not None:
            d["pathway"]["id"] = pathway_id
        if pathway_version is not None:
            # JS property-insertion order: appended at the end
            d["pathway"]["pathwayVersion"] = pathway_version
        out.append(json.dumps(d, separators=(",", ":"),
                              ensure_ascii=False))
    return out


def convert_bytes(gpml: bytes, pathway_iri: str,
                  pathway_id: str | None = None,
                  pathway_version: str | None = None) -> list[str]:
    """All pathway documents embedded in `gpml` that compile, as
    JSON-LD strings in first-appearance (frag) order.

    `pathway_id` overrides each document's ``pathway.id`` (the
    reference library sets ``pathway.id = pathwayIri`` when the CLI
    passes ``--id``; ref: src/2013a/toPvjson.ts:219-230, one id for
    every document on the stream). `pathway_version` sets
    ``pathway.pathwayVersion``, a CLI-only post-set in the reference
    (ref: bin/gpml2pvjson:112-114). When neither is given the
    compiler's serialized bytes pass through untouched, preserving
    byte parity with the golden corpus (the content-hash id fallback
    is the compiler's default, ref: bin/gpml2pvjson:57-59,108-111)."""
    return _documents(_compile(gpml, pathway_iri), pathway_id,
                      pathway_version)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        prog="python -m gpml2pvjson_js_spark",
        description="Convert GPML on stdin to JSON-LD NDJSON on "
                    "stdout (reference CLI parity).")
    ap.add_argument("--pathway-iri", default="file://stdin",
                    help="IRI recorded as the document url "
                         "(ref: GPML2013aToPVJSON pathwayIri param)")
    ap.add_argument("--id", dest="pathway_id", default=None,
                    metavar="IRI",
                    help="unique ID of this pathway, e.g. "
                         '"http://identifiers.org/wikipathways/WP4" '
                         "— sets pathway.id on every emitted document "
                         "(ref: bin/gpml2pvjson --id); without it the "
                         "content-hash fallback id is used")
    ap.add_argument("--pathway-version", default=None,
                    metavar="STRING",
                    help='version of this pathway, e.g. "90358" — '
                         "sets pathway.pathwayVersion "
                         "(ref: bin/gpml2pvjson --pathway-version)")
    args = ap.parse_args(argv)

    data = sys.stdin.buffer.read()
    if not data.strip():
        print("error: empty stdin (expected GPML XML)", file=sys.stderr)
        return 2

    rows = _compile(data, args.pathway_iri)
    docs = _documents(rows, args.pathway_id, args.pathway_version)
    for doc in docs:
        sys.stdout.write(doc)
        sys.stdout.write("\n")
    for r in rows["quarantine"]:
        print(f"error: pathway {r['frag']}: {r['error']}", file=sys.stderr)
    if rows["quarantine"]:
        return 1
    if not docs:
        print("error: no <Pathway> documents found in input",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
