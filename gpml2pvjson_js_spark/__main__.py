"""stdin -> stdout GPML-to-JSON-LD CLI — the reference's primary
user surface re-expressed over the Spark pipeline.

    python -m gpml2pvjson_js_spark < file.gpml > out.ndjson
    python -m gpml2pvjson_js_spark --pathway-iri http://example.org/WP1 \
        --master 'local[8]' < many_pathways.gpml > out.ndjson

Parity target: `bin/gpml2pvjson` (ref: bin/gpml2pvjson:61-96) — the
reference CLI splits a concatenated stdin stream into per-pathway
chunks and emits one JSON-LD document per pathway as NDJSON. Here
stdin becomes a single synthetic page row (url = --pathway-iri) and
the pipeline's multi-doc splitter (operators/parse.py, S1) does the
same chunking, so `cat a.gpml b.gpml | python -m gpml2pvjson_js_spark`
yields one NDJSON line per embedded pathway, exactly like piping the
concatenation through the reference binary.

A one-row local[N] run is the degenerate case of the same plan that
handles 10^12 rows — there is deliberately no separate single-file
code path to drift out of parity with the cluster pipeline.
"""

from __future__ import annotations

import argparse
import datetime
import sys


# fixed timestamp: stdin has no crawl time, and output must be
# byte-deterministic for the same input bytes
_EPOCH = datetime.datetime(2020, 1, 1)


def convert_bytes(spark, gpml: bytes, pathway_iri: str,
                  pathway_id: str | None = None,
                  pathway_version: str | None = None) -> list[str]:
    """All pathway documents embedded in `gpml`, as JSON-LD strings
    in first-appearance (frag) order.

    `pathway_id` overrides each document's ``pathway.id`` (the
    reference library sets ``pathway.id = pathwayIri`` when the CLI
    passes ``--id``; ref: src/2013a/toPvjson.ts:219-230, one id for
    every document on the stream). `pathway_version` sets
    ``pathway.pathwayVersion``, a CLI-only post-set in the reference
    (ref: bin/gpml2pvjson:112-114). When neither is given the
    pipeline's serialized bytes pass through untouched, preserving
    byte parity with the golden corpus (the content-hash id fallback
    is the pipeline default, ref: bin/gpml2pvjson:57-59,108-111)."""
    from gpml2pvjson_js_spark.corpus import PAGES_SCHEMA
    from gpml2pvjson_js_spark.operators.assemble import (
        build_document_model)
    from gpml2pvjson_js_spark.operators.export import jsonld_documents
    from gpml2pvjson_js_spark.session import local_frame

    pages = local_frame(spark, [(pathway_iri, _EPOCH, gpml, "", "en")],
                        PAGES_SCHEMA)
    model = build_document_model(spark, pages)
    rows = jsonld_documents(model).select("frag", "jsonld").collect()
    docs = [r["jsonld"] for r in sorted(rows, key=lambda r: r["frag"])]
    if pathway_id is None and pathway_version is None:
        return docs
    # object-level mutation exactly like the reference CLI (which
    # mutates pvjson then re-stringifies through ndjson.serialize);
    # compact separators + ensure_ascii=False match to_json's style
    import json
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
    ap.add_argument("--master", default="local[8]",
                    help="Spark master for the one-off session")
    args = ap.parse_args(argv)

    data = sys.stdin.buffer.read()
    if not data.strip():
        print("error: empty stdin (expected GPML XML)", file=sys.stderr)
        return 2

    from gpml2pvjson_js_spark.session import get_spark
    spark = get_spark(app_name="gpml2pvjson-cli", master=args.master)
    try:
        docs = convert_bytes(spark, data, args.pathway_iri,
                             pathway_id=args.pathway_id,
                             pathway_version=args.pathway_version)
        if not docs:
            print("error: no <Pathway> documents found in input",
                  file=sys.stderr)
            return 1
        for doc in docs:
            sys.stdout.write(doc)
            sys.stdout.write("\n")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
