"""Output check: per-page outputs of a committed run against pins.

The pipeline's output for a page depends only on that page, so each
page is checked against the pinned output of its (kind, variant):

- for each committed row stage (every stage but quarantine and text,
  canonical_triples among them): the page's row count and an
  order-insensitive hash of its row multiset;
- quarantined fragments per reason (the `error` prefix);
- the extracted text, which must equal the generator's `text` column.

Every row is serialized to JSON with sorted keys and the page's url
replaced by `{url}`, so one pin serves every url the seed gives a
variant. A JSON-LD document is parsed and re-serialized with sorted
keys first, since the order of its `entitiesById` entries is arrival
order. Reads the snapshot parquet with pyarrow after the run; no
Spark job.
"""

from __future__ import annotations

import collections
import hashlib
import json
import os

import pyarrow.parquet as pq

_MASK = (1 << 64) - 1
PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "pins.json")
ROW_STAGES = ["mentions", "nodes", "edges", "citations", "vocabularies",
              "pathways", "interactions", "triples", "linked",
              "canonical_triples", "documents"]


def h64(text: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(text.encode("utf-8"), digest_size=8).digest(), "big")


def multiset_hash(items) -> int:
    """Order-insensitive hash of a multiset of strings (sum of 64-bit
    hashes, so duplicates count)."""
    return sum(h64(s) for s in items) & _MASK


def read_stage(out_root: str, stage: str, cols: list[str] | None = None):
    """A committed snapshot as a list of rows, without the url-derived
    `bucket` layout column."""
    table = pq.read_table(os.path.join(out_root, stage, "data"),
                          columns=cols)
    if "bucket" in table.column_names:
        table = table.drop(["bucket"])
    return table.to_pylist()


def _key(row: dict) -> str:
    if "jsonld" in row:
        row = {**row, "jsonld": json.loads(row["jsonld"])}
    return json.dumps(row, sort_keys=True, default=str) \
        .replace(row["url"], "{url}")


def page_outputs(out_root: str, stages) -> dict[str, dict]:
    """url -> page summary over the committed `stages` (row stages,
    `quarantine`, `text`)."""
    rows: dict[str, dict] = collections.defaultdict(
        lambda: collections.defaultdict(list))
    quarantine: dict = collections.defaultdict(collections.Counter)
    text: dict[str, str] = {}
    for stage in stages:
        if stage == "quarantine":
            for r in read_stage(out_root, stage, ["url", "error"]):
                quarantine[r["url"]][r["error"].split(":", 1)[0]] += 1
        elif stage == "text":
            for r in read_stage(out_root, stage, ["url", "extracted_text"]):
                text[r["url"]] = r["extracted_text"]
        else:
            for r in read_stage(out_root, stage):
                rows[r["url"]][stage].append(_key(r))
    urls = set(rows) | set(quarantine) | set(text)
    return {u: summarize_page(rows[u], quarantine[u], text.get(u), stages)
            for u in urls}


def summarize_page(rows: dict, quarantine, text, stages) -> dict:
    out = {s: [len(rows[s]), f"{multiset_hash(rows[s]):016x}"]
           for s in stages if s in ROW_STAGES}
    if "quarantine" in stages:
        out["quarantine"] = dict(sorted(quarantine.items()))
    if "text" in stages:
        out["text"] = text
    return out


def pin_of(summary: dict, stages) -> dict:
    """The part of a page summary that is pinned per variant (the text
    is checked against the generator instead)."""
    return {s: summary[s] for s in stages if s != "text"}


def load_pins(path: str = PINS_PATH) -> dict:
    with open(path) as f:
        return json.load(f)["variants"]


def check_run(out_root: str, pages: list[dict], pins: dict,
              stages) -> dict:
    """Compare a committed run with the pins. Returns row totals per
    stage, quarantine counts, a corpus hash and a list of mismatches
    (empty when correct)."""
    got = page_outputs(out_root, stages)
    empty = summarize_page(collections.defaultdict(list), {}, None, stages)
    mismatches = []
    totals: collections.Counter = collections.Counter()
    quarantine: collections.Counter = collections.Counter()
    corpus = []
    for p in pages:
        url, key = p["url"], p["key"]
        page = got.get(url, empty)
        pin = pins.get(key)
        if pin is None or any(s not in pin for s in pin_of(page, stages)):
            mismatches.append(f"{url}: no pin for variant {key}")
            continue
        if pin_of(page, stages) != pin_of(pin, stages):
            mismatches.append(f"{url} ({key}): {pin_of(page, stages)} != "
                              f"{pin_of(pin, stages)}")
        if "text" in stages and page["text"] != p["text"]:
            mismatches.append(f"{url} ({key}): extracted text differs")
        for s in stages:
            if s in ROW_STAGES:
                totals[s] += page[s][0]
        quarantine.update(page.get("quarantine", {}))
        corpus.append(f"{url}:{json.dumps(pin_of(page, stages))}")
    for url in sorted(set(got) - {p["url"] for p in pages}):
        mismatches.append(f"{url}: output for a url not in the input")
    return {
        "rows": dict(totals),
        "quarantine": dict(sorted(quarantine.items())),
        "corpus_hash": f"{multiset_hash(corpus):016x}",
        "mismatches": mismatches,
    }
