"""Seeded page generator for the benchmark workloads.

Every page is drawn from a finite catalog of *variants*: a page kind
(one of the corpus fixtures, a malformed page, or a giant pathway) and
a variant number that rewrites the fixture's coordinates, labels and
xref identifiers. A workload fixes how many pages of each kind it
holds; the seed picks each page's variant, its position, its url
(domain, with a hot domain) and its paragraph text, so two seeds give
different page content with the same amount of work.

The pipeline's output for a page depends only on that page, so the
expected output of any seed is the sum of the pinned per-variant
outputs (`pins.json`, see check.py), and the output check works for
seeds that were never run before.

Pure Python (no Spark): pages are written to parquet with pyarrow, so
the timed run reads parquet the way a production run does.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import random
import re

from gpml2pvjson_js_spark import corpus as C

N_VARIANTS = 4
N_GIANT_VARIANTS = 4

# page kinds from the corpus fixture mix, plus two malformed kinds whose
# fragments quarantine with the two reasons the parser knows
FIXTURE_KINDS = [kind for kind, _ in C.PAGE_MIX]
MALFORMED_KINDS = ["bad-xml", "bad-ns"]

# per workload: the pipeline stages it runs (stages.py), copies of
# each fixture kind, malformed pages (split evenly between the two
# malformed kinds), giant pages, and parquet files
WORKLOADS = {
    # a corpus through the page-proportional stages (mentions,
    # quarantine, text): the Python GPML parse, scans and snapshot
    # writes scale with the data; giant pages land on single parse
    # tasks. The timed run is a fresh session's first, so JVM and
    # Python worker start-up are much of its cost; a warm-up run before
    # it was not steadier in CPU seconds (IQR/median 0.19 over ten
    # seeds).
    "bulk": {"stages": "ingest", "fixture_copies": 24, "malformed": 16,
             "giant": 4, "files": 8},
    # one small batch, with one giant page, through every stage of
    # Pipeline.run in a fresh session: per-run driver cost (Catalyst
    # analysis, py4j, lazy checkpoints) dominates and executors sit
    # mostly idle; the giant page puts waypoint synthesis, group
    # bboxes and JSON-LD assembly of one large document on single tasks
    "pipeline": {"stages": "pipeline", "fixture_copies": 2,
                 "malformed": 2, "giant": 1, "files": 2},
}

HOT_SHARE = 0.125
_EPOCH = _dt.datetime(2020, 1, 6, tzinfo=_dt.timezone.utc)
_WORDS = (
    "pathway protein gene signal kinase receptor binding cell nucleus "
    "membrane transcription enzyme metabolite reaction complex activation "
    "inhibition phosphorylation expression regulation molecular cascade "
    "ligand channel transport stress apoptosis mitosis repair"
).split()

_COORD_RE = re.compile(r' (CenterX|CenterY|X|Y)="(-?[0-9.]+)"')
_LABEL_RE = re.compile(r' TextLabel="([^"]*)"')
_XREF_ID_RE = re.compile(r'(<Xref Database="[^"]+" ID=")([^"]+)"')


def _rng(*key) -> random.Random:
    h = hashlib.sha256(":".join(map(str, key)).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def vary(gpml: str, variant: int) -> str:
    """Variant `variant` of a fixture: v > 0 shifts every absolute
    coordinate, odd v suffixes every label, v >= 2 suffixes every
    non-empty xref identifier. v = 0 is the fixture itself."""
    if variant == 0:
        return gpml
    dx, dy = 40.0 * variant, 25.0 * variant
    gpml = _COORD_RE.sub(
        lambda m: f' {m[1]}="{float(m[2]) + (dx if "X" in m[1] else dy)}"',
        gpml)
    if variant % 2:
        gpml = _LABEL_RE.sub(
            lambda m: f' TextLabel="{m[1]} v{variant}"', gpml)
    if variant >= 2:
        gpml = _XREF_ID_RE.sub(lambda m: f'{m[1]}{m[2]}{variant}"', gpml)
    return gpml


GIANT_NODES = 200
GIANT_CHAIN_DEPTH = 6  # deeper than waypoints.MAX_ROUNDS (4)


def giant_gpml(variant: int) -> str:
    """One large pathway built from the corpus element builders:
    hundreds of nodes in groups, states on every fifth node, straight
    edges, and chains of Elbow/Curved edges where each edge attaches to
    an anchor on the previous one, deeper than the waypoint rounds.
    Every variant has the same element counts; the variant picks types,
    styles and arrowheads."""
    rng = _rng("giant", variant)
    parts = []
    groups = []
    for i in range(GIANT_NODES):
        group = f"gg{i // 8:03d}" if i % 3 == 0 else None
        parts.append(C._datanode(
            f"n{i:04x}", f"GN{variant}-{i}", rng.choice(
                ["GeneProduct", "Protein", "Metabolite", "Rna"]),
            cx=100.0 + (i % 20) * 110.0, cy=100.0 + (i // 20) * 70.0,
            zorder=32768 + i, xref=("Entrez Gene", str(800000 + i)),
            group_ref=group))
        if group and group not in groups:
            groups.append(group)
        if i % 5 == 0:
            parts.append(C._state(f"s{i:04x}", f"n{i:04x}", label="P"))
    for g in groups:
        parts.append(C._group(g, f"{g}id", style=rng.choice(
            ["Group", "Complex", None])))
    # straight edges between neighbouring nodes
    for i in range(0, GIANT_NODES - 1, 2):
        parts.append(C._interaction(f"e{i:04x}", [
            C._point(0.0, 0.0, f"n{i:04x}", 1.0, 0.0),
            C._point(0.0, 0.0, f"n{i + 1:04x}", -1.0, 0.0,
                     rng.choice(["Arrow", "TBar", "mim-conversion"])),
        ], zorder=12288 + i))
    # curvy chains: edge k+1 starts at a node and ends on an anchor of
    # edge k, so resolving edge k+1 needs edge k's points
    for c in range(GIANT_NODES // 20):
        base = c * 20
        for k in range(GIANT_CHAIN_DEPTH):
            eid = f"c{c:02x}{k:02x}"
            src = f"n{base + k:04x}"
            if k == 0:
                end = C._point(0.0, 0.0, f"n{base + 19:04x}", 0.0, -1.0,
                               "Arrow")
            else:
                end = C._point(0.0, 0.0, f"a{c:02x}{k - 1:02x}", 0.0, 0.0,
                               "mim-catalysis")
            parts.append(C._interaction(
                eid, [C._point(0.0, 0.0, src, 0.0, 1.0), end],
                anchors=((f"a{c:02x}{k:02x}", 0.5, "None"),),
                zorder=20000 + c * 16 + k,
                connector_type="Elbow" if k % 2 == 0 else "Curved"))
    return C._doc(
        C._pathway_open(name=f"giant {variant}", board_w=2400.0,
                        board_h=100.0 + 70.0 * (GIANT_NODES // 20 + 1)),
        *parts)


def fragments(kind: str, variant: int) -> list[str]:
    """GPML fragments embedded in a page of (kind, variant)."""
    if kind == "giant":
        return [giant_gpml(variant)]
    if kind == "bad-xml":
        good = vary(C.FIXTURES["interactions"](), variant)
        return [good[: len(good) // 2]]
    if kind == "bad-ns":
        good = vary(C.FIXTURES["data-nodes"](), variant)
        return [good.replace(C.GPML_NS, "http://pathvisio.org/GPML/2010a")]
    names = dict(C.PAGE_MIX)[kind]
    return [vary(C.FIXTURES[name](), variant) for name in names]


def catalog() -> list[tuple[str, int]]:
    """Every (kind, variant) a workload can draw."""
    out = [(k, v) for k in FIXTURE_KINDS + MALFORMED_KINDS
           for v in range(N_VARIANTS)]
    out += [("giant", v) for v in range(N_GIANT_VARIANTS)]
    return out


def page(kind: str, variant: int, url: str, rng: random.Random) -> dict:
    paras = [" ".join(rng.choice(_WORDS) for _ in range(rng.randint(4, 12)))
             + "." for _ in range(rng.randint(1, 4))]
    body = [f"<p>{p}</p>" for p in paras]
    for frag in fragments(kind, variant):
        body.append('<script type="application/gpml+xml">\n' + frag
                    + "\n</script>")
    html = (f"<html><head><title>{kind}</title></head><body>\n"
            + "\n".join(body) + "\n</body></html>")
    return {"url": url, "html": html.encode("utf-8"),
            "text": "\n".join(paras), "key": f"{kind}:{variant}"}


def kinds(workload: str) -> list[str]:
    """The fixed multiset of page kinds of a workload."""
    spec = WORKLOADS[workload]
    out = FIXTURE_KINDS * spec["fixture_copies"]
    out += [MALFORMED_KINDS[i % 2] for i in range(spec["malformed"])]
    out += ["giant"] * spec["giant"]
    return out


def plan(workload: str, seed: int, batch: int = 0) -> list[dict]:
    """The pages of one batch of a workload and seed."""
    order = kinds(workload)
    _rng(workload, seed, batch, "order").shuffle(order)
    out = []
    for i, kind in enumerate(order):
        rng = _rng(workload, seed, batch, i)
        variant = rng.randrange(
            N_GIANT_VARIANTS if kind == "giant" else N_VARIANTS)
        domain = ("hot.example" if rng.random() < HOT_SHARE
                  else f"site{rng.randrange(97)}.example")
        url = f"https://{domain}/{kind}/{seed}-{batch}-{i}"
        p = page(kind, variant, url, rng)
        p["warc_ts"] = _EPOCH + _dt.timedelta(seconds=i)
        out.append(p)
    return out


# the corpus schema as Spark reads the files write_pages writes
PAGES_DDL = ("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, "
             "lang STRING")


def write_pages(pages: list[dict], path: str, n_files: int) -> None:
    """Write pages as `n_files` parquet files in the corpus schema
    (url, warc_ts, html, text, lang), round-robin by page index."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()), ("text", pa.string()),
        ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        part = pages[f::n_files]
        table = pa.table({
            "url": [p["url"] for p in part],
            "warc_ts": [p["warc_ts"] for p in part],
            "html": [p["html"] for p in part],
            "text": [p["text"] for p in part],
            "lang": ["en"] * len(part),
        }, schema=schema)
        pq.write_table(table, os.path.join(path, f"part-{f:03d}.parquet"))
