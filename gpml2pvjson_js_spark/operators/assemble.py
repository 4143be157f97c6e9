"""Assemble the document model: pages -> the one pass per page, which
writes every snapshot of the pipeline itself: the mentions, the
quarantine, the text, the five model frames (nodes, edges, citations,
vocabularies, pathways), the interactions, the triples, the JSON-LD
documents, the linked mentions and the canonical triples.

This is the Spark-first replacement for the reference's streaming
compiler from bytes to documents (bin/gpml2pvjson splits its input
into pathway chunks; src/Processor.ts:88-121 compiles one) and its
dataflow scheduler + topological fixpoint (O2,
src/2013a/toPvjson.ts:470-710): every element converts on its own,
and every reference the triple/JSON-LD outputs need (state->parent,
group->members, edge->target, anchor->edge, burr->host) stays inside
one (url, frag), which never spans two pages. Linking and
canonicalization read only the dictionary beyond the document, and the
dictionary is a driver-built Python index (linking.link_index) handed
to the pass.

The pass (`build_document_model`) is one `mapInArrow` over the pages as
`SnapshotStore.layout` lays them out (the batch's one exchange),
sorted within partitions on (bucket, url), so the pages of one url are
adjacent and every output comes out sorted by bucket. Each task
compiles its pages one url at a time (document.compile_page_group,
which quarantines a document whose compile raises), its rows as their
frames store them (frames.stored), written as given. Each
output keeps its compiled rows pending, with the bucket of each row,
until their estimated Arrow bytes reach a row group
(ROW_GROUP_BYTES); then one `stage_table` call turns them into an
Arrow table of that output's own frame (frames.OUTPUTS) plus
`bucket`, which is written to the output's parquet file as one row
group. So a task builds one table per row group, not one per url,
and holds one url's rows plus, per output, the pending rows of at
most one row group, however large its partition. Those rows are
Python rows, which take about twice their Arrow bytes (the compiled
rows of the 380-page `bulk` corpus: 27 MB under tracemalloc, for 14.6
MB of Arrow tables over the 13 outputs). Each file has a hidden temp
name unique to the task attempt until the task has written its
partition, then is renamed. It yields one row per file
(FILE_ROW). Collecting those rows is the batch's only action,
so a batch runs two Spark jobs: the layout's map stage and the pass.
The driver then commits each output from its rows
(plans/pipeline.py, `SnapshotStore.commit_files`), and writes the one
empty file of an output no task had a row of (`write_empty_file`).

Why a side effect of an Arrow UDF, against "DataFrame + Arrow UDFs
throughout": with Spark's writer each of the 13 stages was its own job
over a staging of every role's columns, so the driver analysed,
code-generated and JIT-compiled 13 plans, each commit scanned the
whole staging, and the pass's output went back into JVM rows and into
blocks for those scans. Writing where the rows are made removes all
of it. What Spark's writer gave is kept: each file is what it writes
for the same schema (REQUIRED/OPTIONAL, the LIST encoding, the
physical types and the `org.apache.spark.sql.parquet.row.metadata`
footer; tests/test_pipeline.py checks each output), a task's file
appears whole or not at all (temp name, then rename), and the manifest
is the commit marker.

File systems: the snapshot root must be a POSIX path that the driver
and every executor see as the same directory (a local disk in local
mode, a shared mount on a cluster): the tasks write it, and the
driver sweeps it, with plain file calls. The driver checks that every
file a task reported is there before it commits a stage, so a root it
does not share with the executors fails the commit rather than
committing what it cannot see. Object stores (s3, gs, abfs) are out
of scope.

The pass always writes into a store its caller owns, and only
`Pipeline.run` commits it: what `run` returns (plans/pipeline.Snapshots)
is the one read shape of the package, and the operators, the driver
contract and the benchmarks read what the pipeline commits, as its
frames. A caller that wants one document's rows without Spark calls
the pass's own function, document.compile_page_group, as the stdin CLI
(__main__.py) and the golden scorer (golden.py) do.
A per-document topo-level operator is still provided in plans/topo.py
for hyperedge-depth diagnostics and cycle quarantine.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections import Counter
from itertools import groupby
from operator import itemgetter
from typing import Callable, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import document as D
from . import frames
from .linking import link_index
from .parse import text_schema

BUCKET = T.StructField("bucket", T.IntegerType())
# one row per file the pass wrote; a task's compile seconds and its
# quarantined rows per `error` prefix are on each of its rows
FILE_ROW = T.StructType([
    T.StructField("stage", T.StringType()),
    T.StructField("file", T.StringType()),
    T.StructField("rows", T.LongType()),
    T.StructField("bucket_min", T.IntegerType()),
    T.StructField("bucket_max", T.IntegerType()),
    T.StructField("write_s", T.DoubleType()),
    T.StructField("task", T.IntegerType()),
    T.StructField("compile_s", T.DoubleType()),
    T.StructField("quarantined", T.MapType(T.StringType(), T.LongType())),
])
_FILE_ROW = to_arrow_schema(FILE_ROW)


def _spark_footer(schema: T.StructType, version: str) -> dict:
    """The key-value metadata Spark's parquet writer (of Spark
    `version`) puts in the footer of a file of `schema`."""
    return {"org.apache.spark.sql.parquet.row.metadata":
            json.dumps(schema.jsonValue(), separators=(",", ":")),
            "org.apache.spark.version": version}


class _Sink(NamedTuple):
    """One output as a task writes it."""
    stage: str
    data: str  # its data directory
    schema: pa.Schema  # its frame, then bucket; Spark's footer
    roles: tuple[str, ...]
    fields: list[str]  # per frame field, the row field it reads
    # a row's Arrow bytes of fixed width (values, and offsets of the
    # variable-width ones), and the getter of its variable-width values
    # (arrow_bytes)
    fixed: int
    sized: Callable[[dict], tuple]


def _sink(stage: str, data: str, schema: T.StructType,
          out: frames.Output, version: str) -> _Sink:
    footer = _spark_footer(schema, version)
    arrow = to_arrow_schema(schema).with_metadata(footer)
    fields = [out.read.get(f.name, f.name)
              for f in schema.fields if f.name != "bucket"]
    fixed, sized = 4, []  # 4: the int32 bucket
    for name, field in zip(fields, arrow):
        if pa.types.is_primitive(field.type):
            fixed += (field.type.bit_width + 7) // 8
        else:
            fixed += 4  # its offset
            sized.append(name)
    # every output has two variable-width fields or more (url and
    # another), so the getter returns a tuple
    return _Sink(stage, data, arrow, out.roles, fields, fixed,
                 itemgetter(*sized))


def write_empty_file(data: str, schema: T.StructType, version: str) -> str:
    """Write into `data` the one file Spark's writer (of Spark
    `version`) makes of an empty frame of `schema`: no row group, and
    the schema and footer of the pass's files. Returns its name."""
    name = f"part-00000-{uuid.uuid4().hex}.parquet"
    arrow = to_arrow_schema(schema).with_metadata(
        _spark_footer(schema, version))
    pq.ParquetWriter(os.path.join(data, name), arrow).close()
    return name


def stage_table(sink: _Sink, recs: list[dict],
                buckets: list[int]) -> pa.Table:
    """`sink`'s rows `recs` (of its roles, any number of urls) as its
    Arrow table, each row with its bucket in `buckets`, its rows as
    given (frames.stored made them). A null in a non-nullable field
    raises a ValueError that names it (pyarrow would write a file no
    reader can read)."""
    columns = []
    for name, field in zip(sink.fields, sink.schema):
        column = pa.array([r[name] for r in recs], field.type)
        if column.null_count and not field.nullable:
            raise ValueError(
                f"{sink.stage}.{field.name}: {column.null_count} null(s) "
                "in a non-nullable field")
        columns.append(column)
    columns.append(pa.array(buckets, pa.int32()))
    return pa.Table.from_arrays(columns, schema=sink.schema)


def arrow_bytes(sink: _Sink, recs: list[dict]) -> int:
    """An estimate of the Arrow bytes of `sink`'s rows `recs`, cheap
    beside building their table: each row's fixed-width bytes, plus the
    length of each of its variable-width values (a string's characters,
    a list's or a map's entries)."""
    return sink.fixed * len(recs) + sum([
        len(v) for r in recs for v in sink.sized(r) if v is not None])


def _pages_by_url(batches):
    """(bucket, [(url, html), ...]) for each url in `batches`, which are
    sorted on (bucket, url), so the pages of one url are adjacent."""
    rows = (row for batch in batches for row in zip(
        batch["url"].to_pylist(), batch["html"].to_pylist(),
        batch["bucket"].to_pylist()))
    for (_, bucket), group in groupby(rows, key=lambda r: (r[0], r[2])):
        yield bucket, [(url, html) for url, html, _ in group]


# the estimated Arrow bytes (arrow_bytes) of one output's rows that a
# pass task keeps pending before it writes them as a row group: with
# one url's rows, what a task holds per output, however many pages its
# partition has. The pending rows are Python rows, which take about
# twice their Arrow bytes.
ROW_GROUP_BYTES = 8 << 20


class _File:
    """One output's file of one task attempt. Its rows stay pending,
    each with its bucket, until their estimated Arrow bytes reach a
    row group; then one table of them is written as one row group,
    into the file, which is opened under a hidden temp name on its
    first. `close` writes the rest and renames the file into place."""

    def __init__(self, sink: _Sink, name: str, row_group_bytes: int):
        self.sink, self.name = sink, name
        self.path = os.path.join(sink.data, name)
        self.tmp = os.path.join(sink.data, f".{name}.tmp")
        self.row_group_bytes = row_group_bytes
        self.writer = None
        self.pending, self.buckets, self.pending_bytes = [], [], 0
        self.rows, self.lo, self.hi = 0, None, None
        self.arrow_s = self.write_s = 0.0

    def add(self, rows: dict, bucket: int) -> None:
        """Add the output's rows out of one url's `rows` by role."""
        recs = [r for role in self.sink.roles for r in rows.get(role, ())]
        if not recs:
            return
        t0 = time.perf_counter()
        self.pending += recs
        self.buckets += [bucket] * len(recs)
        self.pending_bytes += arrow_bytes(self.sink, recs)
        self.arrow_s += time.perf_counter() - t0
        self.rows += len(recs)
        self.lo = bucket if self.lo is None else min(self.lo, bucket)
        self.hi = bucket if self.hi is None else max(self.hi, bucket)
        if self.pending_bytes >= self.row_group_bytes:
            self._flush()

    def _flush(self) -> None:
        t0 = time.perf_counter()
        table = stage_table(self.sink, self.pending, self.buckets)
        self.pending, self.buckets, self.pending_bytes = [], [], 0
        t1 = time.perf_counter()
        if self.writer is None:
            self.writer = pq.ParquetWriter(self.tmp, self.sink.schema)
        self.writer.write_table(table)
        self.arrow_s += t1 - t0
        self.write_s += time.perf_counter() - t1

    def close(self) -> dict | None:
        """Write what is pending, close and rename the file: its
        FILE_ROW fields; None if it got no rows."""
        if not self.rows:
            return None
        if self.pending:
            self._flush()
        t0 = time.perf_counter()
        self.writer.close()
        os.replace(self.tmp, self.path)
        self.write_s += time.perf_counter() - t0
        return {"stage": self.sink.stage, "file": self.name,
                "rows": self.rows, "bucket_min": self.lo,
                "bucket_max": self.hi, "write_s": self.write_s}

    def abort(self) -> None:
        """Remove the file, written or not."""
        if self.writer is not None:
            try:
                self.writer.close()
            except Exception:  # the error that aborts the task stands
                pass
        for path in (self.tmp, self.path):
            if os.path.exists(path):
                os.remove(path)


def _pass(index, sinks: list[_Sink], run: str, row_group_bytes: int):
    """The pass's function: one partition of laid-out pages -> its
    files, written, as FILE_ROW batches. A task writes one file per
    output it holds rows of, named for its attempt (`taskAttemptId` is
    unique in the application, so no two attempts share a name, and a
    failed attempt removes only its own files). A task's `compile_s` is
    its compile plus its Arrow tables."""

    def write_partition(batches):
        ctx = TaskContext.get()
        name = (f"part-{ctx.partitionId():05d}-{run}"
                f"-t{ctx.taskAttemptId()}.parquet")
        files = [_File(sink, name, row_group_bytes) for sink in sinks]
        compile_s, quarantined = 0.0, Counter()
        try:
            for bucket, pages in _pages_by_url(batches):
                t0 = time.perf_counter()
                rows = D.compile_page_group(pages, index)
                compile_s += time.perf_counter() - t0
                for f in files:
                    f.add(rows, bucket)
                quarantined.update(r["error"].split(":", 1)[0]
                                   for r in rows["quarantine"]
                                   if r["error"] is not None)
            written = [f.close() for f in files]
        except BaseException:
            for f in files:
                f.abort()
            raise
        compile_s += sum(f.arrow_s for f in files)
        out = [{**w, "task": ctx.partitionId(), "compile_s": compile_s,
                "quarantined": list(quarantined.items())}
               for w in written if w is not None]
        if out:
            yield pa.RecordBatch.from_pylist(out, schema=_FILE_ROW)

    return write_partition


class PassFiles(NamedTuple):
    """What one pass wrote, for the driver to commit."""
    schemas: dict[str, T.StructType]  # each output's: frame, then bucket
    files: dict[str, list[dict]]  # each output's FILE_ROW rows
    started: float  # unix time the pass started
    collect_s: float  # its one action


def pass_frame(spark: SparkSession, pages: DataFrame, store,
               stages) -> tuple[DataFrame, dict[str, T.StructType]]:
    """The pass over `pages(url, html)` into `store` (plans/pipeline.py,
    SnapshotStore), writing the outputs `stages` (frames.OUTPUTS
    names), each uncommitted first: the lazy frame of its FILE_ROW
    rows, and each output's schema (its frame, then bucket)."""
    index = link_index()
    run = uuid.uuid4().hex
    schemas, sinks = {}, []
    for stage in stages:
        out = frames.OUTPUTS[stage]
        frame = text_schema(pages) if stage == "text" else out.frame
        schemas[stage] = T.StructType([*frame.fields, BUCKET])
        sinks.append(_sink(stage, store.uncommit(stage), schemas[stage],
                           out, spark.version))
    laid = store.layout(pages.select("url", "html")) \
        .sortWithinPartitions("bucket", "url")
    return laid.mapInArrow(_pass(index, sinks, run, ROW_GROUP_BYTES),
                           FILE_ROW), schemas


def build_document_model(spark: SparkSession, pages: DataFrame, store,
                         stages) -> PassFiles:
    """The one pass over `pages` (`pass_frame`): it writes the outputs
    `stages` into the snapshot `store` (plans/pipeline.py,
    SnapshotStore) and returns what it wrote, uncommitted: the caller
    (`Pipeline.run`) commits each output from the returned rows. If
    the pass fails, every file of its outputs is removed."""
    df, schemas = pass_frame(spark, pages, store, stages)
    started = time.time()
    try:
        rows = df.collect()
    except BaseException:
        for stage in schemas:
            store.sweep(stage)
        raise
    files = {stage: [] for stage in schemas}
    for r in rows:
        files[r["stage"]].append(r.asDict())
    return PassFiles(schemas, files, started, time.time() - started)
