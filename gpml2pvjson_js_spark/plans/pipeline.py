"""Production pipeline: pages -> mentions, text and the document model
-> interactions -> triples -> linked/canonical triples -> JSON-LD docs,
with parquet-snapshot checkpointing, per-partition lineage manifests,
and resume-from-last-committed-snapshot (BASELINE.json north_rule).

The stages run in one wave (`Pipeline.run`):

    one pass per page (parse, text, document compiler), staged
    eagerly once
      ├── mentions, quarantine, text
      ├── nodes, edges, citations, vocabularies, pathways
      ├── interactions, triples, documents
      └── linked, canonical_triples

Every stage is a projection of the pass's staged output, so none
waits for another. The staging is computed before any stage starts,
so the projections' commits only read its blocks. Linking and
canonicalization read nothing beyond the document but the dictionary,
which the compiler holds as a Python index (operators/linking.py).

Exchanges: the pass reads the pages laid out once on the snapshots'
own keys (`SnapshotStore.layout`: url-hash bucket and write salt) and
groups on those keys plus the url, so every stage commits with no
exchange: each writes over the staging's partitions. A batch plans one
exchange, the pages' layout.

Snapshot layout (Iceberg-style commit protocol on plain parquet — the
same code works against real Iceberg by swapping `_write`/`_read` for
`writeTo(...).append()` / `read.table(...)`):

    {root}/{stage}/data/part-*.parquet (one file per write task, rows
                                        sorted by url-hash `bucket`)
    {root}/{stage}/manifest.json       (commit marker + lineage)

A stage is committed iff its manifest exists; `run(resume=True)` skips
committed stages, which makes any run restartable after a crash.
Like an Iceberg manifest, it lists the data files with their row
counts and `bucket` bounds, read from the parquet footers, plus wall
time (the metrics channel the north rule requires).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import export
from ..operators.assemble import build_document_model
from ..operators.canonicalize import canonical_triples
from ..operators.frames import MODEL_FRAMES, select_frame
from ..operators.interactions import classify_interactions
from ..operators.linking import link_entities, link_index
from ..operators.parse import extracted_text, parse_gpml  # noqa: F401
from ..operators.triples import build_triples

# perfbench/layers.py times its `linking` and `canonicalize` layers by
# wrapping these names in this module. Linking and canonicalization
# run inside the document compiler, so the names stand for its index
# build and the canonical projection; Pipeline.run calls neither. Its
# `parse` and `text` layers wrap `parse_gpml` and `extracted_text`
# here, which its `bulk` workload commits; Pipeline.run calls neither
# either, since the pass parses and extracts the text itself.
xref_dictionary = link_index
canonicalize_linked = rewrite_triples = canonical_triples

N_BUCKETS_DEFAULT = 32
# write tasks per snapshot bucket (see SnapshotStore.commit)
WRITE_TASKS_PER_BUCKET = 2
# submitter threads of Pipeline.run's stage pool
STAGE_WORKERS = 4


class SnapshotStore:
    def __init__(self, root: str, n_buckets: int = N_BUCKETS_DEFAULT):
        self.root = root
        self.n_buckets = n_buckets
        os.makedirs(root, exist_ok=True)

    def _paths(self, stage: str) -> tuple[str, str]:
        return (os.path.join(self.root, stage, "data"),
                os.path.join(self.root, stage, "manifest.json"))

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(self._paths(stage)[1])

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        from pyspark.sql import types as T
        data_path, _ = self._paths(stage)
        schema_json = self.manifest(stage).get("schema")
        if schema_json:
            schema = T.StructType.fromJson(json.loads(schema_json))
            return spark.read.schema(schema).parquet(data_path)
        return spark.read.parquet(data_path)

    def manifest(self, stage: str) -> dict:
        with open(self._paths(stage)[1]) as f:
            return json.load(f)

    @staticmethod
    def _footer_files(data_path: str) -> list[dict]:
        """The committed data files, each with its row count and the
        min/max of its `bucket` column (None for an empty file or a
        frame without one), read from the parquet footers only (the
        write itself is the single data pass)."""
        import glob as _glob

        import pyarrow.parquet as pq

        files = []
        for path in sorted(_glob.glob(os.path.join(data_path, "*.parquet"))):
            md = pq.ParquetFile(path).metadata
            lo = hi = None
            leaves = [md.schema.column(i).path for i in range(md.num_columns)]
            if "bucket" in leaves:
                col = leaves.index("bucket")
                stats = [md.row_group(g).column(col).statistics
                         for g in range(md.num_row_groups)]
                stats = [st for st in stats if st is not None
                         and st.has_min_max]
                if stats:
                    lo = min(st.min for st in stats)
                    hi = max(st.max for st in stats)
            files.append({"file": os.path.basename(path),
                          "rows": md.num_rows,
                          "bucket_min": lo, "bucket_max": hi})
        return files

    def layout_keys(self, key: str = "url") -> dict:
        """The columns a laid-out frame is hash-partitioned on, by name:
        its url-hash `bucket`, and the write salt, an independent hash
        of `key` mod WRITE_TASKS_PER_BUCKET that splits each bucket
        (partitioning by bucket alone would cap the write at n_buckets
        tasks). The exchange has at most n_buckets * mult distinct
        keys, so at corpus scale each write task holds about one
        bucket."""
        return {"bucket": F.col("bucket"),
                "write_salt": F.pmod(F.xxhash64(F.col(key), F.lit(1)),
                                     F.lit(WRITE_TASKS_PER_BUCKET))}

    def layout(self, df: DataFrame, key: str = "url") -> DataFrame:
        """`df` with its url-hash `bucket`, hash-partitioned on
        `layout_keys`: the layout a snapshot is written in."""
        out = df.withColumn(
            "bucket", F.pmod(F.xxhash64(F.col(key)),
                             F.lit(self.n_buckets)).cast("int"))
        keys = self.layout_keys(key).values()
        # scale-adaptive write parallelism: the hash keys fix which
        # rows co-locate, while AQE sizes the task count, so
        # corpus-scale frames keep full parallelism (parallelismFirst
        # coalescing never drops a frame >= ~cores x
        # minPartitionSize below default parallelism) and near-empty
        # stages (quarantine, vocabularies) coalesce to a few tasks,
        # and so a few files. Without AQE (a session not built by
        # session.py) nothing would size the count-less exchange: it
        # would get spark.sql.shuffle.partitions tasks, so the count is
        # explicit then.
        aqe = df.sparkSession.conf.get(
            "spark.sql.adaptive.enabled", "true").lower() == "true"
        return out.repartition(*keys) if aqe else \
            out.repartition(self.n_buckets * WRITE_TASKS_PER_BUCKET, *keys)

    def commit(self, df: DataFrame, stage: str,
               bucket_col: str = "url") -> DataFrame:
        """Write a stage snapshot, one parquet file per write task, its
        rows hash-partitioned and sorted by url-hash bucket (the
        co-partitioning key for every per-document join), and commit a
        manifest that lists the data files with their row counts and
        bucket bounds.

        A frame that carries the write salt is laid out already: it
        projects a staging that grouped a laid-out frame on
        `layout_keys` and kept their values, like every stage of
        `Pipeline.run`. Its write runs over its own partitions with no
        exchange, and the salt is not written. Any other frame with a
        `bucket_col` is laid out here, which costs one exchange: a
        frame read straight from the pages, or a filter of a committed
        snapshot (a snapshot scan may split a file, so it does not
        keep a url in one task).

        The manifest is the commit marker, so no `_SUCCESS` file is
        written (pyarrow and Spark skip `_` files either way)."""
        data_path, manifest_path = self._paths(stage)
        t0 = time.time()
        out = df
        if "write_salt" in df.columns:
            out = df.drop("write_salt")
        elif bucket_col in df.columns:
            out = self.layout(df, bucket_col)
        if "bucket" in out.columns:
            # the sort the partitioned writer used to insert: a task
            # AQE coalesced holds several buckets, each then one run
            # of rows, so row-group and page bounds stay tight
            out = out.sortWithinPartitions("bucket")
        (out.write.mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs",
                    "false")
            .parquet(data_path))
        write_ms = int((time.time() - t0) * 1000)

        spark = df.sparkSession
        committed = spark.read.schema(out.schema).parquet(data_path)
        # per-file lineage from the parquet FOOTERS the write just
        # produced — metadata-only, no second scan (the old
        # read-back + groupBy-count was measured as the bulk of a 12x
        # snapshot-vs-lazy throughput gap)
        t1 = time.time()
        files = self._footer_files(data_path)
        footer_ms = int((time.time() - t1) * 1000)
        wall_ms = int((time.time() - t0) * 1000)
        manifest = {
            "stage": stage,
            "path": data_path,
            "schema": json.dumps(out.schema.jsonValue()),
            "n_buckets": self.n_buckets,
            "rows": sum(f["rows"] for f in files),
            "files": files,
            "wall_ms": wall_ms,
            "write_ms": write_ms,
            "footer_ms": footer_ms,
            "committed_at_unix_ms": int(time.time() * 1000),
        }
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, manifest_path)  # atomic commit marker
        return committed


STAGES = [
    "mentions", "quarantine", "nodes", "edges", "citations",
    "vocabularies", "pathways", "interactions", "triples", "linked",
    "canonical_triples", "documents", "text",
]


class Pipeline:
    """End-to-end KG construction with resumable stage snapshots."""

    def __init__(self, spark: SparkSession, pages: DataFrame, out_root: str,
                 n_buckets: int = N_BUCKETS_DEFAULT):
        self.spark = spark
        self.pages = pages
        self.store = SnapshotStore(out_root, n_buckets)

    def _stage(self, name: str, build, resume: bool) -> DataFrame:
        if resume and self.store.is_committed(name):
            return self.store.read(self.spark, name)
        return self.store.commit(build(), name)

    def _release_stage_blocks(self, persisted_before: set) -> None:
        """Unpersist the localCheckpointed RDDs this run staged.

        The model staging (assemble._stage) is plan-cutting
        scaffolding; once every stage is committed to parquet nobody
        reads it again — but its serialized blocks stay pinned in the
        block manager until the JVM happens to GC the RDD handles. On
        a long-lived driver submitting repeated jobs that accumulation
        is a cliff, not a slope (measured: the same sf0.1 job in one
        JVM ran 61.5 s -> 40.4 s -> 152.8 s as persistent RDDs grew
        24 -> 41 -> 57; with release, flat).
        Only RDDs persisted DURING this run are touched."""
        try:
            sc = self.spark.sparkContext._jsc.sc()
            for rdd_id in self._persisted_ids() - persisted_before:
                # SparkContext.unpersistRDD, not RDD.unpersist: the
                # latter WARNs that a locally checkpointed RDD's lineage
                # is truncated before releasing the same blocks
                sc.unpersistRDD(rdd_id, False)
        except Exception:
            pass  # cleanup is best-effort; never fail a committed run

    def _persisted_ids(self) -> set:
        try:
            jsc = self.spark.sparkContext._jsc.sc()
            ids, it = set(), jsc.getPersistentRDDs().toList().iterator()
            while it.hasNext():
                ids.add(it.next()._1())
            return ids
        except Exception:
            return set()

    def run(self, resume: bool = True) -> dict[str, DataFrame]:
        """Build the staging, then execute the stages in STAGES order
        on one pool of STAGE_WORKERS threads.

        The staging is one pass per page (build_document_model), laid
        out as the store commits, built on the calling thread unless a
        resumed run finds every stage committed. It is eager, so the
        pass runs exactly once before any stage starts, and no two
        commits race to compute the same lazy block. Every stage
        projects it, so none waits for another, and each commits with
        no exchange (SnapshotStore.commit). A resumed run with any
        stage uncommitted re-runs the pass over the pages, which is
        deterministic.

        A failed stage cancels the stages still queued, and its
        exception is re-raised. Committed or not, the blocks the run
        staged are released (_release_stage_blocks).

        Why threads on the driver: each stage commit has two serial
        phases — driver-side analysis/optimization/codegen (single
        JVM thread per plan) and cluster execution. Running
        independent stages on separate submitter threads overlaps
        stage A's planning with stage B's execution, which removed
        most of the serial, parallelism-independent share of a run
        (BENCH/PLANS.md round-2 final). Spark job submission and
        Catalyst are thread-safe; snapshots land in per-stage dirs.
        """
        from concurrent.futures import ThreadPoolExecutor, as_completed

        model = None
        # The "mentions" snapshot holds the UNFILTERED parse output (ok
        # + quarantined rows); the run returns its ok rows.
        builds = {
            "mentions": lambda: select_frame(model["compiled"],
                                             "mentions", "quarantine"),
            # the quarantined mentions, the per-url extracted text (the
            # byte-identical invariant) and the model frames
            **{name: lambda n=name: model[n]
               for name in ("quarantine", "text", *MODEL_FRAMES)},
            "interactions": lambda: classify_interactions(model),
            "triples": lambda: build_triples(model),
            # JSON-LD documents (NDJSON-ready, S5/JS1/JS2)
            "documents": lambda: export.jsonld_documents(model),
            "linked": lambda: link_entities(model),
            "canonical_triples": lambda: canonical_triples(model),
        }

        futures: dict = {}

        def cancel_queued(fut) -> None:
            # runs on a failed stage's worker before it can take the
            # next stage, so the stages still queued never start
            if not fut.cancelled() and fut.exception() is not None:
                for queued in list(futures.values()):
                    queued.cancel()

        persisted_before = self._persisted_ids()
        ex = ThreadPoolExecutor(max_workers=STAGE_WORKERS)
        try:
            if not resume or not all(map(self.store.is_committed, STAGES)):
                model = build_document_model(self.spark, self.pages,
                                             store=self.store)
            for name in STAGES:
                futures[name] = ex.submit(self._stage, name, builds[name],
                                          resume)
                futures[name].add_done_callback(cancel_queued)
            names = {fut: name for name, fut in futures.items()}
            # in completion order, so a failure re-raises at once
            out = {names[fut]: fut.result() for fut in as_completed(names)}
        finally:
            ex.shutdown(cancel_futures=True)
            self._release_stage_blocks(persisted_before)
        out["mentions"] = out["mentions"].filter(
            F.col("gpml_element_name") != "_error")
        return out

    def metrics(self) -> dict:
        return {s: self.store.manifest(s)
                for s in STAGES if self.store.is_committed(s)}
