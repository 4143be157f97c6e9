"""Production pipeline: pages -> mentions -> document model ->
interactions -> triples -> linked/canonical triples -> JSON-LD docs,
with parquet-snapshot checkpointing, per-partition lineage manifests,
and resume-from-last-committed-snapshot (BASELINE.json north_rule).

The stage DAG (`Pipeline.run`):

    text
    mentions ── quarantine
        └── document compiler, staged once
              ├── nodes, edges, citations, vocabularies, pathways
              ├── interactions, triples, documents
              └── linked, canonical_triples

Every stage under the compiler is a projection of its staged output,
so each waits only for `mentions`. Linking and canonicalization read
nothing beyond the document but the dictionary, which the compiler
holds as a Python index (operators/linking.py).

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
from ..operators.frames import MODEL_FRAMES
from ..operators.interactions import classify_interactions
from ..operators.linking import link_entities, link_index
from ..operators.parse import extracted_text, parse_gpml
from ..operators.triples import build_triples

# perfbench/layers.py times its `linking` and `canonicalize` layers by
# wrapping these names in this module. Linking and canonicalization
# run inside the document compiler, so the names stand for its index
# build and the canonical projection; Pipeline.run calls neither.
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

    def commit(self, df: DataFrame, stage: str,
               bucket_col: str = "url") -> DataFrame:
        """Write a stage snapshot, one parquet file per write task, its
        rows hash-partitioned and sorted by url-hash bucket (the
        co-partitioning key for every per-document join), and commit a
        manifest that lists the data files with their row counts and
        bucket bounds.

        The manifest is the commit marker, so no `_SUCCESS` file is
        written (pyarrow and Spark skip `_` files either way)."""
        data_path, manifest_path = self._paths(stage)
        t0 = time.time()
        out = df
        if bucket_col in df.columns:
            out = df.withColumn(
                "bucket",
                F.pmod(F.xxhash64(F.col(bucket_col)),
                       F.lit(self.n_buckets)).cast("int"))
            # mult tasks per bucket (an independent seeded hash splits
            # each bucket): partitioning by bucket alone would cap the
            # write at n_buckets tasks. The exchange has at most
            # n_buckets * mult distinct keys, so at corpus scale each
            # write task holds about one bucket.
            mult = WRITE_TASKS_PER_BUCKET
            keys = (F.col("bucket"),
                    F.pmod(F.xxhash64(F.col(bucket_col), F.lit(1)),
                           F.lit(mult)))
            # scale-adaptive write parallelism: the hash keys fix which
            # rows co-locate, while AQE sizes the task count, so
            # corpus-scale frames keep full parallelism (parallelismFirst
            # coalescing never drops a frame >= ~cores x
            # minPartitionSize below default parallelism) and
            # near-empty stages (quarantine, vocabularies) coalesce to
            # a few tasks, and so a few files. Without AQE (a session
            # not built by session.py) nothing would size the
            # count-less exchange: it would get
            # spark.sql.shuffle.partitions tasks, so the count is
            # explicit then.
            aqe = df.sparkSession.conf.get(
                "spark.sql.adaptive.enabled", "true").lower() == "true"
            out = out.repartition(*keys) if aqe else \
                out.repartition(self.n_buckets * mult, *keys)
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
        """Unpersist the lazily-localCheckpointed RDDs this run staged.

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
        """Execute the stage DAG CONCURRENTLY on a fixed pool of
        STAGE_WORKERS threads: whenever a worker is free, the
        highest-ranked stage whose dependencies are committed starts on
        it. When the run ends, committed or not, the blocks it staged
        are released (_release_stage_blocks).

        Why threads on the driver: each stage commit has two serial
        phases — driver-side analysis/optimization/codegen (single
        JVM thread per plan) and cluster execution. Running
        independent stages on separate submitter threads overlaps
        stage A's planning with stage B's execution, which removed
        most of the serial, parallelism-independent share of a run
        (BENCH/PLANS.md round-2 final). Spark job submission and
        Catalyst are thread-safe; snapshots land in per-stage dirs.
        """
        import threading
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor
        from concurrent.futures import wait as futures_wait

        spark, pages = self.spark, self.pages
        out: dict[str, DataFrame] = {}

        # The "mentions" snapshot holds the UNFILTERED parse output
        # (ok + quarantined rows); quarantine and the model derive
        # from the committed snapshot by filters (pushed down to the
        # parquet scan), so a run never re-parses raw pages.
        parsed_holder: dict = {}
        model_cache: dict = {}
        model_lock = threading.Lock()

        def model() -> dict:
            with model_lock:
                if not model_cache:
                    # the model's one staging runs the document
                    # compiler inside the first commit that reads it;
                    # the other projections' commits then only read
                    # its blocks
                    model_cache.update(build_document_model(
                        spark, pages, mentions=parsed_holder["df"]))
                return model_cache

        def projection(build):
            """A stage that projects the staged model: it waits only
            for the mentions."""
            return ["mentions"], lambda: build(model())

        builds: dict[str, tuple[list, object]] = {
            "mentions": ([], lambda: parse_gpml(pages)),
            "quarantine": (["mentions"], lambda: parsed_holder["df"]
                           .filter(F.col("gpml_element_name") == "_error")),
            **{name: projection(lambda m, n=name: m[n])
               for name in MODEL_FRAMES},
            "interactions": projection(classify_interactions),
            "triples": projection(build_triples),
            # JSON-LD documents (NDJSON-ready, S5/JS1/JS2)
            "documents": projection(export.jsonld_documents),
            "linked": projection(link_entities),
            "canonical_triples": projection(canonical_triples),
            # per-url extracted text (the byte-identical invariant)
            "text": ([], lambda: extracted_text(pages)),
        }

        # Start priority among eligible stages. At most STAGE_WORKERS
        # stages are in flight, and each freed worker takes the
        # highest-ranked eligible stage. `text` waits for nothing and
        # every other stage only for `mentions`. The first stages to
        # start after `mentions` compute the compiler's staging inside
        # their commits, and the ones after them only read its blocks.
        priority = ["mentions", "text", "nodes", "triples", "documents",
                    "edges", "linked", "canonical_triples",
                    "interactions", "pathways", "citations",
                    "vocabularies", "quarantine"]
        rank = {n: i for i, n in enumerate(priority)}

        done: set[str] = set()
        futures: dict[str, object] = {}
        persisted_before = self._persisted_ids()
        try:
            with ThreadPoolExecutor(max_workers=STAGE_WORKERS) as ex:
                while len(done) < len(builds):
                    eligible = sorted(
                        (name for name, (deps, _) in builds.items()
                         if name not in done and name not in futures
                         and all(d in done for d in deps)),
                        key=lambda n: rank.get(n, len(rank)))
                    for name in eligible[:STAGE_WORKERS - len(futures)]:
                        futures[name] = ex.submit(
                            self._stage, name, builds[name][1], resume)
                    if not futures:
                        raise RuntimeError("pipeline stage deadlock")
                    futures_wait(list(futures.values()),
                                 return_when=FIRST_COMPLETED)
                    for name, fut in list(futures.items()):
                        if fut.done():
                            df = fut.result()  # re-raises stage failures
                            if name == "mentions":
                                parsed_holder["df"] = df
                                out["mentions"] = df.filter(
                                    F.col("gpml_element_name") != "_error")
                            else:
                                out[name] = df
                            done.add(name)
                            del futures[name]
        finally:
            self._release_stage_blocks(persisted_before)
        return out

    def metrics(self) -> dict:
        return {s: self.store.manifest(s)
                for s in STAGES if self.store.is_committed(s)}
