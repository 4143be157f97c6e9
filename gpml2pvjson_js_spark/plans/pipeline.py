"""Production pipeline: pages -> mentions -> document model ->
interactions -> triples -> linked/canonical triples -> JSON-LD docs,
with parquet-snapshot checkpointing, per-partition lineage manifests,
and resume-from-last-committed-snapshot (BASELINE.json north_rule).

Snapshot layout (Iceberg-style commit protocol on plain parquet — the
same code works against real Iceberg by swapping `_write`/`_read` for
`writeTo(...).append()` / `read.table(...)`):

    {root}/{stage}/data/...parquet     (partitioned by url-hash bucket)
    {root}/{stage}/manifest.json       (commit marker + lineage)

A stage is committed iff its manifest exists; `run(resume=True)` skips
committed stages, which makes any run restartable after a crash.
Manifests record per-partition row counts + wall time (the metrics
channel the north rule requires).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import entities as N
from ..operators.assemble import build_document_model
from ..operators.canonicalize import canonicalize_linked, rewrite_triples
from ..operators.interactions import classify_interactions
from ..operators.linking import link_entities, xref_dictionary
from ..operators.parse import extracted_text, parse_gpml
from ..operators.triples import TRIPLE_COLS, build_triples

N_BUCKETS_DEFAULT = 32


def _write_mult() -> int:
    return int(os.environ.get("SPARK_GRAFT_WRITE_TASKS_PER_BUCKET", "2"))


def with_bucket_cols(df: DataFrame, n_buckets: int, mult: int,
                     key: str = "url") -> DataFrame:
    """Materialize the snapshot layout keys (bucket, __wsalt) as
    columns — MUST stay expression-identical to SnapshotStore.commit's
    repartition keys so a pre-bucketed frame lands in the same layout
    the store would produce itself."""
    return (df.withColumn(
                "bucket",
                F.pmod(F.xxhash64(F.col(key)),
                       F.lit(n_buckets)).cast("int"))
              .withColumn(
                "__wsalt",
                F.pmod(F.xxhash64(F.col(key), F.lit(1)),
                       F.lit(mult)).cast("int")))


def bucketed_distinct(df: DataFrame, cols: list[str],
                      n_buckets: int, mult: int) -> DataFrame:
    """Distinct-on-`cols` fused with the snapshot layout: ONE full
    exchange hash-partitioned on (bucket, __wsalt) — which satisfies
    the dedup aggregate's ClusteredDistribution (subset rule; bucket
    and __wsalt are url functions, so a triple's duplicates all land
    in one partition) AND the writer's one-dir-per-task layout, where
    dropDuplicates + commit-repartition would shuffle the full corpus
    twice."""
    b = with_bucket_cols(df, n_buckets, mult)
    # no explicit partition count: hash keys fix the LAYOUT (which
    # rows co-locate), while AQE sizes the task count from runtime
    # bytes — coalescePartitions.parallelismFirst keeps corpus-scale
    # frames at full parallelism and shrinks near-empty ones to a
    # handful of write tasks instead of a fixed n_buckets * mult.
    b = b.repartition(F.col("bucket"), F.col("__wsalt"))
    return b.dropDuplicates(["bucket", "__wsalt"] + cols)


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
    def _footer_rowcounts(data_path: str) -> list[dict]:
        """Row counts per bucket partition from parquet file metadata
        (footers only — the write itself is the single data pass)."""
        import glob as _glob

        import pyarrow.parquet as pq

        per_part: dict[int, int] = {}
        bucket_dirs = _glob.glob(os.path.join(data_path, "bucket=*"))
        if bucket_dirs:
            for d in bucket_dirs:
                b = int(os.path.basename(d).split("=", 1)[1])
                rows = sum(pq.ParquetFile(f).metadata.num_rows
                           for f in _glob.glob(os.path.join(d, "*.parquet")))
                per_part[b] = per_part.get(b, 0) + rows
        else:
            rows = sum(pq.ParquetFile(f).metadata.num_rows
                       for f in _glob.glob(
                           os.path.join(data_path, "*.parquet")))
            per_part[0] = rows
        return [{"partition": k, "rows": v}
                for k, v in sorted(per_part.items())]

    def commit(self, df: DataFrame, stage: str,
               bucket_col: str = "url") -> DataFrame:
        """Write a stage snapshot partitioned by url-hash bucket (the
        co-partitioning key for every per-document join) and commit a
        manifest with per-partition lineage + metrics."""
        data_path, manifest_path = self._paths(stage)
        t0 = time.time()
        out = df
        if "bucket" in df.columns and "__wsalt" in df.columns:
            # PRE-BUCKETED frame (with_bucket_cols layout keys carried
            # by the operator's own exchange — bucketed_distinct /
            # jsonld_documents(bucketize=...)): the data is already
            # hash-partitioned on (bucket, __wsalt), so writing here
            # without the repartition keeps the one-dir-per-task
            # layout while skipping a second full-corpus shuffle.
            out = df.drop("__wsalt")
            (out.write.mode("overwrite").partitionBy("bucket")
                .parquet(data_path))
        elif bucket_col in df.columns:
            out = df.withColumn(
                "bucket",
                F.pmod(F.xxhash64(F.col(bucket_col)),
                       F.lit(self.n_buckets)).cast("int"))
            # 2 tasks per bucket (an independent seeded hash splits
            # each bucket), every task writing exactly ONE bucket dir.
            # Measured tradeoff: partitioning by bucket alone gives
            # <= n_buckets write tasks (under-parallel), while
            # shuffle_partitions-many tasks each writing all 64
            # partitionBy dirs held 64 open parquet writers per task
            # — row-group buffers for 2048 concurrent writers GC-
            # thrashed the JVM and the write ANTI-scaled (87 s at 32
            # cores vs 51 s at 8). One-dir-per-task with a salt is
            # both scalable and allocation-bounded.
            mult = _write_mult()
            keys = (F.col("bucket"),
                    F.pmod(F.xxhash64(F.col(bucket_col), F.lit(1)),
                           F.lit(mult)))
            # scale-adaptive write parallelism: the hash keys still
            # pin the one-dir-per-task layout for corpus-scale frames
            # (AQE's parallelismFirst coalescing never drops a frame
            # >= ~cores x minPartitionSize below default parallelism),
            # while near-empty stages (quarantine, vocabularies)
            # coalesce to a few tasks instead of paying a fixed
            # mult * n_buckets task floor per commit. Without AQE
            # (a session not built by session.py) nothing would size
            # the count-less exchange: it would get
            # spark.sql.shuffle.partitions tasks, each writing several
            # bucket dirs, so the count is explicit then.
            aqe = df.sparkSession.conf.get(
                "spark.sql.adaptive.enabled", "true").lower() == "true"
            out = out.repartition(*keys) if aqe else \
                out.repartition(self.n_buckets * mult, *keys)
            out.write.mode("overwrite").partitionBy("bucket") \
                .parquet(data_path)
        else:
            out.write.mode("overwrite").parquet(data_path)
        write_ms = int((time.time() - t0) * 1000)

        spark = df.sparkSession
        committed = spark.read.schema(out.schema).parquet(data_path)
        # per-partition lineage from the parquet FOOTERS the write just
        # produced — metadata-only, no second scan (the old
        # read-back + groupBy-count was measured as the bulk of a 12x
        # snapshot-vs-lazy throughput gap)
        t1 = time.time()
        per_part = self._footer_rowcounts(data_path)
        footer_ms = int((time.time() - t1) * 1000)
        wall_ms = int((time.time() - t0) * 1000)
        manifest = {
            "stage": stage,
            "path": data_path,
            "schema": json.dumps(out.schema.jsonValue()),
            "n_buckets": self.n_buckets,
            "rows": sum(p["rows"] for p in per_part),
            "partitions": sorted(per_part, key=lambda p: p["partition"]),
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

        The fan-out checkpoints (assemble/waypoints/topo/canonicalize)
        are plan-cutting scaffolding; once every stage is committed to
        parquet nobody reads them again — but their serialized blocks
        stay pinned in the block manager until the JVM happens to GC
        the RDD handles. On a long-lived driver submitting repeated
        jobs that accumulation is a cliff, not a slope (measured: the
        same sf0.1 job in one JVM ran 61.5 s -> 40.4 s -> 152.8 s as
        persistent RDDs grew 24 -> 41 -> 57; with release, flat).
        Only RDDs persisted DURING this run are touched."""
        try:
            jsc = self.spark.sparkContext._jsc.sc()
            it = jsc.getPersistentRDDs().toList().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() not in persisted_before:
                    kv._2().unpersist(False)
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

    def run(self, resume: bool = True,
            max_workers: int | None = None,
            release_blocks: bool = True) -> dict[str, DataFrame]:
        """Execute the stage DAG CONCURRENTLY: a stage is submitted the
        moment its dependencies are committed, on a small thread pool.

        Why threads on the driver: each stage commit has two serial
        phases — driver-side analysis/optimization/codegen (single
        JVM thread per plan; the wide entity projection alone costs
        tens of seconds regardless of cluster size) and cluster
        execution. Running independent stages on separate submitter
        threads overlaps stage A's planning with stage B's execution,
        which is exactly what removed the parallelism-independent
        serial fraction that capped N->4N scaling efficiency at ~0.5
        (BENCH/PLANS.md round-2 final). Spark job submission and
        Catalyst are thread-safe; snapshots land in per-stage dirs.
        """
        import os as _os
        import threading
        from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor
        from concurrent.futures import wait as futures_wait

        spark, pages = self.spark, self.pages
        out: dict[str, DataFrame] = {}
        max_workers = max_workers or int(
            _os.environ.get("SPARK_GRAFT_PIPELINE_WORKERS", "4"))

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
                    # stage_outputs stays ON although each returned
                    # frame has one consumer here, its commit: the
                    # checkpoints run the model's joins inside the
                    # build, so the five concurrent commits only read
                    # blocks and write. Measured on the `pipeline`
                    # benchmark (4 vCPUs): OFF saved ~5% cpu_s, but
                    # peak_rss_mb jumped by 2.5 GB in 4 of 11 runs
                    # (0 of 5 ON): the sampled process tree caught the
                    # driver JVM mid-spawn of a child process, under
                    # the load of five joins and writes at once.
                    model_cache.update(build_document_model(
                        spark, pages, mentions=parsed_holder["df"]))
                return model_cache

        xd = xref_dictionary(spark)
        MODEL5 = ["nodes", "edges", "citations", "vocabularies",
                  "pathways"]

        builds: dict[str, tuple[list, object]] = {
            "mentions": ([], lambda: parse_gpml(pages)),
            "quarantine": (["mentions"], lambda: parsed_holder["df"]
                           .filter(F.col("gpml_element_name") == "_error")),
            **{name: (["mentions"], lambda n=name: model()[n])
               for name in MODEL5},
            "interactions": (["edges", "nodes"], lambda:
                             classify_interactions(out["edges"],
                                                   out["nodes"])),
            # distinct fused with the snapshot layout: one full-corpus
            # exchange instead of dropDuplicates + commit repartition
            "triples": (MODEL5 + ["interactions"], lambda:
                        bucketed_distinct(
                            build_triples({k: out[k] for k in MODEL5},
                                          out["interactions"],
                                          dedup=False),
                            TRIPLE_COLS, self.store.n_buckets,
                            _write_mult())),
            "linked": (["nodes"], lambda: link_entities(out["nodes"],
                                                        xd)),
            # bipartite fast path: the iterative CC runs only on the
            # dictionary-scale alias graph (canonicalize_linked
            # docstring) — the generic canonical_map's per-round
            # corpus-frame barriers were the non-scaling tail in the
            # N->4N series (BENCH/PLANS.md round-4 final)
            "canonical_triples": (["triples", "linked"], lambda:
                                  rewrite_triples(
                                      out["triples"],
                                      canonicalize_linked(out["linked"],
                                                          xd))),
            # JSON-LD documents (NDJSON-ready, S5/JS1/JS2); bucketize
            # folds the grouped assembly into the snapshot layout so
            # the full document text is shuffled once, not twice
            "documents": (list(MODEL5), lambda: __import__(
                "gpml2pvjson_js_spark.operators.export",
                fromlist=["jsonld_documents"]).jsonld_documents(
                {k: out[k] for k in MODEL5},
                bucketize=(self.store.n_buckets, _write_mult()))),
            # per-url extracted text (the byte-identical invariant)
            "text": ([], lambda: extracted_text(pages)),
        }

        # Submission priority among SIMULTANEOUSLY-eligible stages
        # (ThreadPoolExecutor runs queued work FIFO, so submission
        # order is execution priority once workers are saturated).
        # Longest critical-path stages first: `documents` was the
        # single longest late stage in the 2048x decomposition
        # (BENCH/PLANS.md round 4) and it becomes eligible the moment
        # MODEL5 commits — it must not queue behind shorter work.
        priority = ["mentions", "text", "nodes", "edges", "pathways",
                    "citations", "vocabularies", "documents",
                    "interactions", "linked", "triples",
                    "canonical_triples", "quarantine"]
        rank = {n: i for i, n in enumerate(priority)}

        done: set[str] = set()
        futures: dict[str, object] = {}
        persisted_before = self._persisted_ids() if release_blocks \
            else set()
        try:
            with ThreadPoolExecutor(max_workers=max_workers) as ex:
                while len(done) < len(builds):
                    eligible = sorted(
                        (name for name, (deps, _) in builds.items()
                         if name not in done and name not in futures
                         and all(d in done for d in deps)),
                        key=lambda n: rank.get(n, len(rank)))
                    for name in eligible:
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
            if release_blocks:
                self._release_stage_blocks(persisted_before)
        return out

    def metrics(self) -> dict:
        return {s: self.store.manifest(s)
                for s in STAGES if self.store.is_committed(s)}
