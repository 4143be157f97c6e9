"""Production pipeline: pages -> mentions, text and the document model
-> interactions -> triples -> linked/canonical triples -> JSON-LD docs,
with parquet-snapshot checkpointing, per-partition lineage manifests,
and resume-from-last-committed-snapshot (BASELINE.json north_rule).

A batch is one pass per page (parse, text, document compiler) that
writes all 13 snapshots itself, then a commit of each on the driver
(`Pipeline.run`), in the style of Iceberg's writer/committer split:

    one mapInArrow over the laid-out pages: each task writes one file
    per stage and yields a row per file       (operators/assemble.py)
      -> collect (the batch's one action: 2 Spark jobs, the layout's
         map stage and the pass)
      -> per stage, in STAGES order: delete the files no row names,
         write the manifest                    (SnapshotStore.commit_files)
      -> run.json, the batch's record

The commit reads nothing back: `run` returns a mapping that reads a
stage (`SnapshotStore.read`) only when a caller first asks for it, so
a batch whose caller reads none of its frames, as the benchmark, the
streaming sink and bench.py do, makes no read on the driver.

No stage waits for another: each is an output of the same pass, and
the driver plans one query. Linking and canonicalization read nothing
beyond the document but the dictionary, which the compiler holds as a
Python index (operators/linking.py).

Exchanges: the pass reads the pages laid out once on the snapshots'
own keys (`SnapshotStore.layout`: url-hash bucket and write salt), so
a batch plans one exchange, the pages' layout.

Snapshot layout (Iceberg-style commit protocol on plain parquet):

    {root}/{stage}/data/part-*.parquet (one file per write task, rows
                                        sorted by url-hash `bucket`)
    {root}/{stage}/manifest.json       (commit marker + lineage)
    {root}/run.json                    (the last run's record)

A stage is committed iff its manifest exists; `run(resume=True)` skips
committed stages, which makes any run restartable after a crash.
Like an Iceberg manifest, it lists the data files with their row
counts and `bucket` bounds, plus wall time (the metrics channel the
north rule requires). The snapshot root must be a POSIX path that the
driver and every executor see as one directory (operators/assemble.py).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import session
from ..operators.assemble import build_document_model, write_empty_file
# perfbench/layers.py times its layers by wrapping these names in this
# module. The pass (build_document_model) compiles every document,
# links it and writes its interactions, triples, JSON-LD and canonical
# triples, so Pipeline.run calls none of the others; `xref_dictionary`,
# `canonicalize_linked` and `rewrite_triples` stand for the linking
# index and the canonical triples. Its `bulk` workload commits
# `parse_gpml` and `extracted_text`.
from ..operators.canonicalize import canonical_triples
from ..operators.interactions import classify_interactions  # noqa: F401
from ..operators.linking import link_entities, link_index  # noqa: F401
from ..operators.parse import extracted_text, parse_gpml  # noqa: F401
from ..operators.triples import build_triples  # noqa: F401

xref_dictionary = link_index
canonicalize_linked = rewrite_triples = canonical_triples

N_BUCKETS_DEFAULT = 32
# write tasks per snapshot bucket (see SnapshotStore.layout_keys)
WRITE_TASKS_PER_BUCKET = 2


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

    def uncommit(self, stage: str) -> str:
        """Remove the stage's manifest, so it is not committed while it
        is rewritten; returns its data directory, made if missing."""
        data_path, manifest_path = self._paths(stage)
        if os.path.exists(manifest_path):
            os.remove(manifest_path)
        os.makedirs(data_path, exist_ok=True)
        return data_path

    def sweep(self, stage: str, keep=frozenset()) -> None:
        """Delete every entry of the stage's data directory but the
        files `keep` names: a failed or speculative task attempt's
        files, hidden temp files and an earlier run's."""
        data_path = self._paths(stage)[0]
        for name in os.listdir(data_path):
            if name not in keep:
                path = os.path.join(data_path, name)
                if os.path.isdir(path):
                    shutil.rmtree(path)
                else:
                    os.remove(path)

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

        A frame with a `bucket_col` is laid out here, which costs one
        exchange: a frame read straight from the pages, or a filter of
        a committed snapshot (a snapshot scan may split a file, so it
        does not keep a url in one task). `Pipeline.run` commits what
        its pass wrote with `commit_files` instead.

        The manifest is the commit marker, so no `_SUCCESS` file is
        written (pyarrow and Spark skip `_` files either way)."""
        data_path = self._paths(stage)[0]
        t0 = time.time()
        out = df
        if bucket_col in df.columns:
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
        self._write_manifest(stage, out.schema, files, t0, write_ms,
                             footer_ms)
        return committed

    def commit_files(self, spark: SparkSession, stage: str, schema,
                     files: list[dict], started: float) -> None:
        """Commit the files a pass wrote for `stage`
        (operators/assemble.py, `write_pass`; `files` are its FILE_ROW
        rows, `started` the pass's start): delete every other entry of
        the stage's data directory, and write the manifest. It runs no
        Spark job and reads nothing back (`read` does, when asked). A
        stage with no rows commits the one empty file with its schema
        that Spark's writer makes of an empty frame, written here with
        pyarrow; only then is the session asked anything, its Spark
        version, for the file's footer. Raises if a file a task
        reported is not in the data directory as the driver sees it (a
        root the executors do not share with the driver)."""
        data_path = self._paths(stage)[0]
        missing = sorted(f["file"] for f in files if not os.path.isfile(
            os.path.join(data_path, f["file"])))
        if missing:
            raise FileNotFoundError(
                f"{stage}: the pass reported {len(missing)} file(s) that "
                f"are not in {data_path} on the driver ({missing[0]}, ...); "
                "the snapshot root must be a path every executor and the "
                "driver see")
        self.sweep(stage, {f["file"] for f in files})
        write_ms = int(sum(f["write_s"] for f in files) * 1000)
        if files:
            files = sorted(({k: f[k] for k in ("file", "rows", "bucket_min",
                                                "bucket_max")}
                            for f in files), key=lambda f: f["file"])
        else:
            t0 = time.time()
            name = write_empty_file(data_path, schema, spark.version)
            write_ms = int((time.time() - t0) * 1000)
            files = [{"file": name, "rows": 0, "bucket_min": None,
                      "bucket_max": None}]
        self._write_manifest(stage, schema, files, started, write_ms, 0)

    def _write_manifest(self, stage: str, schema, files: list[dict],
                        started: float, write_ms: int,
                        footer_ms: int) -> None:
        data_path, manifest_path = self._paths(stage)
        manifest = {
            "stage": stage,
            "path": data_path,
            "schema": json.dumps(schema.jsonValue()),
            "n_buckets": self.n_buckets,
            "rows": sum(f["rows"] for f in files),
            "files": files,
            "wall_ms": int((time.time() - started) * 1000),
            "write_ms": write_ms,
            "footer_ms": footer_ms,
            "committed_at_unix_ms": int(time.time() * 1000),
        }
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, manifest_path)  # atomic commit marker


STAGES = [
    "mentions", "quarantine", "nodes", "edges", "citations",
    "vocabularies", "pathways", "interactions", "triples", "linked",
    "canonical_triples", "documents", "text",
]


class Snapshots(Mapping):
    """Each stage of STAGES by name, as its committed snapshot: read
    (`SnapshotStore.read`) the first time it is asked for, then kept.
    `mentions` holds only the ok rows (`quarantine` the others)."""

    def __init__(self, spark: SparkSession, store: SnapshotStore):
        self._spark, self._store = spark, store
        self._frames: dict[str, DataFrame] = {}

    def __getitem__(self, stage: str) -> DataFrame:
        if stage not in self._frames:
            if stage not in STAGES:
                raise KeyError(stage)
            df = self._store.read(self._spark, stage)
            if stage == "mentions":
                df = df.filter(F.col("gpml_element_name") != "_error")
            self._frames[stage] = df
        return self._frames[stage]

    def __contains__(self, stage) -> bool:
        return stage in STAGES

    def __iter__(self):
        return iter(STAGES)

    def __len__(self) -> int:
        return len(STAGES)


class Pipeline:
    """End-to-end KG construction with resumable stage snapshots."""

    def __init__(self, spark: SparkSession, pages: DataFrame, out_root: str,
                 n_buckets: int = N_BUCKETS_DEFAULT):
        self.spark = spark
        self.pages = pages
        self.store = SnapshotStore(out_root, n_buckets)

    def _stage(self, name: str, build, resume: bool) -> None:
        """Commit the stage from what `build()` returns, the (schema,
        files, pass start) its pass wrote, unless `resume` finds it
        committed."""
        if not (resume and self.store.is_committed(name)):
            self.store.commit_files(self.spark, name, *build())

    def run(self, resume: bool = True) -> Snapshots:
        """Run the pass for the stages not yet committed (all of them
        unless `resume`), then commit each stage in STAGES order on the
        calling thread, then write the run's record (`run.json`).

        The pass (build_document_model) writes every stage it is given
        in one Spark action, each file under a name unique to its task
        attempt. A failed pass commits nothing and leaves no file of
        its stages. A resumed run with any stage uncommitted re-runs
        the pass over the pages, which is deterministic, for those
        stages only; a run with all 13 committed builds nothing.
        Returns each stage's committed snapshot by name (`Snapshots`),
        read only when first asked for, `mentions` holding only the ok
        rows; the run itself reads none of them."""
        todo = [s for s in STAGES
                if not (resume and self.store.is_committed(s))]
        written, pass_s = None, 0.0
        if todo:
            t0 = time.time()
            written = build_document_model(self.spark, self.pages,
                                           store=self.store, stages=todo)
            pass_s = time.time() - t0
        t0 = time.time()
        for name in STAGES:
            self._stage(name, lambda n=name: (
                written.schemas[n], written.files[n], written.started),
                resume)
        self._record(todo, written, pass_s, time.time() - t0)
        return Snapshots(self.spark, self.store)

    def _record(self, committed: list[str], written, pass_s: float,
                commit_s: float) -> None:
        """Write `run.json` beside the manifests: the pass's, its
        collect's and the commit loop's wall seconds, its tasks'
        compile (kernel plus Arrow tables) and write seconds, the rows,
        files and bytes of each stage this run committed, the
        quarantined rows per `error` prefix, and the driver JVM's
        class-data sharing (session.class_data_sharing)."""
        files = [f for fs in (written.files.values() if written else ())
                 for f in fs]
        tasks = {f["task"]: f for f in files}
        quarantined = Counter()
        for task in tasks.values():
            quarantined.update(task["quarantined"])
        stages = {}
        for name in committed:
            m = self.store.manifest(name)
            stages[name] = {
                "rows": m["rows"], "files": len(m["files"]),
                "bytes": sum(os.path.getsize(os.path.join(m["path"],
                                                          f["file"]))
                             for f in m["files"])}
        cds = session.class_data_sharing()
        record = {
            "pass_s": pass_s,
            "collect_s": written.collect_s if written else 0.0,
            "commit_s": commit_s,
            "tasks": len(tasks),
            "compile_s": sum(t["compile_s"] for t in tasks.values()),
            "write_s": sum(f["write_s"] for f in files),
            "stages": stages,
            "quarantined": quarantined,
            "class_data_sharing": {"mode": cds.mode, "detail": cds.detail},
        }
        path = os.path.join(self.store.root, "run.json")
        with open(path + ".tmp", "w") as f:
            json.dump(record, f, indent=1)
        os.replace(path + ".tmp", path)

    def metrics(self) -> dict:
        return {s: self.store.manifest(s)
                for s in STAGES if self.store.is_committed(s)}
