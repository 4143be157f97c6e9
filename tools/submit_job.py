"""Cluster entry point: run the KG-construction pipeline under
spark-submit.

    spark-submit --master <cluster-or-local[N]> \
        --py-files /tmp/gpml2pvjson_js_spark.zip \
        tools/submit_job.py \
        --sf-dir /root/testdata/sf0.001 --output /tmp/kg_out \
        [--replicate 1] [--resume]

The script depends ONLY on the --py-files zip for package imports
(it is the deployment artifact `tools/make_pyfiles.py` builds), and
on the SparkSession spark-submit hands it — no repo checkout needed
on executors. Output is the resumable snapshot store: per-stage
parquet + lineage manifests; rerunning with --resume picks up from
the last committed snapshot.

spark-submit starts the driver JVM itself, so `session.get_spark`'s
driver options do not reach it; pass them with `--driver-java-options`:
the JIT policy (`session.DRIVER_JIT_OPTIONS`, C1 alone) and the UTC
zone, and class-data sharing, which takes an archive made by a
`get_spark` session on the same JDK and Spark installation
(`session.class_data_sharing()` names it), or one dumped with
`-XX:ArchiveClassesAtExit=<file>`:

    spark-submit --driver-java-options \
        "-Duser.timezone=UTC -XX:TieredStopAtLevel=1 \
         -XX:SharedArchiveFile=<archive> -Xshare:auto -Xlog:cds*=off" ...

CDS refuses a non-empty directory on the class path, and the launcher
puts the conf directory there: run with `SPARK_CONF_DIR` set to an
empty directory (the one the archive was made with), or the JVM falls
back to starting without the archive.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True,
                    help="dir with documents.parquet (pages derive "
                         "from it deterministically)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--replicate", type=int, default=1)
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args()

    # import AFTER spark-submit has placed the --py-files zip on
    # sys.path — this is what proves the artifact is self-contained
    from pyspark.sql import SparkSession
    from gpml2pvjson_js_spark.corpus import (
        pages_from_documents, replicate_pages)
    from gpml2pvjson_js_spark.plans.pipeline import Pipeline

    spark = SparkSession.builder.appName("kg-construct").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    pages = replicate_pages(
        pages_from_documents(spark, args.sf_dir), args.replicate)
    pipe = Pipeline(spark, pages, args.output)
    pipe.run(resume=args.resume)
    manifest = pipe.store.manifest("canonical_triples")
    print("KG_SUBMIT_RESULT " + json.dumps(
        {"canonical_triples": manifest["rows"],
         "stages": list(pipe.metrics().keys())}))
    spark.stop()


if __name__ == "__main__":
    main()
