#!/usr/bin/env python
"""spark-submit job main for the KG-construction pipeline (north_rule:
"launched via spark-submit --py-files on multi-executor clusters").

Launched by scripts/spark_submit_demo.sh, which packages the
``nlquery_spark`` library into dist/nlquery_spark.zip and ships it with
``--py-files`` — this file deliberately does NOT munge sys.path, so a
successful run proves the zip packaging reaches both driver and
executors. On a real cluster only ``--master`` and the partition count
change.

    spark_submit_demo.sh --pages 20000 --workdir /tmp/kgrun
    spark_submit_demo.sh --pages 20000 --workdir /tmp/kgrun   # resumes
"""

from __future__ import annotations

import argparse
import json
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=20_000)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--input", default=None, help="parquet pages table (else synthesize)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    # imports resolve from the --py-files zip
    from pyspark.sql import SparkSession

    from nlquery_spark.plans.pipeline import Pipeline, kg_pipeline
    from nlquery_spark.sources.pages import orders_schema_spec, synth_pages

    spark = SparkSession.builder.appName("nlquery-kg-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    n_parts = args.partitions or spark.sparkContext.defaultParallelism * 2

    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = synth_pages(spark, args.pages, num_partitions=n_parts)

    t0 = time.time()
    pipe = Pipeline(spark, args.workdir, kg_pipeline(args.workdir, [orders_schema_spec()]))
    ctx = pipe.run({"pages": pages}, force=args.force)
    wall = time.time() - t0
    # order-insensitive CONTENT hash, not just a count: runs at two
    # parallelisms must give identical triples, and equal cardinality
    # would mask partitioning-sensitive value differences
    from pyspark.sql import functions as F

    canonical = ctx["canonical"]
    content = canonical.agg(
        # decimal accumulator: a long SUM of xxhash64 values overflows
        # under ANSI mode
        F.sum(F.xxhash64(*sorted(canonical.columns)).cast("decimal(38,0)")).alias("h")
    ).first()["h"]
    summary = {
        "stages": pipe.report,
        "canonical_triples": canonical.count(),
        "canonical_hash": str(content),
        "wall_sec": round(wall, 2),
        "master": spark.sparkContext.master,
        "parallelism": spark.sparkContext.defaultParallelism,
    }
    print("PIPELINE_RESULT " + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
