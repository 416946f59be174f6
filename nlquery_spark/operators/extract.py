"""Distributed triple extraction: pages DataFrame -> triples DataFrame.

The Spark re-expression of the reference's recognizer loop
(Recognizer.cs:102-132 + examples' candidate scoring): the compiled
dictionary spec is broadcast (small, pickle-safe), each executor compiles
its matcher set once (process-level cache), and extraction runs inside
``mapInPandas`` over Arrow batches — per-row logic never crosses the
Python/JVM boundary row-at-a-time.

Scale posture: the stage is embarrassingly parallel (no shuffle); output
dedup/aggregation shuffles on (subj, pred, obj) with AQE handling skew;
hot-entity salting lives in operators.canonicalize.
"""

from __future__ import annotations

import itertools
import sys
import zipimport
from typing import Dict, Iterator, Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# driver-side counter for per-invocation memo namespaces (memo_salt=None)
_MEMO_SALTS = itertools.count()


def prune_zip_importers() -> None:
    """Delete every ``zipimport.zipimporter`` from
    ``sys.path_importer_cache`` in this Python worker.

    Spark's Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``setup_spark_files`` in
    ``pyspark/worker_util.py``). On CPython 3.11 that makes each cached
    zip importer re-read its archive's whole central directory: one for
    ``pyspark.zip`` and for each of its imported package directories,
    the py4j zip, the spark-core jar on the workers' ``PYTHONPATH``, and
    the ``--py-files`` archive. That is about 0.1-0.3 s per task, spent
    before the first batch arrives. The recognizer UDFs call this at
    the start of each task, so the next task in the same worker finds
    no archive to re-read.

    Exact for everything imported: loaded modules stay in
    ``sys.modules`` with their loaders, and a later import of a new
    module recreates its importer through ``sys.path_hooks`` from
    ``zipimport``'s directory cache without reading the archive. The
    one difference: an archive whose bytes change on disk while the
    worker lives is no longer re-read at the next task.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


TRIPLES_SCHEMA = StructType(
    [
        StructField("subj", StringType(), False),
        StructField("pred", StringType(), False),
        StructField("obj", StringType(), False),
        StructField("score", DoubleType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
        StructField("rule", StringType(), False),
    ]
)


def extract_triples(
    pages: DataFrame,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
    top_k: int = 1,
    lang_filter: Optional[str] = "en",
    use_prescreen: bool = True,
    memo_chunks: bool = True,
    memo_salt: Optional[str] = None,
) -> DataFrame:
    """pages(url, text, ...) -> triples(subj=url, pred, obj, score,
    start, end, rule).

    Column pruning: only url+text are shipped to Python. The lang filter
    is applied Spark-side so it pushes into the source scan.

    ``memo_chunks`` enables the per-worker boilerplate-chunk memo
    (kernel.extract.chunk_memo): chunk extraction is a pure function of
    (chunk text, spec, params), so results are bit-identical with it on
    or off; repeated chunks — navigation/footer boilerplate on real web
    corpora, templated sentences on the fixture — cost one dict probe
    instead of a recognizer run. Bounded per process (MEMO_MAX_CHUNKS).
    ``memo_salt`` namespaces the memo. Default None mints a unique salt
    per operator invocation: the memo is cold at the start of every
    extract job (honest-by-default — re-timing the same pages measures
    the engine, not the cache) and shared across the job's tasks *and*
    micro-batches (one streaming query = one invocation). Pass a stable
    string to share boilerplate across separate batch invocations.
    """
    from ..kernel.extract import build_prescreen, spec_key

    spark = pages.sparkSession
    schema_specs = list(schema_specs)
    prescreen = build_prescreen(schema_specs, options_spec) if use_prescreen else None
    cache_key = spec_key(schema_specs, options_spec)
    payload_bc = spark.sparkContext.broadcast(
        (schema_specs, options_spec, prescreen, cache_key, top_k,
         memo_chunks,
         memo_salt if memo_salt is not None else f"auto{next(_MEMO_SALTS)}")
    )

    if lang_filter is not None:
        pages = pages.filter(F.col("lang") == lang_filter)

    def run(batches) -> Iterator:
        import pandas as pd

        from ..kernel.extract import (
            cached_recognizer,
            chunk_memo,
            extract_text_triples,
        )

        prune_zip_importers()
        specs, opts, screen, key, k, use_memo, salt = payload_bc.value
        rec = cached_recognizer(specs, opts, key)
        memo = chunk_memo(salt + ":" + key, k, True) if use_memo else None
        for pdf in batches:
            subjs, preds, objs, scores, starts, ends, rules = (
                [], [], [], [], [], [], []
            )
            for url, text in zip(pdf["url"], pdf["text"]):
                if not text:
                    continue
                for pred, obj, score, start, end, rule in extract_text_triples(
                    text, rec, top_k=k, prescreen=screen, memo=memo
                ):
                    subjs.append(url)
                    preds.append(pred)
                    objs.append(obj)
                    scores.append(score)
                    starts.append(start)
                    ends.append(end)
                    rules.append(rule)
            yield pd.DataFrame(
                {
                    "subj": pd.Series(subjs, dtype="object"),
                    "pred": pd.Series(preds, dtype="object"),
                    "obj": pd.Series(objs, dtype="object"),
                    "score": pd.Series(scores, dtype="float64"),
                    "start": pd.Series(starts, dtype="int32"),
                    "end": pd.Series(ends, dtype="int32"),
                    "rule": pd.Series(rules, dtype="object"),
                }
            )

    return pages.select("url", "text").mapInPandas(run, TRIPLES_SCHEMA)


def dedup_triples(triples: DataFrame) -> DataFrame:
    """(subj, pred, obj) dedup keeping best score + support count.

    Partial aggregation (map-side combine) is free via Catalyst hash-agg;
    AQE coalesces the post-shuffle partitions. Every aggregate is
    order-insensitive (min for rule, not first) so the output is
    deterministic under any partitioning AND mergeable incrementally —
    see merge_triple_deltas.
    """
    return triples.groupBy("subj", "pred", "obj").agg(
        F.max("score").alias("score"),
        F.count(F.lit(1)).alias("support"),
        F.min("start").alias("start"),
        F.min("end").alias("end"),
        F.min("rule").alias("rule"),
    )


def merge_triple_deltas(base: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental crawl merge: combine dedup_triples outputs of page
    BATCHES into exactly the aggregate the full corpus would produce —
    max/sum/min are associative, so a daily delta re-aggregates against
    the base without touching the already-extracted pages (the 100-TB
    posture: extraction cost proportional to NEW pages only; one
    key-shuffle over base+delta aggregates, which are triple-universe-
    sized, not corpus-sized). Equality with full recomputation is
    pytest-pinned."""
    u = base.unionByName(delta)
    return u.groupBy("subj", "pred", "obj").agg(
        F.max("score").alias("score"),
        F.sum("support").alias("support"),
        F.min("start").alias("start"),
        F.min("end").alias("end"),
        F.min("rule").alias("rule"),
    )


def write_triples(triples: DataFrame, path: str, buckets: int = 64) -> None:
    """Materialize the edge table partitioned by predicate + subject-hash
    bucket (north_rule layout: pred prune + bounded files per pred).

    On an Iceberg catalog this would be ``writeTo(...).partitionedBy(
    col('pred'), bucket(N, 'subj'))``; parquet fallback encodes the bucket
    as an explicit column (same pruning properties for readers that filter
    on subj_bucket = pmod(hash(subj), N)).
    """
    (
        triples.withColumn("subj_bucket", F.pmod(F.hash("subj"), F.lit(buckets)))
        .repartition("pred", "subj_bucket")
        .write.mode("overwrite")
        .partitionBy("pred")
        .parquet(path)
    )


def write_triples_iceberg(
    triples: DataFrame, table: str, buckets: int = 64
) -> None:
    """The Iceberg form of write_triples (SURVEY §1.3 target layout):
    ``writeTo(catalog.table).partitionedBy(col('pred'), bucket(N,
    'subj'))`` via the DataFrameWriterV2 API — predicate partition
    pruning plus Iceberg's hidden bucket transform on subject, so
    readers joining on subj get storage-partitioned-join eligibility
    without a materialized bucket column.

    Requires an Iceberg catalog on the session (see
    plans.session.get_spark(iceberg_warehouse=...)) and the
    iceberg-spark-runtime jar on the classpath; this sandbox has
    neither, so the path is exercised by a skip-if-missing test
    (tests/test_sources.py) and the parquet fallback above everywhere
    else."""
    (
        triples.sortWithinPartitions("subj")
        .writeTo(table)
        .partitionedBy(F.col("pred"), F.bucket(buckets, F.col("subj")))
        .createOrReplace()
    )
