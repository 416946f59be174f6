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

import functools
import itertools
import sys
import zipimport
from typing import Callable, Dict, Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.extract import (
    build_prescreen,
    cached_recognizer,
    chunk_memo,
    extract_text_triples,
    spec_key,
)

# driver-side counter for per-invocation memo namespaces (auto<N>)
_MEMO_SALTS = itertools.count()

# the SparkContext the payload broadcasts belong to, and its
# broadcasts by (spec key, with prescreen)
_PAYLOADS: list = [None, {}]

# the pandas dtype of each output field type Arrow converts back
_PANDAS_DTYPES = {
    StringType: "object",
    DoubleType: "float64",
    IntegerType: "int32",
    LongType: "int64",
}


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


def _payload_broadcast(sc, schema_specs, options_spec, key: str, with_prescreen: bool):
    """The broadcast of ``(specs, options, key, prescreen)``, one per
    live SparkContext and (spec key, with prescreen). PySpark keeps each
    broadcast's pickle in the context's temp dir until it stops, so a
    broadcast per call would leave a file per call. Bounded at 4 keys
    like the chunk memo; an evicted broadcast is only dropped, not
    destroyed, since a DataFrame built before may still read it."""
    owner, payloads = _PAYLOADS
    if owner is not sc:
        payloads = {}
        _PAYLOADS[:] = [sc, payloads]
    bc = payloads.get((key, with_prescreen))
    if bc is None:
        if len(payloads) >= 4:
            payloads.clear()
        prescreen = build_prescreen(schema_specs, options_spec) if with_prescreen else None
        bc = payloads[(key, with_prescreen)] = sc.broadcast(
            (schema_specs, options_spec, key, prescreen)
        )
    return bc


def recognizer_task(
    frame: DataFrame,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict],
    out_schema: StructType,
    kernel: Callable[..., Sequence[tuple]],
    memo_namespace: Optional[str] = None,
) -> DataFrame:
    """The ``mapInPandas`` task of every recognizer operator.

    The dictionary spec is broadcast once per SparkContext and spec
    (``_payload_broadcast``); each Python worker compiles it once
    (``cached_recognizer``) and runs ``kernel(text, recognizer,
    prescreen=, memo=)`` on the last column of each non-empty row of
    ``frame``. Each tuple it returns is one output row, after the input
    row's first column. The frame's dtypes follow ``out_schema``.

    ``memo_namespace`` is for the chunk kernels (``extract_text_*``):
    it names the kernel's chunk memo by its output shape and params.
    Each call qualifies it with a fresh ``auto<N>`` salt and the spec
    key, so the memo is cold at the start of every invocation and
    shared by its tasks in a worker; the kernel then also gets the
    dictionary's prescreen. Without it, the kernel gets neither.
    """
    schema_specs = list(schema_specs)
    key = spec_key(schema_specs, options_spec)
    if memo_namespace:
        memo_namespace = f"{memo_namespace}:auto{next(_MEMO_SALTS)}:{key}"
    payload_bc = _payload_broadcast(
        frame.sparkSession.sparkContext,
        schema_specs,
        options_spec,
        key,
        bool(memo_namespace),
    )
    names = out_schema.fieldNames()
    dtypes = [_PANDAS_DTYPES[type(f.dataType)] for f in out_schema.fields]

    def run(batches):
        import pandas as pd

        prune_zip_importers()
        specs, opts, key, screen = payload_bc.value
        rec = cached_recognizer(specs, opts, key)
        memo = chunk_memo(memo_namespace) if memo_namespace else None
        for pdf in batches:
            firsts, rows = [], []
            for first, text in zip(pdf.iloc[:, 0], pdf.iloc[:, -1]):
                if text:
                    out = kernel(text, rec, prescreen=screen, memo=memo)
                    firsts += [first] * len(out)
                    rows += out
            cols = [firsts, *zip(*rows)] if rows else [()] * len(names)
            yield pd.DataFrame(
                {n: pd.Series(c, dtype=d) for n, c, d in zip(names, cols, dtypes)}
            )

    return frame.mapInPandas(run, out_schema)


def extract_triples(
    pages: DataFrame,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
    top_k: int = 1,
    lang_filter: Optional[str] = "en",
) -> DataFrame:
    """pages(url, text, ...) -> triples(subj=url, pred, obj, score,
    start, end, rule).

    Column pruning: only url+text are shipped to Python. The lang filter
    is applied Spark-side so it pushes into the source scan.

    Each worker keeps a boilerplate-chunk memo
    (kernel.extract.chunk_memo): chunk extraction is a pure function of
    (chunk text, spec, params), so results are bit-identical to
    recomputation; repeated chunks — navigation/footer boilerplate on
    real web corpora, templated sentences on the fixture — cost one dict
    probe instead of a recognizer run. Bounded per process
    (MEMO_MAX_CHUNKS). Every invocation gets a fresh namespace
    (``recognizer_task``): the memo is cold at the start of every
    extract job (re-timing the same pages measures the engine, not the
    cache) and shared across the job's tasks *and* micro-batches (one
    streaming query = one invocation).
    """
    if lang_filter is not None:
        pages = pages.filter(F.col("lang") == lang_filter)
    return recognizer_task(
        pages.select("url", "text"),
        schema_specs,
        options_spec,
        TRIPLES_SCHEMA,
        functools.partial(extract_text_triples, top_k=top_k),
        memo_namespace=f"triples:{top_k}",
    )


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
