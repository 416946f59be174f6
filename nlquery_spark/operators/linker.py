"""Batched entity-link scorer (pipeline stage S4).

``extract_mentions`` surfaces EVERY candidate interpretation from the
mention-detect stage (kernel match bag, pre-combination) as rows —
(url, kind, name, value, score, start, end) — and ``link_topk`` is the
batched scorer that resolves them: for each anchor span it keeps the
top-k candidate entities by match score. This is the DataFrame-level
decomposition of what extract_triples does end-to-end in one kernel
pass (combination DFS); exposing the intermediate lets downstream
stages re-rank with their own signals (page priors, entity popularity)
before canonicalization.

Scale posture: mention detection is embarrassingly parallel
(mapInPandas, broadcast dictionary, no shuffle); the link stage is one
window over (url, start) — partition-local after a single shuffle on
url, and the per-key group is the handful of candidate readings of one
span.
"""

from __future__ import annotations

from typing import Dict, Iterator, Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .extract import _MEMO_SALTS, prune_zip_importers

MENTIONS_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("name", StringType(), False),
        StructField("value", StringType(), False),
        StructField("score", DoubleType(), False),
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
    ]
)


def extract_mentions(
    pages: DataFrame,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
    lang_filter: Optional[str] = "en",
    use_prescreen: bool = True,
    memo_chunks: bool = True,
    memo_salt: Optional[str] = None,
) -> DataFrame:
    """pages(url, text, ...) -> candidate mention rows (stage S2-S3).

    Same plumbing as extract_triples: broadcast spec, per-executor
    compiled recognizer, Arrow batches, url+text column pruning,
    boilerplate-chunk memo (bit-identical, per-invocation namespace by
    default; see extract_triples for the memo/salt contract).
    """
    from ..kernel.extract import build_prescreen, spec_key

    spark = pages.sparkSession
    schema_specs = list(schema_specs)
    prescreen = build_prescreen(schema_specs, options_spec) if use_prescreen else None
    cache_key = spec_key(schema_specs, options_spec)

    payload_bc = spark.sparkContext.broadcast(
        (schema_specs, options_spec, prescreen, cache_key, memo_chunks,
         memo_salt if memo_salt is not None else f"auto{next(_MEMO_SALTS)}")
    )

    if lang_filter is not None:
        pages = pages.filter(F.col("lang") == lang_filter)

    def run(batches) -> Iterator:
        import pandas as pd

        from ..kernel.extract import (
            cached_recognizer,
            chunk_memo,
            extract_text_mentions,
        )

        prune_zip_importers()
        specs, opts, screen, key, use_memo, salt = payload_bc.value
        rec = cached_recognizer(specs, opts, key)
        # "mentions:" prefix: a distinct namespace from the triples memo
        # (same spec key, different output shape)
        memo = (
            chunk_memo(f"mentions:{salt}:{key}", 0, False, 0)
            if use_memo
            else None
        )
        for pdf in batches:
            rows = {k: [] for k in ("url", "kind", "name", "value", "score", "start", "end")}
            for url, text in zip(pdf["url"], pdf["text"]):
                if not text:
                    continue
                for kind, name, value, score, start, end in extract_text_mentions(
                    text, rec, prescreen=screen, memo=memo
                ):
                    rows["url"].append(url)
                    rows["kind"].append(kind)
                    rows["name"].append(name)
                    rows["value"].append(value)
                    rows["score"].append(score)
                    rows["start"].append(start)
                    rows["end"].append(end)
            yield pd.DataFrame(
                {
                    "url": pd.Series(rows["url"], dtype="object"),
                    "kind": pd.Series(rows["kind"], dtype="object"),
                    "name": pd.Series(rows["name"], dtype="object"),
                    "value": pd.Series(rows["value"], dtype="object"),
                    "score": pd.Series(rows["score"], dtype="float64"),
                    "start": pd.Series(rows["start"], dtype="int32"),
                    "end": pd.Series(rows["end"], dtype="int32"),
                }
            )

    return pages.select("url", "text").mapInPandas(run, MENTIONS_SCHEMA)


def link_topk(mentions: DataFrame, k: int = 3) -> DataFrame:
    """Batched entity-link scorer: per (url, anchor start) keep the top-k
    candidate readings by score (ties broken deterministically by name,
    value, end). One shuffle on url; the window is partition-local."""
    w = Window.partitionBy("url", "start").orderBy(
        F.desc("score"), F.asc("name"), F.asc("value"), F.asc("end")
    )
    return (
        mentions.withColumn("link_rank", F.row_number().over(w))
        .filter(F.col("link_rank") <= k)
    )
