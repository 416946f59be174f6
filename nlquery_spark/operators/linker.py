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

from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernel.extract import extract_text_mentions
from .extract import recognizer_task

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
) -> DataFrame:
    """pages(url, text, ...) -> candidate mention rows (stage S2-S3).

    Same task as extract_triples (operators.extract.recognizer_task):
    broadcast spec, per-executor compiled recognizer, Arrow batches,
    url+text column pruning, and a boilerplate-chunk memo in its own
    per-invocation namespace (bit-identical; see extract_triples).
    """
    if lang_filter is not None:
        pages = pages.filter(F.col("lang") == lang_filter)
    return recognizer_task(
        pages.select("url", "text"),
        schema_specs,
        options_spec,
        MENTIONS_SCHEMA,
        extract_text_mentions,
        memo_namespace="mentions",
    )


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
