"""Per-layer probes for the traced run.

Each probe calls one layer's public functions from here and times the
calls; nothing is hooked inside ``nlquery_spark``. Every traced run
measures every layer: on the layer's own workload the probe runs on
that workload's inputs, elsewhere it runs on the workload's texts (the
kernel, extract and pipeline probes) or on a small side load of NL
requests (the nlsql probe).
"""

from __future__ import annotations

import gc
import hashlib
import shutil
import statistics
import time
from typing import Dict, List, Sequence, Tuple

from pyspark.sql import Observation
from pyspark.sql import functions as F

from nlquery_spark.kernel.extract import (
    MAX_COMBINATIONS,
    build_prescreen,
    build_recognizer,
    extract_text_triples,
)
from nlquery_spark.kernel.table import (
    ColumnConditionMatch,
    ColumnMatch,
    GroupMatch,
    TableMatch,
)
from nlquery_spark.kernel.tokenizer import tokenize
from nlquery_spark.kernel.tokens import NUMBER, WORD, TokenSequence
from nlquery_spark.operators.canonicalize import canonicalize_triples
from nlquery_spark.operators.extract import dedup_triples, extract_triples
from nlquery_spark.plans.pipeline import Pipeline, kg_pipeline

from spans import CountingMemo, Tracer

CANONICAL_THRESHOLD = 0.6
# timed repetitions of each extract probe; the metric is their median
EXTRACT_REPS = 2
# warm timings of each chunk in the kernel replay; the fastest counts
WARM_REPS = 3


def noop_sink(df) -> int:
    """Runs ``df`` into Spark's noop sink, which forces every column (a
    ``count()`` would let the optimizer drop the columns it does not
    read, and with them the aggregates that compute them), and returns
    the row count observed on the way."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
    return obs.get["rows"]


def _extract_filter(m) -> bool:
    """The match filter ``extract_text_triples`` applies."""
    if isinstance(m, ColumnConditionMatch):
        return m.value is not m or m.matched_value is not None
    return isinstance(m, (ColumnMatch, TableMatch, GroupMatch))


def _nlsql_filter(m) -> bool:
    """The match filter ``nlsql.nl_filter`` applies (no column mentions)."""
    if isinstance(m, ColumnConditionMatch):
        return m.value is not m or m.matched_value is not None
    return isinstance(m, GroupMatch)


def _passes_prescreen(tokens, prescreen: str) -> bool:
    return any(
        t.type == NUMBER or (t.type == WORD and t.value_lower in prescreen)
        for t in tokens
    )


def count_combinations(rec, seq, match_filter, include_zero: bool) -> int:
    """Combinations the recognizer's DFS enumerates for ``seq``, capped
    like the callers cap it."""
    n = [0]

    def handler(_matches) -> bool:
        n[0] += 1
        return n[0] <= MAX_COMBINATIONS

    saved = rec.include_zero_matches
    rec.include_zero_matches = include_zero
    try:
        rec.recognize(seq, handler, match_filter)
    finally:
        rec.include_zero_matches = saved
    return n[0]


def kernel_replay(
    tracer: Tracer, texts: Sequence[str], specs: Sequence[Dict], options=None
) -> Dict[str, float]:
    """Replays ``texts`` through the kernel in this process.

    Pass 1 runs ``extract_text_triples`` the way a Spark worker does
    (prescreen and chunk memo on) with a counting memo: pages per second
    in one process, memo hits over probes, distinct chunks over chunks.
    Pass 2 takes each distinct chunk through tokenize, the prescreen and
    a fresh recognizer: ``collect_matches`` once cold (as a worker meets
    a new chunk), then ``collect_matches`` and ``recognize`` in turn,
    warm (the matchers cache per token value), ``WARM_REPS`` times each,
    keeping each one's fastest time; the DFS time is the warm
    ``recognize`` minus the warm ``collect_matches``. The DFS is a few
    percent of ``recognize`` on the gazetteer chunks, so a single timing
    of each, or a garbage collection inside one, could turn the
    difference negative; the cyclic collector is off during pass 2.
    """
    rec = build_recognizer(specs, options)
    rec_chunks = build_recognizer(specs, options)
    screen = build_prescreen(specs, options)
    memo = CountingMemo()
    chunks: List[str] = []
    with tracer.span("kernel.extract_pages"):
        t0 = time.perf_counter()
        for text in texts:
            before = len(memo.probed)
            extract_text_triples(text, rec, prescreen=screen, memo=memo)
            chunks.extend(memo.probed[before:])
        wall = time.perf_counter() - t0
    tracer.count("kernel.memo_probes", memo.probes)
    tracer.count("kernel.memo_hits", memo.hits)

    tok_s = 0.0
    with tracer.span("kernel.tokenize"):
        for chunk in chunks:
            t = time.perf_counter()
            tokenize(chunk)
            tok_s += time.perf_counter() - t

    distinct = list(dict.fromkeys(chunks))
    collect_s = collect_warm_s = recognize_s = 0.0
    n_recognized = n_matches = n_combos = n_passed = 0
    gc_was_on = gc.isenabled()
    gc.disable()
    try:
        with tracer.span("kernel.recognize_chunks"):
            for chunk in distinct:
                tokens = tokenize(chunk)
                if not _passes_prescreen(tokens, screen):
                    continue
                n_passed += 1
                # a fresh sequence per call: the matchers keep a
                # one-slot cache keyed by the statement
                t = time.perf_counter()
                bag = rec_chunks.collect_matches(TokenSequence(tokens))
                collect_s += time.perf_counter() - t
                warm, recog = [], []
                for _ in range(WARM_REPS):
                    seq = TokenSequence(tokenize(chunk))
                    t = time.perf_counter()
                    rec_chunks.collect_matches(seq)
                    warm.append(time.perf_counter() - t)
                    seq = TokenSequence(tokenize(chunk))
                    t = time.perf_counter()
                    combos = count_combinations(rec_chunks, seq, _extract_filter, False)
                    recog.append(time.perf_counter() - t)
                collect_warm_s += min(warm)
                recognize_s += min(recog)
                n_recognized += 1
                n_matches += len(bag.matches)
                n_combos += combos
    finally:
        if gc_was_on:
            gc.enable()
    tracer.count("kernel.chunks", len(chunks))
    tracer.count("kernel.distinct_chunks", len(distinct))
    tracer.count("kernel.recognized_chunks", n_recognized)
    per = max(n_recognized, 1)
    return {
        "kernel.pages_per_s_1proc": len(texts) / wall,
        "kernel.tokenize_ms_per_page": 1000 * tok_s / len(texts),
        "kernel.collect_matches_ms_per_chunk": 1000 * collect_s / per,
        "kernel.dfs_ms_per_chunk": 1000 * (recognize_s - collect_warm_s) / per,
        "kernel.recognize_ms_per_chunk": 1000 * recognize_s / per,
        "kernel.matches_per_chunk": n_matches / per,
        "kernel.combinations_per_chunk": n_combos / per,
        "kernel.prescreen_pass_ratio": n_passed / max(len(distinct), 1),
        "kernel.memo_hit_ratio": memo.hits / max(memo.probes, 1),
        "kernel.memo_probes": memo.probes,
        "kernel.distinct_chunk_ratio": len(distinct) / max(len(chunks), 1),
    }


def extract_probe(
    tracer: Tracer, pages, warm_pages, n_pages: int, specs, options, nproc: int,
    pages_per_s_1proc: float, full_pass_s: float = None,
) -> Dict[str, float]:
    """Extract-only passes over ``pages``, and the dedup aggregation alone
    over a cached extraction output (the difference of two whole passes
    is below their pass-to-pass noise). Every plan runs into the noop
    sink, and first once on ``warm_pages``, so that no timing pays code
    generation. ``full_pass_s`` is the extract+dedup pass time when the
    workload already measured it."""
    noop_sink(extract_triples(warm_pages, specs, options))
    noop_sink(dedup_triples(extract_triples(warm_pages, specs, options)))
    only, dedup = [], []
    for _ in range(EXTRACT_REPS):
        with tracer.span("extract.extract_only"):
            t = time.perf_counter()
            noop_sink(extract_triples(pages, specs, options))
            only.append(time.perf_counter() - t)
    cached = extract_triples(pages, specs, options).persist()
    cached.count()
    for _ in range(EXTRACT_REPS):
        with tracer.span("extract.dedup"):
            t = time.perf_counter()
            noop_sink(dedup_triples(cached))
            dedup.append(time.perf_counter() - t)
    cached.unpersist()
    if full_pass_s is None:
        with tracer.span("extract.extract_dedup"):
            t = time.perf_counter()
            noop_sink(dedup_triples(extract_triples(pages, specs, options)))
            full_pass_s = time.perf_counter() - t
    return {
        "extract.extract_only_s": statistics.median(only),
        "extract.dedup_s": statistics.median(dedup),
        "extract.parallel_efficiency": (n_pages / full_pass_s) / (nproc * pages_per_s_1proc),
    }


def rows_digest(rows) -> Tuple[int, str]:
    """Order-insensitive (count, sha256) of row tuples."""
    lines = sorted(repr(tuple(r)) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _named_rows(df) -> List[tuple]:
    """Rows as (column, value) pairs in column-name order, so that two
    frames with the same content but another column order compare equal."""
    return [tuple(sorted(r.asDict().items())) for r in df.collect()]


def pipeline_probe(
    tracer: Tracer, spark, pages, specs, options, workdir: str, problems: List[str]
) -> Dict[str, float]:
    """Runs the kg_pipeline stages once, forced, into a fresh workdir:
    stage walls from ``Pipeline.report``, the run's bookkeeping (wall
    minus the stage walls), rows per stage, and the partition skew (max
    over median rows per partition) from the ``_metrics/<stage>``
    tables. The canonical checkpoint must equal, by count and content
    hash, ``canonicalize_triples`` run again on the dedup checkpoint."""
    shutil.rmtree(workdir, ignore_errors=True)
    with tracer.span("pipeline.run"):
        t = time.perf_counter()
        stages = kg_pipeline(workdir, specs, options, canonical_threshold=CANONICAL_THRESHOLD)
        pipe = Pipeline(spark, workdir, stages)
        ctx = pipe.run({"pages": pages}, force=True)
        wall = time.perf_counter() - t
    with tracer.span("pipeline.check"):
        again = canonicalize_triples(ctx["dedup"], threshold=CANONICAL_THRESHOLD)
        got, want = rows_digest(_named_rows(ctx["canonical"])), rows_digest(_named_rows(again))
    if got != want:
        problems.append(f"pipeline canonical triples {got} != recomputed {want}")
    out: Dict[str, float] = {}
    stage_sum = 0.0
    for rec in pipe.report:
        name = rec["stage"]
        stage_sum += rec["wall_sec"]
        out[f"pipeline.{name}_s"] = rec["wall_sec"]
        out[f"pipeline.{name}_rows"] = rec["rows"]
        rows = [r["rows"] for r in spark.read.parquet(f"{workdir}/_metrics/{name}").collect()]
        out[f"pipeline.{name}_partition_skew"] = (
            max(rows) / statistics.median(rows) if rows else 1.0
        )
    out["pipeline.bookkeeping_s"] = wall - stage_sum
    shutil.rmtree(workdir, ignore_errors=True)
    return out


def nlsql_recognition(queries: Sequence[Tuple[str, str, list]], specs: Dict, options) -> Tuple[float, float]:
    """(mean combinations, median recognize ms) per query as
    ``nl_filter`` recognizes it (stub matches included, its own match
    filter), on one reused recognizer per table: the parse cost without
    the per-query recognizer build."""
    recs = {t: build_recognizer([s], options) for t, s in specs.items()}
    combos, times = 0, []
    for table, text, _conds in queries:
        seq = TokenSequence(tokenize(text))
        t = time.perf_counter()
        combos += count_combinations(recs[table], seq, _nlsql_filter, True)
        times.append(1000 * (time.perf_counter() - t))
    return combos / max(len(queries), 1), statistics.median(times)
