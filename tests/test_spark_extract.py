"""Spark wiring tests for the extraction stage: byte-identity of page
text, partitioning-independence, and Spark == local-kernel triple parity
(the distributed stage must lose/alter nothing vs. the golden-tested
kernel)."""

import pytest

from nlquery_spark.operators.extract import dedup_triples, extract_triples
from nlquery_spark.sources.pages import orders_schema_spec, synth_pages

N_PAGES = 120


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_pages(spark, N_PAGES)
    df.cache().count()
    return df


def test_pages_deterministic_across_partitioning(spark):
    a = synth_pages(spark, 60, num_partitions=2).orderBy("url").collect()
    b = synth_pages(spark, 60, num_partitions=7).orderBy("url").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_page_text_byte_identity(pages):
    """input_hint invariant: extracted per-url text is byte-identical —
    the html payload embeds the text; nothing in the pipeline mutates it."""
    for row in pages.collect():
        assert row.html == b"<html><body>" + row.text.encode("utf-8") + b"</body></html>"
        assert row.text.encode("utf-8").decode("utf-8") == row.text


def test_spark_triples_match_local_kernel(spark, pages):
    """P/R == 1.0 vs the (golden-tested) kernel run locally on the same
    texts."""
    from nlquery_spark.kernel.extract import (
        build_prescreen,
        build_recognizer,
        extract_text_triples,
    )

    spec = orders_schema_spec()
    triples = extract_triples(pages, [spec]).collect()
    got = {
        (r.subj, r.pred, r.obj, round(r.score, 9), r.start, r.end)
        for r in triples
    }

    rec = build_recognizer([spec])
    screen = build_prescreen([spec])
    expected = set()
    for row in pages.filter("lang = 'en'").select("url", "text").collect():
        for pred, obj, score, start, end, rule in extract_text_triples(
            row.text, rec, prescreen=screen
        ):
            expected.add((row.url, pred, obj, round(score, 9), start, end))

    assert expected, "fixture should produce triples"
    assert got == expected


def _plain_kernel_rows(pages, kernel, spec):
    """``kernel`` over the English pages in one process, without the
    prescreen or the chunk memo, as sorted (url, *row) tuples."""
    from nlquery_spark.kernel.extract import build_recognizer

    rec = build_recognizer([spec])
    return sorted(
        (row.url, *r)
        for row in pages.filter("lang = 'en'").select("url", "text").collect()
        for r in kernel(row.text, rec, prescreen=None, memo=None)
    )


def test_prescreen_changes_nothing(spark, pages):
    """The operator always prescreens; its triples equal the kernel's
    without a prescreen (sorted-collect equality: duplicates count)."""
    from nlquery_spark.kernel.extract import extract_text_triples

    spec = orders_schema_spec()
    with_screen = sorted(map(tuple, extract_triples(pages, [spec]).collect()))
    assert with_screen
    assert with_screen == _plain_kernel_rows(pages, extract_text_triples, spec)


def test_dedup_triples(spark, pages):
    spec = orders_schema_spec()
    triples = extract_triples(pages, [spec])
    deduped = dedup_triples(triples)
    assert deduped.count() == deduped.select("subj", "pred", "obj").distinct().count()
    assert deduped.count() <= triples.count()


def test_extract_plan_no_shuffle(spark, pages):
    """The extraction stage itself must not shuffle (embarrassingly
    parallel map over the scan)."""
    plan = extract_triples(pages, [orders_schema_spec()])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_incremental_delta_merge_equals_full_recompute(spark):
    """Daily-delta posture: extracting batch A and batch B separately and
    merging their triple aggregates must equal extracting A+B at once —
    bit-exact, including support counts and provenance mins."""
    from pyspark.sql import functions as F

    from nlquery_spark.operators.extract import (
        dedup_triples,
        extract_triples,
        merge_triple_deltas,
    )
    from nlquery_spark.sources.pages import orders_schema_spec, synth_pages

    spec = [orders_schema_spec()]
    all_pages = synth_pages(spark, 300)
    a = all_pages.filter(F.col("url").substr(-1, 1).isin("0", "1", "2", "3"))
    b = all_pages.subtract(a)
    full = {
        tuple(r)
        for r in dedup_triples(extract_triples(all_pages, spec)).collect()
    }
    merged = {
        tuple(r)
        for r in merge_triple_deltas(
            dedup_triples(extract_triples(a, spec)),
            dedup_triples(extract_triples(b, spec)),
        ).collect()
    }
    assert full and merged == full


def test_chunk_memo_changes_nothing_spark(spark, pages):
    """The operators always memoize chunks (and prescreen): their
    triples AND mentions equal the kernel's with neither, bit for bit
    (sorted-collect equality, not sets — duplicates must match too)."""
    from nlquery_spark.kernel.extract import (
        extract_text_mentions,
        extract_text_triples,
    )
    from nlquery_spark.operators.linker import extract_mentions

    spec = orders_schema_spec()
    on = sorted(map(tuple, extract_triples(pages, [spec]).collect()))
    assert on and on == _plain_kernel_rows(pages, extract_text_triples, spec)
    m_on = sorted(map(tuple, extract_mentions(pages, [spec]).collect()))
    assert m_on and m_on == _plain_kernel_rows(pages, extract_text_mentions, spec)
