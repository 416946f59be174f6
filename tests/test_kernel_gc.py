"""The per-chunk recognizer path leaves no cyclic garbage.

Each extraction runs the matchers and the combination search once per
chunk in a long-lived worker. A reference cycle left per call (a nested
function that calls itself through its closure cell, say) keeps that
call's whole working set alive until Python's cyclic collector runs,
and the collector then rescans it: on the benchmark's gazetteer pages
that was 17% of a warm single-process pass. With the collector off, everything the
kernel allocates must be freed by reference counting alone."""

import gc

import pytest

from nlquery_spark.kernel.extract import (
    _iter_group_leaves,
    build_prescreen,
    build_recognizer,
    extract_text_mentions,
    extract_text_triples,
)
from nlquery_spark.operators.nlsql import parse_best_matches

OR_QUERY = "country Italy or France and product Bud 6pcs"


@pytest.fixture(scope="module")
def workloads():
    from perfbench import gen  # read-only: the benchmark's input generator

    gazetteer_specs = [gen.ORDERS_SPEC, gen.titles_spec()]
    titles = gazetteer_specs[1]["columns"][0]["values"]
    return [
        (
            build_recognizer(gazetteer_specs),
            build_prescreen(gazetteer_specs),
            list(gen.gazetteer_pages(3, 20, titles)["text"]),
        ),
        (
            build_recognizer([gen.ORDERS_SPEC]),
            build_prescreen([gen.ORDERS_SPEC]),
            list(gen.boilerplate_pages(5301, 200)["text"]),
        ),
    ], gen.ORDERS_SPEC


def _run_kernel(workloads, orders_spec):
    n_triples = n_mentions = 0
    for rec, screen, texts in workloads:
        memo = {}
        for text in texts:
            n_triples += len(extract_text_triples(text, rec, prescreen=screen, memo=memo))
        for text in texts[:10]:
            n_mentions += len(extract_text_mentions(text, rec, prescreen=screen))
    matches, _seq = parse_best_matches(OR_QUERY, [orders_spec])
    return n_triples, n_mentions, len(matches)


def test_kernel_leaves_no_cyclic_garbage(workloads):
    recs, orders_spec = workloads
    # warm run: compiles the nl query's recognizer and fills the memos
    _run_kernel(recs, orders_spec)
    was_enabled = gc.isenabled()
    gc.collect()
    gc.disable()
    try:
        counts = _run_kernel(recs, orders_spec)
        unreachable = gc.collect()
    finally:
        if was_enabled:
            gc.enable()
    assert all(counts), counts
    assert unreachable == 0


def test_or_query_flattens_group_leaves(workloads, monkeypatch):
    """The and/or query above does reach the group path: its best
    combination holds a group, which comes back as its leaves, in
    sentence order."""
    import nlquery_spark.operators.nlsql as nlsql

    groups = []

    def counting_leaves(g):
        groups.append(g)
        return _iter_group_leaves(g)

    monkeypatch.setattr(nlsql, "_iter_group_leaves", counting_leaves)
    _recs, orders_spec = workloads
    matches, _seq = parse_best_matches(OR_QUERY, [orders_spec])
    assert len(groups) == 1
    assert [(m.column.name, m.matched_value) for m in matches] == [
        ("country", "Italy"),
        ("country", "France"),
        ("product_name", "Bud 6pcs"),
    ]
