"""The combination search is exact: no cap cuts it off.

The reference examples stop the combination DFS after 1,000
combinations and keep the best of those. On the benchmark's gazetteer
pages and on NL queries against a large gazetteer, the best combination
often comes later than that. These inputs pin the uncapped optimum and
show that the capped walk would have missed it."""

import pytest

from nlquery_spark.kernel.extract import (
    MAX_COMBINATIONS,
    _chunks,
    _is_triple_match,
    _prefix_counts,
    build_recognizer,
    extract_text_triples,
)
from nlquery_spark.kernel.matches import StubMatch
from nlquery_spark.kernel.table import ColumnConditionMatch, GroupMatch
from nlquery_spark.kernel.tokenizer import tokenize
from nlquery_spark.kernel.tokens import TokenSequence
from nlquery_spark.operators.nlsql import parse_best_matches, parse_conditions

from combination_oracle import (
    NL_OPTIONS,
    bounded_top_combinations,
    candidate_score,
    nl_specs,
    reference_best_matches,
)


@pytest.fixture(scope="module")
def gazetteer_specs():
    from perfbench import gen  # read-only: the benchmark's input generator

    return gen, [gen.ORDERS_SPEC, gen.titles_spec()]


def _desc(matches):
    return [
        (type(m).__name__, str(m), m.score, m.start.start_index, m.end.start_index)
        for m in matches
    ]


def _capped_best(rec, seq, match_filter):
    """The reference examples' search: the first best by candidate_score
    among the first MAX_COMBINATIONS + 1 combinations (stubs included)."""
    best = [None, -1.0]
    n = [0]

    def handler(matches):
        score = candidate_score(matches, seq)
        if score > best[1]:
            best[0], best[1] = matches, score
        n[0] += 1
        return n[0] <= MAX_COMBINATIONS

    saved = rec.include_zero_matches
    rec.include_zero_matches = True
    try:
        rec.recognize(seq, handler, match_filter)
    finally:
        rec.include_zero_matches = saved
    assert n[0] == MAX_COMBINATIONS + 1  # the cap was reached
    return best


def test_gazetteer_chunk_past_the_cap(gazetteer_specs):
    gen, specs = gazetteer_specs
    titles = specs[1]["columns"][0]["values"]
    page = gen.gazetteer_pages(1, 40, titles)["text"][6]
    chunk = dict((o, c) for o, c in _chunks(page))[62]
    assert chunk == " show me Tango Charlie comedy films of 1962."
    rec = build_recognizer(specs)

    got = extract_text_triples(chunk, rec)
    assert got == [
        ("Year:exact", "1962", 1.0, 39, 43, "condition"),
        ("mentions_table", "movielens", 1.0, 30, 35, "table"),
        ("Genres:exact", "Comedy", 1.0, 23, 29, "condition"),
        ("Title:startswith", "Tango Charlie (2002)", 0.65, 9, 22, "condition"),
        ("Genres:contains", "Comedy", 0.16666666666666666, 6, 8, "condition"),
    ]

    seq = TokenSequence(tokenize(chunk))
    builder = rec.combination_builder(seq, _is_triple_match)
    pre_won, pre_sig = _prefix_counts(seq.tokens)
    [(score, matches)] = bounded_top_combinations(
        *builder.index(), pre_won, pre_sig, 1, True
    )
    assert score == 0.5583333333333333
    # the capped walk keeps a worse combination: the title match it
    # needs starts at "Tango", whose alternatives come after 1,000
    # combinations of the earlier "me" position
    capped, capped_score = _capped_best(rec, seq, _is_triple_match)
    assert _desc(m for m in capped if not isinstance(m, StubMatch)) != _desc(matches)
    assert capped_score == 0.5043859649122807 < score


def _nl_filter(m):
    if isinstance(m, ColumnConditionMatch):
        return m.value is not m or m.matched_value is not None
    return isinstance(m, GroupMatch)


def test_nl_query_past_the_cap(gazetteer_specs):
    _gen, specs = gazetteer_specs
    nl = "show me Fox Nova comedy films of 1992"
    conds = parse_conditions(nl, specs)
    assert [
        (m.column.name, m.condition, m.matched_value, m.score, m.start.start_index)
        for m in conds
    ] == [
        ("Year", 2, "1992", 1.0, 33),
        ("Genres", 2, "Comedy", 1.0, 17),
        ("Title", 1, "Fox Nova (2008)", 0.5333333333333333, 8),
        ("Genres", 0, "Comedy", 0.16666666666666666, 5),
    ]

    matches, seq = parse_best_matches(nl, specs, include_column_mentions=False)
    rec = build_recognizer(specs)
    capped, capped_score = _capped_best(rec, seq, _nl_filter)
    assert _desc(m for m in capped if isinstance(m, ColumnConditionMatch)) != _desc(conds)
    assert capped_score < candidate_score(matches, seq)


def test_nl_parse_equals_reference_walk(gazetteer_specs):
    """The benchmark's NL requests, with and without column mentions:
    the same matches as the exhaustive reference walk."""
    gen, _specs = gazetteer_specs
    specs = nl_specs(gen)

    requests = gen.nl_queries(11, 400) + gen.warmup_queries(11)
    for table, nl, _conds in requests:
        for mentions in (False, True):
            got, _ = parse_best_matches(nl, [specs[table]], NL_OPTIONS, mentions)
            want, _ = reference_best_matches(nl, [specs[table]], NL_OPTIONS, mentions)
            assert _desc(got) == _desc(want), (nl, mentions)
