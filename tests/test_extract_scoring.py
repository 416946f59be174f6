"""Equivalence of the prefix-sum scoring fast path vs the reference-shaped
slow path (IncludeZeroMatches + StubMatch materialization +
candidate_score)."""

import duckdb
import pytest

from nlquery_spark.kernel.extract import (
    MAX_COMBINATIONS,
    _chunks,
    _emit_triples,
    _ScoredCombo,
    _combo_compare,
    build_prescreen,
    build_recognizer,
    candidate_score,
    extract_text_triples,
)
from nlquery_spark.kernel.matches import Match, StubMatch
from nlquery_spark.kernel.recognizer import TopSet
from nlquery_spark.kernel.table import (
    ColumnConditionMatch,
    ColumnMatch,
    GroupMatch,
    TableMatch,
)
from nlquery_spark.kernel.tokenizer import tokenize
from nlquery_spark.kernel.tokens import TokenSequence
from nlquery_spark.sources.pages import _page_text, orders_schema_spec


def slow_extract(
    text,
    recognizer,
    prescreen=None,
    top_k=1,
    long_match_boost=True,
    max_combinations=MAX_COMBINATIONS,
):
    """The pre-optimization implementation: IncludeZeroMatches=True,
    stubs materialized, candidate_score over every combination of the
    exhaustive DFS up to the cap."""
    out = []
    recognizer.include_zero_matches = True
    try:
        for offset, chunk in _chunks(text):
            from nlquery_spark.kernel.extract import _chunk_can_match

            chunk_tokens = tokenize(chunk)
            if prescreen is not None and not _chunk_can_match(chunk_tokens, prescreen):
                continue
            seq = TokenSequence(chunk_tokens)
            top = TopSet(top_k, _combo_compare)
            state = {"n": 0}

            def handler(matches):
                significant = [m for m in matches if not isinstance(m, StubMatch)]
                if significant:
                    score = candidate_score(matches, seq, long_match_boost)
                    top.add(_ScoredCombo(score, state["n"], significant))
                state["n"] += 1
                return state["n"] <= max_combinations

            def match_filter(m):
                if isinstance(m, ColumnConditionMatch):
                    return m.value is not m or m.matched_value is not None
                return isinstance(m, (ColumnMatch, TableMatch, GroupMatch))

            recognizer.recognize(seq, handler, match_filter)
            for combo in top.to_array():
                out.extend(_emit_triples(combo.matches, seq, offset, combo.score))
    finally:
        recognizer.include_zero_matches = False
    return out


@pytest.mark.parametrize("source", ["synthetic", "documents"])
def test_fast_path_equals_slow_path(source):
    if source == "synthetic":
        texts = [_page_text(i, 0.0) for i in range(60)]
        spec = orders_schema_spec()
    else:
        import __spark_entry__ as em

        texts = [
            r[0]
            for r in duckdb.sql(
                "select text from '/root/testdata/sf0.001/documents.parquet' limit 60"
            ).fetchall()
        ]
        spec = em.DOCS_SCHEMA_SPEC
    rec = build_recognizer([spec])
    screen = build_prescreen([spec])
    for text in texts:
        fast = extract_text_triples(text, rec, prescreen=screen)
        slow = slow_extract(text, rec, prescreen=screen)
        assert fast == slow, text[:80]


# ---------------------------------------------------------------------------
# Bounded combination search vs the exhaustive walk on the benchmark's
# gazetteer pages, where a chunk has hundreds of combinations and most
# chunks hit the cap.

GAZETTEER_PARAMS = [
    {},
    {"top_k": 3},
    {"long_match_boost": False},
    {"max_combinations": 5},
    {"max_combinations": 50},
]


@pytest.fixture(scope="module")
def gazetteer_setup():
    from perfbench import gen  # read-only: the benchmark's input generator

    specs = [gen.ORDERS_SPEC, gen.titles_spec()]
    titles = specs[1]["columns"][0]["values"]
    texts = [
        t for seed in (1, 2, 3) for t in gen.gazetteer_pages(seed, 12, titles)["text"]
    ]
    return build_recognizer(specs), build_prescreen(specs), texts


def _recording_top_set(made):
    """A TopSet class whose instances append themselves to ``made`` and
    remember the enumeration order of every combination offered to them,
    i.e. every leaf the search scored."""

    class RecordingTopSet(TopSet):
        def __init__(self, *args):
            super().__init__(*args)
            self.offered = []
            made.append(self)

        def add(self, elem):
            self.offered.append(elem.order)
            return super().add(elem)

    return RecordingTopSet


def _capped_combination_counts(text, rec, prescreen, max_combinations):
    """Per chunk that extract_text_triples searches: the number of
    combinations the exhaustive DFS enumerates, capped at
    max_combinations + 1 like the extraction."""
    from nlquery_spark.kernel.extract import _chunk_can_match, _is_triple_match
    from nlquery_spark.kernel.tokens import NUMBER, WORD

    for _, chunk in _chunks(text):
        tokens = tokenize(chunk)
        if not _chunk_can_match(tokens, prescreen):
            continue
        if not any(t.type == WORD or t.type == NUMBER for t in tokens):
            continue
        n = [0]

        def handler(_matches):
            n[0] += 1
            return n[0] <= max_combinations

        rec.recognize(TokenSequence(tokens), handler, _is_triple_match)
        yield n[0]


@pytest.mark.parametrize(
    "params",
    GAZETTEER_PARAMS,
    ids=lambda p: ",".join(f"{k}={v}" for k, v in p.items()) or "default",
)
def test_bounded_search_equals_exhaustive_on_gazetteer(
    params, gazetteer_setup, monkeypatch
):
    import nlquery_spark.kernel.extract as ke

    rec, screen, texts = gazetteer_setup
    cap = params.get("max_combinations", MAX_COMBINATIONS)
    made = []
    monkeypatch.setattr(ke, "TopSet", _recording_top_set(made))
    searched = skipped_leaves = cap_in_skipped = 0
    for text in texts:
        made.clear()
        fast = extract_text_triples(text, rec, prescreen=screen, **params)
        assert fast == slow_extract(text, rec, prescreen=screen, **params), text[:80]
        counts = list(_capped_combination_counts(text, rec, screen, cap))
        assert len(counts) == len(made)
        for top, count in zip(made, counts):
            searched += 1
            # no combination past the cap is ever scored
            assert all(order <= cap for order in top.offered)
            # a leaf is left unscored only when it is skipped by the bound
            if top.count and len(top.offered) < count:
                skipped_leaves += 1
                assert top.count == top.max_size
            # the cap's last combination was skipped: the search stopped
            # inside a subtree that could not improve the top-k
            if count == cap + 1 and cap not in top.offered:
                cap_in_skipped += 1
    # the fixture reaches the hard cases of the bound (with top_k=3, the
    # skipped leaves were skipped against a full top-3)
    assert searched > 100
    assert skipped_leaves > 0
    assert cap_in_skipped > 0


def test_bounded_search_cap_sweep(gazetteer_setup):
    """Every cap from 0 to 29: the search must stop at the same
    combination as the exhaustive walk wherever the cap falls, inside a
    skipped subtree, on its last leaf or on a scored leaf."""
    rec, screen, texts = gazetteer_setup
    for cap in range(30):
        for top_k in (1, 2):
            for text in texts[:6]:
                params = {"top_k": top_k, "max_combinations": cap}
                fast = extract_text_triples(text, rec, prescreen=screen, **params)
                slow = slow_extract(text, rec, prescreen=screen, **params)
                assert fast == slow, (params, text[:80])


# ---------------------------------------------------------------------------
# Boilerplate-chunk memo: extraction is a pure function of (chunk, spec,
# params), so memoized output must be bit-identical to recomputation.


def _memo_texts():
    texts = [_page_text(i, 0.0) for i in range(200)]
    # adversarial shapes: the SAME chunk at different absolute offsets
    # (memoized relative spans must shift exactly), empties, whitespace,
    # unicode spaces, and a prescreen-dead chunk sandwiched between hits
    texts += [
        "Total price above 1000. " * 3 + "Customers from Germany.",
        "xyzzy plugh. " + "Total price above 1000. " * 2,
        "",
        "   ",
        "  ",
        " price  below 5 Jan 2021." * 2,
        "no dictionary words here at all. Total price above 1000.",
    ]
    return texts


def test_chunk_memo_bit_identical():
    spec = orders_schema_spec()
    rec = build_recognizer([spec])
    screen = build_prescreen([spec])
    texts = _memo_texts()
    base = [extract_text_triples(t, rec, prescreen=screen) for t in texts]
    memo = {}
    first = [extract_text_triples(t, rec, prescreen=screen, memo=memo) for t in texts]
    assert len(memo) > 0
    # second pass is all-hit: every chunk replays from the memo
    replay = [extract_text_triples(t, rec, prescreen=screen, memo=memo) for t in texts]
    assert base == first == replay


def test_chunk_memo_offsets_shift_per_occurrence():
    """One chunk appearing at two offsets: memo hit must re-shift spans."""
    spec = orders_schema_spec()
    rec = build_recognizer([spec])
    sent = "Total price above 1000."
    text = sent + " filler words here. " + sent
    memo = {}
    got = extract_text_triples(text, rec, memo=memo)
    want = extract_text_triples(text, rec)
    assert got == want
    starts = sorted(t[3] for t in got)
    assert starts == sorted(t[3] for t in want)
    assert len({t[3] for t in got}) > 1  # both occurrences present, shifted


def test_chunk_memo_cap_evicts_and_stays_correct(monkeypatch):
    """Forcing the cap (VERDICT r7 item 3): half-eviction must keep the
    memo bounded AND output bit-identical to the unmemoized run."""
    import nlquery_spark.kernel.extract as ke

    monkeypatch.setattr(ke, "MEMO_MAX_CHUNKS", 3)
    spec = orders_schema_spec()
    rec = build_recognizer([spec])
    texts = [_page_text(i, 0.0) for i in range(30)]
    base = [extract_text_triples(t, rec) for t in texts]
    memo = {}
    got = [extract_text_triples(t, rec, memo=memo) for t in texts]
    assert got == base
    assert len(memo) <= 3  # evict-then-insert keeps it at the cap
    # replay over the warm (partially evicted) memo is still identical
    again = [extract_text_triples(t, rec, memo=memo) for t in texts]
    assert again == base


def test_memo_put_evicts_lru_half_only(monkeypatch):
    """At the cap, _memo_put drops the least-recently-used half and
    keeps the rest — never a wholesale clear (VERDICT r7 item 3)."""
    import nlquery_spark.kernel.extract as ke

    monkeypatch.setattr(ke, "MEMO_MAX_CHUNKS", 4)
    memo = {}
    for c in "abcd":
        ke._memo_put(memo, c, (c,))
    assert list(memo) == ["a", "b", "c", "d"]
    ke._memo_put(memo, "e", ("e",))
    # a,b (LRU half — never hit) evicted; c,d retained; e appended
    assert list(memo) == ["c", "d", "e"]
    assert memo["c"] == ("c",) and memo["d"] == ("d",)
    # degenerate cap of 1 still terminates and stays bounded at 2
    monkeypatch.setattr(ke, "MEMO_MAX_CHUNKS", 1)
    tiny = {}
    for c in "xyz":
        ke._memo_put(tiny, c, (c,))
    assert len(tiny) <= 2 and "z" in tiny


def test_memo_hit_refreshes_recency(monkeypatch):
    """_memo_hit re-appends on a hit, so a constantly-hit hot entry
    survives half-eviction even when it was inserted FIRST — the LRU
    property that a pure FIFO half-eviction lacks (measured: FIFO
    scores the same hit rate as wholesale clear on a hot-set +
    unique-filler stream; LRU keeps the hot set resident)."""
    import nlquery_spark.kernel.extract as ke

    monkeypatch.setattr(ke, "MEMO_MAX_CHUNKS", 4)
    memo = {}
    ke._memo_put(memo, "hot", ("hot",))
    for c in "abc":
        ke._memo_put(memo, c, (c,))
    # hit the hot entry: moves it to the newest end
    assert ke._memo_hit(memo, "hot") == ("hot",)
    assert list(memo) == ["a", "b", "c", "hot"]
    # a miss is None and does not disturb order
    assert ke._memo_hit(memo, "nope") is None
    # cap crossing now evicts a,b — the hot entry survives
    ke._memo_put(memo, "d", ("d",))
    assert "hot" in memo and list(memo) == ["c", "hot", "d"]


def test_chunk_memo_namespace_registry_bounded():
    import nlquery_spark.kernel.extract as ke

    ke._CHUNK_MEMO.clear()
    handles = [ke.chunk_memo(f"salt{i}", 1, True, 1000) for i in range(10)]
    assert len(ke._CHUNK_MEMO) <= 4
    # same key returns the same dict while it lives
    again = ke.chunk_memo("salt9", 1, True, 1000)
    assert again is handles[9]


def test_mentions_memo_bit_identical():
    from nlquery_spark.kernel.extract import extract_text_mentions

    spec = orders_schema_spec()
    rec = build_recognizer([spec])
    screen = build_prescreen([spec])
    texts = _memo_texts()
    base = [extract_text_mentions(t, rec, prescreen=screen) for t in texts]
    memo = {}
    first = [extract_text_mentions(t, rec, prescreen=screen, memo=memo) for t in texts]
    replay = [extract_text_mentions(t, rec, prescreen=screen, memo=memo) for t in texts]
    assert base == first == replay


def test_memo_cap_env_parse_and_disable(monkeypatch):
    """Review findings: a malformed NLQUERY_MEMO_MAX_CHUNKS degrades to
    the default with a warning (never an executor-killing ValueError),
    and cap <= 0 means memo DISABLED — no storage, no churn, correct
    output."""
    import warnings as w

    import nlquery_spark.kernel.extract as ke

    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        assert ke._parse_memo_cap("100k") == 100_000
        assert ke._parse_memo_cap(None) == 100_000
    assert any("not an integer" in str(x.message) for x in rec)
    assert ke._parse_memo_cap("250") == 250

    monkeypatch.setattr(ke, "MEMO_MAX_CHUNKS", 0)
    spec = orders_schema_spec()
    rec2 = build_recognizer([spec])
    texts = [_page_text(i, 0.0) for i in range(20)]
    base = [extract_text_triples(t, rec2) for t in texts]
    memo = {}
    got = [extract_text_triples(t, rec2, memo=memo) for t in texts]
    assert got == base
    assert memo == {}  # disabled: nothing ever stored
