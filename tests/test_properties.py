"""Property-based tests (hypothesis) for the parity-critical pure
kernels — no Spark session needed, so these run in milliseconds.

The reference's own losslessness contract: concatenating token values
reproduces the input exactly (TokenizerTests.cs:41). Goldens pin the
known cases; these properties pin it for arbitrary unicode inputs.
"""

from hypothesis import example, given, settings, strategies as st

from nlquery_spark.kernel.extract import build_recognizer
from nlquery_spark.kernel.matchers import TokenFilterMatcher
from nlquery_spark.kernel.table import ENGLISH_STOP_WORDS, english_stem
from nlquery_spark.kernel.tokenizer import (
    apply_stemmer_tokens,
    parse_quoted_constants,
    tokenize,
)
from nlquery_spark.operators.nlsql import _query_tokens
from nlquery_spark.operators.html import extract_text_str

# printable-ish unicode incl. whitespace classes, digits, punctuation
_texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=300
)


@settings(max_examples=300, deadline=None)
@given(_texts)
def test_tokenizer_lossless_on_arbitrary_unicode(s):
    toks = tokenize(s)
    assert "".join(t.value for t in toks) == s


@settings(max_examples=300, deadline=None)
@given(_texts)
def test_tokenizer_offsets_partition_input(s):
    toks = tokenize(s)
    pos = 0
    for t in toks:
        assert t.start_index == pos
        pos += len(t.value)
    assert pos == len(s)


# the stop-word predicate TokenFilterMatcher applies when stop words are on
_NOT_STOP = next(
    m.predicate
    for m in build_recognizer(
        [{"caption": "t", "name": "t", "columns": [{"caption": "c", "name": "c"}]}],
        {"stop_words": ENGLISH_STOP_WORDS},
    ).matchers
    if isinstance(m, TokenFilterMatcher)
)


def _assert_unique_starts(tokens, strict=True):
    """No two tokens of ``tokens`` share a ``start_index``; with
    ``strict=False``, two that do are equal tokens (same value), so an
    index keyed by ``start_index`` groups exactly as one keyed by the
    token does."""
    seen = {}
    for t in tokens:
        other = seen.setdefault(t.start_index, t)
        if other is not t:
            assert not strict and other == t, (other, t)


@settings(max_examples=300, deadline=None)
@given(st.one_of(_texts, st.text(alphabet='ab "1.\'', max_size=40)))
@example("")
@example('"')
@example('a "')
@example('a "b')
@example('say ""yes"" "on hold')
def test_kernel_sequences_key_tokens_by_start(s):
    """Every token sequence the kernel builds can key its tokens by
    ``start_index``: ``tokenize`` output, its stemmed and stop-word
    filtered forms strictly; ``parse_quoted_constants`` output (alone,
    stemmed or filtered, and as nlsql builds it) up to equal tokens —
    a lone quote at the end yields an empty Word at the sentence end's
    start, equal to the sentence end."""
    toks = tokenize(s)
    _assert_unique_starts(toks)
    _assert_unique_starts(apply_stemmer_tokens(toks, english_stem))
    _assert_unique_starts([t for t in toks if _NOT_STOP(t)])
    quoted = list(parse_quoted_constants(toks))
    _assert_unique_starts(quoted, strict=False)
    _assert_unique_starts(apply_stemmer_tokens(quoted, english_stem), strict=False)
    _assert_unique_starts([t for t in quoted if _NOT_STOP(t)], strict=False)
    _assert_unique_starts(
        _query_tokens(s, {"parse_quoted": True, "stem_tokens": True}), strict=False
    )


@settings(max_examples=300, deadline=None)
@given(_texts)
def test_html_extract_never_crashes_and_is_idempotent(s):
    out = extract_text_str(s.encode("utf-8", errors="replace"))
    assert isinstance(out, str)
    # extraction of already-extracted text is a fixpoint unless the text
    # contains markup-like remnants the first pass legitimately removed
    again = extract_text_str(out)
    assert extract_text_str(again) == again


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=200))
def test_html_extract_handles_arbitrary_bytes(b):
    out = extract_text_str(b)
    assert isinstance(out, str)
    assert "  " not in out  # whitespace fully collapsed
    assert out == out.strip()


# ----------------------------------------------- simhash blocking math --


def _keys_for(sig: int, m, combos, widths, starts):
    chunks = [(sig >> starts[i]) & ((1 << widths[i]) - 1) for i in range(m)]
    return {tuple(chunks[i] for i in combo) for combo in combos}


@settings(max_examples=500, deadline=None)
@given(
    st.integers(min_value=0, max_value=(1 << 64) - 1),
    st.integers(min_value=1, max_value=20),
    st.data(),
)
def test_simhash_blocking_complete_for_any_budget(sig_a, k, data):
    """For ANY pair within hamming k, the combination-blocking plan must
    produce at least one shared key — the pigeonhole completeness
    guarantee the round-1 fixed 4x16 chunking lacked beyond hamming 3."""
    from nlquery_spark.operators.dedup import simhash_blocking_plan

    m, combos = simhash_blocking_plan(k)
    widths = [(64 // m) + (1 if i < 64 % m else 0) for i in range(m)]
    starts = [sum(widths[:i]) for i in range(m)]
    # flip up to k random distinct bits
    n_flips = data.draw(st.integers(min_value=0, max_value=k))
    flip_bits = data.draw(
        st.lists(
            st.integers(min_value=0, max_value=63),
            min_size=n_flips,
            max_size=n_flips,
            unique=True,
        )
    )
    sig_b = sig_a
    for b in flip_bits:
        sig_b ^= 1 << b
    ka = _keys_for(sig_a, m, combos, widths, starts)
    kb = _keys_for(sig_b, m, combos, widths, starts)
    # keys are (combo-index implicit via position in set construction);
    # compare per-combo: at least one combo must agree entirely
    shared = any(
        tuple((sig_a >> starts[i]) & ((1 << widths[i]) - 1) for i in combo)
        == tuple((sig_b >> starts[i]) & ((1 << widths[i]) - 1) for i in combo)
        for combo in combos
    )
    assert shared, (ka, kb, flip_bits)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.sampled_from("abcdefgh"), min_size=3, max_size=40))
def test_minhash_shingle_order_invariance(words):
    """MinHash signatures are functions of the shingle SET: permuting
    document word order that preserves the shingle set is impossible in
    general, but duplicate whitespace / trailing space must not change
    the signature (tokenize-normalize invariance)."""
    import numpy as np

    from nlquery_spark.operators.dedup import _MERSENNE, _perm_params

    # replicate the kernel's pure signature math for one doc
    import hashlib
    import re

    ws = re.compile(r"\s+", re.ASCII)

    def sig_of(text, n=2, num_perm=16):
        a, b = _perm_params(num_perm, 42)
        a, b = a.astype(object), b.astype(object)
        toks = [t for t in ws.split(text.lower()) if t]
        if len(toks) < n:
            return None
        sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        hv = np.array(
            [int(hashlib.md5(s.encode()).hexdigest()[:16], 16) for s in sh],
            dtype=object,
        )
        m = (hv[None, :] * a[:, None] + b[:, None]) % _MERSENNE
        return [int(x) for x in m.min(axis=1)]

    doc = " ".join(words)
    messy = "  " + doc.replace(" ", "   ") + " \t"
    assert sig_of(doc) == sig_of(messy)


_MEMO_SENTENCES = st.sampled_from([
    "Total price above 1000.",
    "Customers from Germany ordered parts.",
    "filler words with no dictionary hits at all",
    "price below 5 Jan 2021.",
    "",
    "   ",
    "1984!",
    "order priority URGENT now.",  # NBSP edge
])


@given(st.lists(st.lists(_MEMO_SENTENCES, min_size=0, max_size=6), min_size=1, max_size=8))
@settings(max_examples=40, deadline=None)
def test_chunk_memo_invariance_random_boilerplate(docs):
    """Memo on/off bit-identity over randomized documents built from a
    small sentence pool — high chunk-repeat rates across documents and
    within one document at different offsets, the exact shape the memo
    is built for."""
    from nlquery_spark.kernel.extract import (
        build_prescreen,
        build_recognizer,
        extract_text_triples,
    )
    from nlquery_spark.sources.pages import orders_schema_spec

    spec = orders_schema_spec()
    rec = build_recognizer([spec])
    screen = build_prescreen([spec])
    texts = [" ".join(s for s in doc) for doc in docs]
    memo = {}
    for t in texts:
        plain = extract_text_triples(t, rec, prescreen=screen)
        memoized = extract_text_triples(t, rec, prescreen=screen, memo=memo)
        again = extract_text_triples(t, rec, prescreen=screen, memo=memo)
        assert plain == memoized == again


@given(
    ops=st.lists(
        st.tuples(st.booleans(), st.integers(min_value=0, max_value=40)),
        max_size=300,
    ),
    cap=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=60, deadline=None)
def test_memo_protocol_bounded_and_consistent(ops, cap):
    """For ANY interleaving of probes and inserts and ANY cap, the
    LRU-half-eviction memo (kernel.extract._memo_put/_memo_hit) stays
    bounded by cap+1 and never returns a value that was not the last
    one stored for that key."""
    import nlquery_spark.kernel.extract as ke

    old = ke.MEMO_MAX_CHUNKS
    ke.MEMO_MAX_CHUNKS = cap
    try:
        memo, stored = {}, {}
        for is_put, k in ops:
            key = f"k{k}"
            if is_put:
                ke._memo_put(memo, key, (key, k))
                stored[key] = (key, k)
            else:
                hit = ke._memo_hit(memo, key)
                if hit is not None:
                    assert hit == stored[key]  # never a stale/foreign value
            # evict-then-insert: at most cap entries after any put with
            # cap >= 2; the degenerate cap=1 bounds at 2
            assert len(memo) <= max(cap, 2)
            # recency order invariant: every key in the memo is in
            # stored, and dict order has no duplicates by construction
            assert set(memo) <= set(stored)
    finally:
        ke.MEMO_MAX_CHUNKS = old


def test_matcher_memo_eviction_output_identical(monkeypatch):
    """The matcher-level memos (LikePhraseMatcher / ListContainsMatcher)
    now half-evict at their cap; forcing a tiny cap must not change any
    match output (the memo stores pure functions of the token value)."""
    from nlquery_spark.kernel.extract import build_recognizer
    from nlquery_spark.kernel.matchers import (
        LikePhraseMatcher,
        ListContainsMatcher,
    )
    from nlquery_spark.kernel.tokenizer import tokenize as tok
    from nlquery_spark.kernel.tokens import TokenSequence
    from nlquery_spark.sources.pages import _page_text, orders_schema_spec

    spec = orders_schema_spec()
    base_rec = build_recognizer([spec])
    texts = [_page_text(i, 0.0) for i in range(40)]

    def outputs(rec):
        outs = []
        for t in texts:
            seq = TokenSequence(tok(t[:400]))
            bag = rec.collect_matches(seq)
            outs.append([str(m) for m in bag.matches])
        return outs

    want = outputs(base_rec)
    monkeypatch.setattr(LikePhraseMatcher, "MEMO_MAX", 3)
    monkeypatch.setattr(ListContainsMatcher, "MEMO_MAX", 3)
    capped_rec = build_recognizer([spec])  # fresh matchers, tiny caps
    assert outputs(capped_rec) == want


# ------------------------------------------ first-pass trigger table --


def _spec_vocabulary(specs):
    """A dictionary's own vocabulary by role in a clause: captions;
    comparison phrases and math operators; values (up to 200 per
    column, with their tokens), digits, month names and date-offset
    phrases; and connectives: ``and``/``or``, single letters and
    punctuation."""
    from nlquery_spark.kernel.matchers import _MONTH_ABBREVS, _MONTH_NAMES
    from nlquery_spark.kernel.table import DEFAULT_MATH_OPERATOR_PHRASES, Options

    def with_tokens(phrases):
        words = {t.value for p in phrases for t in tokenize(p) if t.value.strip()}
        return sorted(set(phrases) | words)

    captions, values = [], []
    for spec in specs:
        captions += [spec.get("caption") or ""] + list(spec.get("alt_captions") or ())
        for col in spec["columns"]:
            captions += [col.get("caption") or ""] + list(col.get("alt_captions") or ())
            values += list(col.get("values") or ())[:200]
    opts = Options()
    offsets = opts.yesterday_phrases + opts.today_phrases + opts.this_month_phrases
    offsets += opts.prev_year_phrases + opts.next_month_phrases
    return {
        "caption": with_tokens([c for c in captions if c]),
        "op": [p for p, _ in DEFAULT_MATH_OPERATOR_PHRASES] + ["=", "<", ">", ">=", "<=", "=="],
        "value": with_tokens(values)
        + [str(i) for i in range(32)]
        + ["2021", "1999", "0.5", "1 May 2021", "12.05.2020"]
        + _MONTH_NAMES
        + _MONTH_ABBREVS
        + offsets,
        "link": ["and", "or", "||", ":", ",", ".", "-", "/", "&"] + list("abxyz"),
    }


def _trigger_cases():
    from perfbench import gen  # read-only: the benchmark's input generator

    import __spark_entry__ as em
    from combination_oracle import NL_OPTIONS, nl_specs
    from nlquery_spark.sources.pages import orders_schema_spec

    nl = nl_specs(gen)
    dictionaries = [
        [orders_schema_spec()],
        [gen.ORDERS_SPEC, gen.titles_spec(300)],
        [nl["customer"]],
        [nl["orders"]],
        [em.DOCS_SCHEMA_SPEC],
    ]
    return [
        (build_recognizer(specs, opts), _spec_vocabulary(specs))
        for specs in dictionaries
        for opts in (None, NL_OPTIONS)
    ]


_TRIGGER_CASES = []


def _composites(matcher, statement):
    """(composite, the statement it sees) for every CompositeMatcher in
    ``matcher``, the stop-word-filtered statement for a wrapped one."""
    from nlquery_spark.kernel.matchers import CompositeMatcher
    from nlquery_spark.kernel.tokens import TokenSequence

    if isinstance(matcher, CompositeMatcher):
        yield matcher, statement
        for child in matcher.matchers:
            yield from _composites(child, statement)
    elif isinstance(matcher, TokenFilterMatcher):
        filtered = [t for t in statement.tokens if matcher.predicate(t)]
        yield from _composites(matcher.matcher, TokenSequence(filtered))


def _match_rows(collect, seq):
    """The match list ``collect(seq)`` gives, or the fixpoint's error:
    connective-dense chunks can exhaust its passes, and both loops
    must then fail alike."""
    try:
        bag = collect(seq)
    except RuntimeError as e:
        return str(e)
    return [
        (type(m).__name__, str(m), m.score, m.start.start_index,
         m.end.start_index, m.matched_tokens_count)
        for m in bag.matches
    ]


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_trigger_table_and_screens_change_no_match(data):
    """On chunks drawn from each dictionary's own vocabulary (plain and
    with stop words): every first-pass child the trigger table leaves
    out yields nothing when run directly, and ``collect_matches`` gives
    the match list of the loop without screens
    (``combination_oracle.unscreened_collect_matches``)."""
    from combination_oracle import unscreened_collect_matches
    from nlquery_spark.kernel.matches import MatchBag
    from nlquery_spark.kernel.tokens import TokenSequence

    if not _TRIGGER_CASES:
        _TRIGGER_CASES.extend(_trigger_cases())
    rec, vocab = data.draw(st.sampled_from(_TRIGGER_CASES))
    # clauses of [caption] [op] [value] [link], each part optional and
    # recased, so comparisons, hints, merges and groups occur often
    part = {
        role: st.one_of(
            st.just(""),
            st.builds(
                lambda w, case: case(w),
                st.sampled_from(words),
                st.sampled_from([str, str.lower, str.upper, str.capitalize]),
            ),
        )
        for role, words in vocab.items()
    }
    clause = st.tuples(part["caption"], part["op"], part["value"], part["link"])
    clauses = data.draw(st.lists(clause, max_size=4))
    sep = data.draw(st.sampled_from([" ", " ", ""]))
    chunk = " ".join(sep.join(p for p in c if p) for c in clauses)
    seq = TokenSequence(tokenize(chunk))

    for composite, statement in _composites(rec._first_pass, seq):
        run = composite.children_for(statement.tokens)
        bag = MatchBag(statement, [])
        for child in composite.matchers:
            if child not in run:
                assert not list(child.get_matches(bag)), (chunk, child)

    want = _match_rows(
        lambda seq: unscreened_collect_matches(rec, seq), TokenSequence(seq.tokens)
    )
    assert _match_rows(rec.collect_matches, seq) == want, chunk
