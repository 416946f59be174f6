"""Page text -> scored (subj, pred, obj) triples.

This is the KG-construction generalization of the reference's
query->formal-query step: each recognized (column, condition, value) is a
triple candidate (SURVEY.md §0). Candidate scoring follows the reference
examples (examples/NReco.NLQuery.Examples.NerByDataset/QueryCandidate.cs:23-44
weighted-match-sum; long-match boost from
examples/NReco.NLQuery.Examples.NliDataFilter/Data/ListQueryParser.cs:117-151).

Pure Python: executed per Arrow batch inside Spark's ``mapInPandas``. The
recognizer is compiled once per executor from a broadcast spec (matcher
closures are not picklable, the spec dict is).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
from itertools import islice
from typing import Dict, Iterator, List, Optional, Sequence, Tuple

from .matches import DateMatch, DateOffsetMatch, Match, NumberMatch, StubMatch
from .recognizer import Recognizer, TopSet
from .table import (
    COND_NAMES,
    ColumnConditionMatch,
    ColumnMatch,
    ColumnSchema,
    GroupMatch,
    Options,
    TableMatch,
    TableMatcherBuilder,
    TableSchema,
    english_stem,
)
from .tokenizer import tokenize
from .tokens import NUMBER, SENTENCE_END, SEPARATOR, WORD, TokenSequence

# Pinned base date for DateOffset resolution (reference uses DateTime.Now,
# e.g. ListQueryParser.cs:218 — determinism hazard; we pin).
REFERENCE_DATE = (2024, 1, 1)

# Sentence chunking for long page text: the reference processes short
# queries; web pages are split into query-sized chunks so the combination
# DFS stays bounded. Chunking is internal — the page `text` column itself
# is never modified (byte-identity invariant).
_SENTENCE_SPLIT = re.compile(r"[^.!?\n]*[.!?\n]+|[^.!?\n]+$")
MAX_CHUNK_CHARS = 400
MAX_COMBINATIONS = 1000  # per chunk, reference examples' cap


def schema_from_dict(spec: Dict) -> TableSchema:
    """Build a TableSchema from a plain (broadcastable) dict spec.

    Spec shape (FIXTURES.md §2): ``{caption, name, alt_captions?,
    exact_match_only?, columns: [{caption, name, datatype, alt_captions?,
    boost_phrases?, values?, exact_only?}]}``.
    """
    cols = [
        ColumnSchema(
            caption=c.get("caption"),
            name=c.get("name"),
            data_type=c.get("datatype", "string"),
            alt_captions=c.get("alt_captions"),
            caption_boost_phrases=c.get("boost_phrases"),
            values=c.get("values"),
            exact_match_only=bool(c.get("exact_only", False)),
        )
        for c in spec.get("columns", [])
    ]
    return TableSchema(
        caption=spec.get("caption"),
        name=spec.get("name"),
        columns=cols,
        alt_captions=spec.get("alt_captions"),
        exact_match_only=bool(spec.get("exact_match_only", False)),
    )


def options_from_dict(spec: Optional[Dict]) -> Options:
    opts = Options()
    if not spec:
        return opts
    if spec.get("stop_words") is not None:
        opts.stop_words = list(spec["stop_words"])
    if spec.get("use_stemmer"):
        opts.apply_stemmer = english_stem
    if spec.get("now_year") is not None:
        opts.now_year = int(spec["now_year"])
    if spec.get("match_bool_operators") is not None:
        opts.match_bool_operators = bool(spec["match_bool_operators"])
    if spec.get("match_math_operators") is not None:
        opts.match_math_operators = bool(spec["match_math_operators"])
    if spec.get("date_month_tables") is not None:
        opts.date_month_tables = [list(t) for t in spec["date_month_tables"]]
    # phrase-table passthrough (TableMatcherBuilder.cs:459-504 Options
    # surface): date-offset and boolean-group trigger phrases are
    # culture-configurable, mirroring the reference's public options
    for key in (
        "yesterday_phrases", "tomorrow_phrases", "today_phrases",
        "this_month_phrases", "prev_month_phrases", "next_month_phrases",
        "this_year_phrases", "prev_year_phrases", "next_year_phrases",
        "group_and_phrases", "group_or_phrases",
    ):
        if spec.get(key) is not None:
            setattr(opts, key, list(spec[key]))
    return opts


def build_recognizer(
    schema_specs: Sequence[Dict], options_spec: Optional[Dict] = None
) -> Recognizer:
    """Dictionary compiler entrypoint: specs -> Recognizer."""
    builder = TableMatcherBuilder(options_from_dict(options_spec))
    for spec in schema_specs:
        builder.add(schema_from_dict(spec))
    rec = Recognizer(builder.build())
    rec.include_zero_matches = True
    return rec


_RECOGNIZER_CACHE: Dict[str, Recognizer] = {}


def spec_key(schema_specs: Sequence[Dict], options_spec: Optional[Dict]) -> str:
    """``cached_recognizer`` key: the md5 of the canonical spec JSON. A
    32-bit crc across different specs in one process could collide and
    silently reuse the wrong compiled recognizer; 128 bits cannot in
    practice."""
    return hashlib.md5(
        json.dumps([list(schema_specs), options_spec], sort_keys=True).encode()
    ).hexdigest()


def cached_recognizer(
    schema_specs: Sequence[Dict], options_spec: Optional[Dict], cache_key: str
) -> Recognizer:
    """Per-executor-process recognizer cache (compile once per worker)."""
    rec = _RECOGNIZER_CACHE.get(cache_key)
    if rec is None:
        rec = build_recognizer(schema_specs, options_spec)
        _RECOGNIZER_CACHE[cache_key] = rec
    return rec


def _parse_memo_cap(raw) -> int:
    """Robust env parse: a malformed NLQUERY_MEMO_MAX_CHUNKS must
    degrade to the default with a warning, not kill every executor
    python worker with a ValueError at kernel import."""
    try:
        return int(raw)
    except (TypeError, ValueError):
        import warnings

        warnings.warn(
            f"NLQUERY_MEMO_MAX_CHUNKS={raw!r} is not an integer; "
            "using the default 100000",
            RuntimeWarning,
        )
        return 100_000


# Boilerplate-chunk memo: chunk -> triples is a pure function of
# (chunk text, compiled spec, top_k/boost/cap params), and web corpora
# repeat chunks heavily (navigation, footers, templated sentences — this
# repo's CC-style fixture runs ~53-59% repeated chunks, real Common Crawl
# similar). Memoizing relative-offset results per worker process turns
# the recognizer cost of every repeated chunk into a dict hit. Bounded:
# at MEMO_MAX_CHUNKS entries (~1-2 KB/entry worst case => low hundreds
# of MB per python worker) the LEAST-RECENTLY-USED HALF is evicted
# (dict preserves insertion order and _memo_hit re-appends on every
# hit, so dict order IS recency order), so a worker that crosses the
# cap keeps its live boilerplate instead of oscillating between a full
# and an empty memo on adversarially diverse corpora (VERDICT r7
# item 3). A pathological corpus degrades to the unmemoized
# cost plus a dict probe, never to unbounded memory. Output is identical
# with any eviction policy (memoized replay is bit-identical; only the
# hit rate changes — property-tested in tests/test_extract_scoring.py).
# The cap is tunable via NLQUERY_MEMO_MAX_CHUNKS (read once per worker
# process at import; propagate with spark.executorEnv.* on a cluster)
# for memory-constrained deployments — ~1-2 KB/entry is the sizing rule.
# Namespaces are salted per operator invocation by default (operators
# mint memo_salt=auto<N>), so a benchmark that re-times the same pages
# starts cold each pass — run 2 measures the engine, not the cache.
MEMO_MAX_CHUNKS = _parse_memo_cap(os.environ.get("NLQUERY_MEMO_MAX_CHUNKS", "100000"))

_CHUNK_MEMO: Dict[str, Dict[str, tuple]] = {}


def _memo_put(memo: Dict[str, tuple], chunk: str, value: tuple) -> None:
    """Insert a chunk result, evicting the least-recently-used half
    first when the memo is at MEMO_MAX_CHUNKS (never wholesale: a hot
    worker keeps its live boilerplate). Dict order is recency order
    because ``_memo_hit`` re-appends on every hit, so the front half
    IS the LRU half. A cap <= 0 means "memo disabled": store nothing,
    so probes always miss and there is no per-chunk dict churn."""
    if MEMO_MAX_CHUNKS <= 0:
        return
    if len(memo) >= MEMO_MAX_CHUNKS:
        for k in list(islice(iter(memo), max(1, len(memo) // 2))):
            del memo[k]
    memo[chunk] = value


def _memo_hit(memo: Dict[str, tuple], chunk: str):
    """Probe the memo and refresh the entry's recency on a hit (LRU):
    without the refresh, half-eviction is FIFO and a hot chunk inserted
    long ago sits in the "oldest" half despite being hit constantly —
    measured on a hot-set + unique-filler stream, FIFO eviction scores
    the same hit rate as a wholesale clear, while LRU keeps the hot set
    resident across cap crossings. O(1): delete + re-append."""
    hit = memo.get(chunk)
    if hit is not None:
        del memo[chunk]
        memo[chunk] = hit
    return hit


def chunk_memo(
    cache_key: str, top_k: int, long_match_boost: bool, max_combinations: int
) -> Dict[str, tuple]:
    """Per-executor-process chunk-result memo, scoped to every parameter
    that affects ``extract_text_triples`` output (the recognizer spec via
    ``cache_key`` plus the scoring/cap knobs)."""
    key = f"{cache_key}:{top_k}:{long_match_boost}:{max_combinations}"
    memo = _CHUNK_MEMO.get(key)
    if memo is None:
        # bound the namespace registry as well: salted bench runs mint a
        # fresh namespace per timed pass, and reused python workers live
        # for the whole application
        if len(_CHUNK_MEMO) >= 4:
            _CHUNK_MEMO.clear()
        memo = {}
        _CHUNK_MEMO[key] = memo
    return memo


def build_prescreen(
    schema_specs: Sequence[Dict], options_spec: Optional[Dict] = None
) -> str:
    """Build the prescreen 'superstring' for the chunk fast path.

    A chunk can only produce matches if some word token is a substring of a
    dictionary phrase (captions/values/boost/month names/offset phrases) or
    is a digit run (numbers & dates). We concatenate every matchable
    phrase (lowercase, NUL-separated) so the per-token screen is a single
    C-speed ``token in superstring`` check. Conservative: never skips a
    chunk that could match.
    """
    from .matchers import _MONTH_ABBREVS, _MONTH_NAMES

    opts = options_from_dict(options_spec)
    parts: List[str] = []
    for spec in schema_specs:
        table = schema_from_dict(spec)
        parts.extend(table.captions_to_match())
        for col in table.columns:
            parts.extend(col.captions_to_match())
            if col.caption_boost_phrases:
                parts.extend(col.caption_boost_phrases)
            if col.values:
                parts.extend(col.values)
    parts.extend(_MONTH_NAMES)
    parts.extend(_MONTH_ABBREVS)
    for phrases in (
        opts.yesterday_phrases, opts.tomorrow_phrases, opts.today_phrases,
        opts.this_month_phrases, opts.prev_month_phrases, opts.next_month_phrases,
        opts.this_year_phrases, opts.prev_year_phrases, opts.next_year_phrases,
    ):
        if phrases:
            parts.extend(phrases)
    return "\x00" + "\x00".join(p.lower() for p in parts) + "\x00"


def _chunk_can_match(tokens, prescreen: str) -> bool:
    for t in tokens:
        if t.type == NUMBER:
            return True
        if t.type == WORD and t.value_lower in prescreen:
            return True
    return False


def candidate_score(
    matches: Sequence[Match], seq: TokenSequence, long_match_boost: bool = True
) -> float:
    """Weighted-match-sum scoring (QueryCandidate.cs:23-44) with the
    optional long-match boost (ListQueryParser.cs:144-146)."""
    tokens = seq.tokens
    total_word_or_num = sum(1 for t in tokens if t.type == WORD or t.type == NUMBER)
    if total_word_or_num == 0:
        return 0.0
    total = 0.0
    total_matched = 0
    for m in matches:
        start_idx = seq.get_index(m.start)
        end_idx = seq.get_index(m.end)
        cnt = sum(
            1
            for i in range(start_idx, end_idx + 1)
            if tokens[i].type == WORD or tokens[i].type == NUMBER
        )
        total_matched += cnt
        total += m.score * cnt / total_word_or_num
    if long_match_boost and total_matched > 0:
        total += 0.3 * (1.0 - len(matches) / total_matched)
    return total


def _value_repr(m: Match) -> str:
    """Canonical object string for a value match."""
    if isinstance(m, NumberMatch):
        return str(m.value)
    if isinstance(m, DateOffsetMatch):
        m = m.to_date(*REFERENCE_DATE)
    if isinstance(m, DateMatch):
        parts = []
        if m.year is not None:
            parts.append(f"Y{m.year}")
        if m.month is not None:
            parts.append(f"M{m.month}")
        if m.day is not None:
            parts.append(f"D{m.day}")
        return "-".join(parts)
    if isinstance(m, ColumnConditionMatch):
        if m.matched_value is not None:
            return m.matched_value
        return _span_text(m)
    return _span_text(m)


def _span_text(m: Match) -> str:
    # start/end are tokens carrying absolute char offsets within the chunk
    return m.start.value if m.start is m.end else f"{m.start.value}..{m.end.value}"


def _emit_triples(
    matches: Sequence[Match],
    seq: TokenSequence,
    offset: int,
    combo_score: float,
) -> Iterator[Tuple[str, str, float, int, int, str]]:
    """Yield (pred, obj, score, start, end, rule) per match of the winning
    combination. Subject (the page url) is attached by the caller."""
    for m in matches:
        start = offset + m.start.start_index
        end = offset + m.end.start_index + len(m.end.value)
        if isinstance(m, ColumnConditionMatch):
            cond = COND_NAMES[m.condition].lower()
            pred = f"{m.column.name}:{cond}"
            obj = _value_repr(m.value)
            yield (pred, obj, m.score, start, end, "condition")
        elif isinstance(m, GroupMatch):
            # flatten the and/or tree: every leaf condition is a triple
            for leaf in _iter_group_leaves(m):
                if isinstance(leaf, ColumnConditionMatch):
                    cond = COND_NAMES[leaf.condition].lower()
                    lstart = offset + leaf.start.start_index
                    lend = offset + leaf.end.start_index + len(leaf.end.value)
                    yield (
                        f"{leaf.column.name}:{cond}",
                        _value_repr(leaf.value),
                        leaf.score,
                        lstart,
                        lend,
                        "group",
                    )
        elif isinstance(m, ColumnMatch):
            yield ("mentions_column", m.column.name, m.score, start, end, "column")
        elif isinstance(m, TableMatch):
            yield ("mentions_table", m.table.name, m.score, start, end, "table")
        # StubMatch / free Date / Number matches are not triples


def _iter_group_leaves(g: GroupMatch) -> Iterator[Match]:
    for m in g.group_matches:
        if isinstance(m, GroupMatch):
            yield from _iter_group_leaves(m)
        else:
            yield m


def _chunks(text: str) -> Iterator[Tuple[int, str]]:
    """Split page text into (offset, chunk) pairs on sentence boundaries,
    windowing very long unpunctuated runs."""
    pos = 0
    for match in _SENTENCE_SPLIT.finditer(text):
        chunk = match.group(0)
        start = match.start()
        while len(chunk) > MAX_CHUNK_CHARS:
            head = chunk[:MAX_CHUNK_CHARS]
            # backtrack to last whitespace to avoid splitting a token
            cut = head.rfind(" ")
            if cut <= 0:
                cut = MAX_CHUNK_CHARS
            yield start, chunk[:cut]
            start += cut
            chunk = chunk[cut:]
        if chunk:
            yield start, chunk
        pos = match.end()
    if pos < len(text) and text[pos:].strip():
        yield pos, text[pos:]


class _ScoredCombo:
    __slots__ = ("score", "order", "matches")

    def __init__(self, score: float, order: int, matches: List[Match]):
        self.score = score
        self.order = order
        self.matches = matches


def _combo_compare(a: _ScoredCombo, b: _ScoredCombo) -> int:
    if a.score != b.score:
        return -1 if a.score < b.score else 1
    # deterministic tie-break: earlier enumeration wins (DFS order is
    # greedy longest-first, so earlier == preferred)
    if a.order != b.order:
        return 1 if a.order < b.order else -1
    return 0


def _is_triple_match(m: Match) -> bool:
    """Keep triple-relevant matches (ListQueryParser.cs:59-66)."""
    if isinstance(m, ColumnConditionMatch):
        return m.value is not m or m.matched_value is not None
    return isinstance(m, (ColumnMatch, TableMatch, GroupMatch))


def _top_combinations(
    pos_matches: List[Optional[List[Tuple[Match, int]]]],
    next_pos: List[int],
    pre_won: List[int],
    pre_sig: List[int],
    top_k: int,
    long_match_boost: bool,
    max_combinations: int,
) -> TopSet:
    """The top-k of the first ``max_combinations + 1`` DFS combinations
    of the position index ``(pos_matches, next_pos)``
    (``MatchCombinationBuilder.index``), visiting only the subtrees whose
    best leaf could still enter the top-k.

    The fast-path score of a combination is additive over its DFS steps:
    ``(sum(score * won) - c * (matches + significant gaps)) / total_won
    + c`` with ``c = 0.3`` under the long-match boost (else 0), and each
    gap depends only on the resume position and the next match start.
    One right-to-left pass gives, per resume position ``p``, ``cnt[p]``
    (leaves below ``p``) and ``ub[p]`` (the largest additive score any
    leaf below ``p`` reaches). A child is skipped when the top-k is full
    and ``(prefix + step + ub[after]) / total_won + c`` is below the
    current minimum by more than 1e-9 (the margin absorbs rounding
    between this sum and the leaf's own); a later combination with an
    equal score never displaces an earlier one, so no skipped leaf
    could have entered. Skipped leaves still count toward the cap.
    Visited leaves are scored with the exact arithmetic and order of the
    exhaustive walk, so the top-k is identical to scoring every one of
    the first ``max_combinations + 1`` combinations.
    """
    n = len(next_pos) - 1
    total_won = pre_won[n]
    c = 0.3 if long_match_boost else 0.0
    # per start position: (match, resume, score * won) in index order
    steps: List[Optional[List[Tuple[Match, int, float]]]] = [None] * n
    ub = [0.0] * (n + 1)
    cnt = [0] * (n + 1)
    for p in range(n, -1, -1):
        j = next_pos[p]
        if j == p and p < n:
            row = []
            for m, after in pos_matches[p]:
                assert after > p, "match ends before it starts"
                row.append((m, after, m.score * (pre_won[after] - pre_won[p])))
            steps[p] = row
            ub[p] = max(w - c + ub[after] for _, after, w in row)
            cnt[p] = sum(cnt[after] for _, after, _ in row)
        else:
            gap = c if pre_sig[j] - pre_sig[p] > 0 else 0.0
            ub[p] = (0.0 if j == n else ub[j]) - gap
            cnt[p] = 1 if j == n else cnt[j]

    top = TopSet(top_k, _combo_compare)
    chain: List[Tuple[Match, float]] = []  # visited path, sentence order
    # the DFS runs on an explicit stack, not a nested function that
    # recurses through its closure cell: that would be a reference cycle
    # keeping this call's rows alive until the cyclic GC runs. One frame
    # per open position: (its unvisited children, prefix, n_stubs);
    # chain[i] is the step taken out of frame i
    frames: List[Tuple[Iterator[Tuple[Match, int, float]], float, int]] = []
    n_leaves = 0
    bar = float("-inf")  # top's minimum score less the margin, once full
    p, prefix, n_stubs = 0, 0.0, 0
    while True:
        j = next_pos[p]
        significant_gap = pre_sig[j] - pre_sig[p] > 0
        if j == n:
            order = n_leaves
            n_leaves += 1
            if chain:
                total = 0.0
                for _, w in reversed(chain):  # recognize() order: tail first
                    total += w
                total /= total_won
                if long_match_boost:
                    n_matches = len(chain) + n_stubs + significant_gap
                    total += 0.3 * (1.0 - n_matches / total_won)
                top.add(_ScoredCombo(total, order, [m for m, _ in reversed(chain)]))
                if top.count == top.max_size:
                    bar = top.min.score - 1e-9
                chain.pop()
            if n_leaves > max_combinations:
                return top
        else:
            if significant_gap:
                n_stubs += 1
                prefix -= c
            frames.append((iter(steps[j]), prefix, n_stubs))
        # the next child to visit, from the innermost open frame out
        while frames:
            children, prefix, n_stubs = frames[-1]
            for m, after, w in children:
                v = prefix + w - c
                if (v + ub[after]) / total_won + c < bar:
                    n_leaves += cnt[after]
                    if n_leaves > max_combinations:
                        return top
                    continue
                chain.append((m, w))
                p, prefix = after, v
                break
            else:
                frames.pop()
                if chain:
                    chain.pop()
                continue
            break
        else:
            return top


def extract_text_triples(
    text: str,
    recognizer: Recognizer,
    top_k: int = 1,
    long_match_boost: bool = True,
    max_combinations: int = MAX_COMBINATIONS,
    prescreen: Optional[str] = None,
    memo: Optional[Dict[str, tuple]] = None,
) -> List[Tuple[str, str, float, int, int, str]]:
    """Extract triples from one page text.

    Per chunk: tokenize -> collect matches -> top-k by candidate score
    over the recognizer's combination DFS -> emit triples of the best
    combination(s). Returns (pred, obj, score, start, end, rule) tuples
    with absolute char offsets into ``text``.

    Cap: the top-k are the best of the FIRST ``max_combinations + 1``
    combinations in the DFS order of ``Recognizer.recognize`` (greedy
    longest-first); ties go to the earlier combination. The search is
    bounded (:func:`_top_combinations`): a subtree is skipped only when
    the top-k set is full and the subtree's best possible score is below
    its minimum by more than 1e-9; its combinations still count toward
    the cap, and the search stops when the count passes it. The result
    is identical to scoring every combination up to the cap.

    ``memo`` (see :func:`chunk_memo`) caches relative-offset chunk results;
    chunk extraction is a pure function of (chunk, recognizer, params), so
    memoized output is bit-identical to recomputation — repeated boilerplate
    chunks (the common case on web corpora) cost one dict probe.

    Scoring fast path: with IncludeZeroMatches semantics, stub spans
    partition the non-covered tokens, so total-matched-word-count always
    equals the chunk's word count and the stub count equals the number of
    significant gaps between match spans — both computable from prefix
    sums in O(|combo|) instead of materializing StubMatches per
    combination (numerically identical to candidate_score over the
    stub-including combination; covered by tests).
    """
    out: List[Tuple[str, str, float, int, int, str]] = []
    for offset, chunk in _chunks(text):
        if memo is not None:
            hit = _memo_hit(memo, chunk)
            if hit is not None:
                if hit:
                    out.extend(
                        (p, o, sc, s + offset, e + offset, r)
                        for p, o, sc, s, e, r in hit
                    )
                continue
        chunk_tokens = tokenize(chunk)
        if prescreen is not None and not _chunk_can_match(chunk_tokens, prescreen):
            # memo the screened-out chunk too: a repeat skips tokenize
            if memo is not None:
                _memo_put(memo, chunk, ())
            continue  # fast path: no dictionary token in chunk
        n_tok = len(chunk_tokens)
        pre_won = [0] * (n_tok + 1)  # word-or-number prefix counts
        pre_sig = [0] * (n_tok + 1)  # non-separator/sentence-end prefix
        for i, t in enumerate(chunk_tokens):
            tt = t.type
            pre_won[i + 1] = pre_won[i] + (1 if tt == WORD or tt == NUMBER else 0)
            pre_sig[i + 1] = pre_sig[i] + (
                1 if tt != SEPARATOR and tt != SENTENCE_END else 0
            )
        if pre_won[n_tok] == 0:
            if memo is not None:
                _memo_put(memo, chunk, ())
            continue
        seq = TokenSequence(chunk_tokens)
        pos_matches, next_pos = recognizer.combination_builder(
            seq, _is_triple_match
        ).index()
        top = _top_combinations(
            pos_matches, next_pos, pre_won, pre_sig,
            top_k, long_match_boost, max_combinations,
        )
        # emit at relative offset 0, then shift — int addition is
        # exact, so memoized replay at another offset is identical
        rel: List[Tuple[str, str, float, int, int, str]] = []
        for combo in top.to_array():
            rel.extend(_emit_triples(combo.matches, seq, 0, combo.score))
        if memo is not None:
            _memo_put(memo, chunk, tuple(rel))
        if rel:
            out.extend(
                (p, o, sc, s + offset, e + offset, r)
                for p, o, sc, s, e, r in rel
            )
    return out


def extract_text_mentions(
    text: str,
    recognizer: Recognizer,
    prescreen: Optional[str] = None,
    memo: Optional[Dict[str, tuple]] = None,
) -> List[Tuple[str, str, str, float, int, int]]:
    """Mention-detect output for one page (pipeline stage S2-S3): EVERY
    candidate interpretation in the match bag, before combination
    selection — (kind, name, value, score, start, end) with absolute
    char offsets. This feeds the batched entity-link scorer
    (operators.linker.link_topk), which resolves overlapping candidate
    mentions per span; extract_text_triples by contrast emits only the
    winning combination.

    ``memo`` caches relative-offset chunk results exactly as in
    :func:`extract_text_triples` (pure function of chunk + spec; offsets
    shift additively) — use a distinct :func:`chunk_memo` namespace."""
    out: List[Tuple[str, str, str, float, int, int]] = []
    for offset, chunk in _chunks(text):
        if memo is not None:
            hit = _memo_hit(memo, chunk)
            if hit is not None:
                if hit:
                    out.extend(
                        (k, n, v, sc, s + offset, e + offset)
                        for k, n, v, sc, s, e in hit
                    )
                continue
        chunk_tokens = tokenize(chunk)
        if prescreen is not None and not _chunk_can_match(chunk_tokens, prescreen):
            if memo is not None:
                _memo_put(memo, chunk, ())
            continue
        seq = TokenSequence(chunk_tokens)
        bag = recognizer.collect_matches(seq)
        rel: List[Tuple[str, str, str, float, int, int]] = []
        for m in bag.matches:
            start = m.start.start_index
            end = m.end.start_index + len(m.end.value)
            if isinstance(m, ColumnConditionMatch):
                rel.append(
                    (
                        "condition",
                        f"{m.column.name}:{COND_NAMES[m.condition].lower()}",
                        _value_repr(m.value),
                        m.score,
                        start,
                        end,
                    )
                )
            elif isinstance(m, ColumnMatch):
                rel.append(
                    ("column", m.column.name, _span_text(m), m.score, start, end)
                )
            elif isinstance(m, TableMatch):
                rel.append(
                    ("table", m.table.name, _span_text(m), m.score, start, end)
                )
        if memo is not None:
            _memo_put(memo, chunk, tuple(rel))
        if rel:
            out.extend(
                (k, n, v, sc, s + offset, e + offset) for k, n, v, sc, s, e in rel
            )
    return out
