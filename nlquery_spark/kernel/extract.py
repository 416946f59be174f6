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
import heapq
import json
import os
import re
from itertools import islice
from typing import Callable, Dict, Iterator, List, Optional, Sequence, Tuple

from .matchers import _evict_half
from .matches import DateMatch, DateOffsetMatch, Match, NumberMatch
from .recognizer import Recognizer
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
# queries; web pages are split into query-sized chunks so the match bag
# and the combination search stay small. Chunking is internal — the
# page `text` column itself is never modified (byte-identity invariant).
_SENTENCE_SPLIT = re.compile(r"[^.!?\n]*[.!?\n]+|[^.!?\n]+$")
MAX_CHUNK_CHARS = 400
# the cap perfbench counts combinations up to; not an extraction bound
MAX_COMBINATIONS = 1000


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


# Boilerplate-chunk memo: a chunk's rows are a pure function of
# (chunk text, compiled spec, kernel params), and web corpora repeat
# chunks heavily (navigation, footers, templated sentences — this
# repo's CC-style fixture runs ~53-59% repeated chunks, real Common Crawl
# similar). Memoizing relative-offset results per worker process turns
# the recognizer cost of every repeated chunk into a dict hit. Bounded:
# at MEMO_MAX_CHUNKS entries (~1-2 KB/entry worst case => low hundreds
# of MB per python worker) the LEAST-RECENTLY-USED HALF is evicted
# (dict preserves insertion order and _memo_hit re-appends on every
# hit, so dict order IS recency order), so a worker that crosses the
# cap keeps its live boilerplate instead of oscillating between a full
# and an empty memo on adversarially diverse corpora. A pathological
# corpus degrades to the unmemoized cost plus a dict probe, never to
# unbounded memory. Output is identical with any eviction policy
# (memoized replay is bit-identical; only the hit rate changes —
# property-tested in tests/test_extract_scoring.py). The cap is tunable
# via NLQUERY_MEMO_MAX_CHUNKS (read once per worker process at import;
# propagate with spark.executorEnv.* on a cluster) for memory-constrained
# deployments — ~1-2 KB/entry is the sizing rule. Each operator
# invocation gets its own namespace (``...:auto<N>:<spec key>``), so
# a benchmark that re-times the same pages starts cold each pass — run
# 2 measures the engine, not the cache.
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


def chunk_memo(namespace: str) -> Dict[str, tuple]:
    """Per-executor-process chunk-result memo for ``namespace``, which
    the caller scopes to everything that affects the kernel's output
    (the recognizer spec and the scoring params)."""
    memo = _CHUNK_MEMO.get(namespace)
    if memo is None:
        # bound the namespace registry as well: every operator
        # invocation mints a fresh namespace, and reused python workers
        # live for the whole application
        if len(_CHUNK_MEMO) >= 4:
            _CHUNK_MEMO.clear()
        memo = {}
        _CHUNK_MEMO[namespace] = memo
    return memo


def build_prescreen(
    schema_specs: Sequence[Dict], options_spec: Optional[Dict] = None
) -> str:
    """Build the prescreen 'superstring' for the chunk fast path.

    A chunk can only produce matches if some word token is a substring of a
    dictionary phrase (captions/values/boost/month names/offset phrases) or
    is a digit run (numbers & dates). We concatenate every matchable
    phrase (lowercase, NUL-separated) so the per-token screen is one
    ``token in superstring`` check. A miss scans the whole dictionary
    text, so :func:`_chunk_can_match` memoizes the verdict per token.
    Conservative: never skips a chunk that could match.
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


# Prescreen verdicts per worker process: prescreen -> lowered word ->
# ``word in prescreen``. A miss scans the whole dictionary text (93 KB
# for perfbench's 5,000 titles), so each distinct word pays it once.
# Bounded like the chunk memo: half-eviction at PRESCREEN_MEMO_MAX
# words, and at most four prescreens.
PRESCREEN_MEMO_MAX = 100_000

_PRESCREEN_MEMO: Dict[str, Dict[str, bool]] = {}


def _chunk_can_match(tokens, prescreen: str) -> bool:
    memo = _PRESCREEN_MEMO.get(prescreen)
    if memo is None:
        if len(_PRESCREEN_MEMO) >= 4:
            _PRESCREEN_MEMO.clear()
        memo = _PRESCREEN_MEMO[prescreen] = {}
    for t in tokens:
        if t.type == NUMBER:
            return True
        if t.type == WORD:
            word = t.value_lower
            hit = memo.get(word)
            if hit is None:
                if len(memo) >= PRESCREEN_MEMO_MAX:
                    _evict_half(memo)
                hit = memo[word] = word in prescreen
            if hit:
                return True
    return False


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
    matches: Sequence[Match], offset: int
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


def _is_triple_match(m: Match) -> bool:
    """Keep triple-relevant matches (ListQueryParser.cs:59-66)."""
    if isinstance(m, ColumnConditionMatch):
        return m.value is not m or m.matched_value is not None
    return isinstance(m, (ColumnMatch, TableMatch, GroupMatch))


def _prefix_counts(tokens) -> Tuple[List[int], List[int]]:
    """Per token position, the word-or-number tokens before it
    (``pre_won``) and the significant ones, neither separator nor
    sentence end (``pre_sig``)."""
    pre_won = [0] * (len(tokens) + 1)
    pre_sig = [0] * (len(tokens) + 1)
    for i, t in enumerate(tokens):
        tt = t.type
        pre_won[i + 1] = pre_won[i] + (1 if tt == WORD or tt == NUMBER else 0)
        pre_sig[i + 1] = pre_sig[i] + (
            1 if tt != SEPARATOR and tt != SENTENCE_END else 0
        )
    return pre_won, pre_sig


def _top_combinations(
    pos_matches: List[Optional[List[Tuple[Match, int]]]],
    next_pos: List[int],
    pre_won: List[int],
    pre_sig: List[int],
    top_k: int,
    long_match_boost: bool,
) -> List[Tuple[float, List[Match]]]:
    """The exact top-k non-empty combinations of the position index
    ``(pos_matches, next_pos)`` (``MatchCombinationBuilder.index``) as
    ``(score, matches)``, best first, matches tail first like the
    handler of ``Recognizer.recognize``. Needs ``pre_won[-1] > 0``.

    A combination is a path through the DAG of resume positions, and
    its score is additive over the path's steps: ``(sum(score * won) -
    c * (matches + significant gaps)) / total_won + c`` with ``c = 0.3``
    under the long-match boost (else 0); each gap depends only on the
    resume position and the next match start. One right-to-left pass
    keeps, per resume position, the ``top_k`` best suffixes by that
    additive score, ties to the earlier child (the earlier combination
    in DFS order, which is greedy longest-first): k-best paths in a DAG
    (Eppstein 1998). The winners are then scored with the arithmetic of
    the exhaustive walk's leaf, the weighted sum from the tail first,
    ``/ total_won``, then the boost, and ordered by that score, ties to
    the earlier combination.
    """
    n = len(next_pos) - 1
    total_won = pre_won[n]
    c = 0.3 if long_match_boost else 0.0
    # best[p]: up to top_k (additive score, path) suffixes from resume
    # position p, best first; a path is a linked tuple
    # (match, score * won, resume, child index, rest of the path)
    best: List[list] = [None] * (n + 1)
    best[n] = [(0.0, None)]
    for p in range(n - 1, -1, -1):
        j = next_pos[p]
        if j != p:
            gap = c if pre_sig[j] - pre_sig[p] > 0 else 0.0
            best[p] = [(v - gap, path) for v, path in best[j]] if gap else best[j]
            continue
        row = pos_matches[p]
        won = pre_won[p]
        if top_k == 1:  # the first child that reaches the best score
            top = None
            for i, (m, after) in enumerate(row):
                w = m.score * (pre_won[after] - won)
                v = w - c + best[after][0][0]
                if top is None or v > top:
                    top, ti, tw = v, i, w
            m, after = row[ti]
            best[p] = [(top, (m, tw, after, ti, best[after][0][1]))]
            continue
        # (-score, child, rank, score * won, path): the first three are
        # unique, so ties go to the earlier child, then the better suffix
        cands = [
            (-(w - c + v), i, r, w, path)
            for i, (m, after) in enumerate(row)
            for w in (m.score * (pre_won[after] - won),)
            for r, (v, path) in enumerate(best[after])
        ]
        best[p] = [
            (-neg, (row[i][0], w, row[i][1], i, path))
            for neg, i, _, w, path in heapq.nsmallest(top_k, cands)
        ]

    out = []
    for _, path in best[0]:
        if path is None:
            continue  # no matches at all: the empty combination
        # walk the path: its matches, gaps and DFS position
        matches, dfs, n_stubs = [], [], 0
        p = 0
        total = 0.0
        while True:
            j = next_pos[p]
            if pre_sig[j] - pre_sig[p] > 0:
                n_stubs += 1
            if path is None:
                break
            m, w, p, i, path = path
            matches.append((m, w))
            dfs.append(i)
        for _, w in reversed(matches):  # recognize() order: tail first
            total += w
        total /= total_won
        if long_match_boost:
            total += 0.3 * (1.0 - (len(matches) + n_stubs) / total_won)
        out.append((-total, dfs, [m for m, _ in reversed(matches)]))
    out.sort(key=lambda t: (t[0], t[1]))
    return [(-neg, matches) for neg, _, matches in out]


def _chunk_rows(
    text: str,
    prescreen: Optional[str],
    memo: Optional[Dict[str, tuple]],
    rows_of: Callable[[list], tuple],
) -> Iterator[Tuple[int, tuple]]:
    """The chunk loop both page kernels share: ``(offset, rows)`` for
    every chunk of ``text`` that gives rows, with ``rows_of(tokens)``'s
    rows at chunk-relative offsets; the caller shifts them by
    ``offset``. A chunk's rows are a pure function of the chunk, so
    ``memo`` (see :func:`chunk_memo`) keeps them, and a repeated chunk
    costs one ``get`` probe: exactly one per chunk, in ``_chunks``
    order. A chunk the prescreen rejects is memoized too, so a repeat
    skips tokenize."""
    for offset, chunk in _chunks(text):
        if memo is not None:
            rows = _memo_hit(memo, chunk)
            if rows is not None:
                if rows:
                    yield offset, rows
                continue
        tokens = tokenize(chunk)
        if prescreen is not None and not _chunk_can_match(tokens, prescreen):
            rows = ()  # fast path: no dictionary token in the chunk
        else:
            rows = rows_of(tokens)
        if memo is not None:
            _memo_put(memo, chunk, rows)
        if rows:
            yield offset, rows


def extract_text_triples(
    text: str,
    recognizer: Recognizer,
    top_k: int = 1,
    long_match_boost: bool = True,
    prescreen: Optional[str] = None,
    memo: Optional[Dict[str, tuple]] = None,
) -> List[Tuple[str, str, float, int, int, str]]:
    """Extract triples from one page text.

    Per chunk: tokenize -> collect matches -> the exact top-k by
    candidate score over all of the recognizer's match combinations
    (:func:`_top_combinations`; ties go to the earlier combination in
    the DFS order of ``Recognizer.recognize``, greedy longest-first) ->
    emit triples of the best combination(s). Returns (pred, obj, score,
    start, end, rule) tuples with absolute char offsets into ``text``.
    ``prescreen`` and ``memo`` skip work and never change the output
    (:func:`_chunk_rows`); a memo namespace must be scoped to
    ``top_k`` and ``long_match_boost``.

    Scoring: with IncludeZeroMatches semantics, stub spans partition the
    non-covered tokens, so the reference's weighted match sum
    (QueryCandidate.cs:23-44) needs no StubMatch per combination: the
    matched word count always equals the chunk's word count and the stub
    count equals the number of significant gaps between match spans,
    both from prefix sums (the tests check this against the reference
    scoring over the stub-including combination).
    """

    def triples_of(tokens) -> tuple:
        pre_won, pre_sig = _prefix_counts(tokens)
        if pre_won[-1] == 0:
            return ()
        pos_matches, next_pos = recognizer.combination_builder(
            TokenSequence(tokens), _is_triple_match
        ).index()
        top = _top_combinations(
            pos_matches, next_pos, pre_won, pre_sig, top_k, long_match_boost
        )
        # emit at relative offset 0; int addition is exact, so memoized
        # replay at another offset is identical
        return tuple(t for _, matches in top for t in _emit_triples(matches, 0))

    return [
        (p, o, sc, s + offset, e + offset, r)
        for offset, rows in _chunk_rows(text, prescreen, memo, triples_of)
        for p, o, sc, s, e, r in rows
    ]


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
    winning combination. ``prescreen`` and ``memo`` as in
    :func:`extract_text_triples`; the memo namespace must not be one of
    the triples'."""

    def mentions_of(tokens) -> tuple:
        rows = []
        for m in recognizer.collect_matches(TokenSequence(tokens)).matches:
            start = m.start.start_index
            end = m.end.start_index + len(m.end.value)
            if isinstance(m, ColumnConditionMatch):
                rows.append(
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
                rows.append(
                    ("column", m.column.name, _span_text(m), m.score, start, end)
                )
            elif isinstance(m, TableMatch):
                rows.append(
                    ("table", m.table.name, _span_text(m), m.score, start, end)
                )
        return tuple(rows)

    return [
        (k, n, v, sc, s + offset, e + offset)
        for offset, rows in _chunk_rows(text, prescreen, memo, mentions_of)
        for k, n, v, sc, s, e in rows
    ]
