"""Matcher operators over token sequences.

Behavioral parity ports of every IMatcher in the reference
(/root/reference/src/NReco.NLQuery/Matchers/*.cs and
Internal/{MatchHelper,StopWordsFilter}.cs). Each matcher is a small
object with ``first_pass_only`` / ``recursive`` flags and a
``get_matches(match_bag)`` generator, exactly mirroring IMatcher.cs:22-40.

Pure Python, no Spark imports: instances are compiled driver-side by the
dictionary builder, pickled into a broadcast, and executed inside Arrow
batches on executors.
"""

from __future__ import annotations

import os
from decimal import Decimal
from itertools import islice
from typing import Callable, Iterable, Iterator, List, Optional, Sequence, Tuple

from .matches import (
    SCORE_CERTAIN,
    SCORE_MAYBE,
    DateMatch,
    DateOffsetMatch,
    Match,
    MatchBag,
    NumberMatch,
    StubMatch,
)
from .tokens import (
    MATH,
    NUMBER,
    PUNCTUATION,
    SENTENCE_END,
    SEPARATOR,
    WORD,
    Token,
    TokenSequence,
)


def _evict_half(memo: dict) -> None:
    """Drop the oldest-inserted half of a token-keyed memo at its cap —
    the same never-wholesale policy as kernel.extract._memo_put (a full
    clear oscillates between a full and an empty memo on diverse
    corpora; the 3-line loop is duplicated rather than shared because
    matchers cannot import extract — extract imports recognizer imports
    matchers). No LRU refresh here, deliberately: these memos sit on
    the per-TOKEN hot loop where a delete+re-append per hit is
    measurable, and re-learning one evicted token costs a single
    gazetteer/phrase scan — orders of magnitude cheaper than the chunk
    extraction the chunk memo protects, so FIFO's worst case is
    acceptable."""
    for k in list(islice(iter(memo), max(1, len(memo) // 2))):
        del memo[k]


# Executable purity contract (ADVICE r7): every skip of a matcher call
# in the kernel is exact ONLY if the skipped call would yield nothing:
# the first pass's trigger table (CompositeMatcher), the recursive
# matchers' screens (``can_match``) and the fixpoint's unchanged-bag
# skip (``bag_state``, kernel.recognizer), which relies on every
# matcher's get_matches being a pure function of (statement, bag
# contents). With NLQUERY_DEBUG_PURITY=1 every skipped matcher is run
# anyway and must yield nothing, so a wrong screen or a stateful
# matcher fails loudly instead of silently changing results. Off by
# default (it runs every matcher on every call); pinned on in
# tests/test_recognizer.py.
DEBUG_PURITY = os.environ.get("NLQUERY_DEBUG_PURITY", "") not in ("", "0", "false")


def check_skip(matcher, match_bag: MatchBag, reason: str) -> None:
    """Under ``DEBUG_PURITY``: run a skipped matcher and raise if it
    yields anything (raise, not assert: under python -O an assert
    compiles away and the flag would verify nothing)."""
    leaked = list(matcher.get_matches(match_bag))
    if leaked:
        raise RuntimeError(
            f"{type(matcher).__name__}.get_matches produced "
            f"{len(leaked)} match(es) on a call skipped because {reason}; "
            "the skip is unsound for it"
        )


# Pinned reference year for the DateMatcher year-closeness boost. The
# reference uses DateTime.Now.Year (DateMatcher.cs:169) — a determinism
# hazard at scale; we pin it (SURVEY.md §4.3).
REFERENCE_YEAR = 2024

# Comparison types (ComparisonMatcher.cs:220-228)
CMP_EQUAL = 1
CMP_LESS_THAN = 2
CMP_GREATER_THAN = 4
CMP_LESS_THAN_OR_EQUAL = 3
CMP_GREATER_THAN_OR_EQUAL = 5
CMP_NOT_EQUAL = 8
CMP_LIKE = 16

CMP_NAMES = {
    CMP_EQUAL: "Equal",
    CMP_LESS_THAN: "LessThan",
    CMP_GREATER_THAN: "GreaterThan",
    CMP_LESS_THAN_OR_EQUAL: "LessThanOrEqual",
    CMP_GREATER_THAN_OR_EQUAL: "GreaterThanOrEqual",
    CMP_NOT_EQUAL: "NotEqual",
    CMP_LIKE: "Like",
}

# Group types (GroupMatcher.cs:146-149)
GRP_AND = 1
GRP_OR = 2
GRP_NAMES = {GRP_AND: "And", GRP_OR: "Or"}

# ListContainsMatcher.ContainsType (ListContainsMatcher.cs:122-126)
CONTAINS = 0
STARTS_WITH = 1
EXACT = 2


def run_state_machine(tokens: Sequence[Token], start) -> Iterator[Match]:
    """Generic NFA runner (Internal/MatchHelper.cs:9-32).

    Protocol: for each token, expand every live state via ``next(t)``,
    then harvest ``get_result()`` from the *previous* state set — states
    that die on a token still emit their completed match that iteration.
    """
    states = [start]
    for t in tokens:
        prev_states = states
        states = []
        for prev_state in prev_states:
            states.extend(prev_state.next(t))
            match = prev_state.get_result()
            if match is not None:
                yield match


class StopWordsFilter:
    """Lowercased stop-word set (Internal/StopWordsFilter.cs:22-45)."""

    __slots__ = ("stop_words",)

    def __init__(self, stop_words: Iterable[str]):
        self.stop_words = frozenset(w.lower() for w in stop_words)

    def is_stop_word(self, s: str) -> bool:
        return s.lower() in self.stop_words

    def remove_stop_words(self, tokens: Iterable[Token]) -> Iterator[Token]:
        for t in tokens:
            if t.type != WORD or t.value_lower not in self.stop_words:
                yield t


class CompositeMatcher:
    """Concatenates child matchers' outputs (CompositeMatcher.cs:22-41).

    Runs only the children a chunk can trigger. A child with a
    ``fires_on(value, token_type)`` method yields nothing on a statement
    unless it fires on one of the statement's tokens, keyed by the exact
    token value (the stemmer is case-sensitive) and the token's type (a
    sentence end's empty value is a substring of every phrase word, but
    no phrase matcher reads it); a child without one always runs. The
    trigger table maps each such key to the bitmask of the children
    that fire on it, memoized per instance (so per worker) and
    half-evicted at ``MEMO_MAX`` like the matchers' token memos. Per
    statement, one walk over its distinct keys ORs their masks, and the
    children whose bit is set run in list order, so the emitted matches
    and their order are those of running every child. With
    ``DEBUG_PURITY`` on, each left-out child is run anyway and must
    yield nothing."""

    first_pass_only = True
    recursive = False

    MEMO_MAX = 500_000

    def __init__(self, matchers):
        self.matchers = list(matchers)
        self._always = 0  # bits of the children without a trigger
        self._triggers = []  # (bit, fires_on) of the others
        for i, m in enumerate(self.matchers):
            fires_on = getattr(m, "fires_on", None)
            if fires_on is None:
                self._always |= 1 << i
            else:
                self._triggers.append((1 << i, fires_on))
        self._table = {}  # (token value, token type) -> bitmask
        self._runs = {}  # bitmask -> the children it selects, in order

    def children_for(self, tokens) -> list:
        """The children a statement of ``tokens`` can trigger, in list
        order."""
        table = self._table
        mask = self._always
        for key in {(t.value, t.type) for t in tokens}:
            bits = table.get(key)
            if bits is None:
                if len(table) > self.MEMO_MAX:
                    _evict_half(table)
                bits = table[key] = sum(
                    bit for bit, fires_on in self._triggers if fires_on(*key)
                )
            mask |= bits
        run = self._runs.get(mask)
        if run is None:
            if len(self._runs) > self.MEMO_MAX:
                _evict_half(self._runs)
            run = self._runs[mask] = [
                m for i, m in enumerate(self.matchers) if mask >> i & 1
            ]
        return run

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        run = self.children_for(match_bag.statement.tokens)
        if DEBUG_PURITY:
            for matcher in self.matchers:
                if matcher not in run:
                    check_skip(matcher, match_bag, "no token triggers it")
        for matcher in run:
            yield from matcher.get_matches(match_bag)


class TokenFilterMatcher:
    """Feeds a predicate-filtered token view to a wrapped matcher
    (TokenFilterMatcher.cs:22-41).

    The fixpoint calls a recursive wrapper once per generation on the
    same statement, so the filtered sequence is built once per statement
    (the last one is kept, checked by identity). The wrapped matcher's
    screen (``can_match``) and bag key (``bag_state``) are evaluated on
    the filtered view; a wrapped matcher without a screen always runs,
    and one without a bag key re-runs on any new match, as the
    recognizer treats an unwrapped one."""

    def __init__(self, base_matcher, predicate: Callable[[Token], bool]):
        self.matcher = base_matcher
        self.predicate = predicate
        self._screen = getattr(base_matcher, "can_match", None)
        self._key = getattr(base_matcher, "bag_state", None)
        self._last = (None, None)  # (statement, its filtered sequence)

    @property
    def first_pass_only(self):
        return self.matcher.first_pass_only

    @property
    def recursive(self):
        return self.matcher.recursive

    def _view(self, match_bag: MatchBag) -> MatchBag:
        # wrapped matchers only read the bag, so they can share it
        statement = match_bag.statement
        last, filtered = self._last
        if last is not statement:
            filtered = TokenSequence(
                [t for t in statement.tokens if self.predicate(t)]
            )
            self._last = (statement, filtered)
        return match_bag.with_statement(filtered)

    def can_match(self, match_bag: MatchBag) -> bool:
        return self._screen is None or self._screen(self._view(match_bag))

    def bag_state(self, match_bag: MatchBag):
        if self._key is None:
            return len(match_bag.matches)
        return self._key(self._view(match_bag))

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        return self.matcher.get_matches(self._view(match_bag))


class ExactPhraseMatcher:
    """All phrase words, in order, case-insensitive
    (ExactPhraseMatcher.cs:24-120)."""

    first_pass_only = True
    recursive = False

    def __init__(self, match_words: Sequence[str], get_match: Callable[[], Match]):
        self.words = list(match_words)
        self.get_match = get_match
        self.allow_separators = True
        self._words_lower = [w.lower() for w in self.words]

    def fires_on(self, value: str, token_type: int) -> bool:
        # the FSM starts only on a non-empty token (of any type) equal,
        # lowercased, to the first word; a wordless phrase never matches
        return bool(value) and bool(self._words_lower) and (
            value.lower() == self._words_lower[0]
        )

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        if len(self.words) == 1:
            return self._match_single_word(match_bag.statement.tokens)
        return run_state_machine(
            match_bag.statement.tokens, _ExactPhraseState(self)
        )

    def _match_single_word(self, tokens) -> Iterator[Match]:
        lower_word = self._words_lower[0]
        for t in tokens:
            if t.value and t.value_lower == lower_word:
                m = self.get_match()
                m.matched_tokens_count = 1
                m.score = m.score if m.score > 0 else SCORE_CERTAIN
                m.start = t
                m.end = t
                yield m


class _ExactPhraseState:
    __slots__ = ("matcher", "word_index", "start", "end")

    def __init__(self, matcher: ExactPhraseMatcher):
        self.matcher = matcher
        self.word_index = 0
        self.start = None
        self.end = None

    def get_result(self) -> Optional[Match]:
        if self.start is None or self.word_index < len(self.matcher.words):
            return None
        m = self.matcher.get_match()
        m.matched_tokens_count = len(self.matcher.words)
        m.score = m.score if m.score > 0 else SCORE_CERTAIN
        m.start = self.start
        m.end = self.end
        return m

    def next(self, t: Token):
        if self.start is None:
            yield self  # propagate start state
        if self.word_index >= len(self.matcher.words):
            return
        if t.value and self.matcher._words_lower[self.word_index] == t.value_lower:
            if self.start is None:
                state = _ExactPhraseState(self.matcher)
                state.start = t
                state.end = t
                state.word_index = 1
                yield state
            else:
                self.end = t
                self.word_index += 1
                if self.word_index < len(self.matcher.words):
                    yield self
        elif t.type == SEPARATOR and self.matcher.allow_separators:
            if self.word_index > 0:
                yield self  # skip space and continue


class LikePhraseMatcher:
    """Phrase words in any order, token-substring-in-word scoring
    (LikePhraseMatcher.cs:23-145)."""

    first_pass_only = True
    recursive = False

    MEMO_MAX = 500_000

    def __init__(self, match_words: Sequence[str], get_match: Callable[[], Match]):
        self.words = list(match_words)
        self.get_match = get_match
        self.total_phrase_length = sum(len(w) for w in self.words)
        self.phrase_words_count = len(self.words)
        self.score_weight_by_total_length = False
        self.apply_stemmer: Optional[Callable[[str], str]] = None
        self._words_lower = [w.lower() for w in self.words]
        # token -> (score, matched_word) | None; keyed by exact token
        # value (stemmer is case-sensitive); tokens are Zipfian so the
        # per-token phrase scan amortizes away
        self._like_memo = {}

    def fires_on(self, value: str, token_type: int) -> bool:
        # a match needs a word or number token like a phrase word
        return (token_type == WORD or token_type == NUMBER) and (
            self._like(value) is not None
        )

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        start = None
        end = None
        score = 0.0
        matched = set()

        def current_match():
            nonlocal start, end, score
            if start is None:
                return None
            m = self.get_match()
            m.matched_tokens_count = len(matched)
            m.start = start
            m.end = end
            # non-zero factory score acts as a multiplier (:100-101)
            m.score = m.score * score if m.score > 0 else score
            start = end = None
            score = 0.0
            matched.clear()
            return m

        for t in match_bag.statement.tokens:
            if t.type == SEPARATOR:
                continue
            if t.type == NUMBER or t.type == WORD:
                memo = self._like_memo
                tv = t.value
                if tv in memo:
                    like = memo[tv]
                else:
                    if len(memo) > self.MEMO_MAX:
                        _evict_half(memo)
                    like = self._like(tv)
                    memo[tv] = like
                if like is not None:
                    like_score, matched_word = like
                    if matched_word in matched:
                        # phrase word double match — flush current
                        m = current_match()
                        if m is not None:
                            yield m
                    matched.add(matched_word)
                    if start is None:
                        start = t
                    end = t
                    score += like_score
                else:
                    m = current_match()
                    if m is not None:
                        yield m
            else:
                m = current_match()
                if m is not None:
                    yield m

    def _get_score(self, word: str, match_str: str, match_idx: int) -> float:
        if self.score_weight_by_total_length:
            score = float(len(match_str)) / self.total_phrase_length
        else:
            word_score = float(len(match_str)) / len(word)
            score = word_score / self.phrase_words_count
        if match_idx > 0:
            score /= 2  # not word start penalty
        return score

    def _like(self, s: str) -> Optional[Tuple[float, str]]:
        s_lower = s.lower()
        for i, word in enumerate(self.words):
            idx = self._words_lower[i].find(s_lower)
            if idx < 0 and self.apply_stemmer is not None:
                ss = self.apply_stemmer(s)
                stemmed_word = self.apply_stemmer(word)
                if ss != s:
                    idx = stemmed_word.lower().find(ss.lower())
                    if idx >= 0:
                        s = ss
            if idx >= 0:
                return self._get_score(word, s, idx), word
        return None


class ListContainsMatcher:
    """Gazetteer operator: dictionary value x token substring containment
    with per-token max-score throttling (ListContainsMatcher.cs:23-127).

    The throttle decides a token's k-th hit, in value order, from that
    token's own hits alone: the hit passes if k is within
    ``max_score_filter_threshold`` or its score beats every earlier hit
    of the token. So the decision is made once per token value and kept
    in the token memo, as ``{value_idx: (contains, score, passed)}`` plus
    the list of passing values (the memo is rebuilt when the threshold
    changes). Per chunk, a value is emitted if one of its hits passed or
    if two or more token occurrences hit it (the reference then yields
    its skipped hits too); only those values are grouped, sorted and
    built into matches. The emission order is the reference's
    (value-outer, token-inner)."""

    first_pass_only = True
    recursive = False

    # memo size cap per matcher instance (per executor process)
    MEMO_MAX = 500_000

    def __init__(self, values: Sequence[str], get_match):
        # get_match(contains_type, (value_index, value)) -> Match
        self.values = list(values)
        self.get_match = get_match
        self.apply_stemmer: Optional[Callable[[str], str]] = None
        self.max_score_filter_threshold = 10
        self._values_lower = [v.lower() for v in self.values]
        # (token value, is NUMBER) -> ({value_idx: (contains, score,
        # passed)}, [passing value_idx]) under _memo_threshold; keyed by
        # the exact token value (the stemmer is case-sensitive)
        self._token_memo = {}
        self._memo_threshold = self.max_score_filter_threshold

    def fires_on(self, value: str, token_type: int) -> bool:
        # a match needs a word or number token that hits a value
        return (token_type == WORD or token_type == NUMBER) and bool(
            self._lookup(value, token_type == NUMBER)[0]
        )

    def _lookup(self, token_val: str, is_number: bool):
        """All hits of a token across the whole gazetteer, in value
        order, with the throttle's verdict on each, and the values whose
        hit passed — memoized (tokens are Zipfian; one O(V) scan per
        distinct token amortizes the V x T loop away). The score depends
        only on the token value and whether it is a NUMBER, which
        together key the memo."""
        memo = self._token_memo
        entry = memo.get((token_val, is_number))
        if entry is None:
            if len(memo) > self.MEMO_MAX:
                _evict_half(memo)
            hits = {}
            passing = []
            threshold = self._memo_threshold
            n_hits = 0
            max_score = 0.0
            token_lower = token_val.lower()
            stemmer = self.apply_stemmer
            token_stem = None
            if stemmer is not None:
                ts = stemmer(token_val)
                if ts != token_val:
                    token_stem = ts
            stem_lower = token_stem.lower() if token_stem is not None else None
            values = self.values
            for vi, val_lower in enumerate(self._values_lower):
                idx = val_lower.find(token_lower)
                used = token_val
                if idx < 0 and stem_lower is not None:
                    idx = val_lower.find(stem_lower)
                    if idx >= 0:
                        used = token_stem
                if idx < 0:
                    continue
                val = values[vi]
                if idx == 0:
                    contains = EXACT if len(val) == len(used) else STARTS_WITH
                else:
                    contains = CONTAINS
                score = float(len(used)) / len(val)
                if is_number:
                    next_char_idx = idx + len(used)
                    if idx > 0 and val[idx - 1].isalnum():
                        score /= 2  # not number start
                    if next_char_idx < len(val) and val[next_char_idx].isalnum():
                        score /= 2  # not number end
                elif idx > 0 and val[idx - 1].isalnum():
                    score /= 2  # not word start penalty
                n_hits += 1
                is_new_max = score > max_score
                if is_new_max:
                    max_score = score
                passed = n_hits <= threshold or is_new_max
                if passed:
                    passing.append(vi)
                hits[vi] = (contains, score, passed)
            entry = memo[(token_val, is_number)] = (hits, passing)
        return entry

    def _match(self, vi: int, t: Token, contains: int, score: float) -> Match:
        m = self.get_match(contains, (vi, self.values[vi]))
        m.score = score
        m.matched_tokens_count = 1
        m.start = t
        m.end = t
        return m

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        if self.max_score_filter_threshold != self._memo_threshold:
            self._token_memo = {}
            self._memo_threshold = self.max_score_filter_threshold
        occurrences = []  # (token, hits) per word/number token, in order
        emitted = set()
        seen = set()
        for t in match_bag.statement.tokens:
            ttype = t.type
            if ttype == WORD or ttype == NUMBER:
                hits, passing = self._lookup(t.value, ttype == NUMBER)
                if hits:
                    keys = hits.keys()
                    emitted.update(passing)
                    emitted |= keys & seen  # hit by an earlier occurrence too
                    seen |= keys
                    occurrences.append((t, hits))
        if not emitted:
            return
        # emitted values grouped by value, token order kept inside each
        by_value: dict = {}
        for t, hits in occurrences:
            for vi in hits.keys() & emitted:
                by_value.setdefault(vi, []).append((t, hits[vi]))
        for vi in sorted(by_value):
            entries = by_value[vi]
            for t, (contains, score, passed) in entries:
                if passed:
                    yield self._match(vi, t, contains, score)
            if len(entries) > 1:
                # the reference yields a value's skipped hits after its
                # other ones whenever the value has more than one hit
                for t, (contains, score, passed) in entries:
                    if not passed:
                        yield self._match(vi, t, contains, score)


class NumberMatcher:
    """Number FSM incl. 'N . N' / 'N , N' decimals (NumberMatcher.cs:23-93)."""

    first_pass_only = True
    recursive = False

    @staticmethod
    def fires_on(value: str, token_type: int) -> bool:
        # every match ends on a NUMBER token
        return token_type == NUMBER

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        return run_state_machine(match_bag.statement.tokens, _NumberState())


class _NumberState:
    __slots__ = ("start", "end")

    def __init__(self, start=None, end=None):
        self.start = start
        self.end = end

    def get_result(self) -> Optional[Match]:
        if self.start is None or self.end is None or self.end.type != NUMBER:
            return None
        m = NumberMatch()
        m.matched_tokens_count = 1
        m.score = SCORE_CERTAIN
        m.start = self.start
        m.end = self.end
        num_str = self.start.value
        if self.start is not self.end:
            num_str += "." + self.end.value
        m.value = Decimal(num_str)
        return m

    def next(self, t: Token):
        if self.start is None:
            yield self  # propagate start state
        if t.type == PUNCTUATION:
            if (
                self.start is not None
                and self.start is self.end
                and (t.value == "." or t.value == ",")
            ):
                yield _NumberState(self.start, t)
        elif t.type == NUMBER:
            if self.start is None:
                yield _NumberState(t, t)
            elif self.end is not None and self.end.type == PUNCTUATION:
                self.end = None
                yield _NumberState(self.start, t)


# en-US / invariant-culture month name tables (reference uses
# DateTimeFormatInfo tables, DateMatcher.cs:72-83; tests pin en-US).
_MONTH_NAMES = [
    "january", "february", "march", "april", "may", "june", "july",
    "august", "september", "october", "november", "december",
]
_MONTH_ABBREVS = [
    "jan", "feb", "mar", "apr", "may", "jun", "jul",
    "aug", "sep", "oct", "nov", "dec",
]
_MONTH_LOOKUP = {name: i + 1 for i, name in enumerate(_MONTH_NAMES)}
_MONTH_LOOKUP.update({name: i + 1 for i, name in enumerate(_MONTH_ABBREVS)})


class DateMatcher:
    """Nondeterministic partial-date FSM emitting all interpretations
    (DateMatcher.cs:23-206). Year-closeness boost pinned to
    ``now_year`` (default REFERENCE_YEAR) instead of wall clock."""

    first_pass_only = True
    recursive = False

    def __init__(self, boost_year_window: int = 100, now_year: int = None):
        self.boost_year_window = boost_year_window
        self.now_year = now_year if now_year is not None else REFERENCE_YEAR
        self.month_lookup = _MONTH_LOOKUP

    def set_month_tables(self, tables) -> None:
        """Culture injection (Options.DateTimeFormat analog,
        DateMatcher.cs:72-83): ordered month-name tables — typically
        (MonthNames, MonthGenitiveNames, AbbreviatedMonthNames,
        AbbreviatedMonthGenitiveNames); first table containing a name
        wins, matching the reference's loop order."""
        lookup: dict = {}
        for table in tables:
            for i, name in enumerate(table):
                if name:
                    lookup.setdefault(name.lower(), i + 1)
        self.month_lookup = lookup

    def fires_on(self, value: str, token_type: int) -> bool:
        # a date starts on a NUMBER token or a month-name word
        return token_type == NUMBER or (
            token_type == WORD and value.lower() in self.month_lookup
        )

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        return run_state_machine(
            match_bag.statement.tokens, _DateState(self, DateMatch())
        )

    def try_parse_month_name(self, s: str) -> int:
        return self.month_lookup.get(s.lower(), -1)

    def is_valid_date(self, date: DateMatch) -> bool:
        if date.year is not None:
            if date.month is not None and date.day is not None:
                return date.day <= _days_in_month(date.year, date.month)
            if date.month is not None:
                return True
            if date.day is None:
                return True
            return False  # year+day not allowed
        return date.score > SCORE_MAYBE


def _days_in_month(year: int, month: int) -> int:
    import calendar

    return calendar.monthrange(year, month)[1]


class _DateState:
    __slots__ = ("current", "prev_punctuation", "finish", "matcher")

    def __init__(self, matcher: DateMatcher, date: DateMatch):
        self.current = date
        self.prev_punctuation = False
        self.finish = False
        self.matcher = matcher

    def get_result(self) -> Optional[Match]:
        if self.current.start is None or not self.finish:
            return None
        return self.current

    @staticmethod
    def _add_token(d: DateMatch, t: Token, score: float) -> None:
        if d.start is None:
            d.start = t
        d.end = t
        d.matched_tokens_count += 1
        parts = (d.year is not None) + (d.month is not None) + (d.day is not None)
        if parts == 0:
            d.score = score
        else:
            d.score = (d.score * parts + score) / (parts + 1)

    def next(self, t: Token):
        cur = self.current
        if cur.start is None:
            yield self  # propagate start state
        next_states = 0
        ttype = t.type
        if ttype == SEPARATOR:
            if cur.start is not None:
                next_states += 1
                yield self
        elif ttype == MATH or ttype == PUNCTUATION:
            is_typical = t.value == "/" or t.value == "." or t.value == "-"
            if cur.start is not None and not self.prev_punctuation and (
                is_typical or t.value == ","
            ):
                self.prev_punctuation = True
                if is_typical and cur.score <= SCORE_MAYBE:
                    cur.score += 0.1  # boost
                next_states += 1
                yield self
        elif ttype == WORD:
            if cur.month is None:
                month = self.matcher.try_parse_month_name(t.value)
                if month >= 0:
                    d = DateMatch(cur)
                    self._add_token(d, t, SCORE_CERTAIN)
                    d.month = month
                    next_states += 1
                    yield _DateState(self.matcher, d)
        elif ttype == NUMBER:
            try:
                num = int(t.value)
            except ValueError:
                num = None
            if num is not None:
                if cur.year is None and len(t.value) == 4:
                    score = SCORE_CERTAIN
                    if self.matcher.boost_year_window > 0:
                        boost = float(
                            min(
                                self.matcher.boost_year_window,
                                abs(num - self.matcher.now_year),
                            )
                        ) / self.matcher.boost_year_window
                        score -= boost / 4
                    d = DateMatch(cur)
                    self._add_token(d, t, score)
                    d.year = num
                    next_states += 1
                    yield _DateState(self.matcher, d)
                if cur.month is None and 1 <= num <= 12:
                    d = DateMatch(cur)
                    self._add_token(d, t, SCORE_MAYBE)
                    d.month = num
                    next_states += 1
                    yield _DateState(self.matcher, d)
                if cur.day is None and 1 <= num <= 31:
                    d = DateMatch(cur)
                    self._add_token(d, t, SCORE_MAYBE)
                    d.day = num
                    next_states += 1
                    yield _DateState(self.matcher, d)
        if cur.start is not None and next_states == 0 and self.matcher.is_valid_date(cur):
            self.finish = True


class ComparisonMatcher:
    """Merges '<entity> <op> <value>' and '<op> <value> <entity>'
    (ComparisonMatcher.cs:20-218). The entity is a match of class
    ``left_type``."""

    first_pass_only = False
    recursive = False

    def __init__(self, left_type, get_comparison_match):
        self.left_type = left_type
        self.get_comparison_match = get_comparison_match
        # list of (words_tuple, cmp_type) in priority order
        self.phrase_comparison_types = None
        self.is_phrase_stop_word: Optional[Callable[[str], bool]] = None
        self._screen_cache = None  # one-slot (statement, active, has_math)

    @property
    def phrase_comparison_types(self) -> Optional[List[Tuple[Sequence[str], int]]]:
        return self._phrase_types

    @phrase_comparison_types.setter
    def phrase_comparison_types(self, phrases) -> None:
        self._phrase_types = phrases
        # each phrase with its words' lowered set, made once for the screen
        self._phrases_lower = [
            (phrase, frozenset(w.lower() for w in phrase[0]))
            for phrase in phrases or ()
        ]
        self._screen_cache = None

    def _screen(self, statement):
        """Per-statement screen, ``(active, has_math)``: a phrase op can
        only match when every one of its words occurs as a token
        (stop-word skipping inserts tokens, never substitutes), so the
        phrase table is filtered against the statement's token-value set
        once instead of re-walking every phrase at every candidate
        position; a math op needs a MATH token. One-slot cache: the
        recursive fixpoint re-enters this matcher for the same statement
        every generation, and the screen depends only on the statement's
        tokens (which never change across generations) — identity-keyed
        with a strong ref, so the slot can't dangle onto a recycled id."""
        cached = self._screen_cache
        if cached is not None and cached[0] is statement:
            return cached[1], cached[2]
        vs = statement.value_set
        active = [
            phrase
            for phrase, words_lower in self._phrases_lower
            if words_lower and words_lower <= vs
        ]
        has_math = any(t.type == MATH for t in statement.tokens)
        self._screen_cache = (statement, active, has_math)
        return active, has_math

    def can_match(self, match_bag: MatchBag) -> bool:
        """False only if ``get_matches`` yields nothing: every merge
        needs a left match and an operator, a math op (a MATH token) or
        an active phrase."""
        if not match_bag.of_type(self.left_type):
            return False
        active, has_math = self._screen(match_bag.statement)
        return has_math or bool(active)

    def _match_phrase_op(self, tokens, idx, go_reverse=False, phrases=None):
        """Returns (cmp, tokens_count, new_idx) or None."""
        if phrases is None:
            phrases = self.phrase_comparison_types
        if not phrases:
            return None
        for words, cmp_type in phrases:
            if len(words) == 0:
                continue
            res = (
                self._match_reverse(words, tokens, idx)
                if go_reverse
                else self._match_forward(words, tokens, idx)
            )
            if res is not None:
                return cmp_type, len(words), res
        return None

    def _match_forward(self, words, tokens, start_idx):
        i = 0
        n = len(tokens)
        while i < len(words):
            while start_idx < n and tokens[start_idx].type == SEPARATOR:
                start_idx += 1
            if start_idx >= n or words[i].lower() != tokens[start_idx].value_lower:
                if (
                    self.is_phrase_stop_word is not None
                    and start_idx < n
                    and self.is_phrase_stop_word(tokens[start_idx].value)
                ):
                    start_idx += 1  # skip stop word, retry same entry
                    continue
                return None
            start_idx += 1
            i += 1
        return start_idx

    def _match_reverse(self, words, tokens, start_idx):
        i = len(words) - 1
        while i >= 0:
            while start_idx >= 0 and tokens[start_idx].type == SEPARATOR:
                start_idx -= 1
            if start_idx <= 0 or words[i].lower() != tokens[start_idx].value_lower:
                if (
                    self.is_phrase_stop_word is not None
                    and start_idx >= 0
                    and self.is_phrase_stop_word(tokens[start_idx].value)
                ):
                    start_idx -= 1  # skip stop word, retry same entry
                    continue
                return None
            start_idx -= 1
            i -= 1
        return start_idx

    @staticmethod
    def _match_math_op(tokens, idx):
        """Returns (cmp, new_idx) or None (ComparisonMatcher.cs:92-118)."""
        next_token = tokens[idx + 1] if idx + 1 < len(tokens) else None
        v = tokens[idx].value
        if v == "=":
            if next_token is not None and next_token.value == "=":
                idx += 1
            return CMP_EQUAL, idx
        if v == ">":
            cmp = CMP_GREATER_THAN
            if next_token is not None and next_token.value == "=":
                idx += 1
                cmp = CMP_GREATER_THAN_OR_EQUAL
            return cmp, idx
        if v == "<":
            cmp = CMP_LESS_THAN
            if next_token is not None and next_token.value == "=":
                idx += 1
                cmp = CMP_LESS_THAN_OR_EQUAL
            return cmp, idx
        return None

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        tokens = match_bag.statement.tokens
        active = self._screen(match_bag.statement)[0]
        for left in list(match_bag.of_type(self.left_type)):
            end_idx = match_bag.statement.get_index(left.end)
            cmp = 0
            cmp_tokens = 0
            # direct order: <entity> <op> <value>
            i = end_idx + 1
            while i < len(tokens) - 1:  # op cannot be last token
                t = tokens[i]
                if t.type == SEPARATOR:
                    i += 1
                    continue
                if t.type == MATH:
                    math_res = self._match_math_op(tokens, i)
                    if math_res is not None:
                        cmp, i = math_res
                        i += 1
                        continue
                    break
                if t.type == NUMBER or t.type == WORD:
                    if cmp > 0:
                        has_matches = False
                        for m in match_bag.find_by_start(t):
                            has_matches = True
                            merged = self.get_comparison_match(left, cmp, m)
                            if merged is not None:
                                merged.matched_tokens_count = (
                                    left.matched_tokens_count
                                    + cmp_tokens
                                    + m.matched_tokens_count
                                )
                                merged.start = left.start
                                merged.end = m.end
                                if merged.score == 0.0:
                                    merged.score = (left.score + m.score) / 2
                                yield merged
                        if not has_matches:
                            stub = StubMatch()
                            stub.start = t
                            stub.end = t
                            merged = self.get_comparison_match(left, cmp, stub)
                            if merged is not None:
                                merged.matched_tokens_count = (
                                    left.matched_tokens_count
                                    + cmp_tokens
                                    + merged.matched_tokens_count
                                )
                                merged.start = left.start
                                merged.end = t
                                if merged.score == 0.0:
                                    merged.score = (left.score + SCORE_MAYBE) / 2
                                yield merged
                    else:
                        phrase_res = self._match_phrase_op(
                            tokens, i, phrases=active
                        )
                        if phrase_res is not None:
                            cmp, cmp_tokens, i = phrase_res
                            i += 1
                            continue
                    break
                break

            # reverse order: <op> <value> <entity>
            left_prev = match_bag.statement.prev(
                left.start, lambda t: t.type != SEPARATOR
            )
            if left_prev is None:
                continue
            for right in match_bag.find_by_end(left_prev):
                right_prev = match_bag.statement.prev(
                    right.start, lambda t: t.type != SEPARATOR
                )
                if right_prev is None:
                    continue
                i = match_bag.statement.get_index(right_prev)
                cmp = 0
                cmp_tokens = 0
                if right_prev.type == MATH:
                    while i > 0 and tokens[i - 1].type == MATH:
                        i -= 1
                    math_res = self._match_math_op(tokens, i)
                    if math_res is not None:
                        cmp, i = math_res
                elif right_prev.type in (NUMBER, WORD):
                    phrase_res = self._match_phrase_op(
                        tokens, i, go_reverse=True, phrases=active
                    )
                    if phrase_res is not None:
                        cmp, cmp_tokens, i = phrase_res
                if cmp > 0:
                    merged = self.get_comparison_match(left, cmp, right)
                    if merged is not None:
                        merged.matched_tokens_count = (
                            left.matched_tokens_count
                            + cmp_tokens
                            + right.matched_tokens_count
                        )
                        merged.start = tokens[i]
                        merged.end = left.end
                        if merged.score == 0.0:
                            merged.score = (left.score + right.score) / 2
                        yield merged


class GroupMatcher:
    """AND/OR combiner, one merge per pass for correct left-assoc nesting
    (GroupMatcher.cs:29-151).

    Screen (``can_match``): a group needs an operator after the left
    match, either a phrase (``and``/``or``; its first word must be a
    token of the statement) or ``||``. A statement whose token values
    hold neither a phrase's first word nor ``|`` can yield nothing, so
    the recognizer skips the call (it would otherwise walk the bag on
    every fixpoint generation)."""

    first_pass_only = False
    recursive = True

    def __init__(self, left_part_predicate, get_group_match):
        self.left_part_predicate = left_part_predicate
        self.get_group_match = get_group_match
        self.phrase_group_types: Optional[List[Tuple[Sequence[str], int]]] = None

    def _match_phrase_op(self, tokens, idx):
        if not self.phrase_group_types:
            return None
        for words, grp in self.phrase_group_types:
            if len(words) == 0:
                continue
            start_idx = idx
            i = 0
            n = len(tokens)
            ok = True
            while i < len(words):
                while start_idx < n and tokens[start_idx].type == SEPARATOR:
                    start_idx += 1
                if start_idx >= n or words[i].lower() != tokens[start_idx].value_lower:
                    ok = False
                    break
                start_idx += 1
                i += 1
            if ok:
                return grp, len(words), start_idx
        return None

    @staticmethod
    def _match_group_op(tokens, idx):
        next_token = tokens[idx + 1] if idx + 1 < len(tokens) else None
        v = tokens[idx].value
        if v == "|":
            if next_token is not None and next_token.value == "|":
                return GRP_OR, idx + 1
        elif v == "&":
            if next_token is not None and next_token.value == "&":
                # reference quirk (GroupMatcher.cs:84-89): '&&' sets cmp=And
                # but falls through without returning true; replicated.
                return None
        return None

    def can_match(self, match_bag: MatchBag) -> bool:
        vs = match_bag.statement.value_set
        return "|" in vs or any(
            words and words[0].lower() in vs
            for words, _ in self.phrase_group_types or ()
        )

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        tokens = match_bag.statement.tokens
        for left in list(match_bag.matches):
            if not self.left_part_predicate(left, match_bag):
                continue
            end_idx = match_bag.statement.get_index(left.end)
            cmp = 0
            cmp_tokens_count = 0
            i = end_idx + 1
            while i < len(tokens) - 1:  # should not be last token
                t = tokens[i]
                if t.type == SEPARATOR:
                    i += 1
                    continue
                if t.type == MATH:
                    grp_res = self._match_group_op(tokens, i)
                    if grp_res is not None:
                        cmp, i = grp_res
                        i += 1
                        continue
                    break
                if t.type == NUMBER or t.type == WORD:
                    if cmp > 0:
                        for m in match_bag.find_by_start(t):
                            merged = self.get_group_match(left, cmp, m, match_bag)
                            if merged is not None:
                                merged.matched_tokens_count = (
                                    left.matched_tokens_count
                                    + cmp_tokens_count
                                    + m.matched_tokens_count
                                )
                                merged.start = left.start
                                merged.end = m.end
                                if merged.score == 0.0:
                                    merged.score = (left.score + m.score) / 2
                                yield merged
                                # recursive matcher: only 1 match per pass
                                return
                    else:
                        phrase_res = self._match_phrase_op(tokens, i)
                        if phrase_res is not None:
                            cmp, cmp_tokens_count, i = phrase_res
                            i += 1
                            continue
                    break
                break


class HintMatcher:
    """'[column] [value]' / '[column]: [value]' / '<value> <hint>' binding
    (HintMatcher.cs:23-123). ``hint_type`` plays the C# generic T role."""

    first_pass_only = False
    recursive = False

    def __init__(self, hint_type, get_match):
        self.hint_type = hint_type
        self.get_match = get_match  # (hint, target, force) -> Match | None

    def can_match(self, match_bag: MatchBag) -> bool:
        # every binding starts from a match of the hint type
        return bool(match_bag.of_type(self.hint_type))

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        tokens = match_bag.statement.tokens
        for hint_m in list(match_bag.of_type(self.hint_type)):
            end_idx = match_bag.statement.get_index(hint_m.end)
            hint_force = False
            direct_order_matched = False
            i = end_idx + 1
            while i < len(tokens):
                t = tokens[i]
                if t.type == SEPARATOR:
                    i += 1
                    continue
                if t.type == PUNCTUATION:
                    if t.value == ":" and not hint_force:
                        hint_force = True
                        i += 1
                        continue
                    break
                if t.type == NUMBER or t.type == WORD:
                    has_matches = False
                    for m in match_bag.find_by_start(t):
                        has_matches = True
                        merged = self.get_match(hint_m, m, hint_force)
                        if merged is not None:
                            merged.matched_tokens_count = (
                                hint_m.matched_tokens_count + m.matched_tokens_count
                            )
                            merged.start = hint_m.start
                            merged.end = m.end
                            if merged.score == 0.0:
                                merged.score = (hint_m.score + m.score) / 2
                            direct_order_matched = True
                            yield merged
                    if not has_matches:
                        stub = StubMatch()
                        stub.start = t
                        stub.end = t
                        merged = self.get_match(hint_m, stub, hint_force)
                        if merged is not None:
                            merged.matched_tokens_count = hint_m.matched_tokens_count + 1
                            merged.start = hint_m.start
                            merged.end = t
                            if merged.score == 0.0:
                                merged.score = (
                                    hint_m.score
                                    if hint_force or hint_m.score < SCORE_MAYBE
                                    else (hint_m.score + SCORE_MAYBE) / 2
                                )
                            yield merged
                    break
                break
            # <value> <hint>
            prev_non_space = match_bag.statement.prev(
                hint_m.start, lambda t: t.type != SEPARATOR
            )
            if prev_non_space is not None and prev_non_space.type in (WORD, NUMBER):
                for m in match_bag.find_by_end(prev_non_space):
                    merged = self.get_match(hint_m, m, False)
                    if merged is not None:
                        merged.matched_tokens_count = (
                            hint_m.matched_tokens_count + m.matched_tokens_count
                        )
                        merged.start = m.start
                        merged.end = hint_m.end
                        if merged.score == 0.0:
                            merged.score = (hint_m.score + m.score) / 2
                        merged.score *= 0.5 if direct_order_matched else 0.9
                        yield merged


class MergePhraseMatcher:
    """Merges adjacent same-type matches into one
    (MergePhraseMatcher.cs:22-85). ``match_type`` plays the C# generic T;
    the call walks only the bag's matches of that class.

    ``merge_key(m)`` must be equal for any two matches that ``merge`` can
    join: ``merge`` returns None for every pair whose keys differ. Each
    call indexes the bag's ``match_type`` matches by start token (its
    ``start_index``, as the bag's own indexes), then by key, in bag
    order (the build side of a hash join); a merge attempt probes only
    the next token's group for ``merge_key(m)``. The first
    match in that group that merges is the one the reference's scan of
    all the next token's matches finds, because every match outside the
    group returns None. The index is rebuilt from the bag on every call,
    so ``get_matches`` stays a pure function of (statement, bag).

    The reference follows a merge chain by recursion; here it is a loop,
    because a nested function that calls itself through its closure
    cell is a reference cycle that keeps the call's whole index alive
    until Python's cyclic collector runs.

    The recognizer screens and re-runs it by its class alone. A merge
    needs two matches of ``match_type`` (``can_match``). A call that
    yielded nothing yields nothing again while the class's count is
    unchanged (``bag_state``): a new match of another class can only
    make an earlier token the "next matched token", and that token
    starts no ``match_type`` match (every token that does was a matched
    token already), so its group is empty."""

    first_pass_only = False
    recursive = False

    def __init__(self, match_type, merge, merge_key):
        self.match_type = match_type
        self.merge = merge  # (statement, m1, m2) -> Match | None
        self.merge_key = merge_key  # m -> hashable

    def can_match(self, match_bag: MatchBag) -> bool:
        return len(match_bag.of_type(self.match_type)) >= 2

    def bag_state(self, match_bag: MatchBag) -> int:
        return len(match_bag.of_type(self.match_type))

    def get_matches(self, match_bag: MatchBag) -> Iterator[Match]:
        match_type = self.match_type
        similar = list(match_bag.of_type(match_type))
        statement = match_bag.statement
        tokens = statement.tokens
        merge = self.merge
        merge_key = self.merge_key
        # start token's start_index -> merge key -> matches, bag order kept
        by_start: dict = {}
        # a merge joins two matches of one key that start at different
        # tokens (the partner starts after the match ends)
        key_start: dict = {}
        can_merge = False
        for m in similar:
            key = merge_key(m)
            start = m.start.start_index
            if key_start.setdefault(key, start) != start:
                can_merge = True
            by_start.setdefault(start, {}).setdefault(key, []).append(m)
        if not can_merge:
            return
        similar.sort(key=lambda m: statement.get_index(m.start))
        merged_ids = set()
        # end token's start_index -> by_start's groups at the next
        # word/number token that starts a match ({} if none): the bag is
        # fixed during a call, and most matches share their end token
        next_groups: dict = {}

        for match in similar:
            if id(match) in merged_ids:
                continue
            merged_ids.add(id(match))  # mark as processed
            # the reference's TryMergeWithNext recursion: each step merges
            # with the first partner at the next matched token and goes on
            # from the merged match; the chain's last merge is yielded
            m = match
            merged_match = None
            while m is not None:
                end = m.end.start_index
                groups = next_groups.get(end)
                if groups is None:
                    groups = {}
                    for i in range(statement.get_index(m.end) + 1, len(tokens)):
                        t = tokens[i]
                        if (t.type == WORD or t.type == NUMBER) and match_bag.find_by_start(t):
                            groups = by_start.get(t.start_index, {})
                            break
                    next_groups[end] = groups
                for next_match in groups.get(merge_key(m), ()):
                    merged = merge(statement, m, next_match)
                    if merged is not None:
                        break
                else:
                    break
                merged.matched_tokens_count = (
                    m.matched_tokens_count + next_match.matched_tokens_count
                )
                merged_ids.add(id(next_match))
                merged_match = merged
                m = merged if isinstance(merged, match_type) else None
            if merged_match is not None:
                yield merged_match
