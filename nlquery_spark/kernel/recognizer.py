"""Recognizer: matcher orchestration + non-overlapping combination DFS.

Behavioral parity with the reference's NReco.NLQuery Recognizer.cs:24-228
and NGramGenerator.cs:22-54.
"""

from __future__ import annotations

import os
from typing import Callable, Dict, Iterable, Iterator, List, Optional, Sequence, Tuple

from .matches import Match, MatchBag, StubMatch
from .matchers import CompositeMatcher
from .tokens import SENTENCE_END, SEPARATOR, Token, TokenSequence

# Executable purity contract (ADVICE r7): the unchanged-bag fixpoint
# skip (and ComparisonMatcher's statement-keyed screen cache) are exact
# ONLY if every matcher's get_matches is a pure function of
# (statement, bag contents). With NLQUERY_DEBUG_PURITY=1 a skipped
# matcher is re-run anyway and its output asserted empty, so a future
# stateful matcher fails loudly instead of silently changing fixpoint
# results. Off by default (doubles recursive-matcher cost); pinned on
# in tests/test_recognizer.py.
DEBUG_PURITY = os.environ.get("NLQUERY_DEBUG_PURITY", "") not in ("", "0", "false")


class Recognizer:
    """Runs first-pass matchers once and recursive matchers to a
    fixpoint (``collect_matches``), then indexes the non-overlapping
    match combinations by resume position (``combination_builder``)
    for the exact top-k search of ``kernel.extract._top_combinations``.
    ``recognize`` is the reference's exhaustive DFS over the same
    combinations (Recognizer.cs:102-132), kept for perfbench's
    combination counters and the test oracles."""

    def __init__(self, matchers: Sequence):
        self.matchers = list(matchers)
        self.include_zero_matches = False
        self.max_passes = 100
        # matcher partition is per-dictionary, not per-chunk: build the
        # first-pass composite and the recursive list once (collect_matches
        # runs per chunk on the extraction hot path)
        self._first_pass = CompositeMatcher(
            [m for m in self.matchers if m.first_pass_only]
        )
        self._recursive = [m for m in self.matchers if not m.first_pass_only]

    def _compose_start_token_to_matches(
        self, all_matches: Iterable[Match]
    ) -> Dict[int, List[Match]]:
        # keyed by the start token's start_index, as MatchBag's indexes
        by_start: Dict[int, List[Match]] = {}
        for m in all_matches:
            by_start.setdefault(m.start.start_index, []).append(m)
        for matches in by_start.values():
            # longer char-span first, then higher score (Recognizer.cs:55-62);
            # stable sort matches the reference's effective small-array order
            matches.sort(
                key=lambda m: (
                    -((m.end.start_index + len(m.end.value)) - m.start.start_index),
                    -m.score,
                )
            )
        return by_start

    def _process_recursive_matchers(self, recursive_matchers, match_bag: MatchBag):
        matchers = list(recursive_matchers)
        # Unchanged-bag skip: every matcher in this loop is a pure
        # function of (statement, bag contents) — no instance state
        # mutates in get_matches — so a matcher that produced NOTHING
        # against bag state S produces nothing against S again; skipping
        # the re-call is exact. len(bag.matches) identifies S (adds are
        # append-only). A run that DID produce matches never arms the
        # skip: the matcher has not yet seen the bag containing its own
        # output (GroupMatcher's one-merge-per-pass nesting depends on
        # that re-run), so it records -1 and always re-runs while kept.
        last_empty_at: Dict[int, int] = {}
        for _generation in range(self.max_passes):
            total = 0
            to_run = matchers
            matchers = []
            for matcher in to_run:
                mid = id(matcher)
                if last_empty_at.get(mid) == len(match_bag.matches):
                    if DEBUG_PURITY:
                        # raise, not assert: under python -O an assert
                        # compiles away and the flag would silently
                        # verify nothing while still paying the re-run
                        leaked = list(matcher.get_matches(match_bag))
                        if leaked:
                            raise RuntimeError(
                                f"{type(matcher).__name__}.get_matches "
                                f"produced {len(leaked)} match(es) on a bag "
                                "unchanged since its last empty run — "
                                "matcher is not a pure function of "
                                "(statement, bag); the fixpoint skip is "
                                "unsound for it"
                            )
                    matchers.append(matcher)  # unchanged bag -> same no-op
                    continue
                new_matches = list(matcher.get_matches(match_bag))
                if not new_matches or matcher.recursive:
                    matchers.append(matcher)  # keep for next generation
                for m in new_matches:
                    match_bag.add(m)
                last_empty_at[mid] = len(match_bag.matches) if not new_matches else -1
                total += len(new_matches)
            if total == 0:
                return
        raise RuntimeError("Too many merge passes, possibly infinite rule")

    def collect_matches(self, statement: TokenSequence) -> MatchBag:
        """Mention-detect output (pipeline stages S2-S3, pre-combination):
        the full match bag after the first-pass matchers + the recursive
        merge fixpoint. This is the surface the batched entity-link
        scorer consumes (every candidate interpretation, not just the
        winning combination)."""
        match_bag = MatchBag(statement, [])
        for m in self._first_pass.get_matches(match_bag):
            match_bag.add(m)
        self._process_recursive_matchers(self._recursive, match_bag)
        return match_bag

    def combination_builder(
        self,
        statement: TokenSequence,
        match_filter: Optional[Callable[[Match], bool]] = None,
        combination_handler: Optional[Callable[[List[Match]], bool]] = None,
    ) -> "MatchCombinationBuilder":
        """The combination DFS's input: ``collect_matches``, the optional
        filter, then matches grouped by start token in the reference's
        per-start order. ``recognize`` walks it with ``build()``; the
        exact search (``extract._top_combinations``) reads its
        ``index()``."""
        matches: Iterable[Match] = self.collect_matches(statement).matches
        if match_filter is not None:
            matches = [m for m in matches if match_filter(m)]
        return MatchCombinationBuilder(
            self._compose_start_token_to_matches(matches),
            statement,
            combination_handler,
        )

    def recognize(
        self,
        statement: TokenSequence,
        combination_handler: Callable[[List[Match]], bool],
        match_filter: Optional[Callable[[Match], bool]] = None,
    ) -> None:
        builder = self.combination_builder(
            statement, match_filter, combination_handler
        )
        builder.include_zero_matches = self.include_zero_matches
        builder.build()


class MatchCombinationBuilder:
    """DFS over non-overlapping match chains (Recognizer.cs:134-225).

    The handler receives matches in reverse sentence order (chain tail
    first), same as the reference's linked-list walk."""

    def __init__(
        self,
        start_to_matches: Dict[int, List[Match]],
        sentence: TokenSequence,
        combination_handler: Optional[Callable[[List[Match]], bool]],
    ):
        self.start_to_matches = start_to_matches
        self.sentence = sentence
        self.result_handler = combination_handler
        self.include_zero_matches = False

    def index(self) -> Tuple[List[Optional[List[Tuple[Match, int]]]], List[int]]:
        """The position index every walk of this builder enumerates in:
        ``(pos_matches, next_pos)``.

        Precomputes what the reference walk re-derives at every node:
        (1) ``pos_matches[i]``: the matches starting at position ``i``
        (a group's matches share their start token's start_index, so
        they start at equal tokens and its first match's start gives
        the position), each with its resume index (get_index(end)+1 —
        including the -1+1=0 case for an end token outside the
        sequence, same as the lazy form); a start token equal to no
        sequence token was unreachable in the token-keyed walk and
        stays excluded here; (2) ``next_pos[i]``: the next position >= i
        that carries matches (``n`` if none), collapsing the per-node
        linear scan to one array read."""
        sentence = self.sentence
        n = len(sentence.tokens)
        pos_matches: List[Optional[List[Tuple[Match, int]]]] = [None] * n
        for matches in self.start_to_matches.values():
            i = sentence.get_index(matches[0].start)
            if i >= 0:
                pos_matches[i] = [
                    (m, sentence.get_index(m.end) + 1) for m in matches
                ]
        nxt = [n] * (n + 1)
        last = n
        for i in range(n - 1, -1, -1):
            if pos_matches[i] is not None:
                last = i
            nxt[i] = last
        self._pos_matches = pos_matches
        self._next_pos = nxt
        self._n = n
        return pos_matches, nxt

    def build(self) -> None:
        self.index()
        self._traverse(None, 0)

    def _traverse(self, prev_node, start_idx: int) -> bool:
        j = self._next_pos[start_idx]
        if j < self._n:
            traverse = self._traverse
            for m, after in self._pos_matches[j]:
                if not traverse((prev_node, m), after):
                    return False
            return True
        combo = (
            self._get_all_matches(prev_node)
            if self.include_zero_matches
            else self._get_matches(prev_node)
        )
        return self.result_handler(list(combo))

    @staticmethod
    def _get_matches(node) -> Iterator[Match]:
        while node is not None:
            yield node[1]
            node = node[0]

    def _get_all_matches(self, node) -> Iterator[Match]:
        """Adds trimmed StubMatches over non-covered spans
        (Recognizer.cs:175-222)."""
        sentence = self.sentence
        idx_to_match: Dict[int, Match] = {}
        n = node
        while n is not None:
            yield n[1]
            idx_to_match[sentence.get_index(n[1].start)] = n[1]
            n = n[0]

        def create_zero_match(zero_tokens: List[Token]) -> Optional[Match]:
            first = last = -1
            for i, zt in enumerate(zero_tokens):
                if zt.type != SEPARATOR and zt.type != SENTENCE_END:
                    first = i
                    break
            for i in range(len(zero_tokens) - 1, -1, -1):
                if zero_tokens[i].type != SEPARATOR and zero_tokens[i].type != SENTENCE_END:
                    last = i
                    break
            if first < 0 or last < 0:
                return None
            stub = StubMatch()
            stub.score = 0.0
            stub.start = zero_tokens[first]
            stub.end = zero_tokens[last]
            return stub

        zero_tokens: List[Token] = []
        tokens = sentence.tokens
        i = 0
        while i < len(tokens):
            m = idx_to_match.get(i)
            if m is not None:
                zero_match = create_zero_match(zero_tokens)
                if zero_match is not None:
                    yield zero_match
                zero_tokens = []
                i = sentence.get_index(m.end)
            else:
                zero_tokens.append(tokens[i])
            i += 1
        last_zero = create_zero_match(zero_tokens)
        if last_zero is not None:
            yield last_zero


class NGramGenerator:
    """All contiguous n-grams per start token, capped length
    (NGramGenerator.cs:22-54)."""

    def __init__(self, max_words: Optional[int] = None):
        self.max_sequence_length = max_words if max_words is not None else 1 << 31

    def generate_ngrams(self, tokens: Sequence[Token]) -> Iterator[List[Token]]:
        for i in range(len(tokens)):
            phrase: List[Token] = []
            for j in range(i, min(len(tokens), i + self.max_sequence_length)):
                phrase.append(tokens[j])
                yield list(phrase)
