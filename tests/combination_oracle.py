"""Uncapped oracles for the exact combination search.

The library picks a chunk's (or an NL query's) winning combinations with
one exact DP (``kernel.extract._top_combinations``). The tests check it
against two independent walks kept here:

- ``reference_best_matches``: the reference lifecycle, every combination
  of ``Recognizer.recognize`` with IncludeZeroMatches scored by
  ``candidate_score`` (QueryCandidate.cs:23-44), strict ``>`` so ties go
  to the earlier combination; exhaustive, so only for inputs whose
  combinations can be enumerated;
- ``bounded_top_combinations``: a branch-and-bound DFS over the same
  position index that scores its leaves with the exhaustive walk's
  arithmetic and skips only subtrees that cannot enter the top-k, so it
  stays fast on the benchmark's gazetteer chunks (hundreds of thousands
  of combinations).

``TopSet`` (TopSet.cs:22-138) is the reference's fixed-size top-K that
both keep their winners in.
"""

from __future__ import annotations

import functools
from typing import Callable, Iterator, List, Optional, Sequence, Tuple

from nlquery_spark.kernel.extract import _iter_group_leaves, cached_recognizer, spec_key
from nlquery_spark.kernel.matches import Match
from nlquery_spark.kernel.table import (
    ENGLISH_STOP_WORDS,
    ColumnConditionMatch,
    ColumnMatch,
    GroupMatch,
)
from nlquery_spark.kernel.tokens import NUMBER, WORD, TokenSequence


class TopSet:
    """Fixed-size top-K with min-replacement (TopSet.cs:22-138).

    ``compare(a, b)`` returns <0/0/>0 like a C# Comparison<T>.
    """

    def __init__(self, max_size: int, compare: Callable[[object, object], int]):
        self.compare = compare
        self.max_size = max_size
        self.elements: List[object] = []
        self.min_index = -1
        self.max_index = -1

    @property
    def count(self) -> int:
        return len(self.elements)

    @property
    def max(self):
        return self.elements[self.max_index] if self.max_index >= 0 else None

    @property
    def min(self):
        return self.elements[self.min_index] if self.min_index >= 0 else None

    def add(self, elem) -> bool:
        if len(self.elements) < self.max_size:
            self.elements.append(elem)
            i = len(self.elements) - 1
            self._refresh_min(elem, i)
            self._refresh_max(elem, i)
            return True
        if self.compare(elem, self.elements[self.min_index]) > 0:
            self.elements[self.min_index] = elem
            self._refresh_max(elem, self.min_index)
            new_min = 0
            for i in range(1, len(self.elements)):
                if self.compare(self.elements[i], self.elements[new_min]) < 0:
                    new_min = i
            self.min_index = new_min
            return True
        return False

    def to_array(self) -> List[object]:
        return sorted(
            self.elements, key=functools.cmp_to_key(self.compare), reverse=True
        )

    def _refresh_min(self, elem, i: int) -> None:
        if self.min_index >= 0:
            if self.compare(elem, self.elements[self.min_index]) < 0:
                self.min_index = i
        else:
            self.min_index = i

    def _refresh_max(self, elem, i: int) -> None:
        if self.max_index >= 0:
            if self.compare(elem, self.elements[self.max_index]) > 0:
                self.max_index = i
        else:
            self.max_index = i


class ScoredCombo:
    __slots__ = ("score", "order", "matches")

    def __init__(self, score: float, order: int, matches: List[Match]):
        self.score = score
        self.order = order
        self.matches = matches


def combo_compare(a: ScoredCombo, b: ScoredCombo) -> int:
    if a.score != b.score:
        return -1 if a.score < b.score else 1
    # deterministic tie-break: earlier enumeration wins (DFS order is
    # greedy longest-first, so earlier == preferred)
    if a.order != b.order:
        return 1 if a.order < b.order else -1
    return 0


# the NL workload's options: stop words on, so every parse goes through
# TokenFilterMatcher
NL_OPTIONS = {"stop_words": ENGLISH_STOP_WORDS + ["with", "where", "whose"]}


def nl_specs(gen):
    """The NL workload's dictionaries, built as ``spec_from_dataframe``
    builds them from the generated tables, without Spark."""
    tables = gen.nl_tables(11, 6000, 50)
    kinds = {"c_acctbal": "number", "o_totalprice": "number", "o_orderdate": "date"}
    specs = {}
    for table, captions in gen.CAPTIONS.items():
        cols = []
        for col, caption in captions.items():
            entry = {"caption": caption, "name": col, "datatype": kinds.get(col, "string")}
            if entry["datatype"] == "string":
                entry["values"] = sorted(set(tables[table][col]))[:5000]
            cols.append(entry)
        specs[table] = {"caption": table, "name": table, "columns": cols}
    return specs


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


def reference_best_matches(
    nl: str,
    schema_specs: Sequence,
    options_spec=None,
    include_column_mentions: bool = True,
):
    """``nlsql.parse_best_matches`` as the reference walks it: every
    combination ``recognize`` enumerates, IncludeZeroMatches on, the
    first best by ``candidate_score`` wins."""
    from nlquery_spark.operators.nlsql import _query_tokens

    rec = cached_recognizer(
        schema_specs, options_spec, spec_key(schema_specs, options_spec)
    )
    seq = TokenSequence(_query_tokens(nl, options_spec))
    best: List = [None, -1.0]

    def handler(matches):
        score = candidate_score(matches, seq)
        if score > best[1]:
            best[0], best[1] = matches, score
        return True

    def match_filter(m):
        if isinstance(m, ColumnConditionMatch):
            return m.value is not m or m.matched_value is not None
        if include_column_mentions and isinstance(m, ColumnMatch):
            return True
        return isinstance(m, GroupMatch)

    saved = rec.include_zero_matches
    rec.include_zero_matches = True
    try:
        rec.recognize(seq, handler, match_filter)
    finally:
        rec.include_zero_matches = saved
    out: List = []
    for m in best[0] or []:
        if isinstance(m, GroupMatch):
            out.extend(_iter_group_leaves(m))
        else:
            out.append(m)
    return out, seq


def bounded_top_combinations(
    pos_matches: List[Optional[List[Tuple[Match, int]]]],
    next_pos: List[int],
    pre_won: List[int],
    pre_sig: List[int],
    top_k: int,
    long_match_boost: bool,
) -> List[Tuple[float, List[Match]]]:
    """The top-k of every DFS combination of the position index, with
    the signature and result of ``kernel.extract._top_combinations``.

    One right-to-left pass gives, per resume position ``p``, ``ub[p]``:
    the largest additive score any leaf below ``p`` reaches. A child is
    skipped when the top-k is full and ``(prefix + step + ub[after]) /
    total_won + c`` is below the current minimum by more than 1e-9 (the
    margin absorbs rounding between this sum and the leaf's own); a
    later combination with an equal score never displaces an earlier
    one, so no skipped leaf could have entered. Visited leaves are
    scored with the exhaustive walk's arithmetic and order.
    """
    n = len(next_pos) - 1
    total_won = pre_won[n]
    c = 0.3 if long_match_boost else 0.0
    steps: List[Optional[List[Tuple[Match, int, float]]]] = [None] * n
    ub = [0.0] * (n + 1)
    for p in range(n, -1, -1):
        j = next_pos[p]
        if j == p and p < n:
            row = []
            for m, after in pos_matches[p]:
                row.append((m, after, m.score * (pre_won[after] - pre_won[p])))
            steps[p] = row
            ub[p] = max(w - c + ub[after] for _, after, w in row)
        else:
            gap = c if pre_sig[j] - pre_sig[p] > 0 else 0.0
            ub[p] = (0.0 if j == n else ub[j]) - gap

    top = TopSet(top_k, combo_compare)
    chain: List[Tuple[Match, float]] = []  # visited path, sentence order
    # one frame per open position: (its unvisited children, prefix,
    # n_stubs); chain[i] is the step taken out of frame i
    frames: List[Tuple[Iterator[Tuple[Match, int, float]], float, int]] = []
    n_leaves = 0
    bar = float("-inf")  # top's minimum score less the margin, once full
    p, prefix, n_stubs = 0, 0.0, 0
    while True:
        j = next_pos[p]
        significant_gap = pre_sig[j] - pre_sig[p] > 0
        if j == n:
            if chain:
                total = 0.0
                for _, w in reversed(chain):  # recognize() order: tail first
                    total += w
                total /= total_won
                if long_match_boost:
                    n_matches = len(chain) + n_stubs + significant_gap
                    total += 0.3 * (1.0 - n_matches / total_won)
                top.add(ScoredCombo(total, n_leaves, [m for m, _ in reversed(chain)]))
                if top.count == top.max_size:
                    bar = top.min.score - 1e-9
                chain.pop()
            n_leaves += 1
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
            return [(combo.score, combo.matches) for combo in top.to_array()]
