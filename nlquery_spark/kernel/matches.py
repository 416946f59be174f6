"""Match model: scored token spans and the recognition state bag.

Behavioral parity with the reference match layer
(/root/reference/src/NReco.NLQuery/Matchers/Match.cs:22-70,
NumberMatch.cs:22-35, DateMatch.cs:22-68, DateOffsetMatch.cs:22-88,
KeyMatch.cs:22-36, MatchBag.cs:22-91 and Table/TableMatch.cs:22-132).

Matches compare by identity (reference uses object reference equality for
match dedup); only Token overrides equality.
"""

from __future__ import annotations

import copy
from typing import Dict, List, Optional

from .tokens import Token, TokenSequence

SCORE_MAYBE = 0.5
SCORE_CERTAIN = 1.0


class Match:
    """Scored span over the token sequence (reference: Match.cs:22-57)."""

    __slots__ = ("score", "start", "end", "matched_tokens_count")

    def __init__(self):
        self.score: float = 0.0
        self.start: Optional[Token] = None
        self.end: Optional[Token] = None
        self.matched_tokens_count: int = 0

    def clone(self) -> "Match":
        return copy.copy(self)


class StubMatch(Match):
    """Wrapper for an unrecognized token span, score 0 (Match.cs:62-70)."""

    __slots__ = ()

    def __str__(self) -> str:
        val = self.start.value
        if self.start is not self.end:
            val += ".." + self.end.value
        return f"StubMatch[{val}]"


class NumberMatch(Match):
    """Number span carrying an exact decimal value (NumberMatch.cs:22-35)."""

    __slots__ = ("value",)

    def __init__(self):
        super().__init__()
        self.value = None  # decimal.Decimal

    def __str__(self) -> str:
        return f"Number[{self.value}]"


def _ymd_str(year, month, day) -> str:
    parts: List[str] = []
    out = ""
    if year is not None:
        out += f"Y:{year}"
    if month is not None:
        if len(out) > 1:
            out += " "
        out += f"M:{month}"
    if day is not None:
        if len(out) > 1:
            out += " "
        out += f"D:{day}"
    return out


class DateMatch(Match):
    """Partial date: any of Y/M/D may be missing (DateMatch.cs:22-68)."""

    __slots__ = ("day", "month", "year")

    def __init__(self, copy_from: "DateMatch" = None):
        super().__init__()
        if copy_from is not None:
            self.day = copy_from.day
            self.month = copy_from.month
            self.year = copy_from.year
            self.score = copy_from.score
            self.start = copy_from.start
            self.end = copy_from.end
        else:
            self.day = None
            self.month = None
            self.year = None

    def __str__(self) -> str:
        return "Date[" + _ymd_str(self.year, self.month, self.day) + "]"


class DateOffsetMatch(Match):
    """Relative date deltas, resolved against a base date
    (DateOffsetMatch.cs:22-88)."""

    __slots__ = ("day", "month", "year")

    def __init__(self, year=None, month=None, day=None):
        super().__init__()
        self.year = year
        self.month = month
        self.day = day

    def to_date(self, base_year: int, base_month: int, base_day: int) -> DateMatch:
        """Resolve offset against a pinned base date (determinism: callers
        must supply the pipeline's reference date, never wall clock).

        Replicates the reference arithmetic including its Day-branch bug
        (DateOffsetMatch.cs:61 does AddDays(Month.Value)); the reference's
        own tests never exercise Day offsets with a nonzero value, and
        examples only use Day in {-1,0,1} with Month=0, where the bug is
        that the delta applied is Month (=0) — i.e. 'yesterday/tomorrow'
        resolve to *today* in the reference. We replicate as-is for parity.
        """
        import datetime

        dt = datetime.date(base_year, base_month, base_day)
        copy_year = copy_month = copy_day = False
        if self.year is not None:
            dt = _add_years(dt, self.year)
            copy_year = True
        if self.month is not None:
            dt = _add_months(dt, self.month)
            copy_year = copy_month = True
        if self.day is not None:
            dt = dt + datetime.timedelta(days=self.month)  # reference bug kept
            copy_year = copy_month = copy_day = True
        d = DateMatch()
        d.score = self.score
        d.start = self.start
        d.end = self.end
        if copy_year:
            d.year = dt.year
        if copy_month:
            d.month = dt.month
        if copy_day:
            d.day = dt.day
        return d

    def __str__(self) -> str:
        return "DateOffset[" + _ymd_str(self.year, self.month, self.day) + "]"


def _add_months(dt, months: int):
    import calendar
    import datetime

    m = dt.month - 1 + months
    year = dt.year + m // 12
    month = m % 12 + 1
    day = min(dt.day, calendar.monthrange(year, month)[1])
    return datetime.date(year, month, day)


def _add_years(dt, years: int):
    return _add_months(dt, years * 12)


class KeyMatch(Match):
    """Generic match carrying a key payload (KeyMatch.cs:22-36)."""

    __slots__ = ("key",)

    def __init__(self, key):
        super().__init__()
        self.key = key

    def __str__(self) -> str:
        return f"Key[{self.key}]"


class MatchBag:
    """Recognition state: match list + start/end token indexes
    (MatchBag.cs:22-91).

    The indexes key by the token's ``start_index``: two tokens of one
    sequence that share it are equal tokens (``tokenize``,
    ``parse_quoted_constants``, the stemmer and stop-word filters keep
    it so; ``tests/test_properties.py`` checks), so the int key groups
    exactly as the reference's token key does. A third index lists the
    matches of each exact class in bag order; every match class
    subclasses ``Match`` directly, so it holds what ``isinstance``
    would select."""

    __slots__ = (
        "statement", "matches", "_start_to_matches", "_end_to_matches", "_by_type"
    )

    def __init__(self, statement: TokenSequence, matches=None):
        self.statement = statement
        self.matches: List[Match] = []
        self._start_to_matches: Dict[int, List[Match]] = {}
        self._end_to_matches: Dict[int, List[Match]] = {}
        self._by_type: Dict[type, List[Match]] = {}
        if matches is not None:
            for m in matches:
                self.add(m)

    def with_statement(self, statement: TokenSequence) -> "MatchBag":
        """A view of this bag over another statement: the same match
        list and indexes, shared, not copied."""
        view = MatchBag(statement)
        view.matches = self.matches
        view._start_to_matches = self._start_to_matches
        view._end_to_matches = self._end_to_matches
        view._by_type = self._by_type
        return view

    @property
    def count(self) -> int:
        return len(self.matches)

    def add(self, m: Match) -> None:
        self.matches.append(m)
        self._start_to_matches.setdefault(m.start.start_index, []).append(m)
        self._end_to_matches.setdefault(m.end.start_index, []).append(m)
        self._by_type.setdefault(type(m), []).append(m)

    def find_by_start(self, t: Token) -> List[Match]:
        return self._start_to_matches.get(t.start_index, [])

    def find_by_end(self, t: Token) -> List[Match]:
        return self._end_to_matches.get(t.start_index, [])

    def of_type(self, match_class) -> List[Match]:
        """The bag's matches of exactly ``match_class``, in bag order."""
        return self._by_type.get(match_class, [])
