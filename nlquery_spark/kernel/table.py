"""Schema dictionary + table-aware matches + the dictionary compiler.

Behavioral parity with the reference table layer
(/root/reference/src/NReco.NLQuery/Table/TableSchema.cs:11-104,
Table/TableMatch.cs:22-132, Table/TableMatcherBuilder.cs:25-504), plus the
examples' EnglishStemmer
(examples/NReco.NLQuery.Examples.NliPivotTable/Services/EnglishStemmer.cs:18-35).

This module is the *dictionary compiler*: driver-side it turns a
TableSchema-like spec into a list of matcher objects; the compiled list is
pickled into a Spark broadcast and executed per-page inside Arrow batches.
"""

from __future__ import annotations

from operator import attrgetter
from typing import Callable, Dict, List, Optional, Sequence, Tuple

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
from .matchers import (
    CMP_EQUAL,
    CMP_GREATER_THAN,
    CMP_GREATER_THAN_OR_EQUAL,
    CMP_LESS_THAN,
    CMP_LESS_THAN_OR_EQUAL,
    CMP_NOT_EQUAL,
    ComparisonMatcher,
    CompositeMatcher,
    DateMatcher,
    ExactPhraseMatcher,
    GroupMatcher,
    HintMatcher,
    LikePhraseMatcher,
    ListContainsMatcher,
    MergePhraseMatcher,
    NumberMatcher,
    StopWordsFilter,
    TokenFilterMatcher,
    GRP_AND,
    GRP_OR,
    GRP_NAMES,
)
from .tokenizer import tokenize
from .tokens import NUMBER, SEPARATOR, WORD, Token

# Column data types (TableSchema.cs:99-104)
DT_STRING = 0
DT_NUMBER = 1
DT_DATE = 2
DT_UNKNOWN = 255

_DT_BY_NAME = {
    "string": DT_STRING,
    "number": DT_NUMBER,
    "date": DT_DATE,
    "unknown": DT_UNKNOWN,
}

# ConditionType (Table/TableMatch.cs:89-101): Contains/StartsWith/Exact
# from ContainsType, comparison ops shifted <<5
# (Table/TableMatcherBuilder.cs:231-233).
COND_CONTAINS = 0
COND_STARTSWITH = 1
COND_EXACT = 2
COND_EQUAL = CMP_EQUAL << 5
COND_LESSTHAN = CMP_LESS_THAN << 5
COND_GREATERTHAN = CMP_GREATER_THAN << 5
COND_LESSTHANOREQUAL = CMP_LESS_THAN_OR_EQUAL << 5
COND_GREATERTHANOREQUAL = CMP_GREATER_THAN_OR_EQUAL << 5
COND_NOTEQUAL = CMP_NOT_EQUAL << 5
COND_LIKE = 16 << 5

COND_NAMES = {
    COND_CONTAINS: "Contains",
    COND_STARTSWITH: "StartsWith",
    COND_EXACT: "Exact",
    COND_EQUAL: "Equal",
    COND_LESSTHAN: "LessThan",
    COND_GREATERTHAN: "GreaterThan",
    COND_LESSTHANOREQUAL: "LessThanOrEqual",
    COND_GREATERTHANOREQUAL: "GreaterThanOrEqual",
    COND_NOTEQUAL: "NotEqual",
    COND_LIKE: "Like",
}


class ColumnSchema:
    """TableSchema.cs:50-94."""

    def __init__(
        self,
        caption: Optional[str] = None,
        name: Optional[str] = None,
        data_type: int = DT_STRING,
        alt_captions: Optional[Sequence[str]] = None,
        caption_boost_phrases: Optional[Sequence[str]] = None,
        values: Optional[Sequence[str]] = None,
        exact_match_only: bool = False,
    ):
        self.caption = caption
        self.name = name
        if isinstance(data_type, str):
            data_type = _DT_BY_NAME[data_type.lower()]
        self.data_type = data_type
        self.alt_captions = list(alt_captions) if alt_captions else None
        self.caption_boost_phrases = (
            list(caption_boost_phrases) if caption_boost_phrases else None
        )
        self.values = list(values) if values else None
        self.exact_match_only = exact_match_only

    def captions_to_match(self):
        if self.caption is not None:
            yield self.caption
        if self.alt_captions:
            yield from self.alt_captions


class TableSchema:
    """TableSchema.cs:11-45."""

    def __init__(
        self,
        caption: Optional[str] = None,
        name: Optional[str] = None,
        columns: Optional[Sequence[ColumnSchema]] = None,
        alt_captions: Optional[Sequence[str]] = None,
        exact_match_only: bool = False,
    ):
        self.caption = caption
        self.name = name
        self.columns = list(columns) if columns else []
        self.alt_captions = list(alt_captions) if alt_captions else None
        self.exact_match_only = exact_match_only

    def captions_to_match(self):
        if self.caption is not None:
            yield self.caption
        if self.alt_captions:
            yield from self.alt_captions


class TableMatch(Match):
    """Table/TableMatch.cs:22-32."""

    __slots__ = ("table",)

    def __init__(self, table: TableSchema):
        super().__init__()
        self.table = table

    def __str__(self) -> str:
        return f"Table[{self.table.name}]"


class ColumnMatch(Match):
    """Table/TableMatch.cs:37-50."""

    __slots__ = ("column", "matched_caption")

    def __init__(self, column: ColumnSchema):
        super().__init__()
        self.column = column
        self.matched_caption: Optional[str] = None

    def __str__(self) -> str:
        return f"Column[{self.column.name}]"


class ColumnConditionMatch(Match):
    """The (column, condition, value) triple (Table/TableMatch.cs:55-101)."""

    __slots__ = ("column", "condition", "_value", "hint", "matched_value")

    def __init__(self, column=None, condition=COND_CONTAINS, value=None):
        super().__init__()
        self.column = column
        self.condition = condition
        self._value: Optional[Match] = value
        self.hint: Optional[Match] = None
        self.matched_value: Optional[str] = None

    @property
    def value(self) -> Match:
        return self._value if self._value is not None else self

    @value.setter
    def value(self, v: Optional[Match]):
        self._value = v

    def __str__(self) -> str:
        val = self.start.value
        if self.value is not self:
            val = str(self.value)
        elif self.start is not self.end:
            val += "..." + self.end.value
        matched = (
            f" in '{self.matched_value}'"
            if self.matched_value is not None and val != self.matched_value
            else ""
        )
        cond = COND_NAMES[self.condition].lower()
        return f"Column[{self.column.name} {cond} '{val}'{matched}]"


class GroupMatch(Match):
    """and/or group tree (Table/TableMatch.cs:107-131)."""

    __slots__ = ("group", "group_matches")

    def __init__(self, group: int, *matches: Match):
        super().__init__()
        self.group = group
        self.group_matches: List[Match] = list(matches)

    def __str__(self) -> str:
        inner = ";".join(str(m) for m in self.group_matches)
        return f"Group[{GRP_NAMES[self.group]}:{inner}]"

    @staticmethod
    def is_already_in_group(match_bag: MatchBag, left: Match, right: Match) -> bool:
        for m in match_bag.of_type(GroupMatch):
            if len(m.group_matches) == 2:
                if m.group_matches[0] is left and m.group_matches[1] is right:
                    return True
        return False


def english_stem(word: str) -> str:
    """Heuristic -ses/-s/-ed/-ing stripping
    (examples/.../EnglishStemmer.cs:18-35)."""
    n = len(word)
    if n > 5 and word.endswith("ses"):
        return word[:-2]
    if n > 3 and word[-1] == "s" and word[-2] in "pbgktdrnlv":
        return word[:-1]
    if n > 5 and word.endswith("ed"):
        return word[:-2]
    if n > 4 and word.endswith("ing"):
        return word[:-3]
    return word


# English stop words, verbatim from the reference example
# (examples/NReco.NLQuery.Examples.NerByDataset/Program.cs:134-142).
ENGLISH_STOP_WORDS = [
    "a", "by", "an", "at", "are", "as", "be", "at", "do", "does", "did",
    "etc", "for", "has", "have", "had", "in", "is", "just", "near",
    "of", "on", "per", "the", "to", "vs", "versus", "x", "was",
    "how", "many", "much", "if", "it", "its", "up", "so", "out",
    "show", "about", "after",
    "me", "i", "am", "he", "his", "she", "her", "any", "all", "they",
    "their", "them", "our", "ours",
    "be", "been", "being", "both", "but", "that", "than", "could",
    "and", "or", "from", "no", "not",
]

# Default operator phrase tables (Table/TableMatcherBuilder.cs:459-494).
DEFAULT_MATH_OPERATOR_PHRASES: List[Tuple[str, int]] = [
    ("equal", CMP_EQUAL),
    ("equals", CMP_EQUAL),
    ("not equals", CMP_NOT_EQUAL),
    ("not equal", CMP_NOT_EQUAL),
    ("before", CMP_LESS_THAN),
    ("below", CMP_LESS_THAN),
    ("less than", CMP_LESS_THAN),
    ("less", CMP_LESS_THAN),
    ("smaller than", CMP_LESS_THAN),
    ("fewer", CMP_LESS_THAN),
    ("under", CMP_LESS_THAN),
    ("ending with", CMP_LESS_THAN_OR_EQUAL),
    ("after", CMP_GREATER_THAN),
    ("above", CMP_GREATER_THAN),
    ("greater than", CMP_GREATER_THAN),
    ("greater", CMP_GREATER_THAN),
    ("more than", CMP_GREATER_THAN),
    ("more", CMP_GREATER_THAN),
    ("larger", CMP_GREATER_THAN),
    ("over", CMP_GREATER_THAN),
    ("starting with", CMP_GREATER_THAN_OR_EQUAL),
]


class Options:
    """TableMatcherBuilder.Options (Table/TableMatcherBuilder.cs:458-504)."""

    def __init__(self):
        self.yesterday_phrases = ["yesterday"]
        self.tomorrow_phrases = ["tomorrow"]
        self.today_phrases = ["today"]
        self.this_month_phrases = ["this month", "current month"]
        self.prev_month_phrases = ["prev month", "previous month", "last month"]
        self.next_month_phrases = ["next month"]
        self.this_year_phrases = ["this year", "current year"]
        self.prev_year_phrases = ["prev year", "previous year", "last year"]
        self.next_year_phrases = ["next year"]
        self.group_and_phrases = ["and"]
        self.group_or_phrases = ["or"]
        self.math_operator_phrases = list(DEFAULT_MATH_OPERATOR_PHRASES)
        self.stop_words: Optional[Sequence[str]] = None
        self.match_math_operators = True
        self.match_bool_operators = True
        self.apply_stemmer: Optional[Callable[[str], str]] = None
        self.now_year: Optional[int] = None  # pins DateMatcher year boost
        # Options.DateTimeFormat analog (TableMatcherBuilder.cs:498-504,
        # :401-402): ordered month-name tables (full, genitive,
        # abbreviated, abbreviated-genitive — first hit wins, as in
        # DateMatcher.cs:72-83) injected into the DateMatcher; None
        # keeps the built-in en-US tables.
        self.date_month_tables: Optional[Sequence[Sequence[str]]] = None


class TableMatcherBuilder:
    """Compiles TableSchemas into the matcher list
    (Table/TableMatcherBuilder.cs:25-456)."""

    def __init__(self, options: Optional[Options] = None):
        self.opts = options or Options()
        self.matchers: List = []
        self.keyword_matchers: List = []
        self.match_numbers = False
        self.match_dates = False

    # -- public API ---------------------------------------------------------

    def add(self, table: TableSchema) -> "TableMatcherBuilder":
        self._configure_matchers(table)
        return self

    def add_matcher(self, matcher, keyword_matcher: bool = False) -> "TableMatcherBuilder":
        (self.keyword_matchers if keyword_matcher else self.matchers).append(matcher)
        return self

    def build(self) -> List:
        res: List = []
        hint_matcher = self._configure_hint_matcher()
        if self.opts.stop_words:
            stop = StopWordsFilter(self.opts.stop_words)

            def not_stop(token: Token, _stop=stop) -> bool:
                return token.type != WORD or not _stop.is_stop_word(token.value_lower)

            res.append(
                TokenFilterMatcher(CompositeMatcher(self.keyword_matchers), not_stop)
            )
            hint_matcher = TokenFilterMatcher(hint_matcher, not_stop)
        else:
            res.extend(self.keyword_matchers)

        if self.keyword_matchers:
            # merge keys: the fields each merge rule requires to be equal
            res.append(
                MergePhraseMatcher(
                    ColumnMatch, self._merge_column_match, attrgetter("column")
                )
            )
            res.append(
                MergePhraseMatcher(
                    ColumnConditionMatch,
                    self._merge_column_condition,
                    attrgetter("column", "matched_value"),
                )
            )
            res.append(hint_matcher)

        if self.match_numbers and not any(
            isinstance(m, NumberMatcher) for m in self.matchers
        ):
            res.append(NumberMatcher())
        if self.match_dates:
            self._configure_date_matchers(res)
        self._configure_operator_matchers(res)
        res.extend(self.matchers)
        return res

    # -- merge rules --------------------------------------------------------

    @staticmethod
    def _if_boost_score(col_match: ColumnMatch) -> float:
        return 0.5 if col_match.matched_caption is None else col_match.score

    @staticmethod
    def _matched_captions_can_be_merged(c1, c2) -> bool:
        if c1 is None and c2 is None:
            return False
        if c1 is not None and c2 is not None:
            return c1 == c2
        return True

    def _merge_column_match(self, st, m1: ColumnMatch, m2: ColumnMatch):
        """TableMatcherBuilder.cs:61-81 (incl. the Number||Number counter
        quirk at :69, replicated for parity)."""
        if (
            m1.column is not m2.column
            or not self._matched_captions_can_be_merged(
                m1.matched_caption, m2.matched_caption
            )
            or m1.score == SCORE_CERTAIN
            or m2.score == SCORE_CERTAIN
        ):
            return None
        merged_score = self._if_boost_score(m1) + self._if_boost_score(m2)
        between_cnt = sum(
            1
            for t in st.between(m1.end, m2.start, inclusive=False)
            if t.type == NUMBER or t.type == NUMBER  # reference bug kept (:69)
        )
        if between_cnt > 3:
            return None
        if between_cnt > 0:
            merged_score -= merged_score * (0.25 * between_cnt)
        m = ColumnMatch(m1.column)
        m.start = m1.start
        m.end = m2.end
        m.score = merged_score
        m.matched_caption = (
            m1.matched_caption if m1.matched_caption is not None else m2.matched_caption
        )
        return m

    def _merge_column_condition(
        self, st, m1: ColumnConditionMatch, m2: ColumnConditionMatch
    ):
        """TableMatcherBuilder.cs:82-128."""
        if (
            m1.column is not m2.column
            or m1.matched_value is None
            or m1.matched_value != m2.matched_value
            or m1.score == SCORE_CERTAIN
            or m2.score == SCORE_CERTAIN
        ):
            return None
        between_val = "".join(t.value for t in st.between(m1.start, m2.end))
        idx = m1.matched_value.lower().find(between_val.lower())
        if idx < 0:
            merged_score = m1.score + m2.score
            between_cnt = sum(
                1
                for t in st.between(m1.end, m2.start, inclusive=False)
                if t.type == NUMBER or t.type == NUMBER  # reference bug kept (:94)
            )
            if between_cnt > 3:
                return None
            if between_cnt > 0:
                merged_score -= merged_score * (0.25 * between_cnt)
            m = ColumnConditionMatch()
            m.column = m1.column
            m.hint = m1.hint
            m.start = m1.start
            m.end = m2.end
            m.condition = m1.condition
            m.matched_value = m1.matched_value
            m.value = m1
            m.score = merged_score
            return m
        contains = COND_CONTAINS
        if idx == 0:
            contains = COND_STARTSWITH
            if len(m1.matched_value) == len(between_val):
                contains = COND_EXACT
        m = ColumnConditionMatch()
        m.column = m1.column
        m.hint = m1.hint
        m.start = m1.start
        m.end = m2.end
        m.condition = contains
        m.matched_value = m1.matched_value
        m.score = float(len(between_val)) / len(m1.matched_value)
        return m

    # -- hint rule ----------------------------------------------------------

    @staticmethod
    def _ensure_column_data_type(column: ColumnSchema, data_type: int) -> bool:
        return column.data_type == data_type or column.data_type == DT_UNKNOWN

    def _configure_hint_matcher(self):
        """TableMatcherBuilder.cs:261-319."""

        def get_match(hint_match: ColumnMatch, value_match: Match, force: bool):
            if isinstance(value_match, ColumnConditionMatch):
                cnd = value_match
                same_column = hint_match.column is cnd.column
                not_contains_or_not_low = (
                    cnd.condition != COND_CONTAINS or cnd.score >= SCORE_MAYBE / 2
                )
                if (same_column or force) and not_contains_or_not_low:
                    m = ColumnConditionMatch()
                    m.column = hint_match.column
                    m.hint = hint_match
                    m.condition = cnd.condition if same_column else COND_CONTAINS
                    m.value = cnd.value if cnd.hint is not None else value_match
                    m.matched_value = cnd.matched_value
                    if same_column and value_match.score > SCORE_MAYBE:
                        boost = 1.0
                        if force:
                            boost = 1.0 + hint_match.score
                        elif hint_match.score >= SCORE_MAYBE:
                            boost = 1.0 + (hint_match.score - SCORE_MAYBE)
                        m.score = ((hint_match.score + value_match.score) / 2) * boost
                    return m
                return None
            if isinstance(value_match, (DateMatch, DateOffsetMatch)):
                if self._ensure_column_data_type(hint_match.column, DT_DATE):
                    m = ColumnConditionMatch()
                    m.column = hint_match.column
                    m.hint = hint_match
                    m.condition = COND_EXACT
                    m.value = value_match
                    return m
                return None
            if isinstance(value_match, NumberMatch):
                if self._ensure_column_data_type(hint_match.column, DT_NUMBER):
                    m = ColumnConditionMatch()
                    m.column = hint_match.column
                    m.hint = hint_match
                    m.score = (hint_match.score + value_match.score) / 2.0 * 0.9
                    m.condition = COND_EXACT
                    m.value = value_match
                    return m
                return None
            if isinstance(value_match, StubMatch):
                m = ColumnConditionMatch()
                m.column = hint_match.column
                m.hint = hint_match
                m.condition = COND_CONTAINS
                m.value = value_match
                return m
            return None

        return HintMatcher(ColumnMatch, get_match)

    # -- operator matchers --------------------------------------------------

    def _configure_operator_matchers(self, res: List) -> None:
        """TableMatcherBuilder.cs:158-234."""
        if self.opts.match_math_operators:

            def get_comparison_match(left: Match, cmp: int, right: Match):
                left_col = left  # a ColumnMatch: the matcher's left type
                right_m = None
                score = 0.0
                if isinstance(right, NumberMatch) and self._ensure_column_data_type(
                    left_col.column, DT_NUMBER
                ):
                    score = left_col.score
                    right_m = right
                elif isinstance(right, DateMatch) and self._ensure_column_data_type(
                    left_col.column, DT_DATE
                ):
                    score = left_col.score
                    right_m = right
                elif (
                    isinstance(right, ColumnConditionMatch)
                    and (right.column is left_col.column or right.hint is None)
                    and self._ensure_column_data_type(left_col.column, DT_STRING)
                ):
                    stub = StubMatch()
                    stub.start = right.start
                    stub.end = (
                        right.end if right.column is left_col.column else right.start
                    )
                    right_m = stub
                elif isinstance(right, StubMatch):
                    right_m = right
                if right_m is not None:
                    m = ColumnConditionMatch(
                        left_col.column, cmp << 5, right_m
                    )
                    m.hint = left
                    m.score = (
                        score
                        if score > 0
                        else SCORE_MAYBE + (left_col.score + right_m.score) / 4
                    )
                    return m
                return None

            cmp_matcher = ComparisonMatcher(ColumnMatch, get_comparison_match)
            if self.opts.math_operator_phrases is not None:
                phrases = []
                for phrase, cmp_type in self.opts.math_operator_phrases:
                    words = tuple(
                        t.value for t in tokenize(phrase) if t.type == WORD
                    )
                    phrases.append((words, cmp_type))
                cmp_matcher.phrase_comparison_types = phrases
                if self.opts.stop_words:
                    stop = StopWordsFilter(self.opts.stop_words)
                    cmp_matcher.is_phrase_stop_word = stop.is_stop_word
                res.append(cmp_matcher)

        if self.opts.match_bool_operators:

            def get_group_match(left, grp, right, match_bag):
                if isinstance(
                    right, (ColumnConditionMatch, GroupMatch)
                ) and not GroupMatch.is_already_in_group(match_bag, left, right):
                    return GroupMatch(grp, left, right)
                return None

            grp_matcher = GroupMatcher(
                lambda m, bag: isinstance(m, (ColumnConditionMatch, GroupMatch)),
                get_group_match,
            )
            group_phrases = []
            if self.opts.group_and_phrases:
                for kw in self.opts.group_and_phrases:
                    group_phrases.append(((kw,), GRP_AND))
            if self.opts.group_or_phrases:
                for kw in self.opts.group_or_phrases:
                    group_phrases.append(((kw,), GRP_OR))
            grp_matcher.phrase_group_types = group_phrases
            res.append(grp_matcher)

    # -- schema compilation -------------------------------------------------

    def _configure_matchers(self, table: TableSchema) -> None:
        """TableMatcherBuilder.cs:321-397."""
        stop = (
            StopWordsFilter(self.opts.stop_words) if self.opts.stop_words else None
        )

        def add_caption_matcher(caption: str, exact_only: bool, get_match):
            caption_tokens = [t for t in tokenize(caption) if t.value]
            without_sep = [t for t in caption_tokens if t.type != SEPARATOR]
            word_or_num = [t for t in without_sep if t.type in (WORD, NUMBER)]
            if stop is not None:
                word_or_num = list(stop.remove_stop_words(word_or_num))
            if exact_only or len(without_sep) != len(word_or_num):
                match_words = [t.value for t in without_sep]
                exact = ExactPhraseMatcher(
                    match_words,
                    (lambda mw=len(match_words): get_match(mw)),
                )
                if len(without_sep) == len(caption_tokens):
                    exact.allow_separators = False  # no spaces in caption
                self.matchers.append(exact)
            if not exact_only:
                match_words = [t.value for t in word_or_num]
                like = LikePhraseMatcher(
                    match_words,
                    (lambda mw=len(match_words): get_match(mw)),
                )
                like.apply_stemmer = self.opts.apply_stemmer
                self.keyword_matchers.append(like)

        for tbl_caption in table.captions_to_match():
            add_caption_matcher(
                tbl_caption,
                table.exact_match_only,
                (lambda words_count, _t=table: TableMatch(_t)),
            )

        has_number_cols = False
        has_date_cols = False
        for col in table.columns:
            for col_caption in col.captions_to_match():
                def make_col_match(words_count, _col=col, _caption=col_caption):
                    m = ColumnMatch(_col)
                    m.matched_caption = _caption
                    if _col.caption_boost_phrases:
                        # reduced score for match without boost (:331-336)
                        m.score = float(words_count) / (words_count + 1)
                    return m

                add_caption_matcher(col_caption, col.exact_match_only, make_col_match)

            if col.caption_boost_phrases:
                for boost_phrase in col.caption_boost_phrases:
                    words = [
                        t.value
                        for t in tokenize(boost_phrase)
                        if t.value and t.type != SEPARATOR
                    ]

                    def make_boost_match(_col=col):
                        m = ColumnMatch(_col)
                        m.score = 0.001  # boost-only multiplier (:343-345)
                        return m

                    self.matchers.append(ExactPhraseMatcher(words, make_boost_match))

            if col.values:

                def make_cnd_match(contains_type, matched_val, _col=col):
                    m = ColumnConditionMatch()
                    m.column = _col
                    m.condition = contains_type  # ContainsType maps 1:1
                    m.matched_value = matched_val[1]
                    return m

                lcm = ListContainsMatcher(col.values, make_cnd_match)
                lcm.apply_stemmer = self.opts.apply_stemmer
                self.keyword_matchers.append(lcm)

            if self._ensure_column_data_type(col, DT_DATE):
                has_date_cols = True
            if self._ensure_column_data_type(col, DT_NUMBER):
                has_number_cols = True

        if has_date_cols:
            self.match_dates = True
        if has_number_cols:
            self.match_numbers = True

        first_date_col = next(
            (c for c in table.columns if c.data_type == DT_DATE), None
        )
        if first_date_col is not None:
            self.matchers.append(AssignDefaultDateColumnMatcher(first_date_col))

    def _configure_date_matchers(self, matchers: List) -> None:
        """TableMatcherBuilder.cs:399-427."""
        date_matcher = DateMatcher()
        if self.opts.now_year is not None:
            date_matcher.now_year = self.opts.now_year
        if self.opts.date_month_tables is not None:
            date_matcher.set_month_tables(self.opts.date_month_tables)
        matchers.append(date_matcher)

        def add_offset(phrases, year, month, day):
            if not phrases:
                return
            proto = DateOffsetMatch(year=year, month=month, day=day)
            for phrase in phrases:
                words = [t.value for t in tokenize(phrase) if t.type == WORD]
                if words:  # numeric/punct-only phrases compile to nothing
                    matchers.append(ExactPhraseMatcher(words, proto.clone))

        o = self.opts
        add_offset(o.yesterday_phrases, 0, 0, -1)
        add_offset(o.tomorrow_phrases, 0, 0, 1)
        add_offset(o.today_phrases, 0, 0, 0)
        add_offset(o.prev_month_phrases, 0, -1, None)
        add_offset(o.this_month_phrases, 0, 0, None)
        add_offset(o.next_month_phrases, 0, 1, None)
        add_offset(o.prev_year_phrases, -1, None, None)
        add_offset(o.this_year_phrases, 0, None, None)
        add_offset(o.next_year_phrases, 1, None, None)


class AssignDefaultDateColumnMatcher:
    """Free Date/DateOffset match -> Exact condition on the table's first
    date column (TableMatcherBuilder.cs:429-456)."""

    first_pass_only = False
    recursive = False

    def __init__(self, date_column: ColumnSchema):
        self.date_column = date_column

    def can_match(self, match_bag: MatchBag) -> bool:
        return bool(match_bag.of_type(DateMatch) or match_bag.of_type(DateOffsetMatch))

    def bag_state(self, match_bag: MatchBag) -> Tuple[int, int]:
        # a call that yielded nothing found every date consumed; new
        # matches of other classes can only consume more
        return len(match_bag.of_type(DateMatch)), len(match_bag.of_type(DateOffsetMatch))

    def get_matches(self, match_bag: MatchBag):
        # a date already bound to a date-column condition is consumed;
        # the bag cannot change during this call (the recognizer adds a
        # recursive matcher's output only after materializing it), so
        # the consumed set is built once, on the first date match
        consumed = None
        for m in list(match_bag.matches):
            if isinstance(m, (DateMatch, DateOffsetMatch)):
                if consumed is None:
                    consumed = {
                        id(mm.value)
                        for mm in match_bag.matches
                        if isinstance(mm, ColumnConditionMatch)
                        and mm.column.data_type == DT_DATE
                    }
                if id(m) in consumed:
                    continue
                cnd = ColumnConditionMatch()
                cnd.column = self.date_column
                cnd.condition = COND_EXACT
                cnd.value = m
                cnd.start = m.start
                cnd.end = m.end
                cnd.matched_tokens_count = m.matched_tokens_count
                cnd.score = SCORE_MAYBE
                yield cnd
