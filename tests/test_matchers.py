"""Matcher goldens ported from
/root/reference/src/NReco.NLQuery.Tests/Matchers/MatcherTests.cs.

Scores: the reference asserts exact float32 sums; our kernel computes in
Python doubles, so we compare with a tight tolerance (the expected
expressions below mirror the C# float expressions).
"""

import pytest

from nlquery_spark.kernel import (
    CompositeMatcher,
    ComparisonMatcher,
    DateMatcher,
    DateOffsetMatch,
    ExactPhraseMatcher,
    GroupMatcher,
    HintMatcher,
    KeyMatch,
    LikePhraseMatcher,
    ListContainsMatcher,
    Match,
    MatchBag,
    NumberMatch,
    NumberMatcher,
    StubMatch,
    TokenSequence,
    tokenize,
)
from nlquery_spark.kernel.matchers import (
    CMP_GREATER_THAN,
    CMP_LESS_THAN,
    CMP_NAMES,
    GRP_AND,
    GRP_OR,
    GRP_NAMES,
)


def seq(s: str) -> TokenSequence:
    return TokenSequence(tokenize(s))


def test_list_contains_matcher():
    matcher = ListContainsMatcher(
        ["Paris", "New York", "Kiev", "London", "Part 2", "2nd quarter", "up2you"],
        lambda contains_type, matched_val: KeyMatch("city"),
    )
    test_inputs = ["sales in Paris and New York", "New Yorker by product", "2"]
    expected_counts = [3, 1, 3]
    expected_score_sums = [1.0 + 0.875, 0.375, 1 / 6 + (1 / 11) / 2 + (1 / 6) / 4]
    for inp, cnt, score_sum in zip(test_inputs, expected_counts, expected_score_sums):
        matches = list(matcher.get_matches(MatchBag(seq(inp))))
        assert len(matches) == cnt
        assert sum(m.score for m in matches) == pytest.approx(score_sum, abs=1e-6)

    # max score filter threshold (MatcherTests.cs:47-60)
    similar_vals = []
    cur = ""
    for _ in range(100):
        cur += "2"
        similar_vals.append(cur)
    m1 = ListContainsMatcher(similar_vals, lambda c, kv: StubMatch())
    assert len(list(m1.get_matches(MatchBag(seq("2"))))) == 10
    similar_vals.append("222222222222222222222222222 a")
    m2 = ListContainsMatcher(similar_vals, lambda c, kv: StubMatch())
    assert len(list(m2.get_matches(MatchBag(seq("2 a"))))) == 11 + 1


def test_number_matcher():
    matcher = NumberMatcher()
    test_inputs = ["no numbers", "1", "20.09", "jan 0270 test", "average 20,5 bla 5., ,6"]
    expected = [
        "",
        "Number[1]",
        "Number[20],Number[9],Number[20.09]",
        "Number[270]",
        "Number[20],Number[5],Number[20.5],Number[5],Number[6]",
    ]
    for inp, exp in zip(test_inputs, expected):
        matches = list(matcher.get_matches(MatchBag(seq(inp))))
        assert ",".join(str(m) for m in matches) == exp


def test_date_matcher():
    matcher = DateMatcher()
    test_inputs = [
        "19 march 2018",
        "1",
        "20.09",
        "jan",
        "Feb",
        "March",
        "September",
        "50",
        "08 2007",
        "show May, 6 2017",
        "from 2/7/2015 to",
        "before Dec-2017 and",
    ]
    expected = [
        "Date[Y:2018],Date[Y:2018 M:3],Date[Y:2018 M:3 D:19]",
        "",
        "Date[M:9 D:20]",
        "Date[M:1]",
        "Date[M:2]",
        "Date[M:3]",
        "Date[M:9]",
        "",
        "Date[Y:2007],Date[Y:2007 M:8]",
        "Date[Y:2017],Date[Y:2017 M:6],Date[Y:2017 M:5 D:6]",
        "Date[Y:2015],Date[Y:2015 M:7],Date[Y:2015 M:2 D:7],Date[Y:2015 M:7 D:2]",
        "Date[Y:2017],Date[Y:2017 M:12]",
    ]
    for inp, exp in zip(test_inputs, expected):
        matches = list(matcher.get_matches(MatchBag(seq(inp))))
        assert ",".join(str(m) for m in matches) == exp, inp


def test_exact_phrase_matcher():
    matcher = CompositeMatcher(
        [
            ExactPhraseMatcher(["tomorrow"], DateOffsetMatch),
            ExactPhraseMatcher(["last", "month"], DateOffsetMatch),
        ]
    )
    test_inputs = [
        "show me tomorrow activities",
        "last month",
        "clients registered last month",
        "living for tomorr ow",
    ]
    expected = [1, 1, 1, 0]
    for inp, exp in zip(test_inputs, expected):
        matches = list(matcher.get_matches(MatchBag(seq(inp))))
        assert len(matches) == exp, inp


def test_like_phrase_matcher():
    matcher = LikePhraseMatcher(["sum", "of", "sales"], DateOffsetMatch)
    matcher.score_weight_by_total_length = True
    test_inputs = [
        "sale by year",
        "show sum of sale as table",
        "state ca, sales sum",
        "summer salt",
        " sum sales sales",
        "good pale ale",
    ]
    expected_counts = [1, 1, 1, 0, 2, 1]
    expected_scores = [0.4, 0.90, 0.8, 0, 0.8 + 0.5, 0.15]
    for inp, cnt, score in zip(test_inputs, expected_counts, expected_scores):
        matches = list(matcher.get_matches(MatchBag(seq(inp))))
        assert len(matches) == cnt, inp
        assert sum(m.score for m in matches) == pytest.approx(score, abs=1e-6), inp


def test_hint_merge_rule():
    hint_matcher = LikePhraseMatcher(["From", "City"], lambda: KeyMatch(1))
    value_matcher = ListContainsMatcher(
        ["Kiev", "Rome", "Berlin", "New York", "Vatican"],
        lambda c, kv: KeyMatch("city"),
    )
    value_another = ListContainsMatcher(
        ["France", "Germany", "Vatican"], lambda c, kv: KeyMatch("country")
    )
    matcher = CompositeMatcher([hint_matcher, value_matcher, value_another])

    def merge(hint, target, force):
        if isinstance(target, KeyMatch) and isinstance(target.key, str):
            if target.key == "city" or force:
                return KeyMatch((1, "city"))
        if isinstance(target, StubMatch):
            return KeyMatch((1, "city"))
        return None

    def is_int_key(m):
        return isinstance(m, KeyMatch) and isinstance(m.key, int)

    class IntKeyMatch(KeyMatch):
        pass

    # hint type selection: C# generics select KeyMatch<int>; here the hint
    # matcher's factory produces KeyMatch(1) (int key), gazetteers produce
    # str keys — mimic the generic filter with a predicate-style subclass
    # check done inside a custom HintMatcher type filter.
    merge_rule = HintMatcher(KeyMatch, lambda h, t, f: merge(h, t, f) if is_int_key(h) else None)

    test_inputs = [
        "product1 in city Paris or Kiev",
        "show city Vatican or Germany ",
        "test negative city France and",
        "test force city: France",
    ]
    # NOTE: the reference golden (MatcherTests.cs:202-203) expects {1,1,0,1}
    # / {0.5,0.75,0,0.75} but predates the v1.2.0 reverse-order feature
    # (csproj release notes; HintMatcher.cs:89-118): with shipped source,
    # input 1 also yields the reverse '<value> <hint>' merge of the 'in'
    # token (substring of gazetteer value 'Berlin', score (0.5+1/6)/2*0.9).
    # We assert the *source* behavior.
    expected_counts = [2, 1, 0, 1]
    expected_scores = [0.5 + (0.5 + 1 / 6) / 2 * 0.9, 0.75, 0, 0.75]
    for inp, cnt, score in zip(test_inputs, expected_counts, expected_scores):
        p = seq(inp)
        matches = list(matcher.get_matches(MatchBag(p)))
        merged = list(merge_rule.get_matches(MatchBag(p, matches)))
        assert len(merged) == cnt, inp
        assert sum(m.score for m in merged) == pytest.approx(score, abs=1e-6), inp


class ComparisonMatch(Match):
    __slots__ = ("left", "cmp", "right")

    def __init__(self, left, cmp, right):
        super().__init__()
        self.left = left
        self.cmp = cmp
        self.right = right

    def __str__(self):
        return f"{self.left}[{CMP_NAMES[self.cmp]}]{self.right}"


class GroupedMatch(Match):
    __slots__ = ("group", "group_matches")

    def __init__(self, group, *matches):
        super().__init__()
        self.group = group
        self.group_matches = list(matches)

    def __str__(self):
        inner = ";".join(str(m) for m in self.group_matches)
        return f"Group[{GRP_NAMES[self.group]}:{inner}]"


def _is_already_in_group(match_bag, left, right):
    for m in match_bag.matches:
        if isinstance(m, GroupedMatch) and len(m.group_matches) == 2:
            if m.group_matches[0] is left and m.group_matches[1] is right:
                return True
    return False


def test_comparison_and_group():
    value_matcher = ListContainsMatcher(
        ["city", "country", "population"],
        lambda c, kv: KeyMatch(kv[1]),
    )
    matcher = CompositeMatcher([value_matcher, NumberMatcher()])

    def get_cmp(left, cmp, right):
        if isinstance(right, NumberMatch) and isinstance(left, KeyMatch) and left.key == "population":
            return ComparisonMatch(left, cmp, right)
        if isinstance(left, KeyMatch):
            return ComparisonMatch(left, cmp, right)
        return None

    comparison_matcher = ComparisonMatcher(KeyMatch, get_cmp)
    comparison_matcher.phrase_comparison_types = [
        (("greater", "than"), CMP_GREATER_THAN),
        (("greater",), CMP_GREATER_THAN),
        (("before",), CMP_LESS_THAN),
    ]

    def get_grp(left, grp, right, bag):
        if isinstance(right, (ComparisonMatch, KeyMatch)) and not _is_already_in_group(
            bag, left, right
        ):
            return GroupedMatch(grp, left, right)
        return None

    group_matcher = GroupMatcher(
        lambda m, bag: isinstance(m, (ComparisonMatch, KeyMatch)), get_grp
    )
    group_matcher.phrase_group_types = [(("and",), GRP_AND), (("or",), GRP_OR)]

    test_inputs = [
        "city and popul > 10",
        "city=Kiev or city =Berlin or city bla",
        "population greater than 1000",
        "population greater 100 city=Paris",
        "population before ",
    ]
    expected_cmp = [
        "Key[population][GreaterThan]Number[10]",
        "Key[city][Equal]StubMatch[Kiev];Key[city][Equal]StubMatch[Berlin]",
        "Key[population][GreaterThan]Number[1000]",
        # NOTE: the reference golden (MatcherTests.cs:259) omits the middle
        # match but predates the v1.2.0 reverse-order handling
        # (ComparisonMatcher.cs:179-214): with shipped source, left part
        # Key[city] also merges via '<op> <value> <entity>' ("greater 100
        # city"). We assert the *source* behavior.
        "Key[city][Equal]StubMatch[Paris];Key[city][GreaterThan]Number[100];"
        "Key[population][GreaterThan]Number[100]",
        "",
    ]
    expected_grp = [
        "Group[And:Key[city];Key[population]];Group[And:Key[city];Key[population][GreaterThan]Number[10]]",
        "Group[Or:Key[city][Equal]StubMatch[Kiev];Key[city]];"
        "Group[Or:Key[city][Equal]StubMatch[Kiev];Key[city][Equal]StubMatch[Berlin]];"
        "Group[Or:Key[city][Equal]StubMatch[Berlin];Key[city]]",
        "",
        "",
        "",
    ]
    for inp, exp_cmp, exp_grp in zip(test_inputs, expected_cmp, expected_grp):
        p = seq(inp)
        matches = list(matcher.get_matches(MatchBag(p)))
        bag = MatchBag(p, matches)
        cmp_matches = list(comparison_matcher.get_matches(bag))
        assert ";".join(str(m) for m in cmp_matches) == exp_cmp, inp
        for m in cmp_matches:
            bag.add(m)
        grp_matches = []
        while True:
            pass_matches = list(group_matcher.get_matches(bag))
            if not pass_matches:
                break
            for m in pass_matches:
                bag.add(m)
                grp_matches.append(m)
        assert ";".join(str(m) for m in grp_matches) == exp_grp, inp


def test_kernel_match_classes_subclass_match_directly():
    """``MatchBag`` indexes matches by exact class; a matcher asking for
    one of the kernel's match classes gets what ``isinstance`` would
    give only while no match class derives from another."""
    from nlquery_spark.kernel import matches, table

    classes = {
        c
        for mod in (matches, table)
        for c in vars(mod).values()
        if isinstance(c, type) and issubclass(c, Match) and c is not Match
    }
    assert len(classes) == 9
    assert all(c.__bases__ == (Match,) for c in classes)


def test_token_filter_matcher_shares_the_bag():
    """The wrapped matcher reads the caller's bag, matches and indexes
    shared, over the filtered statement."""
    from nlquery_spark.kernel.matchers import TokenFilterMatcher

    seen = []

    class Spy:
        first_pass_only = False
        recursive = False

        def get_matches(self, match_bag):
            seen.append(match_bag)
            return iter(())

    p = seq("city of Rome")
    bag = MatchBag(p, ListContainsMatcher(["Rome"], lambda c, kv: KeyMatch(kv[1])).get_matches(MatchBag(p)))
    list(TokenFilterMatcher(Spy(), lambda t: t.value != "of").get_matches(bag))
    (view,) = seen
    assert view.matches is bag.matches
    assert [t.value for t in view.statement.tokens] == ["city", " ", " ", "Rome", ""]
    rome = p.tokens[4]
    assert view.find_by_start(rome) is bag.find_by_start(rome) and len(bag.find_by_start(rome)) == 1
    assert view.of_type(KeyMatch) is bag.of_type(KeyMatch)


def test_exact_phrase_matcher_empty_words_is_noop():
    """A phrase that tokenizes to zero WORD tokens (numeric/punct-only
    config phrases) must yield nothing, not crash the first-word screen."""
    from nlquery_spark.kernel.matchers import ExactPhraseMatcher
    from nlquery_spark.kernel.matches import MatchBag, StubMatch
    from nlquery_spark.kernel.tokenizer import tokenize
    from nlquery_spark.kernel.tokens import TokenSequence

    bag = MatchBag(TokenSequence(tokenize("any words at all")), [])
    m = ExactPhraseMatcher([], lambda: StubMatch())
    assert list(m.get_matches(bag)) == []


def test_numeric_offset_phrase_does_not_crash_recognizer():
    # options passthrough can inject phrases with no WORD tokens; the
    # builder must skip them instead of compiling a crashing matcher
    from nlquery_spark.operators.nlsql import parse_conditions

    spec = {"caption": "Orders", "name": "orders", "columns": [
        {"caption": "Order Date", "name": "o_orderdate", "datatype": "date"},
    ]}
    opts = {"yesterday_phrases": ["24", "!!"], "stop_words": []}
    conds = parse_conditions("orders in 1995", [spec], opts)
    assert isinstance(conds, list)
