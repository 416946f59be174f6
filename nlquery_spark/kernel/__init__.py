"""Pure-Python recognition kernel (reference-parity).

This package re-implements, with behavioral parity, the recognition
pipeline of nreco/nlquery (see /root/reference, SURVEY.md §2): tokenizer,
matchers, recognizer/combination DFS, and the TableSchema dictionary
compiler. It has NO Spark dependency: the Spark layer broadcasts compiled
matcher sets and runs this kernel inside Arrow batches (mapInPandas).
"""

from .tokens import Token, TokenSequence  # noqa: F401
from .tokenizer import tokenize, parse_quoted_constants  # noqa: F401
from .matches import (  # noqa: F401
    Match,
    MatchBag,
    StubMatch,
    NumberMatch,
    DateMatch,
    DateOffsetMatch,
    KeyMatch,
    SCORE_MAYBE,
    SCORE_CERTAIN,
)
from .matchers import (  # noqa: F401
    CompositeMatcher,
    ComparisonMatcher,
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
)
from .recognizer import Recognizer, NGramGenerator  # noqa: F401
from .table import (  # noqa: F401
    ColumnSchema,
    TableSchema,
    TableMatcherBuilder,
    Options,
    TableMatch,
    ColumnMatch,
    ColumnConditionMatch,
    GroupMatch,
    english_stem,
)
