"""Token model for the NL recognition kernel.

Behavioral parity with the reference library's token layer
(/root/reference/src/NReco.NLQuery/Token.cs:22-86 and
TokenSequence.cs:22-114), re-expressed as plain Python designed to run
inside Arrow batches on Spark executors (no Spark imports here — this
module must stay broadcast/pickle friendly and dependency-free).
"""

from __future__ import annotations

from typing import Callable, List, Optional

# Token type codes (reference: Token.cs:77-86). Kept as ints (tinyint on
# the Spark side) for cheap Arrow transport.
UNKNOWN = 0
SEPARATOR = 1
PUNCTUATION = 2
MATH = 3
BRACKET = 4
WORD = 5
NUMBER = 6
SENTENCE_END = 7

TOKEN_TYPE_NAMES = (
    "Unknown",
    "Separator",
    "Punctuation",
    "Math",
    "Bracket",
    "Word",
    "Number",
    "SentenceEnd",
)


class Token:
    """Immutable token (reference: Token.cs:22-72).

    Equality/hash use (value, start_index) only — type excluded — to match
    the reference (Token.cs:56-66). ``pos`` is the token's position in
    ``tokenize``'s output (-1 for a token made elsewhere), which
    ``TokenSequence.get_index`` tries before its dict.
    """

    __slots__ = ("value", "type", "start_index", "pos", "_lower", "_hash")

    def __init__(self, token_type: int, start_index: int, value: str, pos: int = -1):
        self.value = value
        self.type = token_type
        self.start_index = start_index
        self.pos = pos
        self._lower: Optional[str] = None
        self._hash = hash((value, start_index))

    @property
    def value_lower(self) -> str:
        lower = self._lower
        if lower is None:
            lower = self.value.lower()
            self._lower = lower
        return lower

    def __hash__(self) -> int:
        return self._hash

    def __eq__(self, other) -> bool:
        if isinstance(other, Token):
            return other.value == self.value and other.start_index == self.start_index
        return False

    def __repr__(self) -> str:
        return f"Token({TOKEN_TYPE_NAMES[self.type]},{self.start_index},{self.value!r})"

    def __str__(self) -> str:
        return self.value


class TokenSequence:
    """Token array + token→index navigation (reference: TokenSequence.cs:22-114)."""

    __slots__ = ("tokens", "_token_to_index", "_value_set")

    def __init__(self, tokens):
        self.tokens: List[Token] = list(tokens)
        self._token_to_index = None
        self._value_set = None

    @property
    def value_set(self):
        """Lazy set of lowercased token values: the comparison and group
        matchers' screens test their operator phrases' words against
        it."""
        vs = self._value_set
        if vs is None:
            vs = {t.value_lower for t in self.tokens}
            self._value_set = vs
        return vs

    @property
    def first_token(self) -> Optional[Token]:
        return self.tokens[0] if self.tokens else None

    @property
    def last_token(self) -> Optional[Token]:
        return self.tokens[-1] if self.tokens else None

    def get_index(self, t: Token) -> int:
        # the tokenizer's position is this sequence's when the token sits
        # there; filtered, quoted and stemmed sequences fall through to
        # the dict, which finds the last token equal to ``t``
        pos = t.pos
        tokens = self.tokens
        if 0 <= pos < len(tokens) and tokens[pos] is t:
            return pos
        idx_map = self._token_to_index
        if idx_map is None:
            idx_map = {tok: i for i, tok in enumerate(self.tokens)}
            self._token_to_index = idx_map
        return idx_map.get(t, -1)

    def next(self, t: Token, predicate: Optional[Callable[[Token], bool]] = None) -> Optional[Token]:
        i = self.get_index(t)
        if i >= 0:
            for j in range(i + 1, len(self.tokens)):
                if predicate is None or predicate(self.tokens[j]):
                    return self.tokens[j]
        return None

    def prev(self, t: Token, predicate: Optional[Callable[[Token], bool]] = None) -> Optional[Token]:
        i = self.get_index(t)
        if i >= 0:
            for j in range(i - 1, -1, -1):
                if predicate is None or predicate(self.tokens[j]):
                    return self.tokens[j]
        return None

    def between(self, t1: Token, t2: Token, inclusive: bool = True) -> List[Token]:
        """The tokens from ``t1`` to ``t2``, both included unless
        ``inclusive`` is false; empty if either is not in the sequence."""
        start = self.get_index(t1)
        end = self.get_index(t2)
        if start < 0 or end < 0:
            return []
        if not inclusive:
            return self.tokens[start + 1 : end]
        return self.tokens[start : end + 1]

    def distance(self, t1: Token, t2: Token) -> int:
        start = self.get_index(t1)
        end = self.get_index(t2)
        if start < 0 or end < 0:
            return -1
        return abs(end - start)

    def __str__(self) -> str:
        return "".join(t.value for t in self.tokens)
