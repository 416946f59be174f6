"""Lossless character-class tokenizer.

Behavioral parity with the reference FSM
(/root/reference/src/NReco.NLQuery/Tokenizer.cs:33-251):

- separators: space/tab/CR/LF plus any Unicode whitespace (Tokenizer.cs:48)
- brackets ``()[]{}``, math ``+-/*&|=<>~^#``, punctuation ``,;:".?!_'`` are
  single-char tokens (force flush)
- digit runs are Number tokens, but a digit EXTENDS a word in progress
  ("aa555" -> one Word; "5aaa" -> Number + Word)
- the token stream is lossless: ``"".join(values) == input`` and always ends
  with an empty-value SentenceEnd token.

The per-string generator is intentionally simple Python; batch throughput
on Spark comes from running it inside ``mapInPandas`` over Arrow batches
(thousands of docs per batch, no per-row Python<->JVM crossings).
"""

from __future__ import annotations

from typing import Iterable, Iterator, List

from .tokens import (
    BRACKET,
    MATH,
    NUMBER,
    PUNCTUATION,
    SENTENCE_END,
    SEPARATOR,
    UNKNOWN,
    WORD,
    Token,
)

_BRACKET_CHARS = frozenset("()[]{}")
_MATH_CHARS = frozenset("+-/*&|=<>~^#")
_PUNCT_CHARS = frozenset(",;:\".?!_'")
_SEP_CHARS = frozenset(" \t\n\r")

# Single-char token types that force a flush on every char.
_FORCE_TYPES = (BRACKET, MATH, PUNCTUATION)


def _char_class_uncached(ch: str) -> int:
    # Order matters (reference checks digit, separator, bracket, math,
    # punctuation, word in that order — Tokenizer.cs:44-68).
    if ch.isdecimal():  # C# Char.IsDigit == Unicode Nd == str.isdecimal
        return NUMBER
    if ch in _SEP_CHARS or ch.isspace():
        return SEPARATOR
    if ch in _BRACKET_CHARS:
        return BRACKET
    if ch in _MATH_CHARS:
        return MATH
    if ch in _PUNCT_CHARS:
        return PUNCTUATION
    return WORD


# per-character memo: classification is pure, and real text reuses a tiny
# alphabet — one dict hit replaces the isdecimal/isspace branch chain
# (~6% of end-to-end extraction time at profile). Pre-seeded with ASCII.
_CLASS_CACHE = {chr(c): _char_class_uncached(chr(c)) for c in range(128)}


def _char_class(ch: str) -> int:
    cls = _CLASS_CACHE.get(ch)
    if cls is None:
        cls = _CLASS_CACHE[ch] = _char_class_uncached(ch)
    return cls


def tokenize(s: str) -> List[Token]:
    """Parse ``s`` into a lossless token list ending with SentenceEnd."""
    tokens: List[Token] = []
    start_idx = 0
    token_type = UNKNOWN
    buf: List[str] = []
    pos = 0
    n = len(s)
    cache_get = _CLASS_CACHE.get
    for pos, ch in enumerate(s):
        new_type = cache_get(ch)
        if new_type is None:
            new_type = _char_class(ch)
        if new_type == NUMBER:
            # digits extend a Word in progress (allowed types = [Word])
            if token_type != NUMBER and token_type != WORD:
                if buf:
                    tokens.append(Token(token_type, start_idx, "".join(buf), len(tokens)))
                    start_idx = pos
                    buf.clear()
                token_type = NUMBER
        elif new_type in _FORCE_TYPES:
            if buf:
                tokens.append(Token(token_type, start_idx, "".join(buf), len(tokens)))
                start_idx = pos
                buf.clear()
            token_type = new_type
        else:
            if token_type != new_type:
                if buf:
                    tokens.append(Token(token_type, start_idx, "".join(buf), len(tokens)))
                    start_idx = pos
                    buf.clear()
                token_type = new_type
        buf.append(ch)
    if buf:
        tokens.append(Token(token_type, start_idx, "".join(buf), len(tokens)))
        start_idx = n
    tokens.append(Token(SENTENCE_END, start_idx, "", len(tokens)))
    return tokens


def parse_quoted_constants(tokens: Iterable[Token], quote_char: str = '"') -> Iterator[Token]:
    """Merge quoted spans into single Word tokens, '""' escapes a quote
    (reference: Tokenizer.cs:202-251)."""
    buf: List[str] = []
    in_quoted = False
    quoted_start = -1
    it = iter(tokens)
    for t in it:
        if len(t.value) == 1 and t.value == quote_char:
            if in_quoted:
                # end, or escaped quote char?
                nxt = next(it, None)
                if nxt is not None:
                    if len(nxt.value) == 1 and nxt.value == quote_char:
                        buf.append(nxt.value)  # escaped quote
                        continue
                    yield Token(WORD, quoted_start, "".join(buf))
                    buf.clear()
                    in_quoted = False
                    quoted_start = -1
                    yield nxt
                else:
                    yield Token(WORD, quoted_start, "".join(buf))
                    buf.clear()
                    in_quoted = False
                    quoted_start = -1
            else:
                in_quoted = True
                quoted_start = t.start_index + 1
        else:
            if in_quoted and t.type != SENTENCE_END:
                buf.append(t.value)
            else:
                if t.type == SENTENCE_END and in_quoted:
                    yield Token(WORD, quoted_start, "".join(buf))
                yield t


def apply_stemmer_tokens(tokens, stem):
    """Pre-recognition token stemming
    (examples/.../NliDataFilter/Data/ListQueryParser.cs:284-295): WORD
    tokens whose stem differs are replaced by a new token with the
    stemmed value (same type and start index — losslessness is traded
    for recall exactly as in the reference parser); all other tokens
    pass through unchanged."""
    out = []
    for t in tokens:
        if t.type == WORD:
            stemmed = stem(t.value)
            if stemmed != t.value:
                out.append(Token(WORD, t.start_index, stemmed))
                continue
        out.append(t)
    return out
