"""Tokenizer goldens ported from
/root/reference/src/NReco.NLQuery.Tests/TokenizerTests.cs."""

from nlquery_spark.kernel import Token, TokenSequence, tokenize, parse_quoted_constants
from nlquery_spark.kernel.table import english_stem
from nlquery_spark.kernel.tokenizer import apply_stemmer_tokens
from nlquery_spark.kernel.tokens import (
    NUMBER,
    SEPARATOR,
    TOKEN_TYPE_NAMES,
    WORD,
)

SENTENCE_TEST_DATA = [
    ("What is this?", "Word,Separator,Word,Separator,Word,Punctuation,SentenceEnd"),
    (
        "John  is 5 years old.",
        "Word,Separator,Word,Separator,Number,Separator,Word,Separator,Word,Punctuation,SentenceEnd",
    ),
    (
        "sales (total/5000)*100 by year ",
        "Word,Separator,Bracket,Word,Math,Number,Bracket,Math,Number,Separator,Word,Separator,Word,Separator,SentenceEnd",
    ),
    (
        "Some day: 5 Jan 2007",
        "Word,Separator,Word,Punctuation,Separator,Number,Separator,Word,Separator,Number,SentenceEnd",
    ),
    ("05-07-2012", "Number,Math,Number,Math,Number,SentenceEnd"),
    (
        "211200159_2_211200167",
        "Number,Punctuation,Number,Punctuation,Number,SentenceEnd",
    ),
    # NOTE: the reference's own golden here
    # ("Word,Punctuation,Separator,...") is stale — v1.2.0 added '#' as a
    # math char (NReco.NLQuery.csproj release notes; Tokenizer.cs:144) but
    # TokenizerTests.cs:24 was not updated. We assert the *source* behavior.
    (
        "C#, java; _underscore",
        "Word,Math,Punctuation,Separator,Word,Punctuation,Separator,Punctuation,Word,SentenceEnd",
    ),
    (
        "num1>5|num2=7.2",
        "Word,Math,Number,Math,Word,Math,Number,Punctuation,Number,SentenceEnd",
    ),
    ("aa555 5aaa", "Word,Separator,Number,Word,SentenceEnd"),
]


def test_parse_sentence_goldens():
    for sentence, expected_types in SENTENCE_TEST_DATA:
        tokens = tokenize(sentence)
        # lossless reconstruction (TokenizerTests.cs:41)
        assert "".join(t.value for t in tokens) == sentence
        assert ",".join(TOKEN_TYPE_NAMES[t.type] for t in tokens) == expected_types


def test_token_equality():
    t = Token(WORD, 0, "John")
    assert t.type == WORD
    assert t.start_index == 0
    assert t.value_lower == "john"
    t2 = Token(SEPARATOR, 0, " ")
    assert not t == t2
    assert not t2 == t
    t3 = Token(WORD, 0, "John")
    assert t3 == t
    assert t == t3


def test_phrase_navigation():
    sentence = tokenize("Terminator 2: Judgment Day (1991)")
    words = [t for t in sentence if t.type in (WORD, NUMBER)]
    s = TokenSequence(sentence)
    p = TokenSequence(words)
    assert " ".join(t.value_lower for t in p.tokens) == "terminator 2 judgment day 1991"
    assert p.first_token.value_lower == "terminator"
    assert p.last_token.value_lower == "1991"
    assert p.first_token.start_index == 0
    assert p.tokens[1].start_index == 11
    assert p.last_token.start_index == 28
    assert p.distance(words[0], words[1]) == 1
    assert p.distance(words[0], p.last_token) == 4
    assert str(s.next(words[0])) == " "
    assert str(s.next(words[0], lambda t: t.type == WORD)) == "Judgment"
    assert str(s.next(words[0], lambda t: t.type == NUMBER)) == "2"
    assert s.next(sentence[-1]) is None
    w1991 = next(w for w in words if w.value == "1991")
    assert str(s.prev(w1991, lambda t: t.type == WORD)) == "Day"
    assert str(s.next(w1991)) == ")"
    assert "".join(t.value for t in s.between(words[1], words[2], False)) == ": "
    assert "".join(t.value for t in s.between(words[1], words[2])) == "2: Judgment"
    assert list(s.between(words[2], words[1], False)) == []


def test_quoted_constants():
    # the reference test only exercises inputs 2..3 (TokenizerTests.cs:120)
    test_inputs = ["A \"B ", '"A A" "B B"']
    test_outputs = [
        "Word[A]Separator[ ]Word[B ]SentenceEnd[]",
        "Word[A A]Separator[ ]Word[B B]SentenceEnd[]",
    ]
    for inp, expected in zip(test_inputs, test_outputs):
        tokens = parse_quoted_constants(tokenize(inp))
        s = "".join(f"{TOKEN_TYPE_NAMES[t.type]}[{t.value}]" for t in tokens)
        assert s == expected


def test_quoted_lone_quote_at_end_shares_the_sentence_end_start():
    tokens = list(parse_quoted_constants(tokenize('a "')))
    assert [(t.value, t.start_index) for t in tokens] == [
        ("a", 0), (" ", 1), ("", 3), ("", 3)
    ]
    assert tokens[2] == tokens[3]
    # both find the same position, the last of the two
    seq = TokenSequence(tokens)
    assert seq.get_index(tokens[2]) == seq.get_index(tokens[3]) == 3


def test_get_index_is_the_sequences_own_position():
    """``get_index`` gives a token's position in the sequence asked,
    which for a filtered, a stemmed or a quoted sequence is not its
    position in the tokenizer's output, and -1 for a token the
    sequence does not hold."""
    tokens = tokenize('show "big apple" statuses of the orders')
    quoted = list(parse_quoted_constants(tokens))
    stemmed = apply_stemmer_tokens(quoted, english_stem)
    filtered = [t for t in tokens if t.type == WORD and t.value != "the"]
    assert len(quoted) < len(tokens) and len(filtered) < len(tokens)
    assert any(a is not b for a, b in zip(quoted, stemmed))
    for toks in (tokens, quoted, stemmed, filtered):
        seq = TokenSequence(toks)
        assert [seq.get_index(t) for t in toks] == list(range(len(toks)))
    statuses = next(t for t in quoted if t.value == "statuses")
    assert TokenSequence(stemmed).get_index(statuses) == -1
    the = next(t for t in tokens if t.value == "the")
    assert TokenSequence(filtered).get_index(the) == -1
    apple = next(t for t in tokens if t.value == "apple")
    assert TokenSequence(quoted).get_index(apple) == -1
    for t in tokenize("zzz qqq"):
        for toks in (tokens, quoted, stemmed, filtered):
            assert TokenSequence(toks).get_index(t) == -1
