"""Recognizer + TableMatcherBuilder goldens ported from
/root/reference/src/NReco.NLQuery.Tests/RecognizerTests.cs, plus TopSet and
NGramGenerator goldens (TopSetTests.cs:17-39, NGramGeneratorTests.cs:18-34)."""

from nlquery_spark.kernel import (
    ColumnSchema,
    DateMatcher,
    KeyMatch,
    LikePhraseMatcher,
    NGramGenerator,
    NumberMatcher,
    Recognizer,
    TableMatcherBuilder,
    TableSchema,
    TokenSequence,
    tokenize,
)
from nlquery_spark.kernel.table import DT_DATE, DT_NUMBER, DT_STRING
from nlquery_spark.kernel.tokens import WORD, Token

from combination_oracle import TopSet


def simple_recognizer() -> Recognizer:
    return Recognizer(
        [
            DateMatcher(),
            NumberMatcher(),
            LikePhraseMatcher(["John", "Smith"], lambda: KeyMatch("name")),
            LikePhraseMatcher(["Johnny", "Mmnemonic"], lambda: KeyMatch("film")),
        ]
    )


def test_check_combinations():
    r = simple_recognizer()
    t_seq = TokenSequence(tokenize("show John tasks from 08.2017"))
    combos = []
    r.recognize(t_seq, lambda matches: combos.append(matches) or True)
    strs = [" ".join(str(m) for m in matches) for matches in combos]
    assert "Date[Y:2017 M:8] Key[name]" in strs
    assert "Date[Y:2017 M:8] Key[film]" in strs
    assert len(combos) == 8


def orders_schema() -> TableSchema:
    """Verbatim from RecognizerTests.cs:52-103."""
    return TableSchema(
        caption="Orders",
        name="orders",
        columns=[
            ColumnSchema(
                caption="Product",
                name="product_name",
                data_type=DT_STRING,
                values=["Bud 6pcs", "Krusovice 0.5l"],
            ),
            ColumnSchema(caption="Customer", name="customer", data_type=DT_STRING),
            ColumnSchema(
                caption="Country",
                name="country",
                data_type=DT_STRING,
                values=["Italy", "France", "USA", "Canada"],
            ),
            ColumnSchema(caption="Placed Date", name="placed_date", data_type=DT_DATE),
            ColumnSchema(
                caption="Shipped Date",
                alt_captions=["Delivered Date"],
                name="shipped_date",
                data_type=DT_DATE,
            ),
            ColumnSchema(
                caption="Internal ID",
                name="id",
                data_type=DT_STRING,
                exact_match_only=True,
            ),
            ColumnSchema(
                caption="super_id",
                name="super_id",
                data_type=DT_STRING,
                exact_match_only=True,
            ),
            ColumnSchema(
                caption="value",
                name="value",
                data_type=DT_NUMBER,
                exact_match_only=False,
            ),
        ],
    )


def orders_recognizer() -> Recognizer:
    return Recognizer(TableMatcherBuilder().add(orders_schema()).build())


def test_table_recognizer_full_outputs():
    recognizer = orders_recognizer()
    test_inputs = [
        "show customer order from Italy placed yesterday",
        "customer Krusovice internal",
        "internal id 5",
        "internal id A5",
        "super_id A5, super _id, super _ id",
        "delivered",
    ]
    expected = [
        "Column[placed_date exact 'DateOffset[Y:0 M:0 D:-1]'],Column[country exact 'Italy'],Table[orders],Column[customer]|"
        "DateOffset[Y:0 M:0 D:-1],Column[placed_date],Column[country exact 'Italy'],Table[orders],Column[customer]",
        "Column[product_name startswith 'Krusovice' in 'Krusovice 0.5l'],Column[customer]",
        "Number[5],Column[id]|Column[product_name contains '5' in 'Krusovice 0.5l'],Column[id]",
        "Column[id contains 'StubMatch[A5]']|Column[id]",
        "Column[super_id contains 'StubMatch[A5]']|Column[super_id]",
        "Column[shipped_date]",
    ]
    for inp, exp in zip(test_inputs, expected):
        p = TokenSequence(tokenize(inp))
        combos = []
        recognizer.recognize(p, lambda matches: combos.append(matches) or True)
        out = "|".join(",".join(str(m) for m in combo) for combo in combos)
        assert out == exp, inp


def test_table_recognizer_complex_combination():
    recognizer = orders_recognizer()
    # the reference loop starts at i=3 (RecognizerTests.cs:153) — only the
    # last complex input is asserted
    inp = "delivered before 1 May"
    expected = "Column[shipped_date lessthan 'Date[M:5 D:1]']"
    p = TokenSequence(tokenize(inp))
    found = []

    def handler(matches):
        combo = ",".join(str(m) for m in matches)
        if combo == expected:
            found.append(combo)
            return False
        return True

    recognizer.recognize(p, handler)
    assert found, f"Combination not found for {inp!r}"


def test_top_set():
    top = TopSet(10, lambda a, b: (a > b) - (a < b))
    for i in range(1, 11):
        top.add(i)
    assert top.min == 1
    assert top.max == 10
    assert not top.add(0)
    assert top.count == 10
    for i in [5, 200, 7, 80, 50]:
        top.add(i)
    assert top.count == 10
    assert top.max == 200
    assert top.to_array() == [200, 80, 50, 10, 9, 8, 7, 7, 6, 5]


def test_ngram_generator():
    words = [
        Token(WORD, 0, "the"),
        Token(WORD, 10, "president"),
        Token(WORD, 20, "of"),
        Token(WORD, 30, "world"),
    ]
    gen = NGramGenerator(3)
    res = list(gen.generate_ngrams(words))
    assert len(res) == 9
    joined = "|".join(" ".join(t.value for t in toks) for toks in res)
    assert joined == (
        "the|the president|the president of|president|president of|"
        "president of world|of|of world|world"
    )


def test_fixpoint_skip_purity_contract(monkeypatch):
    """Executable purity contract (ADVICE r7): with DEBUG_PURITY on,
    every fixpoint-skipped matcher is re-run and asserted empty — a
    stateful matcher would trip the assertion instead of silently
    changing fixpoint results. Runs the full golden input set (group
    nesting, comparisons, dates, gazetteer) plus synthetic page text
    through both recognizer surfaces and checks output is identical to
    the non-debug engine."""
    import nlquery_spark.kernel.recognizer as rmod
    from nlquery_spark.kernel.extract import (
        build_recognizer,
        extract_text_triples,
    )
    from nlquery_spark.sources.pages import _page_text, orders_schema_spec

    inputs = [
        "show customer order from Italy placed yesterday",
        "customer Krusovice internal",
        "internal id 5 and shipped before 1 May 2021",
        "delivered before 1 May",
        "super_id A5, super _id, super _ id",
    ]
    rec = orders_recognizer()

    def run():
        outs = []
        for inp in inputs:
            p = TokenSequence(tokenize(inp))
            combos = []
            rec.recognize(p, lambda matches: combos.append(matches) or True)
            outs.append(
                "|".join(",".join(str(m) for m in c) for c in combos)
            )
        return outs

    base = run()
    monkeypatch.setattr(rmod, "DEBUG_PURITY", True)
    assert run() == base  # assertion inside the skip did not fire

    # the extraction surface (chunking + combination search + filters)
    # under the flag
    spec = orders_schema_spec()
    erec = build_recognizer([spec])
    texts = [_page_text(i, 0.0) for i in range(50)]
    debug_out = [extract_text_triples(t, erec) for t in texts]
    monkeypatch.setattr(rmod, "DEBUG_PURITY", False)
    assert [extract_text_triples(t, erec) for t in texts] == debug_out
