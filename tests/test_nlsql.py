"""NL -> SQL/aggregate compiler tests (the reference's NliDataFilter /
NlqForOlap lifecycles re-expressed on DataFrames)."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from nlquery_spark.operators.nlsql import (
    nl_aggregate,
    nl_filter,
    parse_conditions,
    suggest_keywords,
)


def test_parse_conditions_comparison():
    conds = parse_conditions(
        "show orders with total price more than 150000", [em.ORDERS_TPCH_SPEC],
        em.NL_OPTIONS,
    )
    assert len(conds) == 1
    c = conds[0]
    assert c.column.name == "o_totalprice"
    from nlquery_spark.kernel.table import COND_GREATERTHAN

    assert c.condition == COND_GREATERTHAN
    from nlquery_spark.kernel.matches import NumberMatch

    assert isinstance(c.value, NumberMatch)
    assert float(c.value.value) == 150000.0


# perfbench's Orders dictionary (perfbench/gen.py CAPTIONS, STATUSES,
# PRIORITIES) written out, so the parse needs no Spark session.
_PERFBENCH_ORDERS_SPEC = {
    "caption": "orders",
    "name": "orders",
    "columns": [
        {"caption": "order status", "name": "o_orderstatus",
         "datatype": "string", "values": ["F", "O", "P"]},
        {"caption": "order priority", "name": "o_orderpriority",
         "datatype": "string",
         "values": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]},
        {"caption": "total price", "name": "o_totalprice", "datatype": "number"},
        {"caption": "order date", "name": "o_orderdate", "datatype": "date"},
    ],
}


@pytest.mark.xfail(
    strict=True,
    reason="known departure: with stop words, 'order status P' parses as "
    "o_orderpriority contains 'status' and the status condition is lost "
    "(F or O, or no options, parse correctly)",
)
def test_order_status_p_with_stop_words():
    from nlquery_spark.kernel.table import COND_NAMES, ENGLISH_STOP_WORDS
    from nlquery_spark.operators.nlsql import _value_literal

    conds = parse_conditions(
        "orders with order status P and total price more than 5000",
        [_PERFBENCH_ORDERS_SPEC],
        {"stop_words": ENGLISH_STOP_WORDS + ["with", "where", "whose"]},
    )
    got = sorted(
        (c.column.name, COND_NAMES[c.condition], _value_literal(c)) for c in conds
    )
    assert got == [
        ("o_orderstatus", "Exact", "P"),
        ("o_totalprice", "GreaterThan", 5000.0),
    ]


def test_nl_filter_matches_manual(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = nl_filter(
        orders,
        "orders with total price more than 150000",
        [em.ORDERS_TPCH_SPEC],
        em.NL_OPTIONS,
    )
    expected = orders.filter(F.col("o_totalprice") > 150000)
    assert got.count() == expected.count()
    assert got.count() > 0


def test_nl_aggregate_dims_and_measures(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = nl_aggregate(
        orders,
        "total price by order status",
        [em.ORDERS_TPCH_SPEC],
        measures={"o_totalprice": ("sum", "sum_total_price")},
        options_spec=em.NL_OPTIONS,
    )
    assert set(out.columns) == {"o_orderstatus", "sum_total_price"}
    manual = orders.groupBy("o_orderstatus").agg(
        F.sum(F.col("o_totalprice").cast("decimal(10,2)"))
        .cast("double")
        .alias("sum_total_price")
    )
    got = {r.o_orderstatus: r.sum_total_price for r in out.collect()}
    exp = {r.o_orderstatus: r.sum_total_price for r in manual.collect()}
    assert got == exp


def test_nl_aggregate_with_filter(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = nl_aggregate(
        orders,
        "total price by order status with total price more than 100000",
        [em.ORDERS_TPCH_SPEC],
        measures={"o_totalprice": ("sum", "sum_total_price")},
        options_spec=em.NL_OPTIONS,
    )
    manual = (
        orders.filter(F.col("o_totalprice") > 100000)
        .groupBy("o_orderstatus")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(10,2)"))
            .cast("double")
            .alias("sum_total_price")
        )
    )
    got = {r.o_orderstatus: r.sum_total_price for r in out.collect()}
    exp = {r.o_orderstatus: r.sum_total_price for r in manual.collect()}
    assert got == exp


def test_suggest_keywords():
    # autocomplete over the Orders fixture dictionary
    from nlquery_spark.sources.pages import orders_schema_spec

    suggestions = suggest_keywords("Krus", [orders_schema_spec()])
    assert suggestions, "prefix should match the Krusovice gazetteer value"
    assert suggestions[0][0] == "Krusovice 0.5l"
    sugg2 = dict(suggest_keywords("cust", [orders_schema_spec()]))
    assert "Customer" in sugg2


# ------------------------------------------------------------- stemmer --


def test_english_stem_reference_goldens():
    # EnglishStemmer.cs:306-323 rules, case by case
    from nlquery_spark.kernel.table import english_stem

    assert english_stem("statuses") == "status"      # -ses (len>5) -> drop es
    assert english_stem("orders") == "order"         # -rs -> drop s
    assert english_stem("products") == "product"     # -ts -> drop s
    assert english_stem("prices") == "prices"        # 'e' not a plural suffix
    assert english_stem("delivered") == "deliver"    # -ed (len>5)
    assert english_stem("placed") == "plac"          # -ed rule is naive
    assert english_stem("shipping") == "shipp"       # -ing (len>4)
    assert english_stem("king") == "king"            # len 4: -ing needs >4
    assert english_stem("gas") == "gas"              # len 3: -s needs >3


def test_apply_stemmer_tokens_word_only():
    # ListQueryParser.cs:284-295: only WORD tokens are stemmed; offsets
    # and all other token types survive unchanged.
    from nlquery_spark.kernel.table import english_stem
    from nlquery_spark.kernel.tokenizer import apply_stemmer_tokens, tokenize

    toks = tokenize("orders > 150 delivered")
    stemmed = apply_stemmer_tokens(toks, english_stem)
    assert [t.value for t in stemmed] == ["order", " ", ">", " ", "150", " ", "deliver", ""]
    assert [t.start_index for t in stemmed] == [t.start_index for t in toks]
    assert [t.type for t in stemmed] == [t.type for t in toks]


def test_stemmed_parse_end_to_end():
    # Without stem_tokens the plural query mis-parses (no status
    # condition); with it, 'statuses'->'status' hits the caption and
    # the hint matcher attaches F.
    from nlquery_spark.kernel.table import COND_CONTAINS

    plain = parse_conditions(
        "orders placed in 1995 with statuses F", [em.ORDERS_STEM_SPEC], em.NL_OPTIONS
    )
    assert not any(c.column.name == "o_orderstatus" for c in plain)
    opts = {**em.NL_OPTIONS, "stem_tokens": True, "use_stemmer": True}
    conds = parse_conditions(
        "orders placed in 1995 with statuses F", [em.ORDERS_STEM_SPEC], opts
    )
    by_col = {c.column.name: c for c in conds}
    assert by_col["o_orderstatus"].condition == COND_CONTAINS
    assert by_col["o_orderstatus"].value.start.value == "F"
    from nlquery_spark.kernel.matches import DateMatch

    d = by_col["o_orderdate"].value
    assert isinstance(d, DateMatch) and d.year == 1995 and d.month is None


# --------------------------------------------------------------- pivot --


def _pivot_report(nl, spec, measures, opts=None):
    from nlquery_spark.operators.nlsql import parse_best_matches, to_pivot_report

    matches, seq = parse_best_matches(nl, [spec], opts or em.NL_OPTIONS)
    return to_pivot_report(matches, seq, measures)


def test_pivot_report_prefers_filtered_dims_for_columns():
    # QueryParser.cs:273-283: the filtered dim (status, via the F-or-O
    # condition group) goes to COLUMNS; the bare dim (clerk) to rows.
    r = _pivot_report(
        "total price by priority with order status F or O",
        em.ORDERS_PIVOT_SPEC,
        {"o_totalprice"},
    )
    assert r.rows == ["o_orderpriority"]
    assert r.columns == ["o_orderstatus"]
    assert r.measures == ["o_totalprice"]
    assert r.filter == '"Order Status":O, "Order Status":F'


def test_pivot_report_date_parts():
    # addDatePartFilter (QueryParser.cs:309-331): a date condition
    # expands to per-part dims, each filter-preferred; year lands in
    # columns (first inserted among equal filter counts), month+status
    # fill rows.
    r = _pivot_report(
        "total price by order status in april 1995",
        em.ORDERS_PIVOT_SPEC,
        {"o_totalprice"},
    )
    assert r.columns == ["o_orderdate_year"]
    assert r.rows == ["o_orderstatus", "o_orderdate_month"]
    assert ("o_orderdate", "year", 1995) in r.date_parts
    assert ("o_orderdate", "month", 4) in r.date_parts
    assert r.filter == "Order Date Year:1995, Order Date Month:4"


def test_pivot_report_two_unfiltered_dims_both_rows():
    # rowDims.Count <= dims.Count/2 (QueryParser.cs:284-292): with two
    # unfiltered dims both land in rows, columns stay empty.
    r = _pivot_report(
        "total price by priority and order status",
        em.ORDERS_PIVOT_SPEC,
        {"o_totalprice"},
    )
    assert r.rows == ["o_orderpriority", "o_orderstatus"]
    assert r.columns == []


def test_nl_pivot_matches_manual(spark, sf_dir):
    from nlquery_spark.operators.nlsql import nl_pivot

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = nl_pivot(
        orders,
        "total price by priority with order status F or O",
        [em.ORDERS_PIVOT_SPEC],
        measures={"o_totalprice": ("sum", "sum_total_price")},
        options_spec=em.NL_OPTIONS,
    )
    manual = (
        orders.filter(F.col("o_orderstatus").isin("F", "O"))
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(10,2)")).cast("double"))
    )
    g = {(r.o_orderpriority): (r.F, r.O) for r in got.collect()}
    m = {(r.o_orderpriority): (r.F, r.O) for r in manual.collect()}
    assert g == m and g


def test_parse_quoted_constants_in_nl_path():
    # Tokenizer.ParseQuotedConstants wired behind the parse_quoted
    # option: a quoted multi-word value collapses to ONE token and rides
    # the hint path as a single contains-constant.
    spec = {"caption": "Orders", "name": "orders", "columns": [
        {"caption": "Status", "name": "o_orderstatus", "datatype": "string"},
        {"caption": "Total Price", "name": "o_totalprice", "datatype": "number"},
    ]}
    opts = {**em.NL_OPTIONS, "parse_quoted": True}
    conds = parse_conditions(
        'orders with status "on hold" and total price more than 100', [spec], opts
    )
    by_col = {c.column.name: c for c in conds}
    assert by_col["o_orderstatus"].value.start.value == "on hold"
    assert float(by_col["o_totalprice"].value.value) == 100.0
    # without the option the quoted span stays split and the phrase
    # never surfaces as one constant
    plain = parse_conditions(
        'orders with status "on hold" and total price more than 100',
        [spec],
        em.NL_OPTIONS,
    )
    assert all(
        c.value.start.value != "on hold"
        for c in plain
        if c.column.name == "o_orderstatus"
    )


def test_date_month_tables_culture_injection():
    # Options.DateTimeFormat analog: month-name tables are injectable
    # per culture (TableMatcherBuilder.cs:498-504, DateMatcher.cs:72-83)
    spec = {"caption": "Orders", "name": "orders", "columns": [
        {"caption": "Order Date", "name": "o_orderdate", "datatype": "date"},
    ]}
    fr = {**em.NL_OPTIONS, "date_month_tables": [
        ["janvier", "fevrier", "mars", "avril", "mai", "juin", "juillet",
         "aout", "septembre", "octobre", "novembre", "decembre"],
        ["janv", "fevr", "mars", "avr", "mai", "juin", "juil", "aout",
         "sept", "oct", "nov", "dec"],
    ]}
    conds_fr = parse_conditions("orders in janvier 1995", [spec], fr)
    from nlquery_spark.kernel.matches import DateMatch

    d = next(c.value for c in conds_fr if isinstance(c.value, DateMatch))
    assert d.year == 1995 and d.month == 1
    # abbreviated-table fallback: first table wins on collisions
    conds_abbr = parse_conditions("orders in juil 1995", [spec], fr)
    d2 = next(c.value for c in conds_abbr if isinstance(c.value, DateMatch))
    assert d2.month == 7
    # default en-US tables do NOT know french month names
    conds_en = parse_conditions("orders in janvier 1995", [spec], em.NL_OPTIONS)
    d3 = next(c.value for c in conds_en if isinstance(c.value, DateMatch))
    assert d3.month is None and d3.year == 1995


def test_multi_table_dictionary():
    # multiple schema specs compile into one recognizer; conditions bind
    # to the right table's columns
    part_spec = {"caption": "Parts", "name": "part", "columns": [
        {"caption": "Retail Price", "name": "p_retailprice", "datatype": "number"},
        {"caption": "Brand", "name": "p_brand", "datatype": "string"},
    ]}
    conds = parse_conditions(
        "parts with retail price more than 900",
        [em.ORDERS_TPCH_SPEC, part_spec],
        em.NL_OPTIONS,
    )
    assert any(c.column.name == "p_retailprice" for c in conds)
    assert not any(c.column.name == "o_totalprice" for c in conds)
    conds2 = parse_conditions(
        "orders with total price more than 900",
        [em.ORDERS_TPCH_SPEC, part_spec],
        em.NL_OPTIONS,
    )
    assert any(c.column.name == "o_totalprice" for c in conds2)
    assert not any(c.column.name == "p_retailprice" for c in conds2)


def test_pivot_without_bool_operators():
    # NliPivotTable QueryParser.cs:47 sets MatchBoolOperators=false: the
    # 'or' stays a stub, but both status conditions still reach the
    # combination and both mark the dim filter-preferred.
    opts = {**em.NL_OPTIONS, "match_bool_operators": False}
    r = _pivot_report(
        "total price by priority with order status F or O",
        em.ORDERS_PIVOT_SPEC,
        {"o_totalprice"},
        opts,
    )
    assert r.columns == ["o_orderstatus"]
    assert r.rows == ["o_orderpriority"]
    assert '"Order Status":F' in r.filter and '"Order Status":O' in r.filter


def test_culture_offset_and_group_phrases():
    # phrase tables are culture-injectable like the reference Options
    # (TableMatcherBuilder.cs:459-504): German 'gestern' resolves to the
    # pinned yesterday date, 'oder' forms an OR group
    spec = {"caption": "Orders", "name": "orders", "columns": [
        {"caption": "Order Date", "name": "o_orderdate", "datatype": "date"},
        {"caption": "Status", "name": "o_orderstatus", "datatype": "string",
         "values": ["F", "O"]},
    ]}
    de = {**em.NL_OPTIONS, "yesterday_phrases": ["gestern"],
          "group_or_phrases": ["oder"]}
    conds = parse_conditions("orders placed gestern", [spec], de)
    from nlquery_spark.kernel.matches import DateMatch, DateOffsetMatch

    vals = [c.value for c in conds if c.column.name == "o_orderdate"]
    assert vals and isinstance(vals[0], (DateMatch, DateOffsetMatch))
    d = vals[0].to_date(2024, 1, 15) if isinstance(vals[0], DateOffsetMatch) else vals[0]
    # parity: the replicated reference Day-branch bug (DateOffsetMatch.cs:61
    # AddDays(Month.Value)) makes 'yesterday' phrases resolve to the base
    # date itself — asserted as-is, see kernel/matches.py to_date docstring
    assert (d.year, d.month, d.day) == (2024, 1, 15)
    conds2 = parse_conditions("orders with status F oder O", [spec], de)
    got = sorted(c.value.start.value for c in conds2 if c.column.name == "o_orderstatus")
    assert got == ["F", "O"]


def test_suggest_keywords_df_matches_driver(spark):
    """Distributed batch autocomplete == driver-side suggest_keywords for
    every prefix (same recognizer, same ranking)."""
    from nlquery_spark.operators.nlsql import suggest_keywords, suggest_keywords_df

    spec = {
        "caption": "Orders",
        "name": "orders",
        "columns": [
            {"caption": "Total Price", "name": "o_totalprice", "datatype": "number"},
            {"caption": "Order Status", "name": "o_orderstatus", "datatype": "string"},
            {
                "caption": "Order Priority",
                "name": "o_orderpriority",
                "datatype": "string",
                "values": ["1-URGENT", "2-HIGH", "5-LOW"],
            },
        ],
    }
    prefixes = ["order", "total", "urg", "o", "zzz", "1"]
    pdf = spark.createDataFrame([(p,) for p in prefixes], "prefix string")
    got = {}
    for r in suggest_keywords_df(pdf, [spec], top_n=4).collect():
        got.setdefault(r.prefix, []).append((r.rank, r.suggestion, r.score))
    for p in prefixes:
        want = [
            (i, s, sc)
            for i, (s, sc) in enumerate(suggest_keywords(p, [spec], top_n=4), 1)
        ]
        assert sorted(got.get(p, [])) == want, p


def test_parse_sees_a_spec_edited_in_place():
    """The parse reuses the last specs' key while they are equal; a
    spec dict edited in place between two parses gives the recognizer
    of the edited spec."""
    import copy

    from nlquery_spark.operators.nlsql import parse_best_matches

    spec = copy.deepcopy(_PERFBENCH_ORDERS_SPEC)

    def values(nl):
        matches, _seq = parse_best_matches(nl, [spec])
        return [getattr(m, "matched_value", None) for m in matches]

    assert "Q" not in values("order status Q")
    assert values("order status Q") == values("order status Q")
    spec["columns"][0]["values"].append("Q")
    assert "Q" in values("order status Q")
    spec["columns"][0]["values"].remove("Q")
    assert "Q" not in values("order status Q")
