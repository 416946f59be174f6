"""NL query -> Spark filter compiler.

The Spark re-expression of the reference's NL->SQL lifecycle
(examples/NReco.NLQuery.Examples.NliDataFilter/Data/ListQueryParser.cs:51-76,
153-268): recognize the NL string with the schema dictionary, take the
best-scoring combination, and compile its (column, condition, value)
matches into a Catalyst predicate — per-column OR groups under an AND
root (ListQueryParser.cs:160-182). The predicate lands in the DataFrame
filter, so pushdown/pruning come free.
"""

from __future__ import annotations

import copy
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F

from ..kernel.extract import (
    _iter_group_leaves,
    _prefix_counts,
    _top_combinations,
    build_recognizer,
    cached_recognizer,
    spec_key,
)
from ..kernel.matches import DateMatch, DateOffsetMatch, NumberMatch
from ..kernel.table import (
    COND_CONTAINS,
    COND_EQUAL,
    COND_EXACT,
    COND_GREATERTHAN,
    COND_GREATERTHANOREQUAL,
    COND_LESSTHAN,
    COND_LESSTHANOREQUAL,
    COND_NOTEQUAL,
    COND_STARTSWITH,
    ColumnConditionMatch,
    GroupMatch,
)
from ..kernel.tokenizer import (
    apply_stemmer_tokens,
    parse_quoted_constants,
    tokenize,
)
from ..kernel.tokens import TokenSequence
from .extract import recognizer_task


def _query_tokens(nl: str, options_spec: Optional[Dict]):
    """Tokenize, optionally stemming query tokens BEFORE recognition
    (the ListQueryParser.cs:52-53,284-295 lifecycle): with
    ``options_spec["stem_tokens"]`` truthy, WORD tokens are replaced by
    their english_stem — 'statuses' matches caption 'status' exactly,
    and partially-stemmed forms still like-match via LikePhraseMatcher.
    Matcher-side stemmer fallback is separately controlled by
    ``use_stemmer`` (TableMatcherBuilder options)."""
    toks = tokenize(nl)
    if options_spec and options_spec.get("parse_quoted"):
        # Tokenizer.ParseQuotedConstants (Tokenizer.cs:202-251): quoted
        # spans collapse to one WORD token, so multi-word values ride
        # the hint path ('status:"on hold"') as a single constant.
        # Applied before stemming, mirroring the reference's
        # Parse -> ParseQuotedConstants order.
        toks = list(parse_quoted_constants(toks))
    if options_spec and options_spec.get("stem_tokens"):
        from ..kernel.table import english_stem

        toks = apply_stemmer_tokens(toks, english_stem)
    return toks


def parse_best(
    nl: str,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
    keep_column_mentions: bool = False,
):
    """Best-scoring combination for an NL query string.

    Returns (conditions, column_mentions): flattened
    ColumnConditionMatches (group trees expanded) and — when
    ``keep_column_mentions`` — bare ColumnMatches (the OLAP dims/measures
    signal, NlqForOlap/QueryCandidate.cs:55-126). Note
    ``keep_column_mentions`` changes the COMBINATION SEARCH itself
    (bare column mentions compete for spans), not just the return."""
    from ..kernel.table import ColumnMatch

    matches, _seq = parse_best_matches(
        nl, schema_specs, options_spec, include_column_mentions=keep_column_mentions
    )
    conditions = [m for m in matches if isinstance(m, ColumnConditionMatch)]
    mentions = [m for m in matches if isinstance(m, ColumnMatch)]
    return conditions, mentions


def parse_conditions(
    nl: str,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
) -> List[ColumnConditionMatch]:
    """Best-combination column conditions for an NL query string."""
    return parse_best(nl, schema_specs, options_spec)[0]


def _value_literal(cnd: ColumnConditionMatch):
    v = cnd.value
    if isinstance(v, NumberMatch):
        return float(v.value)
    if isinstance(v, (DateMatch, DateOffsetMatch)):
        from ..kernel.extract import REFERENCE_DATE

        if isinstance(v, DateOffsetMatch):
            v = v.to_date(*REFERENCE_DATE)
        return (v.year, v.month, v.day)
    if cnd.matched_value is not None:
        return cnd.matched_value
    return v.start.value if v.start is v.end else None


def conditions_to_predicate(
    conditions: Sequence[ColumnConditionMatch],
) -> Optional[Column]:
    """Per-column OR groups under an AND root (ListQueryParser.cs:160-182)."""
    by_col: Dict[str, List[Column]] = {}
    for cnd in conditions:
        col_name = cnd.column.name
        lit = _value_literal(cnd)
        if lit is None:
            continue
        c = F.col(col_name)
        cond = cnd.condition
        if cond in (COND_EXACT, COND_EQUAL):
            if isinstance(lit, tuple):
                pred = _date_range_pred(c, lit)
            else:
                pred = c == F.lit(lit)
        elif cond == COND_STARTSWITH:
            pred = c.startswith(str(lit))
        elif cond == COND_CONTAINS:
            pred = c.contains(str(lit))
        elif cond == COND_GREATERTHAN:
            pred = c > _scalar(lit)
        elif cond == COND_GREATERTHANOREQUAL:
            pred = c >= _scalar(lit)
        elif cond == COND_LESSTHAN:
            pred = c < _scalar(lit)
        elif cond == COND_LESSTHANOREQUAL:
            pred = c <= _scalar(lit)
        elif cond == COND_NOTEQUAL:
            pred = c != _scalar(lit)
        else:
            continue
        by_col.setdefault(col_name, []).append(pred)
    root: Optional[Column] = None
    for preds in by_col.values():
        group = preds[0]
        for p in preds[1:]:
            group = group | p
        root = group if root is None else (root & group)
    return root


def _scalar(lit):
    if isinstance(lit, tuple):  # partial date -> range start
        y, m, d = lit
        return F.lit(f"{y or 1}-{m or 1:02d}-{d or 1:02d}").cast("timestamp")
    return F.lit(lit)


def _date_range_pred(c: Column, ymd: Tuple) -> Column:
    """Partial date -> [start, end) range (ListQueryParser.cs:216-242)."""
    y, m, d = ymd
    y = y or 1970
    if m is None:
        start, end = f"{y}-01-01", f"{y + 1}-01-01"
    elif d is None:
        ny, nm = (y + 1, 1) if m == 12 else (y, m + 1)
        start, end = f"{y}-{m:02d}-01", f"{ny}-{nm:02d}-01"
    else:
        import datetime

        nxt = datetime.date(y, m, d) + datetime.timedelta(days=1)
        start, end = f"{y}-{m:02d}-{d:02d}", nxt.isoformat()
    return (c >= F.lit(start).cast("timestamp")) & (c < F.lit(end).cast("timestamp"))


def nl_filter(
    df: DataFrame,
    nl: str,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
) -> DataFrame:
    """Filter ``df`` by a natural-language query."""
    conditions = parse_conditions(nl, schema_specs, options_spec)
    pred = conditions_to_predicate(conditions)
    return df.filter(pred) if pred is not None else df


# agg function registry for NL measures (NlqForOlap's measure columns)
_AGG_FNS = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": F.count,
}


def nl_aggregate(
    df: DataFrame,
    nl: str,
    schema_specs: Sequence[Dict],
    measures: Dict[str, Tuple[str, str]],
    options_spec: Optional[Dict] = None,
    use_decimal: bool = True,
) -> DataFrame:
    """NL -> groupBy(dims).agg(measures) — the OLAP lifecycle
    (NlqForOlap/QueryCandidate.cs:55-126; PivotTable splits the same dims
    into rows/cols, QueryParser.cs:245-385).

    ``measures`` maps a dictionary column *name* to (agg_fn, out_alias);
    recognized bare ColumnMatches over measure columns become aggregates,
    the rest become grouping dims; ColumnConditionMatches become the
    pre-agg filter (pushed below the aggregation by construction).
    """
    conditions, mentions = parse_best(
        nl, schema_specs, options_spec, keep_column_mentions=True
    )
    pred = conditions_to_predicate(conditions)
    if pred is not None:
        df = df.filter(pred)
    dims: List[str] = []
    aggs: List[Column] = []
    seen = set()
    for m in mentions:
        name = m.column.name
        if name in seen:
            continue
        seen.add(name)
        if name in measures:
            fn_name, alias = measures[name]
            fn = _AGG_FNS[fn_name]
            col = F.col(name)
            if use_decimal and fn_name == "sum":
                # order-independent exact money sums (see __spark_entry__)
                aggs.append(fn(col.cast("decimal(10,2)")).cast("double").alias(alias))
            else:
                aggs.append(fn(col).alias(alias))
        else:
            dims.append(name)
    if not aggs:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
    grouped = df.groupBy(*dims) if dims else df.groupBy()
    return grouped.agg(*aggs)


# the specs of the last four distinct parses, deep-copied, with their
# spec_key, oldest first
_SPEC_KEYS: List[Tuple[list, str]] = []


def _parse_spec_key(schema_specs: Sequence[Dict], options_spec: Optional[Dict]) -> str:
    """``spec_key`` of a parse's specs, reused while the specs equal the
    deep copy of a recent parse's. ``spec_key`` dumps the whole spec to
    JSON, up to thousands of values per column, on every parse; a copy
    shares the specs' string objects, so comparing to it is fast, and a
    spec dict edited in place no longer equals it. Four entries, as a
    session's queries alternate between a few tables."""
    specs = [list(schema_specs), options_spec]
    for copied, key in _SPEC_KEYS:
        if copied == specs:
            return key
    key = spec_key(schema_specs, options_spec)
    if len(_SPEC_KEYS) >= 4:
        del _SPEC_KEYS[0]
    _SPEC_KEYS.append((copy.deepcopy(specs), key))
    return key


def parse_best_matches(
    nl: str,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
    include_column_mentions: bool = True,
):
    """Ordered best-combination matches with group trees expanded in
    place — the QueryCandidate.Matches analog the pivot lifecycle
    iterates (NliPivotTable QueryParser.cs:249-270) — plus the token
    sequence (for filter-string rendering). This is the single
    recognition path; parse_best is a thin view over it.

    The best combination is the exact top-1 of the extraction search
    (``_top_combinations``, long-match boost on), listed like the
    reference's IncludeZeroMatches candidate: its matches tail first,
    then StubMatches over the uncovered spans in sentence order.
    ``include_column_mentions`` controls whether bare ColumnMatches
    compete in the combination search (the OLAP/pivot lifecycles want
    them; the plain filter lifecycle does not). The compiled recognizer
    is reused across calls with the same specs (``cached_recognizer``)."""
    from ..kernel.table import ColumnMatch

    rec = cached_recognizer(
        schema_specs, options_spec, _parse_spec_key(schema_specs, options_spec)
    )
    seq = TokenSequence(_query_tokens(nl, options_spec))

    def match_filter(m):
        if isinstance(m, ColumnConditionMatch):
            return m.value is not m or m.matched_value is not None
        if include_column_mentions and isinstance(m, ColumnMatch):
            return True
        return isinstance(m, GroupMatch)

    builder = rec.combination_builder(seq, match_filter)
    pre_won, pre_sig = _prefix_counts(seq.tokens)
    node = None  # the best combination as the builder's linked chain
    # a query with no word or number token keeps no match (stubs only),
    # as its chunk gives no triple in extraction
    if pre_won[-1]:
        for _score, matches in _top_combinations(
            *builder.index(), pre_won, pre_sig, 1, True
        ):
            for m in reversed(matches):  # tail first -> head first
                node = (node, m)
    out: List = []
    for m in builder._get_all_matches(node):
        if isinstance(m, GroupMatch):
            out.extend(_iter_group_leaves(m))
        else:
            out.append(m)
    return out, seq


class PivotReport:
    """Rows/columns/measures split of an NL OLAP query
    (NliPivotTable QueryParser.cs:244-296 PivotReport analog)."""

    __slots__ = ("rows", "columns", "measures", "filter", "conditions", "date_parts")

    def __init__(self, rows, columns, measures, filter_str, conditions, date_parts):
        self.rows = rows
        self.columns = columns
        self.measures = measures
        self.filter = filter_str
        self.conditions = conditions  # ColumnConditionMatches -> Spark predicate
        self.date_parts = date_parts  # (date_col, part, value) dims+filters

    def __repr__(self):
        return (
            f"PivotReport(rows={self.rows}, columns={self.columns}, "
            f"measures={self.measures}, filter={self.filter!r})"
        )


_FILTER_FMT = {
    COND_EXACT: "{c}:{v}",
    COND_STARTSWITH: "{c}:{v}*",
    COND_CONTAINS: "{c}:*{v}*",
    COND_EQUAL: "{c}={v}",
    COND_NOTEQUAL: "{c}<>{v}",
    COND_LESSTHAN: "{c}<{v}",
    COND_LESSTHANOREQUAL: "{c}<={v}",
    COND_GREATERTHAN: "{c}>{v}",
    COND_GREATERTHANOREQUAL: "{c}>={v}",
}


def _quote_ident(s: str) -> str:
    """QueryParser.cs:383-390 isOnlyAlphaNum -> quote."""
    if s and all(ch.isalnum() or ch == "_" for ch in s):
        return s
    return f'"{s}"'


def _format_filter(cnd: ColumnConditionMatch, seq: TokenSequence) -> Optional[str]:
    """addFilter's display string (QueryParser.cs:332-381)."""
    val = "".join(
        t.value for t in seq.between(cnd.value.start, cnd.value.end, True)
    )
    fmt = _FILTER_FMT.get(cnd.condition)
    if fmt is None:
        # COND_LIKE renders like Contains in the reference switch
        fmt = _FILTER_FMT[COND_CONTAINS]
    col_hint = cnd.column.caption or cnd.column.name
    return fmt.format(c=_quote_ident(col_hint), v=_quote_ident(val))


def to_pivot_report(matches, seq, measure_cols) -> PivotReport:
    """ToPivotReport (NliPivotTable QueryParser.cs:244-296): reverse-
    iterate the best combination; measure mentions become measures,
    bare dims become dims with filter-count 0, scored conditions mark
    their dim filter-preferred, date conditions expand to year/month/day
    part-dims each with an equality filter (addDatePartFilter,
    :309-331). Dims WITH filters are preferred for pivot COLUMNS
    (ascending filter count, capped at half the dim count, :273-283);
    the remainder fills rows first."""
    from ..kernel.extract import REFERENCE_DATE
    from ..kernel.table import DT_DATE, ColumnMatch

    dim_flt: Dict[str, int] = {}
    dims: List[Optional[str]] = []
    filters: List[str] = []
    measures: List[str] = []
    conditions: List[ColumnConditionMatch] = []
    date_parts: List[Tuple[str, str, int]] = []

    def add_dim(d: str, fc: int):
        if d not in dim_flt:
            dim_flt[d] = 0
            dims.append(d)
        dim_flt[d] += fc

    def add_measure(name: str):
        if name not in measures:
            measures.append(name)

    for m in reversed(list(matches)):
        if isinstance(m, ColumnConditionMatch):
            col = m.column
            v = m.value
            if col.data_type == DT_DATE:
                # addDatePartFilter (:309-331): date conditions become
                # per-part dims + equality filters; the condition TYPE is
                # deliberately ignored, matching the reference; non-date
                # values on a date dim are dropped (dateMatch == null).
                if isinstance(v, DateOffsetMatch):
                    v = v.to_date(*REFERENCE_DATE)
                if not isinstance(v, DateMatch):
                    continue
                cap = col.caption or col.name
                for part in ("year", "month", "day"):
                    val = getattr(v, part)
                    if val is not None:
                        add_dim(f"{col.name}_{part}", 1)
                        filters.append(f"{cap} {part.capitalize()}:{val}")
                        date_parts.append((col.name, part, int(val)))
            elif m.score > 0:
                # addFilter (:332-381)
                if col.name in measure_cols:
                    add_measure(col.name)
                else:
                    add_dim(col.name, 1)
                conditions.append(m)
                f = _format_filter(m, seq)
                if f is not None:
                    filters.append(f)
            else:
                add_dim(col.name, 0)
        elif isinstance(m, ColumnMatch):
            if m.column.name in measure_cols:
                add_measure(m.column.name)
            else:
                add_dim(m.column.name, 0)

    row_dims: List[str] = []
    col_dims: List[str] = []
    # prefer dims with filters for columns (:273-283); insertion-ordered
    # dict + stable sort == the reference's Dictionary + OrderBy
    for name, _cnt in sorted(
        ((k, c) for k, c in dim_flt.items() if c > 0), key=lambda kv: kv[1]
    ):
        if len(col_dims) >= len(dims) // 2:
            break
        col_dims.append(name)
        dims[dims.index(name)] = None  # excluded; list LENGTH unchanged
    for d in dims:
        if d is None:
            continue
        if len(row_dims) <= len(dims) // 2:
            row_dims.append(d)
        else:
            col_dims.append(d)
    return PivotReport(
        row_dims, col_dims, measures, ", ".join(filters), conditions, date_parts
    )


_DATE_PART_FN = {"year": F.year, "month": F.month, "day": F.dayofmonth}


def nl_pivot(
    df: DataFrame,
    nl: str,
    schema_specs: Sequence[Dict],
    measures: Dict[str, Tuple[str, str]],
    options_spec: Optional[Dict] = None,
    use_decimal: bool = True,
) -> DataFrame:
    """NL -> pivot report -> ``groupBy(rows).pivot(columns).agg(...)`` —
    the third reference lifecycle (NliPivotTable QueryParser.cs:244-331).

    ``measures`` maps column name -> (agg_fn, alias) as in nl_aggregate.
    Spark's pivot() takes one expression, so multi-level column dims are
    concatenated with '/' (the flat-header analog of nested pivot
    columns). Filters (scored conditions + date-part equalities) are
    applied BELOW the aggregation, so pushdown still reaches the scan.
    """
    matches, seq = parse_best_matches(nl, schema_specs, options_spec)
    report = to_pivot_report(matches, seq, set(measures))
    for col, part, _val in report.date_parts:
        df = df.withColumn(
            f"{col}_{part}", _DATE_PART_FN[part](F.col(col)).cast("long")
        )
    pred = conditions_to_predicate(report.conditions)
    if pred is not None:
        df = df.filter(pred)
    for col, part, val in report.date_parts:
        df = df.filter(F.col(f"{col}_{part}") == val)
    aggs: List[Column] = []
    for name in report.measures:
        fn_name, alias = measures[name]
        fn = _AGG_FNS[fn_name]
        col = F.col(name)
        if use_decimal and fn_name == "sum":
            aggs.append(fn(col.cast("decimal(10,2)")).cast("double").alias(alias))
        else:
            aggs.append(fn(col).alias(alias))
    if not aggs:
        aggs = [F.count(F.lit(1)).alias("n_rows")]
    if report.columns:
        # Spark pivot takes one column: materialize the (possibly
        # concatenated) pivot key, then pivot on it.
        pivot_expr = (
            F.col(report.columns[0])
            if len(report.columns) == 1
            else F.concat_ws("/", *[F.col(c) for c in report.columns])
        )
        pdf = df.withColumn("_pivot", pivot_expr)
        grouped = pdf.groupBy(*report.rows) if report.rows else pdf.groupBy()
        return grouped.pivot("_pivot").agg(*aggs)
    grouped = df.groupBy(*report.rows) if report.rows else df.groupBy()
    return grouped.agg(*aggs)


def _suggest_with_recognizer(rec, prefix: str, top_n: int) -> List[Tuple[str, float]]:
    """Core of suggest_keywords given a prebuilt recognizer (shared by
    the driver-side helper and the distributed batch operator)."""
    from ..kernel.matches import MatchBag
    from ..kernel.table import ColumnMatch, TableMatch

    seq = TokenSequence(tokenize(prefix))
    bag = MatchBag(seq, [])
    for m in rec._first_pass.get_matches(bag):
        bag.add(m)
    scored: Dict[str, float] = {}
    for m in bag.matches:
        if isinstance(m, ColumnConditionMatch) and m.matched_value:
            key = m.matched_value
        elif isinstance(m, ColumnMatch):
            key = m.matched_caption or m.column.caption or m.column.name
        elif isinstance(m, TableMatch):
            key = m.table.caption or m.table.name
        else:
            continue
        if m.score > scored.get(key, 0.0):
            scored[key] = m.score
    return sorted(scored.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]


def suggest_keywords(
    prefix: str,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
    top_n: int = 10,
) -> List[Tuple[str, float]]:
    """Autocomplete: top caption/value completions for a 1-token prefix
    (ListQueryParser.SuggestKeywords, ListQueryParser.cs:81-107) —
    recognize the single token and rank matched captions/gazetteer values
    by score."""
    rec = build_recognizer(schema_specs, options_spec)
    return _suggest_with_recognizer(rec, prefix, top_n)


def suggest_keywords_df(
    prefixes: DataFrame,
    schema_specs: Sequence[Dict],
    options_spec: Optional[Dict] = None,
    top_n: int = 10,
    prefix_col: str = "prefix",
) -> DataFrame:
    """Batch autocomplete-as-a-service: (prefix) rows -> (prefix,
    suggestion, score, rank) rows, top_n per prefix.

    Same task as extract_mentions (operators.extract.recognizer_task):
    broadcast spec, per-executor compiled recognizer, Arrow batches,
    no shuffle — embarrassingly parallel over the prefix stream (e.g.
    scoring a day of partial search queries against the dictionary)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("prefix", StringType(), False),
            StructField("suggestion", StringType(), False),
            StructField("score", DoubleType(), False),
            StructField("rank", LongType(), False),
        ]
    )

    def suggestions(prefix, rec, prescreen, memo):
        return [
            (sug, score, rank)
            for rank, (sug, score) in enumerate(
                _suggest_with_recognizer(rec, str(prefix), top_n), 1
            )
        ]

    return recognizer_task(
        prefixes.select(prefix_col), schema_specs, options_spec, out_schema,
        suggestions,
    )
