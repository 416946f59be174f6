"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives the
same inputs. The generators are stratified: each input set holds a fixed
number of every sentence or query template, and the seed only picks the
values and the order of the sentences (queries come in a fixed order of
kinds). Two seeds therefore carry the same mix of work, so run-to-run
spread measures the program, not the luck of the draw.

The generators are deliberately independent of ``nlquery_spark.sources``
so that a change to the program's own fixtures cannot change the
benchmark's inputs.
"""

from __future__ import annotations

import datetime
import random
import zlib
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

ORDERS_SPEC = {
    "caption": "Orders",
    "name": "orders",
    "columns": [
        {
            "caption": "Product",
            "name": "product_name",
            "datatype": "string",
            "values": ["Bud 6pcs", "Krusovice 0.5l"],
        },
        {"caption": "Customer", "name": "customer", "datatype": "string"},
        {
            "caption": "Country",
            "name": "country",
            "datatype": "string",
            "values": ["Italy", "France", "USA", "Canada"],
        },
        {"caption": "Placed Date", "name": "placed_date", "datatype": "date"},
        {
            "caption": "Shipped Date",
            "alt_captions": ["Delivered Date"],
            "name": "shipped_date",
            "datatype": "date",
        },
        {"caption": "Internal ID", "name": "id", "datatype": "string", "exact_only": True},
        {"caption": "super_id", "name": "super_id", "datatype": "string", "exact_only": True},
        {"caption": "value", "name": "value", "datatype": "number"},
    ],
}

_TITLE_WORDS = [
    "alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel",
    "india", "jazz", "kilo", "lima", "mike", "nova", "oscar", "papa",
    "quebec", "romeo", "sierra", "tango",
]
GENRES = ["Action", "Comedy", "Drama", "Thriller", "Sci-Fi", "Romance"]


def titles_spec(n_titles: int = 5000) -> Dict:
    """A MovieLens-shaped title gazetteer of ``n_titles`` values
    ("Alpha Bravo (1984)"), plus genre and year columns."""
    titles = []
    for i in range(n_titles):
        a = _TITLE_WORDS[zlib.crc32(f"a{i}".encode()) % 20]
        b = _TITLE_WORDS[zlib.crc32(f"b{i}".encode()) % 20]
        titles.append(f"{a.title()} {b.title()} ({1950 + i % 70})")
    return {
        "caption": "Films",
        "name": "movielens",
        "columns": [
            {"caption": "Title", "name": "Title", "datatype": "string", "values": titles},
            {"caption": "Genres", "name": "Genres", "datatype": "string", "values": GENRES},
            {
                "caption": "Year",
                "name": "Year",
                "datatype": "number",
                "values": [str(1950 + i) for i in range(70)],
            },
        ],
    }


_COUNTRIES = ["Italy", "France", "USA", "Canada"]
_PRODUCTS = ["Bud 6pcs", "Krusovice 0.5l"]
_CUSTOMERS = ["Acme Corp", "John Smith", "Jane Doe", "Globex"]
_MONTHS = [
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
]
_FILLER = (
    "the quick brown fox jumps over a lazy dog while rain falls on green "
    "hills and children play near the river bank watching boats drift by "
    "slowly under bright warm skies full of birds"
).split()
# filler for the low-repetition workload: no word of it is a substring
# of a dictionary phrase, so it is screened out like real prose
_PLAIN_FILLER = (
    "river boats drift slowly bright warm skies birds green hills "
    "children play bank watching rain falls quick brown lazy jumps"
).split()

# Boilerplate pages: the Orders-fixture sentence shapes, small value
# ranges, so chunks repeat across pages (the memo's case).
_BOILERPLATE_TEMPLATES = [
    "show customer order from {country} placed yesterday",
    "customer {customer} ordered {product} last month",
    "internal id {num}",
    "orders with value = {num} or value < {num2}",
    "{product} delivered before {day} {month} {year}",
    "orders from {country} shipped {day}.{monthnum}.{year}",
    "value more than {num}",
    "customer {customer} from {country}",
]

# Gazetteer pages: sentence shapes the engine completes against the
# Orders spec plus the title gazetteer, with wide value ranges so almost
# every chunk is distinct. Lists of titles ("A and B") are left out:
# they raise "Too many merge passes" and fail the whole Spark job.
_GAZETTEER_TEMPLATES = [
    "show me {title} {genre_lower} films of {film_year}",
    "we watched {full_title} with friends after dinner",
    "the {genre} {title} was shown in {country} on {day} {month} {year}",
    "{title} {film_year} {genre}",
    "customer {customer} from {country} liked {title}",
    "orders from {country} shipped {day}.{monthnum}.{year}",
    "value more than {bignum}",
]


def _fill(rng: random.Random, template: str, titles: List[str]) -> str:
    full_title = rng.choice(titles) if titles else ""
    genre = rng.choice(GENRES)
    month = rng.randrange(12)
    return template.format(
        country=rng.choice(_COUNTRIES),
        product=rng.choice(_PRODUCTS),
        customer=rng.choice(_CUSTOMERS),
        num=1 + rng.randrange(5000),
        num2=1 + rng.randrange(100),
        bignum=1 + rng.randrange(10_000_000),
        day=1 + rng.randrange(28),
        month=_MONTHS[month],
        monthnum=month + 1,
        year=2015 + rng.randrange(10),
        full_title=full_title,
        title=full_title.rsplit(" (", 1)[0],
        genre=genre,
        genre_lower=genre.lower(),
        film_year=1950 + rng.randrange(70),
    )


def _deck(rng: random.Random, n: int, kinds: List[Tuple[object, int]]) -> List[object]:
    """``n`` items in the fixed proportions of ``kinds`` ((kind, weight)
    pairs), shuffled: the stratification that keeps seeds comparable."""
    total = sum(w for _, w in kinds)
    deck: List[object] = []
    for kind, w in kinds:
        deck.extend([kind] * (n * w // total))
    while len(deck) < n:
        deck.append(kinds[len(deck) % len(kinds)][0])
    rng.shuffle(deck)
    return deck


def pages_frame(texts: List[str], seed: int) -> pd.DataFrame:
    """Pages in the shape of ``sources.pages`` (url, warc_ts, html, text,
    lang); every page is English, so no operation depends on the lang
    filter's share."""
    epoch = datetime.datetime(2024, 1, 1)
    n = len(texts)
    return pd.DataFrame(
        {
            "url": [f"https://example.org/s{seed}/page/{i}" for i in range(n)],
            "warc_ts": [epoch + datetime.timedelta(seconds=i) for i in range(n)],
            "html": [b"<html><body>" + t.encode() + b"</body></html>" for t in texts],
            "text": texts,
            "lang": ["en"] * n,
        }
    )


def boilerplate_pages(seed: int, n_pages: int) -> pd.DataFrame:
    """CC-style pages: 2-5 sentences each, 45% filler sentences, the
    rest templated Orders queries with small value ranges."""
    rng = random.Random(f"boilerplate:{seed}")
    sizes = _deck(rng, n_pages, [(2, 1), (3, 1), (4, 1), (5, 1)])
    n_sent = sum(sizes)
    kinds = _deck(rng, n_sent, [("filler", 45)] + [(t, 7) for t in _BOILERPLATE_TEMPLATES])
    sentences = []
    for kind in kinds:
        if kind == "filler":
            words = [rng.choice(_FILLER) for _ in range(5 + rng.randrange(12))]
            sentences.append(" ".join(words) + ".")
        else:
            sentences.append(_fill(rng, kind, []) + ".")
    return pages_frame(_split_pages(sentences, sizes), seed)


def gazetteer_pages(seed: int, n_pages: int, titles: List[str]) -> pd.DataFrame:
    """Low-repetition pages against the Orders spec plus the title
    gazetteer: 3-4 sentences each, 30% filler, wide value ranges."""
    rng = random.Random(f"gazetteer:{seed}")
    sizes = _deck(rng, n_pages, [(3, 1), (4, 1)])
    n_sent = sum(sizes)
    kinds = _deck(rng, n_sent, [("filler", 30)] + [(t, 10) for t in _GAZETTEER_TEMPLATES])
    sentences = []
    for kind in kinds:
        if kind == "filler":
            words = [rng.choice(_PLAIN_FILLER) for _ in range(6 + rng.randrange(10))]
            sentences.append(" ".join(words) + ".")
        else:
            sentences.append(_fill(rng, kind, titles) + ".")
    return pages_frame(_split_pages(sentences, sizes), seed)


def _split_pages(sentences: List[str], sizes: List[int]) -> List[str]:
    texts, pos = [], 0
    for k in sizes:
        texts.append(" ".join(sentences[pos : pos + k]))
        pos += k
    return texts


# ----------------------------------------------------------- NL queries --

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]

# captions the dictionary inference gives each queried column
CAPTIONS = {
    "customer": {
        "c_name": "customer name",
        "c_mktsegment": "market segment",
        "c_acctbal": "account balance",
    },
    "orders": {
        "o_orderstatus": "order status",
        "o_orderpriority": "order priority",
        "o_totalprice": "total price",
        "o_orderdate": "order date",
    },
}
KEYS = {"customer": "c_custkey", "orders": "o_orderkey"}


def nl_tables(seed: int, n_customers: int, n_orders: int) -> Dict[str, pd.DataFrame]:
    """TPC-H-shaped ``customer`` and ``orders`` tables."""
    rng = np.random.default_rng(zlib.crc32(f"tables:{seed}".encode()))
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_customers + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_customers + 1)],
            "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_customers)],
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        }
    )
    days = rng.integers(0, 2400, n_orders)
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_customers + 1, n_orders),
            "o_orderstatus": np.array(STATUSES, dtype=object)[rng.integers(0, 3, n_orders)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
            # python dates, so that Spark infers a DATE column
            "o_orderdate": (np.datetime64("1992-01-01") + days).astype(object),
            "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)],
        }
    )
    return {"customer": customer, "orders": orders}


# A planted condition is (column, op, value) with op one of
# "eq" | "gt" | "lt" | "year"; conditions on one column are OR-ed, the
# column groups AND-ed (the nl_filter semantics).
Condition = Tuple[str, str, object]


def _query(rng: random.Random, kind: str) -> Tuple[str, str, List[Condition]]:
    if kind == "segment":
        s = rng.choice(SEGMENTS)
        return "customer", f"customers in market segment {s}", [("c_mktsegment", "eq", s)]
    if kind == "segment_or":
        a, b = rng.sample(SEGMENTS, 2)
        return (
            "customer",
            f"customers in market segment {a} or {b}",
            [("c_mktsegment", "eq", a), ("c_mktsegment", "eq", b)],
        )
    if kind == "balance":
        x = 1 + rng.randrange(9000)
        return "customer", f"customers with account balance more than {x}", [("c_acctbal", "gt", x)]
    if kind == "segment_balance":
        s, x = rng.choice(SEGMENTS), 1 + rng.randrange(9000)
        return (
            "customer",
            f"customers in market segment {s} with account balance less than {x}",
            [("c_mktsegment", "eq", s), ("c_acctbal", "lt", x)],
        )
    if kind == "status":
        s = rng.choice(STATUSES)
        return "orders", f"orders with order status {s}", [("o_orderstatus", "eq", s)]
    if kind == "price_gt":
        x = 1000 + rng.randrange(400_000)
        return "orders", f"orders with total price more than {x}", [("o_totalprice", "gt", x)]
    if kind == "price_lt":
        x = 1000 + rng.randrange(400_000)
        return "orders", f"orders with total price less than {x}", [("o_totalprice", "lt", x)]
    if kind == "status_price":
        # status P is left out of compound queries: the engine reads
        # "status P and ..." as an order-key mention
        s, x = rng.choice(["F", "O"]), 1000 + rng.randrange(400_000)
        return (
            "orders",
            f"orders with order status {s} and total price more than {x}",
            [("o_orderstatus", "eq", s), ("o_totalprice", "gt", x)],
        )
    if kind == "priority":
        p = rng.choice(PRIORITIES)
        return "orders", f"orders with order priority {p}", [("o_orderpriority", "eq", p)]
    if kind == "year":
        y = 1992 + rng.randrange(7)
        return "orders", f"orders with order date {y}", [("o_orderdate", "year", y)]
    raise ValueError(kind)


# share of each query kind, in percent of requests
QUERY_MIX = [
    ("segment", 12), ("segment_or", 1), ("balance", 12), ("segment_balance", 12),
    ("status", 9), ("price_gt", 12), ("price_lt", 12), ("status_price", 12),
    ("priority", 9), ("year", 9),
]


def _mix_order(kinds: List[Tuple[str, int]]) -> List[str]:
    """One block of sum(weights) kinds, each ``weight`` times and spread
    evenly over the block (smooth weighted round robin)."""
    total = sum(w for _, w in kinds)
    credit = {k: 0 for k, _ in kinds}
    out = []
    for _ in range(total):
        for k, w in kinds:
            credit[k] += w
        best = max(credit, key=credit.get)
        credit[best] -= total
        out.append(best)
    return out


def nl_queries(seed: int, n: int) -> List[Tuple[str, str, List[Condition]]]:
    """``n`` (table, NL text, planted conditions) requests in the fixed
    QUERY_MIX proportions. The order of the kinds is the same for every
    seed, so the requests a timed window reaches carry the same mix
    whatever the seed; the seed picks the values."""
    rng = random.Random(f"queries:{seed}")
    block = _mix_order(QUERY_MIX)
    return [_query(rng, block[i % len(block)]) for i in range(n)]


def warmup_queries(seed: int) -> List[Tuple[str, str, List[Condition]]]:
    """One request of every kind in QUERY_MIX."""
    rng = random.Random(f"warmup:{seed}")
    return [_query(rng, kind) for kind, _share in QUERY_MIX]


def expected_keys(table: pd.DataFrame, key: str, conds: List[Condition]) -> pd.Series:
    """The primary keys of the rows the planted conditions select,
    evaluated with pandas alone."""
    by_col: Dict[str, pd.Series] = {}
    for col, op, val in conds:
        c = table[col]
        if op == "eq":
            m = c == val
        elif op == "gt":
            m = c > val
        elif op == "lt":
            m = c < val
        else:
            m = pd.to_datetime(c).dt.year == val
        by_col[col] = by_col[col] | m if col in by_col else m
    mask = pd.Series(True, index=table.index)
    for m in by_col.values():
        mask &= m
    return table.loc[mask, key]
