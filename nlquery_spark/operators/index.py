"""Distributed inverted-index materialization.

The reference engine's core lookup structure is an in-memory inverted
index over dictionary phrases (TableMatcherBuilder compiles caption/
value tokens into per-token match lists — src/NReco.NLQuery/Table/
TableMatcherBuilder.cs; our kernel mirrors it with the memoized
inverted gazetteer lookup in kernel/matchers.py). This operator is the
corpus-scale analog: materialize (token -> postings) over the document
corpus itself, the artifact a distributed search/match service serves
from.

Scale design: postings for a hot token (stopwords!) are the classic
reducer-killer — one key holding the whole corpus. ``n_shards`` splits
every token's postings by a PORTABLE md5 hash of the doc id, so no
reducer ever holds more than ~1/n_shards of the hottest token, and the
shard key is reproducible across engines/retries (the same
('0x'||substr(md5(..),1,16))::UBIGINT convention every sampler in this
repo uses). Postings serialize as a deterministic "doc:pos" string
sorted by (doc_id, pos) — numeric struct sort, not lexical string sort
(which would put doc 10 before doc 2) — so the result is value-hash
comparable against an ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 1,
    salt: str = "shard",
) -> DataFrame:
    """(token, shard, n_docs, n_positions, postings) per token shard.

    Tokenization is the repo-wide convention (space-trim + lower +
    whitespace split) so index terms line up with every other token-
    level operator. ``postings`` is ``"doc:pos,doc:pos,..."`` with
    0-based positions, sorted numerically by (doc, pos).

    One exchange on (token, shard); the collect_list per key is bounded
    by the hottest token's per-shard postings — size shards so that
    fits a reducer (at 10^12 docs a stopword needs thousands of shards;
    the shard column keeps lookups a two-key range scan).
    """
    from ..functions.hashing import md5_u64

    shard = (
        md5_u64(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string")))
        % n_shards
    ).cast("long")
    toks = docs.select(
        F.col(id_col).alias("doc"),
        shard.alias("shard"),
        F.posexplode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "pos", "token"
        ),
    )
    # ONE exchange on (token, shard) (optimization r9, guide §2.3/§2.4):
    # count_distinct(doc) mixed with collect_list made Catalyst key the
    # partial aggregation on (token, shard, doc) and re-shuffle the
    # merged buffers on (token, shard) — the whole exploded token
    # stream crossed the wire twice. n_docs is derivable from the
    # collected postings themselves (distinct doc over the sorted
    # struct array), so the distinct aggregate — and its extra
    # Exchange — is gone; values are identical by construction.
    ps = F.sort_array(F.collect_list(F.struct(F.col("doc"), F.col("pos"))))
    agg = toks.groupBy("token", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_positions"),
        ps.alias("_ps"),
    )
    return agg.select(
        "token",
        "shard",
        # filter nulls before the distinct count: count_distinct(doc)
        # excluded a NULL doc id, and the struct wrapping keeps the
        # null element in the collected array — same semantics restored
        F.size(
            F.filter(
                F.array_distinct(F.transform(F.col("_ps"), lambda s: s["doc"])),
                lambda d: d.isNotNull(),
            )
        )
        .cast("long")
        .alias("n_docs"),
        "n_positions",
        F.array_join(
            F.transform(
                F.col("_ps"),
                lambda s: F.concat_ws(
                    ":", s["doc"].cast("string"), s["pos"].cast("string")
                ),
            ),
            ",",
        ).alias("postings"),
    )


def phrase_search(
    docs: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Positional phrase search — the corpus-scale analog of the
    reference's ExactPhraseMatcher (src/NReco.NLQuery/Matchers/
    ExactPhraseMatcher.cs: all phrase words adjacent, in order):
    (doc_id, n_occurrences) for documents containing the phrase's
    tokens at consecutive positions.

    Plan (VERDICT r4 item 2 — ONE corpus scan, not k): a single pass
    explodes the corpus and keeps only positions holding ANY phrase
    term (`token.isin(terms)` — rare-term selectivity prunes the
    corpus-sized stream before anything else), and that tiny filtered
    stream is materialized once with an eager localCheckpoint. Each
    term's positional stream is then a filter over the checkpoint —
    k readers of phrase-term-frequency-sized data, zero re-reads of
    the corpus — shifted by the term's offset so every surviving row
    carries its candidate ANCHOR position, and k-1 equi-joins on
    (doc, anchor) intersect the streams. Join keys are unique per side
    (a position holds one token), so the joins are 1:1 — no fan-out,
    and AQE broadcasts whichever term list is small. This is exactly
    how a search engine executes a phrase query over the positional
    index materialized by :func:`inverted_index` (reference analog:
    ExactPhraseMatcher.cs:66-118 runs over the compiled index, never
    re-scanning raw text per term).
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase_search needs a non-empty phrase")
    toks = (
        docs.select(
            F.col(id_col).alias("doc"),
            F.posexplode(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("pos", "token"),
        )
        .filter(F.col("token").isin(list(set(terms))))
        .localCheckpoint(eager=True)
    )
    out = None
    for i, term in enumerate(terms):
        t = toks.filter(F.col("token") == term).select(
            "doc", (F.col("pos") - i).alias("anchor")
        )
        out = t if out is None else out.join(t, ["doc", "anchor"])
    return (
        out.groupBy("doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .select(F.col("doc").alias(id_col), "n_occurrences")
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for a free-text query ranked by BM25 — the
    ranking layer a search/match service puts on top of
    :func:`inverted_index` (reference analog: the reference ranks
    candidate matches by per-matcher score weights,
    src/NReco.NLQuery/Recognizer.cs + Matchers/ExactPhraseMatcher.cs
    score properties; BM25 is the corpus-statistics generalization of
    that idea — rarity-weighted, length-normalized term scoring).

    Uses the Lucene/ATIRE BM25 variant whose idf is always positive:
        idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
        s(d, t) = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))
    Output: (doc_id, bm25) — score ROUNDed to 6 so an ANSI-SQL oracle
    is value-hash comparable (ln() here is safe cross-engine: a 1-ulp
    libm difference sits ~1e10 ulps from the rounding boundary for O(1)
    scores — and the parity suite pins it empirically). Ties broken by
    ascending doc id, so top-k is a total order and deterministic.

    Plan — ONE corpus scan (the phrase_search discipline): a single
    tokenization pass aggregates, per document, its LENGTH and its
    per-query-term frequencies (conditional sums — the term list is a
    query, i.e. tiny). Corpus statistics (N, avgdl, per-term df) reduce
    from that same per-doc relation — no second pass — into a 1-row
    DataFrame that is BROADCAST back onto the per-doc side, so scoring
    is a map-only stage; the only corpus-wide exchange is the per-doc
    aggregation itself (doc-keyed), and the final top-k is a global
    sort of the matching docs only (rows with score 0 — no query term —
    are dropped before the sort).
    """
    terms = list(dict.fromkeys(t for t in query.lower().split() if t))
    if not terms:
        raise ValueError("bm25_topk needs a non-empty query")
    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "token"
        ),
    )
    per = toks.groupBy("doc").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0)).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    # two consumers (the corpus-stats reduction and the scoring side):
    # materialize the per-doc aggregate once — it is 1 short row per
    # document, tiny next to the token stream — or Catalyst replays the
    # whole corpus tokenization+aggregation for each (plan-verified:
    # un-checkpointed, the physical plan scans the parquet twice)
    per = per.localCheckpoint(eager=True)
    stats = per.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0)).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = per.crossJoin(F.broadcast(stats))
    score = None
    for i in range(len(terms)):
        idf = F.log(
            (F.col("n_corpus") - F.col(f"df_{i}") + F.lit(0.5))
            / (F.col(f"df_{i}") + F.lit(0.5))
            + F.lit(1.0)
        )
        tf = F.col(f"tf_{i}").cast("double")
        norm = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl")
        )
        # association order matches the oracle SQL exactly —
        # idf * (tf * (k1+1)) / norm, NOT (idf * tf) * (k1+1) / norm:
        # float multiply is non-associative and a 1-ulp divergence can
        # straddle the ROUND(...,6) boundary and flake the hash parity
        s = idf * (tf * F.lit(k1 + 1.0)) / norm
        score = s if score is None else score + s
    return (
        scored.select(
            F.col("doc").alias(id_col), F.round(score, 6).alias("bm25")
        )
        .filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc(id_col))
        .limit(k)
    )


def phrase_search_postings(
    index: DataFrame,
    phrase: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Phrase search served from the MATERIALIZED index — the true
    index-serving path (reference analog: ExactPhraseMatcher.cs:66-118
    runs over the compiled in-memory index; this is its corpus-scale
    twin over :func:`inverted_index` output). :func:`phrase_search`
    re-derives positions from raw text in one pass — right for ad-hoc
    queries; this variant intersects PRE-BUILT posting lists — right
    when an index artifact is already maintained and the corpus itself
    need never be touched at query time.

    Input is the (token, shard, n_docs, n_positions, postings)
    DataFrame produced by :func:`inverted_index` (any shard count:
    shards of a term are unioned back transparently). Plan: filter the
    index to the phrase's terms (a k-row-ish selective read — on a
    parquet-materialized index the token predicate pushes into the
    scan), explode each term's postings string back to (doc, pos),
    shift to anchors, and run the same 1:1 (doc, anchor) equi-join
    intersection as phrase_search. Zero corpus access, zero
    re-tokenization; cost scales with the PHRASE TERMS' posting sizes
    only.
    """
    terms = [t for t in phrase.lower().split() if t]
    if not terms:
        raise ValueError("phrase_search_postings needs a non-empty phrase")
    hits = index.filter(F.col("token").isin(list(set(terms)))).select(
        "token",
        F.explode(F.split(F.col("postings"), ",")).alias("p"),
    )
    positions = hits.select(
        "token",
        F.split(F.col("p"), ":")[0].alias("doc"),
        F.split(F.col("p"), ":")[1].cast("long").alias("pos"),
    )
    out = None
    for i, term in enumerate(terms):
        t = positions.filter(F.col("token") == term).select(
            "doc", (F.col("pos") - i).alias("anchor")
        )
        out = t if out is None else out.join(t, ["doc", "anchor"])
    return (
        out.groupBy("doc")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .select(F.col("doc").alias(id_col), "n_occurrences")
    )
