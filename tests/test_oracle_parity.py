"""Driver-style oracle parity: run every queries() entry on Spark and its
oracle_sql() on DuckDB over the same parquet, compare row count, column
names, and order-insensitive values — the same gate CORRECTNESS_r{N}.json
records."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")
# oracles that reference run-scoped artifacts (entity_link_topk's
# persisted mentions) derive their path from this env var — export the
# resolved default so oracle_sql() sees the same sf this module uses
os.environ["SPARK_GRAFT_ORACLE_SF"] = SF_DIR


def _duck(sf_dir):
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows_to_multiset(cols, rows):
    ordered = sorted(cols)
    idx = [cols.index(c) for c in ordered]
    # sort by repr so rows mixing None with strings stay orderable
    return sorted(
        (tuple(_canon(r[i]) for i in idx) for r in rows), key=repr
    ), ordered


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql().keys()))
def test_query_matches_oracle(spark, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)

    con = _duck(SF_DIR)
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    s_vals, cols = _rows_to_multiset(spark_cols, spark_rows)
    d_vals, _ = _rows_to_multiset(duck_cols, duck_rows)
    mismatches = [
        (a, b) for a, b in zip(s_vals, d_vals) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches {mismatches[:5]}"


@pytest.mark.parametrize(
    "name",
    [n for n in entry_mod.queries() if n not in entry_mod.oracle_sql()],
)
def test_rows_only_queries_run(spark, name):
    df = entry_mod.queries()[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert df.columns


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


# ------------------------------------------------ adversarial fixture --

_NASTY_TEXTS = [
    (0, ""),                             # empty
    (1, "   "),                          # spaces only (trim -> empty)
    (2, "\t\t"),                         # tabs only (trim keeps them)
    (3, "a\tb\nc\x0bd e"),               # tab/newline/vertical-tab gaps
    (4, "  leading and trailing  "),
    (5, "normal text with the usual stopword mix and more words here ok"),
    (6, "dup dup dup dup body text"),
    (7, "dup dup dup dup body text"),    # exact duplicate of 6
    (8, "café naïve nbsp bound unicode words"),
    (9, "It's a test-case, with 42 token's and punctuation!"),
]

_NASTY_QUERIES = [
    "doc_token_stats",
    "doc_quality",
    "doc_lang_id",
    "doc_fingerprint",
    "doc_subword_stats",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_minhash",
    "corpus_clean",
    "gazetteer_mentions",
    "gazetteer_topk_entities",
    "doc_repetition",
    "doc_pii_scrub",
    "corpus_sample",
    # round-4 token-level queries: inverted_index exercises the
    # whitespace/unicode edge cases directly; the others degenerate to
    # empty-vs-empty on this fixture (benchmark split, phrase terms
    # absent) — still a valid both-sides-agree check
    "inverted_index",
    "index_phrase_search",
    "corpus_decontaminate",
]


@pytest.fixture(scope="module")
def nasty_sf(spark, tmp_path_factory):
    """A documents table full of whitespace/unicode edge cases the
    synthetic fixtures never contain — oracle parity must hold on
    arbitrary corpora, not just the clean generator output."""
    d = tmp_path_factory.mktemp("nasty")
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in _NASTY_TEXTS]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.mark.parametrize("name", _NASTY_QUERIES)
def test_oracle_parity_on_adversarial_texts(spark, nasty_sf, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, nasty_sf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{nasty_sf}/documents.parquet/*.parquet')"
    )
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    s_vals, _ = _rows_to_multiset(spark_cols, spark_rows)
    d_vals, _ = _rows_to_multiset(duck_cols, duck_rows)
    assert s_vals == d_vals, f"{name}: values differ\nspark={s_vals}\nduck={d_vals}"


# exact all-pairs cosine near-dups (threshold 0.3, dedup_embedding's),
# the reference for its LSH recall below
_EMB_EXACT_SQL = """
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ev
  FROM embeddings
), n AS (
  -- zero-norm guard: without it 0/0 = NaN, which DuckDB sorts above
  -- every double and would pass the >= filter
  SELECT vec_id, ev, sqrt(list_dot_product(ev, ev)) AS nrm FROM v
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  ROUND(list_dot_product(a.ev, b.ev) / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE a.nrm > 0 AND b.nrm > 0
  AND ROUND(list_dot_product(a.ev, b.ev) / (a.nrm * b.nrm), 6) >= 0.3
"""


def test_dedup_embedding_recall_vs_exact_query(spark):
    """dedup_embedding is rows-only for the driver (probabilistic LSH),
    so pin its exactness here: at fixture scale the OR-amplified plan
    must recover the exact all-pairs result (DuckDB) with no false
    positives and recall >= 0.95 (auto-derived planes only raise
    collide probability, so this also guards the auto path)."""
    g = {
        (r.id_a, r.id_b)
        for r in entry_mod.queries()["dedup_embedding"](spark, SF_DIR).collect()
    }
    e = {
        (id_a, id_b)
        for id_a, id_b, _ in _duck(SF_DIR).execute(_EMB_EXACT_SQL).fetchall()
    }
    assert e, "fixture must contain exact near-dup pairs"
    assert not (g - e)  # exact verify: no false positives
    assert len(g & e) / len(e) >= 0.95


# ------------------------------------------- run-scoped oracle support --


def test_oracle_support_path_is_run_scoped():
    """VERDICT r3 item 3: the oracle-support parquet path must change
    whenever the input or the extraction code version changes, so a
    stale artifact can never be silently oracled against."""
    p_001 = entry_mod._kg_edges_path("/root/testdata/sf0.001")
    p_01 = entry_mod._kg_edges_path("/root/testdata/sf0.01")
    assert p_001 != p_01  # different input -> different path
    assert entry_mod._kg_edges_path("/root/testdata/sf0.001") == p_001  # stable
    old = entry_mod._ORACLE_CODE_TAG
    try:
        entry_mod._ORACLE_CODE_TAG = old + "-bumped"
        p_bumped = entry_mod._kg_edges_path("/root/testdata/sf0.001")
    finally:
        entry_mod._ORACLE_CODE_TAG = old
    assert p_bumped != p_001  # code-version bump -> different path
    # link-mentions path is scoped by the same mechanism
    assert entry_mod._link_mentions_path(
        "/root/testdata/sf0.001"
    ) != entry_mod._link_mentions_path("/root/testdata/sf0.01")


def test_oracle_path_tracks_input_mtime(tmp_path):
    """ADVICE r4: size-identical but byte-different regenerated input
    must move the fingerprint — mtime_ns is folded in."""
    d = tmp_path / "sfX"
    root = d / "documents.parquet"
    root.mkdir(parents=True)
    f = root / "part-0.parquet"
    f.write_bytes(b"aaaa")
    p1 = entry_mod._oracle_path("t", str(d))
    os.utime(f, ns=(1_000_000_000_000, 1_000_000_000_000))
    p2 = entry_mod._oracle_path("t", str(d))
    assert p1 != p2  # same size, different mtime -> different path
    assert entry_mod._oracle_path("t", str(d)) == p2  # stable


def test_materialize_once_raises_on_non_race_failure(tmp_path):
    """ADVICE r4: a rename failure that is NOT a lost race (no complete
    artifact at the destination) must raise, not hand the consumer a
    missing/partial path."""
    # a non-empty FILE at the destination: rename(dir -> existing file)
    # fails, and there is no _SUCCESS — the old code returned path anyway
    dest = tmp_path / "artifact"
    dest.write_text("stale foreign junk")

    def writer(p):
        os.makedirs(p)
        open(os.path.join(p, "_SUCCESS"), "w").close()

    with pytest.raises(RuntimeError, match="no complete artifact"):
        entry_mod._materialize_once(str(dest), writer)
    # and the genuine lost-race path still returns cleanly: a complete
    # artifact already present, rename loses, no error
    done = tmp_path / "done"
    writer(str(done))
    got = entry_mod._materialize_once(str(done), writer)
    assert got == str(done)


def test_materialize_once_rejects_foreign_dataless_dir(tmp_path):
    """ADVICE r6: a non-empty directory that holds NO data file (only a
    leftover _temporary subdir / stray dotfiles — i.e. not the product
    of the stage-then-rename protocol) must be rebuilt, not silently
    accepted and oracled against."""
    dest = tmp_path / "artifact"
    (dest / "_temporary").mkdir(parents=True)
    (dest / ".stray.crc").write_text("x")
    calls = []

    def writer(p):
        calls.append(p)
        os.makedirs(p)
        with open(os.path.join(p, "part-0.parquet"), "wb") as fh:
            fh.write(b"pq")

    # no _SUCCESS, no *.parquet -> incomplete; the writer runs, and the
    # rename onto the existing foreign dir fails -> loud error (an
    # operator would clear the junk path), never a silent accept
    with pytest.raises(RuntimeError, match="no complete artifact"):
        entry_mod._materialize_once(str(dest), writer)
    assert calls  # the write was attempted, not skipped
    # a directory with a real data file but no _SUCCESS IS complete
    # (committers with marksuccessfuljobs=false write no marker)
    done = tmp_path / "done"
    os.makedirs(done)
    (done / "part-0.parquet").write_bytes(b"pq")
    calls.clear()
    assert entry_mod._materialize_once(str(done), writer) == str(done)
    assert not calls  # fast path: complete artifact -> no rewrite


def test_code_digest_zip_fallback(monkeypatch, tmp_path, build_dist):
    """ADVICE r4: when the package is imported from a --py-files zip,
    os.walk of the in-archive path yields nothing — the digest must fall
    back to hashing the zip bytes, never collapse to the empty md5."""
    import nlquery_spark

    zip_path = str(build_dist(tmp_path / "dist" / "nlquery_spark.zip"))
    real = entry_mod._code_digest()  # source-tree digest (cached)
    monkeypatch.setattr(entry_mod, "_CODE_DIGEST_CACHE", None)
    monkeypatch.setattr(
        nlquery_spark, "__file__",
        zip_path + "/nlquery_spark/__init__.py",
    )
    import hashlib
    empty = hashlib.md5().hexdigest()[:10]
    got = entry_mod._code_digest()
    assert got != empty and len(got) == 10
    monkeypatch.setattr(entry_mod, "_CODE_DIGEST_CACHE", None)
    # and a walkable-but-empty non-zip path refuses loudly
    monkeypatch.setattr(
        nlquery_spark, "__file__", str(tmp_path / "pkg" / "__init__.py")
    )
    (tmp_path / "pkg").mkdir()
    with pytest.raises(RuntimeError, match="refusing"):
        entry_mod._code_digest()
    monkeypatch.setattr(entry_mod, "_CODE_DIGEST_CACHE", real)


def test_parallelize_skips_in_memory_sources(spark):
    """ADVICE r4: a createDataFrame source has no input files; its
    partitioning is how it was built — no blind repartition shuffle."""
    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    out = entry_mod._parallelize(df)
    assert out is df
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_kg_pagerank_oracle_reads_what_query_wrote(spark):
    """The pagerank query persists its edge set for the oracle; the
    parquet at the run-scoped path must hold exactly the distinct
    non-null (subj, obj) pairs of the extracted triples."""
    from pyspark.sql import functions as F

    entry_mod.queries()["kg_pagerank"](spark, SF_DIR).count()  # writes path
    edges = spark.read.parquet(entry_mod._kg_edges_path(SF_DIR))
    triples = entry_mod.queries()["kg_extract_triples"](spark, SF_DIR)
    expect = (
        triples.select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    assert edges.exceptAll(expect).count() == 0
    assert expect.exceptAll(edges).count() == 0


def test_streaming_events_by_minute_leaves_no_table(spark):
    """The query's complete-mode memory sink is registered as a temp
    view; each call must drop its own, or a driver that reruns it in
    one session holds every earlier result in memory."""
    before = {t.name for t in spark.catalog.listTables()}
    q = entry_mod.queries()["streaming_events_by_minute"]
    first, second = q(spark, SF_DIR), q(spark, SF_DIR)
    assert {t.name for t in spark.catalog.listTables()} == before
    rows = sorted(tuple(r) for r in first.collect())
    assert rows and rows == sorted(tuple(r) for r in second.collect())


_STABLE_TAIL = {
    # every entry here has a FULL-green row in CORRECTNESS_r07.json
    # (rows+schema+hash, 50/50) and unchanged driver-surface code
    # in round 8.
    "streaming_kg_merge", "customer_order_full_outer",
    "doc_tfidf_keywords", "customer_rfm_segments",
    "nl_autocomplete", "dict_spec_part", "emb_cosine_jvm",
    "q17_small_quantity_revenue", "event_props_json",
    "order_value_percentiles", "order_priority_rollup",
    "part_setops_98_not_99",
    "q1_pricing_summary", "q5_local_supplier", "nl_filter_orders",
    "nl_agg_orders", "nl_pivot_orders",
    "q3_shipping_priority", "ship_lag_by_month", "promo_revenue_share",
    "customers_without_orders", "events_sessionize",
    "daily_active_users", "topk_orders_per_customer",
    "events_by_minute", "doc_token_stats",
    "doc_subword_stats", "doc_quality", "doc_lang_id",
    "doc_fingerprint", "doc_repetition", "doc_pii_scrub", "doc_chunks",
    "nl_filter_stemmed", "nl_filter_culture", "nl_filter_inferred",
    "paragraph_boilerplate", "streaming_extract",
    "index_phrase_search", "index_phrase_postings",
    "part_link_prediction", "events_sliding_windows",
    # rows-only lossy ops: a rows-only driver row proves less than
    # their pytest recall/invariant gates already do (last driver
    # row r4, rows-only there too; code unchanged since)
    "dedup_embedding", "corpus_pack",
}

# queries with no oracle possible (LSH recall, bin-packing state);
# their pytest recall/invariant gates are the evidence instead
_ROWS_ONLY = {"dedup_embedding", "corpus_pack"}

# the r7 tail (last driver row r6) must all be INSIDE the window
# now — led by the recognizer, gazetteer and chunking queries whose
# green predated the round-7 kernel edits (VERDICT r7 item 1)
_ROTATED_IN = {
    # kg_extract_triples and entity_link_topk run kernel/extract.py +
    # recognizer.py; gazetteer_mentions is plain SQL and
    # chunk_boilerplate calls corpus.chunk_documents
    "kg_extract_triples", "gazetteer_mentions", "entity_link_topk",
    "chunk_boilerplate", "kg_pagerank", "kg_similarity_edges",
    "kg_canonicalize", "kg_degree_stats", "gazetteer_topk_entities",
    # the rest of the r6-green r7 tail
    "orders_with_returns", "dedup_exact", "dedup_ngram_jaccard",
    "corpus_clean", "corpus_sample",
    "dedup_minhash", "dedup_simhash", "part_coorder_triangles",
    "corpus_decontaminate",
    "streaming_events_by_minute", "inverted_index", "index_bm25_topk",
    "customer_order_distribution", "customer_running_spend",
    "corpus_shard_assign", "dedup_clusters",
    "corpus_split_assign", "dedup_incremental", "doc_gopher_filters",
}


def test_correctness_window_holds_all_active_queries():
    """ORDERING CONTRACT (VERDICT r3 item 1, rotated per r4/r5 item 1):
    the driver's correctness harness checks the FIRST 50 queries()
    entries. Everything past position 50 must belong to the documented
    r5-driver-green tail — adding a new query at the tail would
    silently exempt it from the driver's hard gate. UPDATE _STABLE_TAIL
    and _ROTATED_IN when rotating the window between rounds."""
    qs = list(entry_mod.queries())
    assert set(qs[50:]) <= _STABLE_TAIL, (
        f"non-stable queries past the 50-entry driver window: "
        f"{set(qs[50:]) - _STABLE_TAIL}"
    )
    assert _ROTATED_IN <= set(qs[:50])
    # the two recognizer queries, gazetteer_mentions and
    # chunk_boilerplate must LEAD the window (first driver rows on the
    # post-memo engine)
    assert qs[:4] == [
        "kg_extract_triples", "gazetteer_mentions", "entity_link_topk",
        "chunk_boilerplate",
    ]
    # the queries without an oracle are exactly _ROWS_ONLY, so every
    # other tail query still has its oracle run per-session here
    assert _ROWS_ONLY == set(qs) - set(entry_mod.oracle_sql())


# ------------------------------------------------ seeded fuzz corpus --


@pytest.fixture(scope="module")
def fuzz_sf(spark, tmp_path_factory):
    """A seeded pseudo-random corpus: 120 docs mixing normal words,
    repeated boilerplate, gazetteer terms, unicode, digits, and odd
    whitespace — parity must hold on corpora no one hand-picked."""
    import random

    rng = random.Random(20260817)
    vocab = (
        entry_mod.GAZETTEER
        + ["the", "a", "of", "and", "Zürich", "naïve", "x1", "42", "0.5",
           "CAFÉ", "tok-en", "it's", "__", "…",
           # round-8 deep-fuzz additions (10 seeds × 300 docs ran green
           # with these shapes — promoted into the committed corpus):
           "ß", "Ψφ", "e.g.", "№5", "—", "''", '"q"', "half½", "25%",
           "a,b;c", "x:y"]
    )
    seps = [" ", "  ", "\t", "\n", " \x0b ", "\r\n"]
    docs = []
    for i in range(120):
        n = rng.randint(0, 40)
        text = "".join(
            rng.choice(vocab) + rng.choice(seps) for _ in range(n)
        )
        if i % 7 == 0:
            text += " common boilerplate sentence shared across documents"
        if i % 13 == 0:
            # all-caps documents: case-insensitive matchers vs oracle
            # lower() must agree under full-string case folding
            text = text.upper()
        if i % 11 == 0:
            # NBSP at the text EDGES: Spark trim / Python strip(' ')
            # remove ASCII spaces only, and the oracles' trim(x, ' ')
            # must match — DuckDB's bare trim() strips unicode spaces
            # and silently diverges here (review round 5)
            text = "\xa0" + text + "\xa0"
        docs.append((i, text, "en", f"src{i % 3}", len(text)))
    d = tmp_path_factory.mktemp("fuzz")
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


_FUZZ_QUERIES = [
    "inverted_index",
    "index_bm25_topk",
    "doc_tfidf_keywords",
    "index_phrase_search",
    "index_phrase_postings",
    "paragraph_boilerplate",
    "corpus_decontaminate",
    "chunk_boilerplate",
    "doc_token_stats",
    "doc_fingerprint",
    "dedup_exact",
    "gazetteer_mentions",
    "doc_chunks",
]


@pytest.mark.parametrize("name", _FUZZ_QUERIES)
def test_oracle_parity_on_fuzz_corpus(spark, fuzz_sf, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, fuzz_sf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    spark_cols = list(sdf.columns)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{fuzz_sf}/documents.parquet/*.parquet')"
    )
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols), f"{name}: columns differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    s_vals, _ = _rows_to_multiset(spark_cols, spark_rows)
    d_vals, _ = _rows_to_multiset(duck_cols, duck_rows)
    assert s_vals == d_vals, f"{name}: values differ"


def test_sliding_window_oracle_timezone_independent(spark):
    """The sliding-window oracle must build NAIVE timestamps:
    to_timestamp() returns TIMESTAMPTZ and strftime renders it in the
    DuckDB session timezone, so parity would hold only on UTC hosts.
    Pin by running the oracle under a non-UTC session timezone."""
    sf = "/root/testdata/sf0.001"
    sdf = entry_mod.queries()["events_sliding_windows"](spark, sf)
    spark_rows = sorted(tuple(str(x) for x in r) for r in sdf.collect())
    con = duckdb.connect()
    con.execute("SET TimeZone='America/New_York'")
    for t in entry_mod.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    res = con.execute(entry_mod.oracle_sql()["events_sliding_windows"])
    cols = [d[0] for d in res.description]
    assert sorted(cols) == sorted(sdf.columns)
    duck_rows = sorted(tuple(str(x) for x in r) for r in res.fetchall())
    assert spark_rows == duck_rows


# ----------------------------------------- seeded events fuzz corpus --


@pytest.fixture(scope="module")
def events_fuzz_sf(spark, tmp_path_factory):
    """Seeded pseudo-random EVENTS table stressing the time-domain
    family's risk surface: exact-duplicate timestamps (tie-breaks),
    microsecond edge values (0 / 1 / 999999), bursts, and a multi-day
    span. Promoted from a round-8 deep sweep (5 seeds × 4,000 events ×
    14 queries, 70/70 green). Non-events tables symlink to the real
    sf0.001 parquet so cross-table queries still run."""
    import datetime
    import os
    import random

    rng = random.Random(20260818)
    base = datetime.datetime(2024, 1, 1)
    types = ["view", "click", "purchase", "signup", "error", "checkout"]
    rows = []
    for i in range(4000):
        if i % 17 == 0 and rows:
            ts = rows[-1][1]  # exact duplicate ts — tie-break stress
        else:
            ts = base + datetime.timedelta(
                seconds=rng.randint(0, 30 * 86400),
                microseconds=rng.choice([0, 1, 999999, rng.randint(0, 999999)]),
            )
        rows.append(
            (i, ts, rng.randint(0, 25), rng.choice(types),
             round(rng.uniform(0, 500), 2), '{"k": %d}' % rng.randint(0, 99))
        )
    d = tmp_path_factory.mktemp("events_fuzz")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "events.parquet"))
    for t in entry_mod.TABLES:
        if t != "events":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


_EVENTS_FUZZ_QUERIES = [
    "events_sessionize", "events_by_minute", "daily_active_users",
    "events_sliding_windows", "event_props_json", "customer_running_spend",
]


@pytest.mark.parametrize("name", _EVENTS_FUZZ_QUERIES)
def test_oracle_parity_on_events_fuzz(spark, events_fuzz_sf, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, events_fuzz_sf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        src = (
            f"read_parquet('{events_fuzz_sf}/events.parquet/*.parquet')"
            if t == "events"
            else f"'{events_fuzz_sf}/{t}.parquet'"
        )
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols), f"{name}: columns differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    s_vals, _ = _rows_to_multiset(list(sdf.columns), spark_rows)
    d_vals, _ = _rows_to_multiset(duck_cols, duck_rows)
    assert s_vals == d_vals, f"{name}: values differ"


# ----------------------------------------- seeded orders fuzz corpus --


@pytest.fixture(scope="module")
def orders_fuzz_sf(spark, tmp_path_factory):
    """Seeded pseudo-random ORDERS + LINEITEM tables stressing the
    money-column conventions: sub-cent prices sitting exactly on the
    2-decimal rounding boundary (x.005 — these exposed the
    double->decimal cast divergence the VARCHAR-routed oracle casts
    fix), 149999.995 at a filter threshold, second-precision order
    dates across a leap year. Promoted from a round-8 deep sweep
    (5 seeds × 21 queries, 105/105 green post-fix)."""
    import datetime
    import os
    import random

    rng = random.Random(20260811)
    base = datetime.datetime(2024, 1, 1)
    status = ["F", "O", "P"]
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = []
    for i in range(3000):
        price = rng.choice([
            round(rng.uniform(1, 400000), 2),
            round(rng.uniform(1, 400000), 0) + 0.005,
            150000.0, 149999.995,
        ])
        od = base + datetime.timedelta(
            days=rng.randint(0, 365), seconds=rng.choice([0, 1, 86399]))
        orders.append(
            (i, rng.randint(0, 400), rng.choice(status), price, od, rng.choice(prio)))
    lineitem = []
    for i in range(3000):
        for ln in range(rng.randint(0, 4)):
            sd = base + datetime.timedelta(days=rng.randint(0, 420))
            lineitem.append((
                i, rng.randint(0, 200), rng.randint(0, 50), ln + 1,
                float(rng.randint(1, 50)),
                rng.choice([round(rng.uniform(100, 90000), 2), 12345.005]),
                rng.choice([0.0, 0.05, 0.1, round(rng.uniform(0, 0.1), 2)]),
                rng.choice([0.0, 0.08, round(rng.uniform(0, 0.08), 2)]),
                rng.choice(["A", "N", "R"]), rng.choice(["F", "O"]), sd))
    d = tmp_path_factory.mktemp("orders_fuzz")
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "orders.parquet"))
    spark.createDataFrame(
        lineitem,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "lineitem.parquet"))
    for t in entry_mod.TABLES:
        if t not in ("orders", "lineitem"):
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


_ORDERS_FUZZ_QUERIES = [
    "nl_filter_orders", "nl_agg_orders", "nl_pivot_orders",
    "nl_filter_culture", "nl_filter_inferred", "nl_filter_stemmed",
    "q1_pricing_summary", "q3_shipping_priority", "ship_lag_by_month",
    "order_priority_rollup", "topk_orders_per_customer",
    "order_value_percentiles", "customers_without_orders",
    "customer_order_full_outer",
    "customer_order_distribution", "customer_rfm_segments",
    "promo_revenue_share", "q17_small_quantity_revenue",
    "part_setops_98_not_99", "orders_with_returns",
]


@pytest.mark.parametrize("name", _ORDERS_FUZZ_QUERIES)
def test_oracle_parity_on_orders_fuzz(spark, orders_fuzz_sf, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, orders_fuzz_sf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        src = (
            f"read_parquet('{orders_fuzz_sf}/{t}.parquet/*.parquet')"
            if t in ("orders", "lineitem")
            else f"'{orders_fuzz_sf}/{t}.parquet'"
        )
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols), f"{name}: columns differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    s_vals, _ = _rows_to_multiset(list(sdf.columns), spark_rows)
    d_vals, _ = _rows_to_multiset(duck_cols, duck_rows)
    assert s_vals == d_vals, f"{name}: values differ"


# -------------------------------------- seeded embeddings fuzz corpus --


@pytest.fixture(scope="module")
def emb_fuzz_sf(spark, tmp_path_factory):
    """Seeded pseudo-random EMBEDDINGS table stressing the JVM cosine's
    risk surface: exact-duplicate vectors and colinear scaled copies
    (cosine == 1 rank ties), and ZERO-NORM vectors — a real corpus
    artifact (empty docs, padding) that must score 0.0 through the
    zero-safe functions.vectors.cosine, not raise DIVIDE_BY_ZERO under
    ANSI mode. Promoted from a 5-seed deep sweep (15/15 green)."""
    import os
    import random

    rng = random.Random(20260821)
    rows = []
    for i in range(400):
        if i % 23 == 0 and rows:
            vec = rows[-1][1][:]  # exact duplicate — cosine 1.0 tie
        elif i % 31 == 0:
            vec = [0.0] * 64      # zero norm — must score 0.0, not raise
        elif i % 13 == 0 and rows:
            vec = [x * 2.0 for x in rows[-1][1]]  # colinear tie
        else:
            vec = [round(rng.gauss(0, 0.15), 6) for _ in range(64)]
        rows.append((i, vec, rng.randint(0, 9)))
    d = tmp_path_factory.mktemp("emb_fuzz")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    for t in entry_mod.TABLES:
        if t != "embeddings":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


_EMB_FUZZ_QUERIES = ["emb_cosine_jvm"]


@pytest.mark.parametrize("name", _EMB_FUZZ_QUERIES)
def test_oracle_parity_on_embeddings_fuzz(spark, emb_fuzz_sf, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, emb_fuzz_sf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        src = (
            f"read_parquet('{emb_fuzz_sf}/embeddings.parquet/*.parquet')"
            if t == "embeddings"
            else f"'{emb_fuzz_sf}/{t}.parquet'"
        )
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols), f"{name}: columns differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    s_vals, _ = _rows_to_multiset(list(sdf.columns), spark_rows)
    d_vals, _ = _rows_to_multiset(duck_cols, duck_rows)
    assert s_vals == d_vals, f"{name}: values differ"


# ------------------------------------------- seeded graph fuzz corpus --


@pytest.fixture(scope="module")
def graph_fuzz_sf(spark, tmp_path_factory):
    """Seeded random LINEITEM co-order topology stressing the graph
    oracles — hub parts appearing in most orders, dense cliques,
    single-line orders, and self-duplicate lines (the same part twice
    in one order) — against the wedge-join link prediction and the
    triangle orientation. Promoted from a round-8 deep sweep (3 seeds × 7
    queries, 21/21 green)."""
    import datetime
    import os
    import random

    rng = random.Random(20260841)
    base = datetime.datetime(2024, 1, 1)
    lineitem = []
    for o in range(1500):
        shape = rng.random()
        if shape < 0.1:
            parts = [rng.randint(0, 4)]
        elif shape < 0.3:
            parts = rng.sample(range(5, 60), rng.randint(2, 6))
            parts.append(rng.randint(0, 4))
        elif shape < 0.4:
            p = rng.randint(60, 199)
            parts = [p, p]
        else:
            parts = [rng.randint(0, 199) for _ in range(rng.randint(1, 5))]
        for ln, p in enumerate(parts):
            sd = base + datetime.timedelta(days=rng.randint(0, 400))
            lineitem.append((
                o, p, rng.randint(0, 50), ln + 1,
                float(rng.randint(1, 50)), round(rng.uniform(100, 90000), 2),
                rng.choice([0.0, 0.05, 0.06, 0.1]), 0.04,
                rng.choice(["A", "N", "R"]), rng.choice(["F", "O"]), sd))
    d = tmp_path_factory.mktemp("graph_fuzz")
    spark.createDataFrame(
        lineitem,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "lineitem.parquet"))
    for t in entry_mod.TABLES:
        if t != "lineitem":
            os.symlink(f"/root/testdata/sf0.001/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


_GRAPH_FUZZ_QUERIES = [
    "part_coorder_triangles", "part_link_prediction",
    "promo_revenue_share", "q17_small_quantity_revenue",
]


@pytest.mark.parametrize("name", _GRAPH_FUZZ_QUERIES)
def test_oracle_parity_on_graph_fuzz(spark, graph_fuzz_sf, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, graph_fuzz_sf)
    spark_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in entry_mod.TABLES:
        src = (
            f"read_parquet('{graph_fuzz_sf}/lineitem.parquet/*.parquet')"
            if t == "lineitem"
            else f"'{graph_fuzz_sf}/{t}.parquet'"
        )
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    res = con.execute(entry_mod.oracle_sql()[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    assert sorted(sdf.columns) == sorted(duck_cols), f"{name}: columns differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row count differs"
    s_vals, _ = _rows_to_multiset(list(sdf.columns), spark_rows)
    d_vals, _ = _rows_to_multiset(duck_cols, duck_rows)
    assert s_vals == d_vals, f"{name}: values differ"


def test_query_lists_name_existing_queries():
    """Every name in the lists above is a live query, and every name a
    parity test runs has an oracle: a deleted query must leave no stale
    name behind that a set comparison would pass silently."""
    queries, oracles = set(entry_mod.queries()), set(entry_mod.oracle_sql())
    parity = {
        "_NASTY_QUERIES": _NASTY_QUERIES,
        "_FUZZ_QUERIES": _FUZZ_QUERIES,
        "_ORDERS_FUZZ_QUERIES": _ORDERS_FUZZ_QUERIES,
        "_EVENTS_FUZZ_QUERIES": _EVENTS_FUZZ_QUERIES,
        "_GRAPH_FUZZ_QUERIES": _GRAPH_FUZZ_QUERIES,
        "_EMB_FUZZ_QUERIES": _EMB_FUZZ_QUERIES,
    }
    window = {
        "_STABLE_TAIL": _STABLE_TAIL,
        "_ROTATED_IN": _ROTATED_IN,
        "_ROWS_ONLY": _ROWS_ONLY,
    }
    for list_name, names in {**parity, **window}.items():
        assert set(names) <= queries, f"{list_name}: {set(names) - queries}"
    for list_name, names in parity.items():
        assert set(names) <= oracles, f"{list_name}: {set(names) - oracles}"
