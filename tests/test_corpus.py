"""Corpus-preparation operators: repetition stats, PII scrub, portable
stratified sampling, sequence packing — exact expectations computed in
python, plus the packing invariants the driver's rows-only check can't
see."""

import hashlib

import pytest
from pyspark.sql import functions as F

from nlquery_spark.operators.corpus import (
    pack_documents,
    pii_scrub,
    repetition_stats,
    sample_threshold,
    stratified_sample,
)


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b a"),          # bigrams: ab ba ab ba -> top 2/4
            (2, "x x x x"),            # xx xx xx -> top 3/3, dup 3/4
            (3, "all distinct words"),
            (4, ""),                   # empty
            (5, "one"),                # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].n_tokens == 5 and got[1].top_bigram_n == 2
    assert got[1].top_bigram_frac == pytest.approx(0.5)
    assert got[1].dup_token_frac == pytest.approx(round(1 - 2 / 5, 6))
    assert got[2].top_bigram_n == 3 and got[2].top_bigram_frac == pytest.approx(1.0)
    assert got[2].dup_token_frac == pytest.approx(0.75)
    assert got[3].dup_token_frac == 0.0 and got[3].top_bigram_n == 1
    assert got[4].n_tokens == 0 and got[4].top_bigram_n == 0
    assert got[4].dup_token_frac == 0.0 and got[4].top_bigram_frac == 0.0
    assert got[5].n_tokens == 1 and got[5].top_bigram_n == 0


def test_pii_scrub_cases(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@sub.example.org today"),
            (2, "see https://a.example/path?q=1 and http://b.example"),
            (3, "both x@y.io and https://z.example here"),
            (4, "no pii at all"),
            (5, "auth url https://user@host.example/p"),  # email inside URL
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert got[1].n_emails == 1 and got[1].n_urls == 0
    assert got[1].clean_text == "mail me at <EMAIL> today"
    assert got[2].n_urls == 2 and got[2].n_emails == 0
    assert got[2].clean_text == "see <URL> and <URL>"
    assert got[3].n_emails == 1 and got[3].n_urls == 1
    assert got[3].clean_text == "both <EMAIL> and <URL> here"
    assert got[4].clean_text == "no pii at all"
    # email-shaped authority inside a URL: counted under both, and the
    # email replacement runs first so nothing of user@host survives
    assert got[5].n_emails == 1 and got[5].n_urls == 1
    assert "user@host" not in got[5].clean_text


def test_stratified_sample_exact_membership_and_stability(spark):
    rows = [(i, f"src{i % 4}") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    rates = {"src0": 0.8, "src1": 0.3, "src2": 0.0}
    got = {
        r.doc_id
        for r in stratified_sample(df, "doc_id", "source", rates, 0.5).collect()
    }

    def keep(i, src):
        u = int(hashlib.md5(f"sample:{i}".encode()).hexdigest()[:16], 16)
        return u < sample_threshold(rates.get(src, 0.5))

    want = {i for i, s in rows if keep(i, s)}
    assert got == want  # bit-exact vs the python reference
    assert not any(s == "src2" for i, s in rows if i in got)
    # partitioning-independent: same sample after a repartition
    got2 = {
        r.doc_id
        for r in stratified_sample(
            df.repartition(13), "doc_id", "source", rates, 0.5
        ).collect()
    }
    assert got2 == got


def test_pack_documents_invariants(spark):
    import numpy as np

    rng = np.random.RandomState(2)
    rows = [(int(i), int(rng.randint(10, 250))) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = pack_documents(df, max_tokens=512, n_groups=8).collect()
    # coverage: every doc exactly once, counts preserved
    assert sorted((r.doc_id, r.n_tokens) for r in out) == sorted(rows)
    # capacity: no bin over max_tokens (all docs fit individually here)
    fills = {}
    for r in out:
        fills.setdefault(r.bin_id, 0)
        fills[r.bin_id] += r.n_tokens
    assert all(f <= 512 for f in fills.values())
    for r in out:  # reported fill == actual bin fill
        assert r.bin_fill == fills[r.bin_id]
    # first-fit with items <= max/2: at most one bin per group at <= 50%
    by_group = {}
    for b, f in fills.items():
        by_group.setdefault(b.split("-")[0], []).append(f)
    for g, fs in by_group.items():
        assert sum(1 for f in fs if f <= 256) <= 1, (g, fs)
    # determinism across physical partitionings
    out2 = pack_documents(df.repartition(7), max_tokens=512, n_groups=8).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_pack_documents_oversized_gets_own_bin(spark):
    df = spark.createDataFrame(
        [(1, 100), (2, 9000), (3, 100)], "doc_id long, n_tokens long"
    )
    out = {r.doc_id: r for r in pack_documents(df, max_tokens=512, n_groups=1).collect()}
    assert out[2].bin_docs == 1 and out[2].bin_fill == 9000  # flagged, not dropped
    assert out[1].bin_id == out[3].bin_id != out[2].bin_id


def test_chunk_documents_window_arithmetic(spark):
    from nlquery_spark.operators.corpus import chunk_documents

    texts = {
        1: " ".join(f"t{i}" for i in range(10)),    # n <= chunk: 1 chunk
        2: " ".join(f"t{i}" for i in range(5)),     # exactly chunk: 1 chunk
        3: " ".join(f"t{i}" for i in range(6)),     # chunk+1: 2 chunks
        4: " ".join(f"t{i}" for i in range(13)),    # several windows
        5: "",                                       # empty: no chunks
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    out = {}
    for r in chunk_documents(df, chunk_tokens=5, stride=3, text_col="text").collect():
        out.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk_text.split()
    assert 1 in out and len(out[1]) == 3  # n=10: starts 0,3,6 (9+5>10 new)
    assert len(out[2]) == 1 and len(out[2][0]) == 5
    assert len(out[3]) == 2 and out[3][1] == ["t3", "t4", "t5"]
    # n=13: chunks at 0,3,6,9 — start 12 would add no new token beyond
    # [9,14) ... start 12 covers [12,13): t12 is NEW for k=4? (k-1)*s+c=14>13
    # -> k=4 NOT emitted; coverage check below proves nothing is lost
    assert len(out[4]) == 1 + -(-(13 - 5) // 3)
    covered = sorted({t for ch in out[4].values() for t in ch})
    assert covered == sorted(texts[4].split())
    assert 5 not in out
    # every chunk respects the window arithmetic
    for d, chunks in out.items():
        toks = texts[d].split()
        for k, ch in chunks.items():
            assert ch == toks[k * 3 : k * 3 + 5], (d, k)


def test_decontaminate_flags_ngram_overlap(spark):
    from nlquery_spark.operators.corpus import decontaminate

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains 'quick brown fox jumps' (and more) -> flagged
            (10, "a quick brown fox jumps again and again today"),
            # no shared 4-gram -> clean
            (11, "completely different sentence with no overlap at all"),
            # exact copy of the benchmark doc -> contamination 1.0
            (12, "the quick brown fox jumps over the lazy dog"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in decontaminate(corpus, bench, n=4).collect()}
    assert set(out) == {10, 12}
    assert out[12].contamination == 1.0
    assert out[12].n_overlap == out[12].n_ngrams == 6  # 9 tokens -> 6 4-grams
    # doc 10: 9 tokens -> 6 distinct 4-grams; shared: 'quick brown fox jumps'
    assert (out[10].n_ngrams, out[10].n_overlap) == (6, 1)
    assert out[10].contamination == round(1 / 6, 6)


# ------------------------------------------ boilerplate chunkers (r5) --


def _is_cdc_boundary(token: str, avg: int = 16, salt: str = "cdc") -> bool:
    h = hashlib.md5(f"{salt}:{token}".encode()).hexdigest()[:16]
    return int(h, 16) % avg == 0


def test_paragraph_chunks_catch_unaligned_header(spark):
    """CCNet semantics: the same header paragraph at DIFFERENT token
    offsets must digest identically under paragraph splitting, while
    fixed-stride windows miss it."""
    from nlquery_spark.operators.corpus import paragraph_chunks

    header = "subscribe to our newsletter for updates"
    d1 = f"{header}\n\nalpha beta gamma delta"
    d2 = f"one two three\n\n{header}\n\nepsilon zeta"
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    ch = paragraph_chunks(df).collect()
    by_doc = {}
    for r in ch:
        by_doc.setdefault(r.doc_id, set()).add(r.chunk_text)
    assert header in by_doc[1] and header in by_doc[2]
    # empty paragraphs never emitted
    assert all(r.chunk_text.strip() == r.chunk_text and r.chunk_text for r in ch)


def test_content_defined_chunks_catch_unaligned_repeat(spark):
    """The delimiter-free generalization: a shared passage at different
    token offsets yields identical INTERIOR chunks under content-defined
    boundaries, while chunk_documents' fixed windows hash differently."""
    from nlquery_spark.operators.corpus import (
        chunk_documents,
        content_defined_chunks,
    )

    # find two boundary tokens so the passage has a fully interior
    # chunk, and enough non-boundary words for passage body + filler
    pool = [f"tok{i}" for i in range(3000)]
    bounds = [w for w in pool if _is_cdc_boundary(w)][:2]
    plain = [w for w in pool if not _is_cdc_boundary(w)]
    assert len(bounds) == 2 and len(plain) >= 14
    body, tail = plain[:4], plain[4]
    passage = f"{bounds[0]} {' '.join(body)} {bounds[1]} {tail}"
    d1 = f"{passage} {' '.join(plain[5:8])}"
    d2 = f"{' '.join(plain[8:13])} {passage} {plain[13]}"
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    cdc = content_defined_chunks(df, avg_tokens=16)
    by_doc = {}
    for r in cdc.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.chunk_text)
    interior = f"{' '.join(body)} {bounds[1]}"
    assert interior in by_doc[1] and interior in by_doc[2]
    # fixed-stride windows (64/48) on these short docs = one window per
    # doc covering the whole text -> no shared digest despite the repeat
    fixed = chunk_documents(df, chunk_tokens=8, stride=6)
    texts1 = {r.chunk_text for r in fixed.filter(F.col("doc_id") == 1).collect()}
    texts2 = {r.chunk_text for r in fixed.filter(F.col("doc_id") == 2).collect()}
    assert not (texts1 & texts2)
    # determinism under repartitioning
    again = {(r.doc_id, r.chunk_idx, r.chunk_text)
             for r in content_defined_chunks(df.repartition(5),
                                             avg_tokens=16).collect()}
    first = {(r.doc_id, r.chunk_idx, r.chunk_text) for r in cdc.collect()}
    assert again == first


def test_content_defined_chunks_partition_tokens_exactly(spark):
    """Chunks are a partition of the token stream: concatenating chunk
    texts in chunk_idx order reconstructs the tokenized document."""
    from nlquery_spark.operators.corpus import content_defined_chunks

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ch = content_defined_chunks(docs, avg_tokens=16)
    rebuilt = {
        r.doc_id: r.txt
        for r in ch.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("txt")
        )
        .collect()
    }
    orig = {
        r.doc_id: " ".join(r.text.split())
        for r in docs.select("doc_id", "text").collect()
        if r.text.strip()
    }
    assert rebuilt == orig


def test_shard_assign_deterministic_and_complete(spark):
    """(shard, position) must be a bit-stable layout: identical across
    repartitionings, shards in [0, n), positions a contiguous 1..|shard|
    sequence, and the shard key reproducible from the repo hash
    convention."""
    from nlquery_spark.functions.hashing import md5_u64_py
    from nlquery_spark.operators.corpus import shard_assign

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {(r.doc_id): (r.shard, r.position)
         for r in shard_assign(docs, n_shards=8).collect()}
    b = {(r.doc_id): (r.shard, r.position)
         for r in shard_assign(docs.repartition(7), n_shards=8).collect()}
    assert a == b
    assert len(a) == docs.count()
    shards = {}
    for doc_id, (shard, pos) in a.items():
        assert 0 <= shard < 8
        assert shard == md5_u64_py(f"shard:{doc_id}") % 8
        shards.setdefault(shard, []).append(pos)
    for positions in shards.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
