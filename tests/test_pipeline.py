"""Canonicalization + checkpointed-pipeline tests: component quality,
resume-from-checkpoint equivalence, metrics/lineage presence."""

import os
import shutil

from pyspark.sql import functions as F

from nlquery_spark.operators.canonicalize import (
    canonical_mapping,
    connected_components,
    similarity_edges,
)
from nlquery_spark.plans.pipeline import Pipeline, Stage, kg_pipeline
from nlquery_spark.sources.pages import orders_schema_spec, synth_pages


def test_canonical_mapping_clusters_variants(spark):
    forms = spark.createDataFrame(
        [
            ("Krusovice",),
            ("Krusovice 0.5l",),
            ("krusovice",),
            ("Italy",),
            ("italy",),
            ("France",),
            ("totally different",),
        ],
        "form string",
    )
    mapping = {r.form: r.canonical_id for r in canonical_mapping(forms, threshold=0.5).collect()}
    assert mapping["Krusovice"] == mapping["krusovice"] == mapping["Krusovice 0.5l"]
    assert mapping["Italy"] == mapping["italy"]
    assert mapping["Italy"] != mapping["France"]
    assert mapping["totally different"] not in (mapping["Italy"], mapping["Krusovice"])


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], "form_a string, form_b string"
    )
    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("x",), ("y",), ("z",)], "form string")
    cc = {r.form: r.component for r in connected_components(edges, nodes).collect()}
    assert cc["a"] == cc["b"] == cc["c"] == "a"
    assert cc["x"] == cc["y"] == "x"
    assert cc["z"] == "z"


def test_connected_components_driver_equals_distributed(spark):
    """The adaptive driver-side union-find path must label identically
    to the distributed hash-to-min loop (forced via driver_max_graph=0),
    including a longer chain (diameter > 2) and isolated nodes."""
    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("p", "q"), ("q", "p")],
        "form_a string, form_b string",
    )
    nodes = spark.createDataFrame(
        [(x,) for x in "abcdpqz"], "form string"
    )
    fast = {r.form: r.component for r in connected_components(edges, nodes).collect()}
    dist = {
        r.form: r.component
        for r in connected_components(edges, nodes, driver_max_graph=0).collect()
    }
    assert fast == dist
    assert fast["d"] == fast["a"] == "a" and fast["p"] == "p" and fast["z"] == "z"


def test_pipeline_resume(spark, tmp_path):
    workdir = str(tmp_path / "pipe")
    pages = synth_pages(spark, 80).cache()
    pages.count()
    stages = kg_pipeline(workdir, [orders_schema_spec()])

    p1 = Pipeline(spark, workdir, stages)
    out1 = p1.run({"pages": pages})
    final1 = sorted(tuple(r) for r in out1["canonical"].drop("start", "end", "rule").collect())
    assert all(s["status"] == "computed" for s in p1.report)

    # lineage + metrics exist
    assert os.path.exists(os.path.join(workdir, "_meta", "extract.json"))
    assert os.path.exists(os.path.join(workdir, "_metrics", "dedup"))

    # simulate a crash after stage 1: drop later stages, rerun
    shutil.rmtree(os.path.join(workdir, "dedup"))
    shutil.rmtree(os.path.join(workdir, "canonical"))
    p2 = Pipeline(spark, workdir, kg_pipeline(workdir, [orders_schema_spec()]))
    out2 = p2.run({"pages": pages})
    statuses = {s["stage"]: s["status"] for s in p2.report}
    assert statuses["extract"] == "resumed"
    assert statuses["dedup"] == "computed"
    final2 = sorted(tuple(r) for r in out2["canonical"].drop("start", "end", "rule").collect())
    assert final1 == final2

    # full resume: nothing recomputed, same output
    p3 = Pipeline(spark, workdir, kg_pipeline(workdir, [orders_schema_spec()]))
    out3 = p3.run({"pages": pages})
    assert all(s["status"] == "resumed" for s in p3.report)
    final3 = sorted(tuple(r) for r in out3["canonical"].drop("start", "end", "rule").collect())
    assert final1 == final3


def test_canonicalized_triples_cluster_gazetteer_variants(spark):
    pages = synth_pages(spark, 150)
    from nlquery_spark.operators.extract import dedup_triples, extract_triples
    from nlquery_spark.operators.canonicalize import canonicalize_triples

    triples = dedup_triples(extract_triples(pages, [orders_schema_spec()]))
    canon = canonicalize_triples(triples)
    assert canon.filter(F.col("obj_canonical").isNull()).count() == 0
    # canonicalization must not *increase* distinct objects
    assert (
        canon.select("obj_canonical").distinct().count()
        <= canon.select("obj").distinct().count()
    )


def test_similarity_edges_cap_metrics(spark):
    # no silent caps: with a tiny max_block_size the metrics dict must
    # report how many blocks were capped and how many rows were dropped.
    from nlquery_spark.operators.canonicalize import similarity_edges

    forms = spark.createDataFrame(
        [(f"acme unit {i}",) for i in range(10)] + [("zzz solo",)], "form string"
    )
    m = {}
    edges = similarity_edges(forms, max_block_size=3, metrics=m)
    edges.count()  # materialize
    assert m["blocks_capped"] >= 1  # the 'acme' first-token block (10 > 3)
    assert m["block_rows_dropped"] >= 7
    m2 = {}
    similarity_edges(forms, max_block_size=1000, metrics=m2).count()
    assert m2 == {"blocks_capped": 0, "block_rows_dropped": 0}


def test_connected_components_warns_when_not_converged(spark):
    # a path graph of diameter 6 cannot converge in 2 hash-to-min
    # rounds: the distributed path must warn and record converged=False
    import warnings as w

    from nlquery_spark.operators.canonicalize import connected_components

    nodes = spark.createDataFrame([(f"n{i}",) for i in range(8)], "form string")
    edges = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(7)], "form_a string, form_b string"
    )
    m = {}
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        connected_components(
            edges, nodes, max_iter=2, driver_max_graph=0, metrics=m
        ).count()
    assert m["cc_converged"] is False and m["cc_iterations"] == 2
    assert any("NOT converged" in str(x.message) for x in rec)
    # with enough rounds it converges cleanly (and records it)
    m_ok = {}
    with w.catch_warnings(record=True) as rec2:
        w.simplefilter("always")
        labels = connected_components(
            edges, nodes, max_iter=10, driver_max_graph=0, metrics=m_ok
        )
        comp = {r.form: r.component for r in labels.collect()}
    assert m_ok["cc_converged"] is True
    assert not any("NOT converged" in str(x.message) for x in rec2)
    assert set(comp.values()) == {"n0"}


def test_jaccard_hot_shingle_metrics(spark):
    from nlquery_spark.operators import dedup

    # 5 docs share the same text -> every shingle has df 5 > 2
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(5)] + [(9, "unique words here now")],
        "doc_id long, text string",
    )
    m = {}
    dedup.ngram_jaccard_pairs(df, n=2, threshold=0.1, max_shingle_df=2, metrics=m).count()
    assert m["hot_shingles_dropped"] == 3  # the 3 shared bigrams
    assert m["hot_shingle_rows_dropped"] == 15


def test_dist_zip_matches_source(build_dist, tmp_path):
    """The --py-files artifact carries exactly the current library
    source: its names equal the package's .py set (a zip that still
    ships a deleted module fails), every entry's bytes equal the file,
    and two builds are byte-identical (sorted entries, pinned
    timestamps). Sources ONLY: swept-in __pycache__ bytecode can shadow
    edited .py files under zipimport on executors."""
    import pathlib
    import zipfile

    a = build_dist(tmp_path / "a" / "nlquery_spark.zip")
    b = build_dist(tmp_path / "b" / "nlquery_spark.zip")
    assert a.read_bytes() == b.read_bytes()
    repo = pathlib.Path(__file__).resolve().parent.parent
    sources = {
        str(p.relative_to(repo)): p
        for p in (repo / "nlquery_spark").rglob("*.py")
    }
    with zipfile.ZipFile(a) as zp:
        assert set(zp.namelist()) == set(sources)
        for name, p in sources.items():
            assert zp.read(name) == p.read_bytes(), f"stale in zip: {name}"


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from nlquery_spark.operators.canonicalize import pagerank

    rng = np.random.RandomState(5)
    n = 40
    edges = set()
    while len(edges) < 120:
        a, b = rng.randint(0, n, size=2)
        if a != b:
            edges.add((f"n{a:02d}", f"n{b:02d}"))
    edf = spark.createDataFrame(sorted(edges), "src string, dst string")
    m = {}
    got = {r.node: r.rank for r in pagerank(edf, max_iter=60, tol=1e-10, metrics=m).collect()}
    assert m["pagerank_converged"]
    # both adaptive paths (driver numpy loop / distributed DataFrame
    # loop) must produce the same ranks
    m_dist = {}
    got_dist = {
        r.node: r.rank
        for r in pagerank(
            edf, max_iter=60, tol=1e-10, driver_max_graph=0, metrics=m_dist
        ).collect()
    }
    assert m_dist["pagerank_converged"]
    for k in got:
        assert abs(got[k] - got_dist[k]) < 1e-9, k

    # dense reference: same damping + uniform dangling redistribution
    names = sorted({x for e in edges for x in e})
    idx = {nm: i for i, nm in enumerate(names)}
    N = len(names)
    out = np.zeros(N)
    A = np.zeros((N, N))
    for a, b in edges:
        A[idx[b], idx[a]] += 1.0
        out[idx[a]] += 1.0
    col = A.copy()
    for j in range(N):
        if out[j] > 0:
            col[:, j] /= out[j]
    r = np.full(N, 1.0 / N)
    d = 0.85
    for _ in range(200):
        dangling = r[out == 0].sum()
        r = (1 - d) / N + d * (col @ r) + d * dangling / N
    for nm in names:
        assert abs(got[nm] - r[idx[nm]]) < 1e-8, nm
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_warns_when_not_converged(spark):
    import warnings as w

    from nlquery_spark.operators.canonicalize import pagerank

    # asymmetric chain (a ring is stationary at uniform and would
    # converge in one step): rank mass flows toward the dangling tail
    edf = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(11)], "src string, dst string"
    )
    m = {}
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        pagerank(edf, max_iter=1, tol=1e-12, metrics=m).count()
    assert m["pagerank_converged"] is False
    assert any("NOT converged" in str(x.message) for x in rec)


def test_pipeline_graph_stage(spark, tmp_path):
    """The graph-metrics stage: one row per KG node with pagerank +
    degrees + triangle counts; ranks sum to ~1 (the pagerank invariant)
    and degrees reconcile with the distinct edge set."""
    from pyspark.sql import functions as F

    workdir = str(tmp_path / "pipe_g")
    pages = synth_pages(spark, 60).cache()
    pages.count()
    p = Pipeline(spark, workdir, kg_pipeline(workdir, [orders_schema_spec()]))
    out = p.run({"pages": pages})
    g = out["graph"]
    assert set(g.columns) == {"node", "rank", "out_degree", "in_degree", "n_triangles"}
    edges = (
        out["canonical"]
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    n_edges = edges.count()
    agg = g.agg(
        F.sum("rank").alias("rs"),
        F.sum("out_degree").alias("od"),
        F.sum("in_degree").alias("id"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert abs(agg["rs"] - 1.0) < 1e-6
    assert agg["od"] == n_edges and agg["id"] == n_edges
    # node set == union of edge endpoints
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .count()
    )
    assert agg["n"] == nodes


def test_pipeline_linkpred_stage(spark, tmp_path):
    """The KG-completion stage: every candidate is a NON-edge pair with
    >= 2 shared neighbors and a valid (0, 1] Jaccard score."""
    from pyspark.sql import functions as F

    workdir = str(tmp_path / "pipe_lp")
    pages = synth_pages(spark, 60).cache()
    pages.count()
    p = Pipeline(spark, workdir, kg_pipeline(workdir, [orders_schema_spec()]))
    out = p.run({"pages": pages})
    lp = out["linkpred"]
    assert set(lp.columns) == {"node_a", "node_b", "n_common", "jaccard"}
    rows = lp.collect()
    assert rows, "fixture KG should produce completion candidates"
    assert all(r.n_common >= 2 and 0 < r.jaccard <= 1.0 for r in rows)
    # none of the candidates is an existing (undirected) edge
    edges = {
        (min(r.src, r.dst), max(r.src, r.dst))
        for r in out["canonical"]
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .collect()
    }
    assert all((r.node_a, r.node_b) not in edges for r in rows)
    # cap metrics recorded in the stage's lineage
    import json, os
    meta = json.load(open(os.path.join(workdir, "_meta", "linkpred.json")))
    assert "blocks_capped" in meta.get("metrics", {})
