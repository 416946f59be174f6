"""operators/graph.py: triangle counting and common-neighbor link
prediction vs python brute force."""

import random
from itertools import combinations

from nlquery_spark.operators.graph import triangle_counts


def _brute_triangles(edge_set):
    adj = {}
    for a, b in edge_set:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                counts[n] = counts.get(n, 0) + 1
    return counts


def test_triangle_counts_k4(spark):
    # K4: every node sits in C(3,2)=3 triangles
    edges = [(a, b) for a, b in combinations(range(4), 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_dedups_orientation_and_self_loops(spark):
    # duplicates, reversed orientation, and self-loops must not change
    # the triangle set: one triangle (1,2,3); node 4 dangles
    edges = [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (3, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_random_graph_matches_bruteforce(spark):
    rng = random.Random(7)
    nodes = list(range(40))
    edge_set = {
        (a, b)
        for a, b in combinations(nodes, 2)
        if rng.random() < 0.15
    }
    # feed them with random orientation + duplicates
    rows = []
    for a, b in edge_set:
        rows.append((b, a) if rng.random() < 0.5 else (a, b))
        if rng.random() < 0.3:
            rows.append((a, b))
    df = spark.createDataFrame(rows, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _brute_triangles(edge_set)


def _brute_linkpred(edge_set, min_common):
    adj = {}
    for a, b in edge_set:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    nodes = sorted(adj)
    for i, x in enumerate(nodes):
        for y in nodes[i + 1:]:
            if y in adj[x]:
                continue
            common = len(adj[x] & adj[y])
            if common >= min_common:
                out[(x, y)] = (
                    common,
                    round(common / len(adj[x] | adj[y]), 6),
                )
    return out


def test_common_neighbors_square(spark):
    from nlquery_spark.operators.graph import common_neighbor_scores

    # square 0-1-2-3-0: both diagonals share exactly their 2 neighbors
    # and the union is also 2 -> jaccard 1.0; no edge pair appears
    edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard)
        for r in common_neighbor_scores(df, min_common=2).collect()
    }
    assert got == {(0, 2): (2, 1.0), (1, 3): (2, 1.0)}


def test_common_neighbors_excludes_existing_edges(spark):
    from nlquery_spark.operators.graph import common_neighbor_scores

    # triangle + pendant: (0,1) share neighbor 2 but ARE an edge
    edges = [(0, 1), (0, 2), (1, 2), (2, 3)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.node_a, r.node_b)
        for r in common_neighbor_scores(df, min_common=1).collect()
    }
    assert (0, 1) not in got and (0, 2) not in got
    assert got == {(0, 3), (1, 3)}


def test_common_neighbors_random_matches_bruteforce(spark):
    from nlquery_spark.operators.graph import common_neighbor_scores

    rng = random.Random(23)
    edges = [
        (a, b)
        for a, b in {(rng.randrange(20), rng.randrange(20)) for _ in range(50)}
        if a != b
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard)
        for r in common_neighbor_scores(df, min_common=2).collect()
    }
    canonical = {(min(a, b), max(a, b)) for a, b in edges}
    assert got == _brute_linkpred(canonical, 2)


def test_common_neighbors_cap_bounds_hub(spark):
    from nlquery_spark.operators.graph import common_neighbor_scores

    # star hub 0 with 20 leaves: uncapped, every leaf pair shares hub
    edges = [(0, i) for i in range(1, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    metrics = {}
    got = common_neighbor_scores(
        df, min_common=1, max_neighbors=5, metrics=metrics
    ).collect()
    # only the hub's first 5 neighbors (1..5) survive -> C(5,2) pairs
    assert len(got) == 10
    assert {r.node_a for r in got} | {r.node_b for r in got} == set(range(1, 6))
    assert metrics["blocks_capped"] == 1
    assert metrics["block_rows_dropped"] == 15
    # determinism: same input repartitioned differently -> same rows
    got2 = common_neighbor_scores(
        df.repartition(7), min_common=1, max_neighbors=5
    ).collect()
    assert {tuple(r) for r in got2} == {tuple(r) for r in got}


def test_common_neighbors_hub_center_cutoff(spark):
    from nlquery_spark.operators.graph import common_neighbor_scores

    # hub 0 connects to 1..10; separately 1-2 share honest neighbor 11
    edges = [(0, i) for i in range(1, 11)] + [(1, 11), (2, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    metrics = {}
    got = {
        (r.node_a, r.node_b): (r.n_common, r.jaccard)
        for r in common_neighbor_scores(
            df, min_common=1, max_center_degree=5, metrics=metrics
        ).collect()
    }
    assert metrics["hub_centers_excluded"] == 1  # only the hub (deg 10)
    # wedges THROUGH the hub are gone (no leaf-leaf pairs), but the hub
    # is still a valid pair ENDPOINT via non-hub centers: (0, 11) share
    # centers 1 and 2 -> 2/(10+2-2); the honest pair (1, 2) shares
    # neighbor 11 only, with FULL degrees in the denominator 1/(2+2-1)
    assert got == {
        (1, 2): (1, round(1 / 3, 6)),
        (0, 11): (2, 0.2),
    }
