"""operators/graph.py: triangle counting + co-occurrence lift vs
python brute force."""

import random
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from nlquery_spark.operators.graph import cooccurrence_lift, triangle_counts


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


def test_cooccurrence_lift_hand_computed(spark):
    # 4 docs; a in {1,2,3}, b in {1,2}, c in {4}
    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (4, "c"),
            (1, "a")]  # duplicate observation must not double-count
    df = spark.createDataFrame(rows, "doc long, term string")
    out = {
        (r.item_a, r.item_b): r
        for r in cooccurrence_lift(df, "doc", "term", n_groups=4).collect()
    }
    assert set(out) == {("a", "b")}
    r = out[("a", "b")]
    assert (r.n_a, r.n_b, r.n_both) == (3, 2, 2)
    assert r.lift == pytest.approx(round(4 * 2 / (3 * 2), 6), abs=1e-9)


def test_cooccurrence_lift_independent_pair_near_one(spark):
    # items present in every doc: lift exactly 1
    rows = [(d, t) for d in range(6) for t in ("x", "y")]
    df = spark.createDataFrame(rows, "doc long, term string")
    out = cooccurrence_lift(df, "doc", "term", n_groups=6).collect()
    assert len(out) == 1 and out[0].lift == 1.0


def test_cooccurrence_lift_caps_pathological_group(spark):
    """VERDICT r4 item 3: a group with an unbounded vocabulary must be
    capped (deterministically, item-ordered) with a loud metric, never
    quadratically exploded. Group 'big' holds 50 items, cap is 10: only
    C(10,2)=45 pairs from its first 10 items survive; a small well-
    behaved group is untouched; metrics record the drop."""
    rows = [("big", f"w{i:03d}") for i in range(50)]
    rows += [("ok", "aaa"), ("ok", "bbb")]
    df = spark.createDataFrame(rows, "grp string, item string")
    metrics = {}
    out = cooccurrence_lift(
        df, "grp", "item", n_groups=2, max_group_items=10, metrics=metrics
    ).collect()
    assert metrics == {"blocks_capped": 1, "block_rows_dropped": 40}
    pairs = {(r.item_a, r.item_b) for r in out}
    kept = [f"w{i:03d}" for i in range(10)]  # item-ordered cap
    from itertools import combinations as comb

    assert pairs == set(comb(kept, 2)) | {("aaa", "bbb")}
    # determinism: same input repartitioned differently -> same pairs
    out2 = cooccurrence_lift(
        df.repartition(7), "grp", "item", n_groups=2, max_group_items=10
    ).collect()
    assert {(r.item_a, r.item_b) for r in out2} == pairs


def test_cooccurrence_lift_cap_noop_below_threshold(spark):
    """Default cap far above real vocabularies: results identical with
    and without an explicit over-sized cap (existing oracle unaffected)."""
    rows = [("d1", "x"), ("d1", "y"), ("d2", "x"), ("d2", "y"), ("d2", "z")]
    df = spark.createDataFrame(rows, "grp string, item string")
    a = {(r.item_a, r.item_b, r.lift) for r in
         cooccurrence_lift(df, "grp", "item", 2).collect()}
    m = {}
    b = {(r.item_a, r.item_b, r.lift) for r in
         cooccurrence_lift(df, "grp", "item", 2, max_group_items=99,
                           metrics=m).collect()}
    assert a == b
    assert m == {"blocks_capped": 0, "block_rows_dropped": 0}


def test_cooccurrence_lift_cap_matches_sql_mirror(spark):
    """The oracle mirrors the cap with QUALIFY row_number <= k; when the
    cap BINDS, Spark and DuckDB must still agree value-for-value (the
    driver query's corpus never trips the 10k default, so this pins the
    mirror semantics directly)."""
    import duckdb

    rows = [(g, f"i{j:02d}") for g in ("g1", "g2") for j in range(6)]
    rows += [("g3", "i00"), ("g3", "i01")]
    df = spark.createDataFrame(rows, "grp string, item string")
    got = {
        (r.item_a, r.item_b, r.n_a, r.n_b, r.n_both, r.lift)
        for r in cooccurrence_lift(
            df, "grp", "item", n_groups=3, max_group_items=4
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE occ (grp VARCHAR, item VARCHAR)")
    con.executemany("INSERT INTO occ VALUES (?, ?)", rows)
    want = {
        tuple(r)
        for r in con.execute("""
WITH toks AS (
  SELECT grp, item FROM (SELECT DISTINCT grp, item FROM occ)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY grp ORDER BY item) <= 4
), c AS (SELECT item, COUNT(*) AS n FROM toks GROUP BY item),
p AS (
  SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS n_both
  FROM toks a JOIN toks b ON a.grp = b.grp AND a.item < b.item
  GROUP BY 1, 2
)
SELECT p.item_a, p.item_b, CAST(ca.n AS BIGINT), CAST(cb.n AS BIGINT),
  CAST(p.n_both AS BIGINT),
  ROUND((3.0 * p.n_both) / (CAST(ca.n AS DOUBLE) * cb.n), 6)
FROM p JOIN c ca ON p.item_a = ca.item JOIN c cb ON p.item_b = cb.item
""").fetchall()
    }
    assert got == want and got


def _brute_khop(edge_set, seeds, k):
    adj = {}
    for a, b in edge_set:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    depth = {s: 0 for s in seeds}
    frontier = set(seeds)
    for d in range(1, k + 1):
        frontier = {
            n for f in frontier for n in adj.get(f, ()) if n not in depth
        }
        for n in frontier:
            depth[n] = d
    return depth


def test_khop_path_graph(spark):
    from nlquery_spark.operators.graph import khop_neighbors

    # 0-1-2-3-4-5 path: depth == distance, truncated at k
    edges = [(i, i + 1) for i in range(5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.depth for r in khop_neighbors(df, seeds, k=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_khop_min_depth_over_multiple_paths(spark):
    from nlquery_spark.operators.graph import khop_neighbors

    # node 3 reachable at depth 1 (0-3) AND depth 2 (0-1-3): min wins.
    # duplicates + reversed orientation + self-loop must not matter.
    edges = [(0, 1), (1, 0), (1, 3), (0, 3), (3, 3), (3, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.depth for r in khop_neighbors(df, seeds, k=2).collect()}
    assert got == {0: 0, 1: 1, 3: 1, 4: 2}


def test_khop_multi_seed_and_k0(spark):
    from nlquery_spark.operators.graph import khop_neighbors

    edges = [(0, 1), (1, 2), (10, 11)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (10,), (10,)], "node long")
    got = {r.node: r.depth for r in khop_neighbors(df, seeds, k=1).collect()}
    assert got == {0: 0, 10: 0, 1: 1, 11: 1}
    got0 = {r.node: r.depth for r in khop_neighbors(df, seeds, k=0).collect()}
    assert got0 == {0: 0, 10: 0}  # seeds only, deduped


def test_khop_random_graph_matches_bruteforce(spark):
    from nlquery_spark.operators.graph import khop_neighbors

    rng = random.Random(11)
    edges = {
        (rng.randrange(30), rng.randrange(30)) for _ in range(70)
    }
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    got = {r.node: r.depth for r in khop_neighbors(df, seeds, k=4).collect()}
    assert got == _brute_khop(edges, [0, 7], 4)


def test_khop_shuffle_join_mode_matches_broadcast_mode(spark):
    from nlquery_spark.operators.graph import khop_neighbors

    rng = random.Random(5)
    edges = [
        (a, b)
        for a, b in {(rng.randrange(25), rng.randrange(25)) for _ in range(60)}
        if a != b
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    fast = {r.node: r.depth for r in khop_neighbors(df, seeds, k=3).collect()}
    safe = {
        r.node: r.depth
        for r in khop_neighbors(
            df, seeds, k=3, broadcast_frontier=False
        ).collect()
    }
    assert fast == safe


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
