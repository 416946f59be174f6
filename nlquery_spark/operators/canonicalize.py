"""Entity canonicalization: connected components over surface-form
similarity (SURVEY.md §3.4 stage S5).

Pipeline: normalize surface forms -> blocking keys (normalized form +
first token) -> within-block char-trigram Jaccard edges -> iterative
hash-to-min connected components (pure DataFrame ops, lineage broken per
iteration via localCheckpoint).

Scale posture:
- blocking caps pair generation (``max_block_size`` drops degenerate
  blocks — the skew guard: a block like "the" would otherwise go
  quadratic); AQE skew-join splits residual hot blocks.
- CC iterations converge in O(component diameter); surface-form
  components are star-like (2-4 iterations). Each iteration is one
  shuffle on node id; hot components are bounded by block capping, and
  min-label aggregation is a hash-agg (map-side partial combine).
"""

from __future__ import annotations

import warnings
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, StringType


def normalize_form(col):
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def _trigrams(col):
    """Distinct char trigrams of '  <form>  ' as an Arrow pandas UDF.

    Same Janino pathology as dedup.shingles_df (see that docstring): the
    HOF formulation (transform over sequence + substring) gets cloned by
    the optimizer into both self-join sides and the join filters, and
    cold-compiling the multi-copy expression measured 60+s on the first
    similarity_edges execution. One vectorized UDF evaluated once per
    distinct form replaces it; runs on the deduped form table (dictionary-
    sized), so the Python stage sees thousands of rows, not the corpus.
    """
    @F.pandas_udf(ArrayType(StringType()))
    def _tri(forms: pd.Series) -> pd.Series:
        out = []
        for s in forms:
            p = f"  {s}  " if isinstance(s, str) else "    "
            out.append(list(dict.fromkeys(p[i : i + 3] for i in range(len(p) - 2))))
        return pd.Series(out)

    return _tri(col)


def similarity_edges(
    forms: DataFrame,
    form_col: str = "form",
    threshold: float = 0.6,
    max_block_size: int = 200,
    metrics: Optional[dict] = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """(form_a, form_b, sim) edges between distinct surface forms.

    Blocks: full normalized form (catches case/punct variants) and first
    normalized token (catches suffix variants like 'Krusovice 0.5l').

    The ``max_block_size`` skew guard DROPS rows from oversized blocks
    (edges those rows would have contributed are never generated). No
    silent caps: pass ``metrics`` (a dict) and it records
    ``blocks_capped`` / ``block_rows_dropped`` — one extra
    dictionary-sized aggregation, only when asked for. The pipeline
    runner persists these next to the stage lineage.
    """
    f = forms.select(F.col(form_col).alias("form"))
    if not assume_distinct:
        f = f.distinct()
    f = (
        f.withColumn("norm", normalize_form(F.col("form")))
        .filter(F.length("norm") > 0)
        .withColumn("first_tok", F.split(F.col("norm"), " ")[0])
        .withColumn("tri", _trigrams(F.col("norm")))
    )
    blocked = f.select(
        "form", "norm", "tri", F.explode(F.array("norm", "first_tok")).alias("block")
    ).distinct()
    blocked = _cap_blocks(blocked, max_block_size, metrics)
    a = blocked.alias("a")
    b = blocked.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tri"), F.col("b.tri")))
    union = F.size(F.array_union(F.col("a.tri"), F.col("b.tri")))
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block")) & (F.col("a.form") < F.col("b.form")),
        )
        .select(
            F.col("a.form").alias("form_a"),
            F.col("b.form").alias("form_b"),
            F.round(inter.cast("double") / union, 6).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
        .distinct()
    )


def _cap_blocks(
    blocked: DataFrame,
    max_block_size: int,
    metrics: Optional[dict],
    key_col: str = "block",
    ord_col: str = "form",
) -> DataFrame:
    """Shared skew guard for every block/group-keyed pair generator: cap
    each ``key_col`` partition at ``max_block_size`` rows (row_number,
    ``ord_col``-ordered for determinism), recording blocks_capped /
    block_rows_dropped when a ``metrics`` dict is passed — no silent
    caps. similarity_edges caps its blocks with it, and
    graph.common_neighbor_scores its per-node neighbor lists."""
    if metrics is not None:
        over = (
            blocked.groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_block_size)
            .agg(
                F.count(F.lit(1)).alias("blocks"),
                F.sum(F.col("n") - max_block_size).alias("dropped"),
            )
            .first()
        )
        metrics["blocks_capped"] = int(over["blocks"] or 0)
        metrics["block_rows_dropped"] = int(over["dropped"] or 0)
    w = Window.partitionBy(key_col).orderBy(ord_col)
    return (
        blocked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_block_size)
        .drop("_rn")
    )


def _union_find_components(edge_rows, node_rows):
    """Driver-side union-find; root of every tree is kept at the
    lexicographic min of its members, so find(x) returns the min form of
    x's component — identical labeling to the hash-to-min fixpoint."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for src, dst in edge_rows:
        ra, rb = find(src), find(dst)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(n, find(n)) for (n,) in node_rows]


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    node_col: str = "form",
    src_col: str = "form_a",
    dst_col: str = "form_b",
    max_iter: int = 20,
    driver_max_graph: int = 2_000_000,
    metrics: Optional[dict] = None,
    assume_distinct_nodes: bool = False,
) -> DataFrame:
    """(node, component) labeling, component id = min form in component.

    Adaptive execution: when nodes+edges fit under ``driver_max_graph``
    the labeling runs as driver-side union-find — the similarity graph
    is over DISTINCT surface forms (dictionary-sized, and the caller
    broadcasts the resulting mapping anyway), so a 20-iteration shuffle
    loop for it is pure overhead. Above the threshold it falls back to
    iterative hash-to-min label propagation in pure DataFrame ops
    (one shuffle per iteration, per-iteration localCheckpoint breaks
    lineage so plans stay bounded; converges when no label changes) —
    that path has no driver-memory footprint and handles graphs of any
    size."""
    sym = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .union(edges.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    node_df = nodes.select(F.col(node_col).alias("node"))
    if not assume_distinct_nodes:
        # callers passing a pre-distinct'ed, pre-materialized node set
        # (canonical_mapping) skip this shuffle + checkpoint
        node_df = node_df.distinct().localCheckpoint(eager=True)
    n_edges, n_nodes = sym.count(), node_df.count()
    if n_edges + n_nodes <= driver_max_graph:
        # Arrow toPandas, not toLocalIterator — same serial-round-trip
        # latency fix as the pagerank driver path (optimization r9);
        # .tolist() hands the union-find plain Python values so the
        # labeled output keeps driver-path/distributed-path type parity
        sym_pdf = sym.toPandas()
        labeled = _union_find_components(
            zip(sym_pdf["src"].tolist(), sym_pdf["dst"].tolist()),
            ((n,) for n in node_df.toPandas()["node"].tolist()),
        )
        if metrics is not None:
            metrics["cc_iterations"] = 0  # driver union-find is exact
            metrics["cc_converged"] = True
            metrics["cc_path"] = "driver"
        # preserve the node id type so both adaptive paths return the
        # same schema (e.g. bigint doc ids must not coerce to string) —
        # same contract as pagerank's driver path
        from pyspark.sql.types import StructField, StructType

        node_type = node_df.schema["node"].dataType
        out_schema = StructType(
            [
                StructField(node_col, node_type, True),
                StructField("component", node_type, True),
            ]
        )
        return edges.sparkSession.createDataFrame(labeled, out_schema)
    labels = node_df.withColumn("label", F.col("node")).localCheckpoint(eager=True)

    changed = 0
    iters = 0
    for iters in range(1, max_iter + 1):
        neighbor_min = (
            sym.join(labels, sym.src == labels.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("_old"),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    converged = changed == 0
    if metrics is not None:
        metrics["cc_iterations"] = iters
        metrics["cc_converged"] = converged
        metrics["cc_path"] = "distributed"
    if not converged:
        # components with diameter > max_iter would get inconsistent
        # split labels — never fail silently
        warnings.warn(
            f"connected_components hit max_iter={max_iter} with {changed} "
            "labels still changing; labeling is NOT converged. Raise "
            "max_iter (hash-to-min needs O(component diameter) rounds).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("node").alias(node_col), F.col("label").alias("component"))


def canonical_mapping(
    forms: DataFrame,
    form_col: str = "form",
    threshold: float = 0.6,
    max_block_size: int = 200,
    metrics: Optional[dict] = None,
) -> DataFrame:
    """surface form -> canonical_id (the lexicographically-min form of its
    similarity component).

    The corpus-sized input is distinct'ed ONCE and the edge join
    materialized ONCE (localCheckpoint) before CC — without this, the
    edges lineage (corpus distinct + trigram UDF + blocked self-join)
    replays for CC's symmetrized edge set and again for its node set:
    three corpus scans where one suffices (measured 12 s -> ~4 s on the
    demo pipeline's canonical stage at 1M triples / 9.5k forms)."""
    forms_d = (
        forms.select(F.col(form_col)).distinct().localCheckpoint(eager=True)
    )
    edges = similarity_edges(
        forms_d, form_col, threshold, max_block_size, metrics,
        assume_distinct=True,
    ).localCheckpoint(eager=True)
    cc = connected_components(
        edges, forms_d, node_col=form_col, metrics=metrics,
        assume_distinct_nodes=True,
    )
    return cc.select(
        F.col(form_col), F.col("component").alias("canonical_id")
    )


def canonicalize_triples(
    triples: DataFrame,
    obj_col: str = "obj",
    threshold: float = 0.6,
    metrics: Optional[dict] = None,
) -> DataFrame:
    """Attach obj_canonical to a triples DataFrame (broadcast the mapping —
    distinct surface forms are dictionary-sized, not corpus-sized)."""
    mapping = canonical_mapping(
        triples.select(F.col(obj_col).alias("form")), "form", threshold,
        metrics=metrics,
    )
    return triples.join(
        F.broadcast(mapping.withColumnRenamed("form", obj_col)),
        obj_col,
        "left",
    ).withColumn("obj_canonical", F.coalesce("canonical_id", F.col(obj_col))).drop(
        "canonical_id"
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    driver_max_graph: int = 2_000_000,
    metrics: Optional[dict] = None,
    checkpoint_interval: int = 5,
) -> DataFrame:
    """(node, rank) PageRank over a directed edge DataFrame — the
    graph-analytics pass over the materialized (subj -> obj) KG edges
    (e.g. entity salience for downstream ranking).

    Adaptive like connected_components: under ``driver_max_graph``
    nodes+edges the power iteration runs as a driver-side sparse numpy
    loop (a distributed shuffle per round for a dictionary-sized graph
    is pure overhead); above it, a pure DataFrame power iteration —
    one shuffle per round (join on src + agg on dst), per-round
    localCheckpoint bounding lineage. Both paths use the same
    formulation (uniform dangling-mass redistribution; ranks sum to 1)
    and are verified equal to dense numpy power iteration in tests.
    Stops when the L1 delta drops under ``tol`` or at ``max_iter``
    (recorded in ``metrics``; warns if not converged, same
    no-silent-failure contract as connected_components). ``tol <= 0``
    selects FIXED-ITERATION mode: exactly ``max_iter`` rounds, no
    convergence warning — the deterministic contract an external
    oracle (fixed-round recursive-CTE power iteration) can reproduce.

    ``checkpoint_interval`` (fixed-iteration mode only): materialize
    the ranks every k rounds instead of every round — rounds in
    between stay lazy and execute fused in the next checkpoint's job,
    cutting per-round driver syncs (VERDICT r8 item 4; hash-identical
    output, SCALE_r09). CAUTION: each lazy round references the
    previous ranks twice (contribs + dangling mass), so the
    unmaterialized plan TREE doubles per lazy round — execution is
    deduplicated by exchange reuse, but analysis/planning cost is
    ~2^interval subtrees. Values above ~10 buy nothing and can stall
    the driver in the optimizer; the implementation clamps to 10.
    """
    fixed_iters = tol <= 0
    # plan-tree growth between checkpoints is ~2^interval (see
    # docstring) — clamp so a generous caller can't stall the optimizer
    checkpoint_interval = max(1, min(int(checkpoint_interval), 10))
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    n_edges = e.count()
    if metrics is not None:
        # record the adaptive decision inputs: n + n_edges vs
        # driver_max_graph is the threshold the path metrics reflect
        metrics["pagerank_nodes"] = n
        metrics["pagerank_edges"] = n_edges
    if n + n_edges <= driver_max_graph:
        import numpy as np

        # Arrow toPandas, not toLocalIterator (optimization r9, guide
        # §5/§6): the iterator fetches partitions in serial round trips
        # — at 316k edges / 32 partitions that latency dominated the
        # whole driver path; one Arrow transfer moves the same few MB
        # in a single job.
        names = sorted(nodes.toPandas()["node"].tolist())
        idx = {nm: i for i, nm in enumerate(names)}
        e_pdf = e.toPandas()
        src_i = np.fromiter(
            (idx[v] for v in e_pdf["src"].tolist()), np.int64, n_edges
        )
        dst_i = np.fromiter(
            (idx[v] for v in e_pdf["dst"].tolist()), np.int64, n_edges
        )
        out_deg_v = np.bincount(src_i, minlength=n).astype(np.float64)
        r_vec = np.full(n, 1.0 / n)
        delta = float("inf")
        iters = 0
        dangling_mask = out_deg_v == 0
        for iters in range(1, max_iter + 1):
            contrib = np.zeros(n)
            w = r_vec[src_i] / out_deg_v[src_i]
            np.add.at(contrib, dst_i, w)
            dangling = r_vec[dangling_mask].sum()
            new_r = (1.0 - damping) / n + damping * (contrib + dangling / n)
            delta = float(np.abs(new_r - r_vec).sum())
            r_vec = new_r
            if delta < tol:
                break
        if metrics is not None:
            metrics["pagerank_iterations"] = iters
            metrics["pagerank_delta"] = delta
            metrics["pagerank_converged"] = delta < tol
            metrics["pagerank_path"] = "driver"
        if delta >= tol and not fixed_iters:
            warnings.warn(
                f"pagerank hit max_iter={max_iter} with L1 delta {delta:.2e} "
                f">= tol {tol:.0e}; ranks are NOT converged.",
                RuntimeWarning,
                stacklevel=2,
            )
        # preserve the node id type so both adaptive paths return the
        # same schema (e.g. bigint ids must not coerce to string)
        from pyspark.sql.types import DoubleType, StructField, StructType

        out_schema = StructType(
            [
                StructField("node", nodes.schema["node"].dataType, True),
                StructField("rank", DoubleType(), False),
            ]
        )
        # Arrow-path createDataFrame from a pandas frame (one columnar
        # transfer) instead of a 50k-tuple Python list; names are in
        # idx order (idx[names[i]] == i) so r_vec aligns positionally
        import pandas as pd

        return edges.sparkSession.createDataFrame(
            pd.DataFrame({"node": names, "rank": r_vec}), out_schema
        )
    # loop-invariant inputs materialize ONCE: out-degrees are an
    # O(|E|) aggregate and the dangling-node set an O(|V|) anti join —
    # recomputing either inside the round (as two branches of an
    # unmaterialized ranks-with-degree join) made every round pay the
    # 5M-edge degree aggregation twice (measured on the 1M-page /
    # 5.29M-edge graph, SCALE_r08)
    out_deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("src", "deg_node")
        .localCheckpoint(eager=True)
    )
    dangling_nodes = nodes.join(
        out_deg, nodes.node == out_deg.deg_node, "left_anti"
    ).localCheckpoint(eager=True)
    # degrees attached to the EDGES once, not joined onto the ranks
    # every round: contrib = sum(rank/deg) reads deg per edge either
    # way, but the in-loop ranks⋈out_deg join cost an extra exchange
    # pair per round (×100 fixed rounds). e_deg is edge-sized — the
    # same footprint class as the edge checkpoint it replaces in the
    # loop, so peak memory is unchanged.
    e_deg = (
        e.join(out_deg, e.src == out_deg.deg_node)
        .select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(eager=True)
    delta = float("inf")
    iters = 0
    for iters in range(1, max_iter + 1):
        contribs = (
            ranks.join(e_deg, ranks.node == e_deg.src)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        # dangling mass: ranks of nodes with no out-edges, spread
        # evenly. Folded into the round's plan as a broadcast 1-row
        # aggregate instead of a blocking .first(), so the checkpoint
        # job is the only per-round driver sync (2 -> 1 job launches
        # per round; measured wall-neutral on local[32] at 5.3M edges,
        # where job-launch latency is microseconds — the structural win
        # is for high-latency clusters and high fixed round counts).
        # The expression reproduces the scalar arithmetic exactly:
        # ((1-d)/n + (d*dangling)/n) + d*contrib, all double ops in the
        # same association order as the former driver-side computation.
        dangling_df = ranks.join(
            dangling_nodes.select("node"), "node", "leftsemi"
        ).agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dangling"))
        new_ranks = (
            nodes.join(contribs, nodes.node == F.col("node2"), "left")
            .crossJoin(F.broadcast(dangling_df))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + (F.lit(damping) * F.col("_dangling")) / F.lit(float(n))
                    + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
                ).alias("rank"),
            )
        )
        # the delta join+aggregate can only matter when it could trigger
        # the early stop (convergence mode) or when the FINAL round's
        # delta is about to be reported — in fixed-iteration mode the
        # intermediate deltas are pure overhead (100 V-sized joins on
        # the 1M-page graph), so skip them
        want_delta = (not fixed_iters) or (
            metrics is not None and iters == max_iter
        )
        # checkpoint every ``checkpoint_interval`` rounds, not every
        # round (optimization r9, VERDICT r8 item 4): in fixed-iteration
        # mode the per-round localCheckpoint was the round's ONLY action
        # — 100 rounds = 100 barrier/launch/materialize syncs, ~60% of
        # the graph stage's per-round cost at 1M pages (SCALE_r08).
        # Rounds between checkpoints stay lazy and execute fused in the
        # next checkpoint's single job (the per-round dangling broadcast
        # aggregates run as subquery stages of that job); lineage stays
        # bounded at <= interval rounds. A round whose delta is read
        # must be materialized anyway (the delta action would otherwise
        # replay the fused prefix twice), so convergence mode keeps the
        # per-round cadence.
        do_ckpt = (
            want_delta
            or checkpoint_interval <= 1
            or iters % checkpoint_interval == 0
            or iters == max_iter
        )
        if do_ckpt:
            new_ranks = new_ranks.localCheckpoint(eager=True)
        if want_delta:
            delta = (
                new_ranks.alias("a")
                .join(ranks.alias("b"), "node")
                .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))))
                .first()[0]
            )
        else:
            delta = float("inf")
        ranks = new_ranks
        if delta < tol:
            break
    if metrics is not None:
        metrics["pagerank_iterations"] = iters
        metrics["pagerank_delta"] = float(delta)
        metrics["pagerank_converged"] = delta < tol
        metrics["pagerank_path"] = "distributed"
    if delta >= tol and not fixed_iters:
        warnings.warn(
            f"pagerank hit max_iter={max_iter} with L1 delta {delta:.2e} >= "
            f"tol {tol:.0e}; ranks are NOT converged.",
            RuntimeWarning,
            stacklevel=2,
        )
    return ranks
