"""Web-corpus operators: the link graph and crawl-snapshot maintenance.

These are the two webtext jobs that sit UPSTREAM of KG extraction in a
Common-Crawl-style pipeline (reference scope: nlquery matches text it
is given — `/root/reference/README.md:5-11`; fetching/organizing that
text is this engine's added scale surface):

- :func:`host_link_graph` — the host-to-host hyperlink graph, the
  substrate for site-level PageRank / spam scoring / crawl
  prioritization.
- :func:`crawl_diff` — two crawl snapshots keyed by canonical URL
  diffed into added/removed/changed/unchanged, the incremental-crawl
  bookkeeping step that decides what to re-extract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.web import extract_links, url_host


def host_link_graph(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """(src_host, dst_host, n_links) from raw page HTML: extract every
    ``<a href>`` target, key source and target by lowercased
    default-port-elided host, and count links per directed host pair.

    Scale posture: link extraction + host mapping is a narrow per-row
    projection (one regexp_extract_all, explode, two regexp extracts)
    that rides the page scan — no Python stage, no join; the only
    shuffle is the final (src_host, dst_host) hash aggregation, which
    map-side combines to at most |hosts|^2 rows per task regardless of
    page count. Self-links (intra-site navigation) are kept — dropping
    them is the PageRank caller's choice, not the graph builder's.

    Only absolute http(s) targets enter the graph: relative hrefs
    (``/about``) and non-web schemes (``mailto:``) have no meaningful
    host of their own, and mapping them through ``url_host`` would
    collapse every intra-site relative link into one bogus
    empty-string host. Resolving relative hrefs against the page URL
    is a separate (base-href-aware) operator concern.
    """
    from ..functions.web import url_scheme

    links = pages.select(
        url_host(F.col(url_col)).alias("src_host"),
        F.explode(extract_links(F.col(html_col))).alias("link"),
    )
    return (
        links.filter(url_scheme(F.col("link")).isin("http", "https"))
        .select("src_host", url_host(F.col("link")).alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def crawl_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "canonical_url",
    digest_col: str = "digest",
) -> DataFrame:
    """Diff two crawl snapshots keyed by canonical URL: ``added``
    (key only in new), ``removed`` (only in old), ``changed`` (both,
    digest differs), ``unchanged``. Digests are coalesced to '' so the
    output carries no nullable strings (nullable strings break
    multiset-sorting comparators downstream — repo convention from the
    full-outer-join queries).

    Callers must pass snapshots already unique per key (one row per
    canonical URL); the full outer join then stays 1:1.

    Scale posture: ONE full outer sort-merge join on the canonical-URL
    key — both sides hash-partition on the same key, no broadcast of
    unbounded snapshots, and with both snapshots bucketed by key on
    disk the shuffle amortizes away across daily runs. The status
    column is a narrow post-join projection.
    """
    o = old.select(
        F.col(key_col).alias("k"), F.col(digest_col).alias("old_digest")
    )
    n = new.select(
        F.col(key_col).alias("k"), F.col(digest_col).alias("new_digest")
    )
    joined = o.join(n, "k", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.col("k").alias(key_col),
        status.alias("status"),
        F.coalesce("old_digest", F.lit("")).alias("old_digest"),
        F.coalesce("new_digest", F.lit("")).alias("new_digest"),
    )


def resolve_redirects(
    urls: DataFrame,
    redirects: DataFrame,
    url_col: str = "url",
    src_col: str = "src_url",
    dst_col: str = "dst_url",
    max_hops: int = 5,
    metrics: "dict | None" = None,
) -> DataFrame:
    """Follow each URL through a redirect map for up to ``max_hops``
    hops (the crawler giveup bound — production fetchers cap redirect
    chains at ~5) and return ``(url, final_url, hops)``. A URL with no
    redirect resolves to itself at 0 hops; a chain longer than the cap
    (or a loop) stops AT the cap with whatever it reached — the
    deterministic, replayable contract an external oracle can mirror
    with a bounded recursive walk.

    Scale posture: ``max_hops`` static rounds of a left join keyed on
    the current URL — the frontier stays |urls| rows, each round one
    keyed shuffle (or a broadcast when Catalyst sees a dim-sized
    redirect map), localCheckpointed so the plan never nests. No
    driver state; redirect maps are ~1% of the crawl, so the join's
    build side is small in practice.
    """
    cur = urls.select(
        F.col(url_col).alias("url"),
        F.col(url_col).alias("final_url"),
        F.lit(0).alias("hops"),
        F.lit(False).alias("done"),
    )
    # one destination per source, deterministically (min dst): merged
    # crawl logs carry duplicate/conflicting redirect rows, and a
    # multi-valued source would FAN OUT the per-hop left join (up to
    # 2^max_hops rows per URL) instead of resolving it
    r = (
        redirects.select(
            F.col(src_col).alias("_r_src"), F.col(dst_col).alias("_r_dst")
        )
        .groupBy("_r_src")
        .agg(F.min("_r_dst").alias("_r_dst"))
    )
    for _ in range(max_hops):
        cur = (
            cur.join(r, cur.final_url == r._r_src, "left")
            .select(
                "url",
                F.coalesce(
                    F.when(~F.col("done"), F.col("_r_dst")), F.col("final_url")
                ).alias("final_url"),
                F.when(
                    ~F.col("done") & F.col("_r_dst").isNotNull(),
                    F.col("hops") + 1,
                )
                .otherwise(F.col("hops"))
                .alias("hops"),
                (F.col("done") | F.col("_r_dst").isNull()).alias("done"),
            )
            .localCheckpoint(eager=True)
        )
    if metrics is not None:
        metrics["redirect_max_hops"] = max_hops
    return cur.select("url", "final_url", "hops")


def anchor_text_signals(
    pages: DataFrame,
    html_col: str = "html",
) -> DataFrame:
    """Anchor-text aggregation per link target — the classic KG
    surface-form signal (the text OTHER pages use to link to a URL
    names the entity behind it better than the page itself does; it is
    the signal gazetteer builders mine from a crawl). Returns
    ``(target_url, top_anchor, n_anchors, n_distinct_anchors)`` with
    ``top_anchor`` = most frequent anchor text for that canonical
    target (ties broken by smallest text — deterministic, oracle-
    replayable via QUALIFY).

    Scale posture: tag extraction + href/text pulls + URL
    canonicalization ride the page scan JVM-side; then ONE
    (target, text) count agg (map-side combine collapses the link
    fan-out inside each task) and one per-target top-1 window that
    reuses the agg's hash partitioning on the target key prefix.
    """
    from ..functions.web import extract_anchors, normalize_url, url_scheme

    anchors = (
        pages.select(
            F.explode(extract_anchors(F.col(html_col))).alias("tag")
        )
        .select(
            F.regexp_extract(F.col("tag"), r'<a href="([^"]*)"', 1).alias(
                "raw"
            ),
            F.regexp_extract(F.col("tag"), r'>([^<]*)</a>', 1).alias(
                "anchor"
            ),
        )
        # absolute http(s) targets only — same contract as
        # host_link_graph; a relative href would canonicalize to a
        # garbage ':///...' key
        .filter(url_scheme(F.col("raw")).isin("http", "https"))
        .select(
            normalize_url(F.col("raw")).alias("target_url"), "anchor"
        )
    )
    counts = anchors.groupBy("target_url", "anchor").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("target_url").orderBy(
        F.col("cnt").desc(), F.col("anchor").asc()
    )
    totals = Window.partitionBy("target_url")
    return (
        counts.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_anchors", F.sum("cnt").over(totals))
        .withColumn("n_distinct_anchors", F.count(F.lit(1)).over(totals))
        .filter(F.col("_rn") == 1)
        .select(
            "target_url",
            F.col("anchor").alias("top_anchor"),
            F.col("n_anchors").cast("long").alias("n_anchors"),
            F.col("n_distinct_anchors").cast("long").alias(
                "n_distinct_anchors"
            ),
        )
    )
