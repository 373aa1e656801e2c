"""Host-graph analytics: link extraction, host-graph construction,
and distributed PageRank — the domain-quality signal the Common-Crawl
ecosystem publishes as its host-level ranking (Page et al. 1999;
cc-net/RefinedWeb use crawl-graph centrality as a curation prior).

Scale shape: PageRank is the canonical iterative Spark workload. Each
iteration is one equi-join (ranks ⋈ edges on src) and one hash
aggregation (contributions by dst) — keyed shuffles over node ids,
never over URLs or text. Edges are degree-annotated ONCE and
persisted; ranks are ``localCheckpoint``ed every iteration so the
plan never grows with the iteration count (the classic iterative-
Spark failure mode). The convergence delta and the NEXT iteration's
dangling mass come from one combined aggregate over the materialized
ranks — two driver jobs per iteration total. On a cluster, bucket the
edge table by ``src`` to make the per-iteration join exchange-free on
the big side, and swap ``localCheckpoint`` for ``checkpoint``.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, functions as F


# href="..." / href='...' targets; fragment-only links (#...) excluded
_HREF_RE = r"""(?i)href\s*=\s*["']([^"'#\s][^"']*)["']"""


def extract_links(col: Column | str) -> Column:
    """Array of href targets in an HTML document — a pure JVM
    ``regexp_extract_all`` (no parser, no Python): matches
    ``href="..."``/``href='...'`` and keeps the raw target string.
    Fragment-only links (``#...``) are excluded by the pattern."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(_HREF_RE), 1)


def host_edges(
    df: DataFrame,
    url_col: str = "url",
    html_col: str = "text",
    keep_self: bool = False,
) -> DataFrame:
    """Build the host graph from crawled pages: one ``(src, dst,
    weight)`` row per linking host pair, where ``src`` is the page's
    host and ``dst`` each distinct absolute-http(s) link target host.
    Relative links (no host) are intra-site navigation and are
    dropped, as are self-edges unless ``keep_self``. ``weight`` counts
    the linking PAGES (repeated anchors on one page collapse — the
    dedup the published host graphs apply).

    All JVM: link extraction and host parsing happen inside the scan;
    the only shuffle is the final (src, dst) count aggregation. The
    link-host array is one parsed SQL expression (the _litarr idiom).
    """
    from .._litarr import sql_ident, sql_str
    from .web import _url_host_sql, url_host

    raw = f"regexp_extract_all({sql_ident(html_col)}, {sql_str(_HREF_RE)}, 1)"
    links = F.expr(
        "array_distinct(filter(transform("
        f"filter({raw}, u -> lower(u) rlike '^https?://'),"
        f" u -> {_url_host_sql('u')}),"
        " h -> h IS NOT NULL AND h != ''))"
    )
    out = (
        df.select(
            url_host(url_col).alias("src"), F.explode(links).alias("dst")
        )
        .filter(F.col("src").isNotNull())
    )
    if not keep_self:
        out = out.filter(F.col("src") != F.col("dst"))
    return out.groupBy("src", "dst").agg(F.count("*").alias("weight"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
) -> DataFrame:
    """Distributed PageRank over an edge list; returns ``(node,
    rank)`` with ranks summing to 1. Standard damped formulation with
    dangling-mass redistribution (a node with no out-edges donates its
    rank uniformly next step), weighted out-links when ``weight`` is
    given.

    Stops early when the L1 rank delta drops below ``tol``. Per
    iteration: the contribution join+aggregation materializes the new
    ranks (one job, via ``localCheckpoint``), then ONE combined
    aggregate over new-vs-old ranks yields both the delta and the next
    iteration's dangling mass — no third pass. The node set is the
    union of sources and destinations, fixed and flagged up front.
    """
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), w.alias("_w")
    )
    deg = e.groupBy("_src").agg(F.sum("_w").alias("_deg"))
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
        .join(deg, F.col("node") == deg["_src"], "left")
        .select(
            "node", F.col("_deg").isNull().alias("_dang")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))

    # out-strength folded into the edges once: the per-iteration join
    # carries (src, dst, share) only
    shares = (
        e.join(deg, "_src")
        .select("_src", "_dst", (F.col("_w") / F.col("_deg")).alias("_share"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    base = (1.0 - damping) / n
    # dangling mass under the uniform start: (#dangling)/n — a driver
    # computation off the already-counted node set
    dangling_mass = (
        nodes.filter("_dang").count() / n
    )
    for _ in range(max_iter):
        contrib = (
            shares.join(ranks, shares["_src"] == ranks["node"])
            .groupBy("_dst")
            .agg(F.sum(F.col("rank") * F.col("_share")).alias("_in"))
        )
        dangle = damping * dangling_mass / n
        new = (
            nodes.join(contrib, nodes["node"] == contrib["_dst"], "left")
            .select(
                "node",
                (
                    F.lit(base + dangle)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
                "_dang",
            )
            .localCheckpoint(eager=True)
        )
        stats = (
            new.join(
                ranks.select("node", F.col("rank").alias("_old")), "node"
            )
            .agg(
                F.sum(F.abs(F.col("rank") - F.col("_old"))).alias("delta"),
                F.sum(F.when(F.col("_dang"), F.col("rank"))).alias("dmass"),
            )
            .first()
        )
        ranks = new.select("node", "rank")
        dangling_mass = stats["dmass"] or 0.0
        if stats["delta"] is not None and stats["delta"] < tol:
            break
    shares.unpersist()
    nodes.unpersist()
    return ranks
