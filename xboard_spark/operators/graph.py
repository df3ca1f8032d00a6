"""Graph centrality over derived relationship graphs — here: weighted
PageRank on the part co-purchase graph (edges = ``basket_pairs`` without
the top-N cut). Connected components live in ``dedup.min_label_components``;
this adds the IMPORTANCE side of graph analytics: which items sit at the
center of purchasing behavior (the item-graph ranking signal behind
related-items / "customers also bought" surfaces — Linden et al. 2003 —
and, for crawl-style corpora, the PageRank/harmonic-centrality quality
weighting used in web-data curation).

Scale design: every step is a keyed hash aggregate or equi-join on node
id — score frames are one row per node, edge frames one row per edge;
nothing ever materializes a matrix. Iterations are UNROLLED (fixed count)
so the operator stays one declarative, oracle-comparable query; a
convergence-driven run at 100 TB is the same join-aggregate loop with
lineage truncation per round (see ``dedup.min_label_components`` for why,
and GraphX/Pregel for the canonical form).

Cross-engine float discipline: per-iteration contribution sums associate
differently across engines (~1e-16 relative); ranks are therefore ORDERED
BY THE 6dp-ROUNDED score (ties then by node id) so both engines rank
identical keys — the same discipline as the cosine rankings in
``similarity``."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xboard_spark.operators.text import cooccurrence_pairs, token_stream
from xboard_spark.cache import BoundedFrameCache

DAMPING = 0.85

# lineitem semanticHash -> materialized (src, dst, frac) edge-fraction
# frame. The co-purchase graph is an index-like artifact (built once,
# consumed by every centrality call); same cache contract as
# dedup._PAIRS_CACHE, released by xboard_spark.clear_index_caches().
_EDGE_CACHE = BoundedFrameCache("graph.edges")
# lineitem semanticHash -> persisted raw undirected edge list. Shared by
# part_pagerank (via the directed cache above), part_degree_profile, and
# copurchase_triangles — the basket self-join is the expensive part of all
# three and need only run once per corpus per session.
_RAW_EDGE_CACHE = BoundedFrameCache("graph.raw_edges")
# lineitem semanticHash -> persisted degree-ORIENTED edge list (src, dst)
# for the triangle census: a deterministic artifact of the raw edge
# cache (orientation by (degree, id)), consumed twice per call (adjacency
# build + edge probe). It was a per-call eager localCheckpoint, which
# re-materialized the same 2-long rows on EVERY call — 1.4-1.8 s of each
# warm copurchase_triangles at sf0.1 (1.2M edges); the keyed persist
# pays once per corpus like the edge cache it derives from.
_ORIENTED_CACHE = BoundedFrameCache("graph.oriented")
# (documents semanticHash, window, min_count) -> materialized TextRank
# term-co-occurrence (src, dst, frac) frame. keyword_pagerank rebuilt the
# whole tokenize -> bounded-window pair join -> weight/out-weight graph on
# EVERY call (the only graph operator without the r4 graph-cache
# contract); the graph, not the 2-iteration PageRank over it, is the
# expensive artifact.
_KW_GRAPH_CACHE = BoundedFrameCache("graph.keyword_graph")


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected weighted edge list (part_a < part_b, n_orders) — the
    full basket_pairs set without the top-N cut. Persisted + shared
    across the graph operators (see _RAW_EDGE_CACHE)."""
    def build():
        op = lineitem.select("l_orderkey", "l_partkey").distinct()
        a = op.alias("a")
        b = op.alias("b")
        return (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .select(
                F.col("a.l_partkey").alias("part_a"),
                F.col("b.l_partkey").alias("part_b"),
            )
            .groupBy("part_a", "part_b")
            .agg(F.count("*").alias("w"))
            .persist()
        )

    return _RAW_EDGE_CACHE.memo(lineitem, (), build)


def part_pagerank(
    lineitem: DataFrame, n_iters: int = 2, top: int = 20
) -> DataFrame:
    """Weighted PageRank over the co-purchase graph, ``n_iters`` unrolled
    Lloyd-style rounds from the uniform vector; returns the top ``top``
    parts by 6dp-rounded score."""
    def build():
        edges = copurchase_edges(lineitem)
        # directed both ways: src -> dst with the edge weight
        directed = edges.select(
            F.col("part_a").alias("src"), F.col("part_b").alias("dst"), "w"
        ).unionByName(
            edges.select(
                F.col("part_b").alias("src"),
                F.col("part_a").alias("dst"),
                "w",
            )
        )
        out_w = directed.groupBy("src").agg(F.sum("w").alias("out_w"))
        # Loop-invariant lineage truncation (see
        # dedup.min_label_components): without it every iteration — and
        # every other reference — re-embeds the basket self-join in the
        # unrolled plan. Measured at sf0.1: the 1.2M-edge materialization
        # itself is ~2.5s and dominates either way (5.7s -> 4.9s), but
        # the gap grows linearly with n_iters; at cluster scale use
        # checkpoint() against reliable storage. Cached across calls
        # because the graph, not any one query over it, is the expensive
        # artifact.
        return directed.join(out_w, "src").select(
            "src", "dst", (F.col("w") / F.col("out_w")).alias("frac")
        ).localCheckpoint(eager=True)

    return _pagerank(_EDGE_CACHE.memo(lineitem, (), build), n_iters, top)


def _pagerank(weighted: DataFrame, n_iters: int, top: int) -> DataFrame:
    """Shared PageRank core over a materialized (src, dst, frac) frame
    (frac = edge weight / source out-weight). Identical arithmetic for
    every caller so all the oracle twins share one expression tree."""
    nodes = weighted.select(F.col("src").alias("node")).distinct()
    n_nodes = nodes.agg(F.count("*").alias("n"))
    # uniform init; every node has out_w > 0 by construction (it appears
    # in at least one edge), so there is no dangling-mass term
    pr = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(n_iters):
        contrib = (
            weighted.join(pr, weighted.src == pr.node)
            .select("dst", (F.col("pr") * F.col("frac")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        pr = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    F.lit(1.0 - DAMPING) / F.col("n")
                    + F.lit(DAMPING) * F.coalesce("in_sum", F.lit(0.0))
                ).alias("pr"),
            )
        )
    return (
        pr.select("node", F.round("pr", 6).alias("pagerank"))
        .orderBy(F.desc("pagerank"), "node")
        .limit(top)
    )


def keyword_pagerank(
    documents: DataFrame,
    window: int = 3,
    min_count: int = 5,
    n_iters: int = 2,
    top: int = 20,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    the term co-occurrence graph — terms are nodes, terms appearing
    within ``window`` tokens of each other share an edge weighted by
    co-occurrence count. The classic unsupervised keyword/keyphrase
    signal a corpus-curation pass uses for topical indexing, and the
    graph twin of ``text.term_cooccurrence``'s PMI view of the same
    pair stream.

    Scale shape: pair generation reuses term_cooccurrence's bounded
    fan-out (``text.cooccurrence_pairs``, O(tokens * window) — never
    a within-document quadratic); ``min_count`` prunes the long tail of
    rare edges so the iterated graph is the frequent-term core. Edge
    weights are canonicalized least/greatest-first BEFORE symmetrizing
    so (a-before-b) and (b-before-a) occurrences combine into one
    undirected weight. The PageRank core is shared with
    ``part_pagerank`` (identical arithmetic, same oracle discipline)."""
    def build():
        pairs = cooccurrence_pairs(token_stream(documents), window).filter(
            F.col("w_a") != F.col("w_b")
        )
        und = (
            pairs.groupBy(
                F.least("w_a", "w_b").alias("wa"),
                F.greatest("w_a", "w_b").alias("wb"),
            )
            .agg(F.count("*").alias("w"))
            .filter(F.col("w") >= min_count)
        )
        directed = und.select(
            F.col("wa").alias("src"), F.col("wb").alias("dst"), "w"
        ).unionByName(
            und.select(F.col("wb").alias("src"), F.col("wa").alias("dst"), "w")
        )
        out_w = directed.groupBy("src").agg(F.sum("w").alias("out_w"))
        return directed.join(out_w, "src").select(
            "src", "dst", (F.col("w") / F.col("out_w")).alias("frac")
        ).localCheckpoint(eager=True)

    weighted = _KW_GRAPH_CACHE.memo(documents, (window, min_count), build)
    return _pagerank(weighted, n_iters, top).withColumnRenamed("node", "term")


def part_degree_profile(lineitem: DataFrame) -> DataFrame:
    """Degree distribution of the co-purchase graph: for each degree value
    (number of distinct co-purchased partners), how many parts have it —
    the first thing to look at before running graph algorithms at scale
    (a heavy-tailed degree histogram predicts both PageRank skew and
    pair-join hot keys).

    Scale shape: reuses the basket edge list (already bounded by per-order
    basket size); degrees are one hash agg keyed on part, the histogram a
    second tiny agg keyed on degree."""
    edges = copurchase_edges(lineitem)
    deg = (
        edges.select(F.col("part_a").alias("part"))
        .unionAll(edges.select(F.col("part_b").alias("part")))
        .groupBy("part")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count("*").alias("n_parts"))
        .select(F.col("degree").cast("long").alias("degree"), "n_parts")
        .orderBy("degree")
    )


def copurchase_triangles(lineitem: DataFrame) -> DataFrame:
    """Triangle census of the co-purchase graph: edge/wedge/triangle
    counts and the global clustering coefficient (3T/W) — the cohesion
    panel that says whether baskets form communities or hub-and-spoke
    stars.

    Scale shape — this is the DEGREE-ORIENTED algorithm, not the naive
    3-way self-join: every edge is oriented from its lower-(degree, id)
    endpoint to the higher one (out-degree is O(sqrt(m)) under this
    orientation — Schank & Wagner 2005), and triangles are counted by
    ADJACENCY-LIST INTERSECTION: per oriented edge (u, v), the count of
    common out-neighbors |N+(u) ∩ N+(v)| — each triangle has exactly one
    node with two out-edges into it, so the sum counts every triangle
    exactly once. Total work stays O(m^1.5), but the plan shuffles only
    the edge list and the out-adjacency arrays (~m rows) instead of
    materializing every wedge candidate for a semi-join — at sf0.1 the
    candidate frame was 41M rows and dominated the runtime (measured
    5.95s -> ~2.5s end-to-end, identical census). The naive join is
    sum(deg^2) and dies on the first hub. The triangle COUNT is
    orientation-invariant, which is what the exhaustive SQL oracle
    checks."""
    e = copurchase_edges(lineitem).select("part_a", "part_b")
    both = e.select(F.col("part_a").alias("node")).unionAll(
        e.select(F.col("part_b").alias("node"))
    )
    deg = both.groupBy("node").agg(F.count("*").alias("deg"))

    def build():
        ed = (
            e.join(deg.withColumnRenamed("node", "part_a"), "part_a")
            .withColumnRenamed("deg", "deg_a")
            .join(
                deg.withColumnRenamed("node", "part_b").withColumnRenamed(
                    "deg", "deg_b"
                ),
                "part_b",
            )
        )
        fwd = (F.col("deg_a") < F.col("deg_b")) | (
            (F.col("deg_a") == F.col("deg_b"))
            & (F.col("part_a") < F.col("part_b"))
        )
        # Materialized once (keyed persist, see _ORIENTED_CACHE): the
        # adjacency build and the edge probe both consume it, and
        # without a cut point the two deg-joins above run twice
        # (measured 7.5s -> 5.6s at sf0.1 on the wedge form). The
        # earlier per-call eager localCheckpoint re-paid the
        # materialization on every call; persist makes it a session
        # artifact like the raw edge cache, lineage intact.
        return ed.select(
            F.when(fwd, F.col("part_a")).otherwise(F.col("part_b")).alias("src"),
            F.when(fwd, F.col("part_b")).otherwise(F.col("part_a")).alias("dst"),
        ).persist()

    oriented = _ORIENTED_CACHE.memo(lineitem, (), build)
    # Out-adjacency arrays are bounded by the orientation's O(sqrt(m))
    # out-degree, so no array ever holds a hub's full neighborhood.
    # array_intersect dedups, which is exact here because the canonical
    # edge list is distinct (each (src, dst) appears once).
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    probes = (
        oriented.join(adj.withColumnRenamed("src", "u"), F.col("src") == F.col("u"))
        .withColumnRenamed("nbrs", "nbrs_u")
        .drop("u")
        .join(adj.withColumnRenamed("src", "v"), F.col("dst") == F.col("v"), "left")
        .withColumnRenamed("nbrs", "nbrs_v")
    )
    n_tri = probes.agg(
        F.coalesce(
            F.sum(
                F.when(F.col("nbrs_v").isNull(), F.lit(0)).otherwise(
                    F.size(F.array_intersect("nbrs_u", "nbrs_v"))
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("n_triangles")
    )
    n_edge = e.agg(F.count("*").alias("n_edges"))
    n_wedge = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("long")
        .alias("n_wedges")
    )
    return (
        n_edge.crossJoin(n_tri)
        .crossJoin(n_wedge)
        .select(
            "n_edges",
            "n_triangles",
            "n_wedges",
            (
                F.lit(3.0)
                * F.col("n_triangles")
                / F.greatest(F.col("n_wedges"), F.lit(1))
            ).alias("clustering_coefficient"),
        )
    )
