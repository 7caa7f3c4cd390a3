"""Graph analytics over derived document graphs — the iterative link-
analysis family a curation pipeline runs AFTER pair finding: PageRank
centrality over the near-dup similarity graph (pick the most-central
representative, weight diversity-aware sampling) or over any edge list
(citation/link graphs at web scale).

Spark-first shape (per iteration, exactly like the classic Pregel
formulation lowered to DataFrame ops):

- ``contrib``: edges ⋈ ranks equi-join on the source node (ranks is a
  slim (node BIGINT/str, pr int64) relation) → groupBy(dst) integer sum.
  The sum is map-side combinable, so a celebrity node with 10⁹ in-edges
  partial-aggregates before the shuffle — no hot-key blowup.
- ``dangling``: one slim aggregate over rank rows without out-edges,
  attached back as a 1-row constant (broadcast of a single row — the
  whitelisted constant-attach pattern, a map in disguise).
- lineage is cut per round with ``cache.checkpoint`` (the connected-
  components pattern) so the plan does not double per iteration.

Integer exactness contract (the repo-wide oracle discipline): ranks are
int64 "pico-mass" units (total mass = ``scale``), every step is integer
add / multiply / truncating DIV — Spark ``DIV`` ≡ DuckDB ``//`` ≡ C
truncation — so any engine replaying the same edge list reproduces every
rank bit-for-bit, independent of partitioning or arrival order.

Update rule per iteration (all integer ops, evaluation order pinned):

    base      = scale DIV n
    contrib_u = pr_u DIV outdeg_u                 (per out-edge)
    recv_v    = Σ contrib_u over in-edges of v    (exact int64 sum)
    dang      = Σ pr_u over nodes with outdeg 0
    pr'_v     = (15·base) DIV 100 + (85·(recv_v + dang DIV n)) DIV 100

(The damping split 15/85 over DIV 100 is the α=0.85 standard; DIV
truncation leaks a few pico-units of mass per round — deterministically,
identically in every engine.)

Reference parity note: the reference engine (PaddleOCR-json) has no graph
operator; this is part of the beyond-reference training-data-pipeline
surface (SURVEY.md §6) next to connected components (dedup.py), which
shares the same per-round join+checkpoint skeleton.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ppocr_spark import cache

#: total rank mass in integer units (per-node ranks ≈ scale/n). 10^12
#: keeps per-node ranks ≥ 10^3 units out to 10^9-node graphs, and every
#: intermediate (85 · Σ contrib ≤ 85 · scale) well inside int64.
PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 3,
    scale: int = PAGERANK_SCALE,
    src_col: str = "u",
    dst_col: str = "v",
    node_col: str = "node",
) -> DataFrame:
    """Integer-exact PageRank over a DIRECTED edge list.

    ``edges``: (src, dst) rows — symmetrize upstream for an undirected
    graph. ``nodes``: one row per node (isolated nodes allowed; they
    become dangling mass). Returns (node, pr) with ``pr`` in integer
    mass units summing to ≈ ``scale`` (truncation leaks a bounded,
    deterministic number of units per round).

    Every per-round relation is slim (node + one int64); document
    payloads never enter the loop. ``iters`` is fixed and small (3 by
    default — near-dup components are near-cliques, so ranks separate
    by then); no convergence collect beyond the localCheckpoint cut.
    """
    e = cache.track(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    )
    nd = nodes.select(F.col(node_col).alias("node"))
    deg = cache.track(e.groupBy("u").agg(F.count("*").alias("deg")))
    n1 = nd.agg(F.count("*").alias("n"))  # 1-row constant attach
    ranks = cache.checkpoint(
        nd.crossJoin(n1).select("node", F.expr(f"{scale} DIV n").alias("pr"))
    )
    for _ in range(iters):
        dang = (
            ranks.join(deg.withColumnRenamed("u", "node"), "node",
                       "left_anti")
            .agg(F.coalesce(F.sum("pr"), F.lit(0)).alias("dang"))
        )
        contrib = (
            e.join(deg, "u")
            .join(ranks.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum(F.expr("pr DIV deg")).alias("recv"))
        )
        ranks = cache.checkpoint(
            nd.crossJoin(n1)
            .crossJoin(dang)
            .join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"(15 * ({scale} DIV n)) DIV 100"
                    " + (85 * (coalesce(recv, 0) + dang DIV n)) DIV 100"
                ).alias("pr"),
            ),
            supersedes=ranks,
        )
    return ranks


def triangle_stats(
    pairs: DataFrame,
    nodes: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    node_col: str = "node",
) -> DataFrame:
    """Per-node triangle counts + clustering coefficient over an
    UNDIRECTED pair list (a < b, distinct) — the cohesion diagnostic of
    a near-dup graph: high clustering = tight duplicate cliques (safe to
    keep one), low clustering = chains of borderline matches (policy
    risk — transitive dedup may over-delete).

    Scale shape is the degree-ordered ORIENTATION formulation (the
    standard O(m^1.5) bound): each undirected edge is directed from the
    (degree, id)-lesser endpoint to the greater, which caps every
    node's out-degree at O(√m) — so the wedge self-join on the source
    node cannot blow up on a celebrity node the way a naive
    neighbor-list join would. Wedges (two out-edges of one node,
    ordered by the same total order) close into triangles via one
    equi-join back onto the oriented edge list; every triangle is
    counted exactly once, at its order-lowest vertex. All joins are
    hash equi-joins on node ids; per-node counts come from a 3-way
    explode + map-side-combined sum.

    Returns (node, degree, triangles, clustering_ppm) for EVERY input
    node — clustering_ppm = (2·10⁶·triangles) DIV (deg·(deg−1)), the
    integer-ppm local clustering coefficient (0 when deg < 2).
    """
    p = pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    e = p.union(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = cache.track(
        e.groupBy(F.col("a").alias("node")).agg(F.count("*").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = cache.track(
        p.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
        )
    )
    o1 = orient.select("s", F.col("t").alias("x"))
    o2 = orient.select("s", F.col("t").alias("y"))
    dx = deg.select(F.col("node").alias("x"), F.col("deg").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("deg").alias("dy"))
    wedges = (
        o1.join(o2, "s")
        .join(dx, "x")
        .join(dy, "y")
        .filter(
            (F.col("dx") < F.col("dy"))
            | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
        )
        .select("s", "x", "y")
    )
    tri = wedges.join(
        orient.select(F.col("s").alias("x"), F.col("t").alias("y")),
        ["x", "y"],
    )
    per_node = (
        tri.select(F.explode(F.array("s", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        nodes.select(F.col(node_col).alias("node"))
        .join(deg, "node", "left")
        .join(per_node, "node", "left")
        .select(
            "node",
            F.coalesce("deg", F.lit(0)).alias("degree"),
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.expr(
                "CASE WHEN coalesce(deg, 0) >= 2 THEN"
                " (2000000 * coalesce(triangles, 0))"
                " DIV (deg * (deg - 1)) ELSE 0 END"
            ).alias("clustering_ppm"),
        )
    )


def label_propagation(
    edges: DataFrame,
    nodes: DataFrame,
    iters: int = 2,
    src_col: str = "u",
    dst_col: str = "v",
    node_col: str = "node",
) -> DataFrame:
    """Deterministic semi-synchronous LABEL PROPAGATION communities
    (Raghavan et al. 2007) over an undirected edge list (pass both
    directions) — the soft-clustering companion to the exact
    ``dedup.connected_components``: where CC fuses everything
    reachable, LPA keeps weakly-bridged groups apart (two near-dup
    cliques sharing one accidental LSH edge stay two communities),
    which is what a diversity-aware keep policy wants.

    Determinism (the usual LPA coin-flips removed): labels start as
    the node id; each round EVERY node simultaneously takes the most
    frequent label among its neighbors from the PREVIOUS round's
    labels, ties to the LOWEST label (one ``min(struct(-cnt, lab))``
    aggregate — the ``source_quality_report`` argmax trick, no
    per-node window); isolated nodes keep their own label. ``iters``
    is fixed and small so the DuckDB oracle can unroll it.

    Scale: per round ONE equi-join of the slim (node, label) relation
    onto the edge list + one (node, label) groupBy with map-side
    combine — int64 pairs only, payloads never enter;
    ``cache.checkpoint`` cuts lineage per round (the ``pagerank``
    pattern). Returns (node, community)."""
    e = cache.track(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    )
    labels = cache.checkpoint(
        nodes.select(F.col(node_col).alias("node"))
        .withColumn("lab", F.col("node"))
    )
    for _ in range(int(iters)):
        votes = (
            e.join(labels.withColumnRenamed("node", "u"), "u")
            .groupBy(F.col("v").alias("node"), "lab")
            .agg(F.count("*").alias("cnt"))
            .groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("lab"))
                ).alias("__best")
            )
            .select("node", F.col("__best.lab").alias("new_lab"))
        )
        labels = cache.checkpoint(
            labels.join(votes, "node", "left").select(
                "node",
                F.coalesce(F.col("new_lab"), F.col("lab")).alias("lab"),
            ),
            supersedes=labels,
        )
    return labels.select("node", F.col("lab").alias("community"))
