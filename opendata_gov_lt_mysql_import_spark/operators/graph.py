"""Iterative graph algorithms as DataFrame message passing.

PageRank here is the join+agg idiom at K iterations: a static
edge+out-degree table (computed once, persisted, reused every round)
joined to the current rank vector, contributions summed receiver-side,
teleport mass re-added. Per-round ``localCheckpoint`` truncates the
lineage so round K's plan does not re-embed rounds 1..K-1 — the same
discipline as operators/dedup.py's connected-components loop.

Scale: each iteration is two shuffles (rank join on src, contribution
agg on dst) over the edge stream; the rank vector is node-sized. Skewed
high-in-degree nodes partial-aggregate map-side. The reference has no
graph surface (odgovlt.py is a row-at-a-time harvester); this is part
of the beyond-reference training-data/analytics surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.storagelevel import StorageLevel

from ..sources.local import local_frame


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 5,
    damping: float = 0.85,
    undirected: bool = False,
) -> DataFrame:
    """K iterations of PageRank over ``edges``; returns (node, rank).

    Simplified (no dangling-mass redistribution): nodes without
    out-edges absorb rank. With ``undirected=True`` every edge is
    mirrored, so no node dangles and total rank mass is conserved at
    exactly N (the fixed point of T' = (1-d)·N + d·T) — the invariant
    tests/test_graph.py pins. Ranks start at 1.0 per node.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if undirected:
        e = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # the loop-invariant side: edges + sender out-degree, materialized
    # once and reused by every iteration's join
    ed = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = (
        e.select("src")
        .union(e.select(F.col("dst").alias("src")))
        .distinct()
        .select(F.col("src").alias("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    try:
        for _ in range(k):
            contrib = ed.join(
                ranks, ed["src"] == ranks["node"]
            ).select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            inflow = contrib.groupBy("node").agg(
                (
                    F.lit(1.0 - damping) + F.lit(damping) * F.sum("c")
                ).alias("rank")
            )
            # nodes with no in-edges keep only teleport mass
            ranks = (
                nodes.join(inflow, "node", "left")
                .select(
                    "node",
                    F.coalesce("rank", F.lit(1.0 - damping)).alias("rank"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        ed.unpersist()
        nodes.unpersist()
    return ranks


def pagerank_fixed_point(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    k: int = 5,
    scale: int = 10**12,
    undirected: bool = False,
) -> DataFrame:
    """K PageRank iterations in FIXED-POINT integer arithmetic; returns
    (node, rank_fp) with ranks in units of 1/``scale``.

    Same message-passing loop as :func:`pagerank`, but every quantity is
    a BIGINT: rank0 = scale, per-edge contribution = rank DIV out-degree,
    update = (15*scale) DIV 100 + (85 * inflow) DIV 100 (damping 0.85 as
    exact integer ratios). Integral division truncates identically on
    every engine, and integer sums are summation-order-free — so K
    chained iterations are BIT-IDENTICAL across Spark and any ANSI SQL
    engine, which upgrades the K-round query from rows-only to fully
    oracle-checked (the float twin's per-round sums reorder across
    partitions and flip low decimals). Quantization: each DIV truncates
    < 1 unit (1e-12), so total mass drifts DOWN by at most
    edges+nodes units per round — deterministic, and immaterial next to
    the float twin's nondeterminism. Overflow headroom: rank <= N*scale;
    85*inflow <= 85*N*scale needs N*scale < 1.08e17, i.e. ~1e5 nodes at
    scale=1e12 — drop scale one decade per 10x nodes beyond that. The
    headroom is ASSERTED at runtime (round-6 advisory): Spark's
    non-ANSI BIGINT would silently wrap past it while a HUGEINT-
    promoting oracle would not, so the divergence must be an error, not
    a confusing hash mismatch. The node count is a one-row aggregate
    over the already-persisted node set — bounded setup, not data
    motion."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    if undirected:
        e = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    # mirrored or not, receivers without out-edges still need rank rows:
    nodes = (
        e.select("src")
        .union(e.select(F.col("dst").alias("src")))
        .distinct()
        .select(F.col("src").alias("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # worst case inside one update: 85 * inflow, inflow <= N * scale
    # (total mass only shrinks under truncating DIV). Require it to fit
    # BIGINT with the same margin the docstring promises.
    n_nodes = nodes.count()
    if 85 * n_nodes * scale >= 2**63:
        raise ValueError(
            f"fixed-point overflow: {n_nodes} nodes at scale={scale} "
            f"needs 85*N*scale < 2^63; lower scale to "
            f"<= {2**63 // (85 * n_nodes)} (one decade per 10x nodes)"
        )
    teleport = 15 * scale // 100
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank_fp"))
    try:
        for _ in range(k):
            contrib = ed.join(
                ranks, ed["src"] == ranks["node"]
            ).select(
                F.col("dst").alias("node"),
                F.expr("rank_fp DIV deg").alias("c"),
            )
            inflow = contrib.groupBy("node").agg(F.sum("c").alias("infl"))
            ranks = (
                nodes.join(inflow, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(teleport)
                        + F.expr("(85 * coalesce(infl, 0)) DIV 100")
                    ).cast("long").alias("rank_fp"),
                )
                .localCheckpoint(eager=True)
            )
    finally:
        ed.unpersist()
        nodes.unpersist()
    return ranks


def _oriented_edges(edges: DataFrame, src: str, dst: str):
    """(degrees, oriented) for the canonical undirected edge set of
    ``edges``: self-loops dropped, (u,v)/(v,u)/dups collapsed to u<v,
    then each edge oriented lower→higher under the (degree, id) total
    order. Both frames are eagerly localCheckpointed — each is consumed
    by multiple downstream subtrees in every caller, and under AQE a
    lazy handle re-runs the (often pair-exploding) upstream lineage per
    consumer."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") < F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        # three consumers (du, dv, callers' n_nodes count) — without the
        # pin each re-runs the union+groupBy from e (round-9 review:
        # the docstring claimed this and the code didn't do it)
        .localCheckpoint(eager=True)
    )
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v"))
    ej = e.join(du, "u").join(dv, "v")
    lo = F.struct(F.col("deg_u").alias("dk"), F.col("u").alias("nk"))
    hi = F.struct(F.col("deg_v").alias("dk"), F.col("v").alias("nk"))
    oriented = ej.select(
        F.when(lo < hi, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(lo < hi, F.col("v")).otherwise(F.col("u")).alias("d"),
        F.when(lo < hi, hi).otherwise(lo).alias("dkey"),
    ).localCheckpoint(eager=True)
    return deg, oriented


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Exact global triangle count via degree orientation (the
    node-iterator++ / "compact-forward" algorithm, Latapy 2008; the
    MapReduce formulation is Suri & Vassilvitskii 2011's graph
    partitioning paper's baseline). Returns ONE row
    (n_nodes, n_edges, n_triangles), all BIGINT.

    Input edges are canonicalized undirected (self-loops dropped,
    (u,v)/(v,u)/duplicates collapsed to u<v), then ORIENTED from the
    lower to the higher endpoint under the total order (degree, id).
    Every triangle a≺b≺c then appears exactly once as the wedge
    b←a→c closed by oriented edge (b,c), so the count is
    |wedges ⋉ oriented-edges|.

    Why orientation matters at 100 TB: wedge generation is
    sum_v C(outdeg(v), 2), and orienting by degree bounds every
    out-degree by O(sqrt(m)) — a star node of degree d contributes d
    wedges as a LEAF instead of C(d,2) as a hub, so the skewed-key
    blowup of the naive neighbor self-join never materializes. The
    plan is: one shuffle to canonicalize, a degree agg (map-side
    partial), the wedge self-join on the oriented source, and a
    LEFT SEMI hash join against the oriented edge set.

    The canonical edge set and the oriented edge set are each consumed
    by MULTIPLE downstream subtrees (degrees + orientation + counts;
    both wedge sides + the closing probe), so both are EAGERLY
    localCheckpointed — a lazy persist would let the concurrent stages
    of the first consuming job race the cache and re-run the upstream
    canonicalization (often a pair-generating explosion like the
    co-purchase builder) several times over (the repo's AQE hazard).
    The three output scalars are then drained as bounded-by-
    construction single-value counts and returned as a literal row.
    """
    spark = edges.sparkSession
    deg, oriented = _oriented_edges(edges, src, dst)
    w1 = oriented.select(
        F.col("s"), F.col("d").alias("b"), F.col("dkey").alias("bk")
    )
    w2 = oriented.select(
        F.col("s"), F.col("d").alias("c"), F.col("dkey").alias("ck")
    )
    wedges = (
        w1.join(w2, "s").where(F.col("bk") < F.col("ck")).select("b", "c")
    )
    closed = wedges.join(
        oriented.select(F.col("s").alias("b"), F.col("d").alias("c")),
        ["b", "c"],
        "left_semi",
    )
    n_nodes = deg.count()
    n_edges = oriented.count()  # oriented rows == canonical edges
    n_triangles = closed.count()
    return local_frame(
        spark,
        [(n_nodes, n_edges, n_triangles)],
        "n_nodes long, n_edges long, n_triangles long",
    )
