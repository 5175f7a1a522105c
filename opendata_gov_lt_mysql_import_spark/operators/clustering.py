"""Distributed Lloyd (k-means) iterations over an embedding table.

Beyond-reference surface: the canonical iterative-refinement algorithm a
training-data pipeline runs for corpus clustering / semantic dedup
bucketing. Each iteration is the scale-correct shape:

  1. centroids (K x D floats) are collapsed into ONE row and broadcast —
     every executor assigns its vectors map-side via an ``array_min``
     argmin over (distance, label) structs; the fact table is touched
     once, there is NO (N x K) row explosion and NO fact-fact join.
  2. new centroids are a posexplode + groupBy(cluster, dim) average —
     a K x D-cell shuffle with map-side partial aggregation.

So the only data movement per iteration is K x D cells — independent of
N — which is exactly the plan that survives a 100 TB embedding table.
Driver-side work is bounded by the iteration count (one tiny K x D
collect per round); the vectors themselves are never collected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.local import local_frame


def _sqdist(vec: Column, centroid: Column) -> Column:
    """Squared euclidean distance, sequential left-to-right summation
    (deterministic — the HOF aggregate adds in array order)."""
    return F.aggregate(
        F.zip_with(vec, centroid, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pack_centroids(cent: DataFrame) -> Column:
    """Collapse a (cluster, centroid) frame into one array-of-structs
    literal row (K x D values — broadcastable by construction)."""
    return F.collect_list(
        F.struct(F.col("cluster").alias("c_label"), F.col("centroid"))
    ).alias("cents")


def assign_clusters(
    e: DataFrame, cent: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Map-side nearest-centroid assignment: adds ``cluster`` and
    ``d2`` (squared distance to it) to every row of ``e``. Ties break
    on the smaller cluster label — deterministic across engines."""
    packed = cent.agg(_pack_centroids(cent))
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                _sqdist(F.col(vec_col).cast("array<double>"), c["centroid"]).alias(
                    "d2"
                ),
                c["c_label"].alias("lbl"),
            ),
        )
    )
    return (
        e.crossJoin(F.broadcast(packed))
        .withColumn("_best", best)
        .withColumn("cluster", F.col("_best.lbl"))
        .withColumn("d2", F.col("_best.d2"))
        .drop("cents", "_best")
    )


def recompute_centroids(
    assigned: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """New centroid per cluster: posexplode + (cluster, dim) average +
    ordered re-assembly. K x D shuffle cells, map-side combined."""
    ex = assigned.select(
        "cluster", F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val")
    )
    return (
        ex.groupBy("cluster", "pos")
        .agg(F.avg("val").alias("cv"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )


def seed_centroids_from_labels(
    e: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Deterministic seeding: per-label mean vectors (the fixture's
    ``label`` column doubles as the initial partition — equivalent to a
    supervised warm start; arbitrary-k seeding would pick k rows)."""
    ex = e.select(
        F.col(label_col).alias("cluster"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    return (
        ex.groupBy("cluster", "pos")
        .agg(F.avg("val").alias("cv"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda s: s["cv"],
            ).alias("centroid")
        )
    )


def lloyd_iterate(
    e: DataFrame,
    iters: int = 1,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> tuple[DataFrame, DataFrame]:
    """Run ``iters`` Lloyd iterations from label-seeded centroids.

    Returns ``(assigned, centroids)`` — the final assignment frame
    (vec_id, ..., cluster, d2) and the refined (cluster, centroid)
    frame. Each round's centroids are localCheckpointed: they feed both
    the next assignment and (transitively) every later round, and a
    lazy persist does not protect multi-consumer intermediates under
    AQE's concurrent stage submission."""
    cent = seed_centroids_from_labels(e, vec_col, label_col)
    assigned = None
    for _ in range(iters):
        cent = cent.localCheckpoint(eager=True)
        # pin each round's assignment: it feeds the centroid recompute
        # AND (for the final round) whatever the caller does with it —
        # without the pin the broadcast-argmin pass re-runs per consumer
        assigned = assign_clusters(e, cent, vec_col).localCheckpoint(
            eager=True
        )
        cent = recompute_centroids(assigned, vec_col)
    return assigned, cent


def inertia(assigned: DataFrame) -> float:
    """Total within-cluster squared distance of an assignment frame."""
    return assigned.agg(F.sum("d2").alias("j")).collect()[0]["j"]


def quantize_vectors(
    e: DataFrame, vec_col: str = "embedding", scale: int = 10**4
) -> Column:
    """float vector → BIGINT fixed-point units (round half-away-from-
    zero on the exact double promotion — both engines agree)."""
    return F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.round(x * scale).cast("long"),
    )


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integral division — the exact semantics of
    Spark ``DIV`` and DuckDB ``//`` on BIGINTs (Python ``//`` floors,
    which differs on mixed signs; Lloyd update sums CAN go negative on
    negative embedding coordinates). Pinned against Spark ``DIV`` on
    negatives in tests/test_plan_quality.py."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


# Most literal cells (centroids or codewords × dimensions) a literal-SQL
# argmin may inline: ``_cent_argmin_expr`` here and ``_pq_cb_argmin_sql``
# in queries_ml.py. Each cell is one parsed and analyzed literal node on
# the driver before constant folding collapses the array. Measured on a
# 4-vCPU machine (D=64), building and planning the expression took 0.4 s
# at 16,384 cells, 1.1-2.3 s at 65,536 and 3.9 s at 262,144, growing
# linearly on every call. The shipped trainers use 256 (k=4 × D=64) and 512
# (4 subspaces × 8 codewords × 16 dims). Past this, hold the centroids in
# a frame and assign through the broadcast join (``assign_clusters``).
LITERAL_ARGMIN_MAX_CELLS = 65_536


def check_literal_argmin_cells(cells: int, where: str) -> None:
    """Refuse a literal-SQL argmin over more than
    ``LITERAL_ARGMIN_MAX_CELLS`` cells with a ``ValueError`` that names
    the broadcast-join fallback."""
    if cells > LITERAL_ARGMIN_MAX_CELLS:
        raise ValueError(
            f"{where}: {cells} literal cells (centroids x dims) exceed"
            f" LITERAL_ARGMIN_MAX_CELLS={LITERAL_ARGMIN_MAX_CELLS}; hold"
            " the centroids in a frame and assign through the broadcast"
            " join (operators.clustering.assign_clusters) instead"
        )


def _cent_argmin_expr(cents: dict[int, list[int]]):
    """Map-side literal argmin against a driver-held centroid dict —
    one parsed SQL expression (per-element F.lit() Columns would cost a
    py4j round trip per literal, the jl_project lesson). The struct
    comparison (d2, lbl) is lexicographic: min distance, tie to the
    smaller cluster label — identical to the broadcast ``array_min``
    the per-round packed-centroid pass used, with the same exact
    BIGINT zip_with distance. Raises ``ValueError`` past
    ``LITERAL_ARGMIN_MAX_CELLS`` (k·D) cells.

    Constant folding collapses the centroid array into one literal,
    which generated code holds as a reference object, not as inlined
    Java constants: retraining on other data compiles no new class
    (measured in ``lloyd_fixed_point``'s docstring)."""
    check_literal_argmin_cells(
        sum(len(cv) for cv in cents.values()), "_cent_argmin_expr"
    )
    arms = ", ".join(
        "named_struct('l', {}L, 'c', array({}))".format(
            lbl, ", ".join(f"{int(x)}L" for x in cv)
        )
        for lbl, cv in sorted(cents.items())
    )
    return F.expr(
        "array_min(transform(array(" + arms + "), s -> struct("
        "aggregate(zip_with(v, s.c, (a, b) -> (a - b) * (a - b)), 0L,"
        " (acc, x) -> acc + x) AS d2, s.l AS lbl)))"
    )


def lloyd_fixed_point(
    e: DataFrame,
    k: int = 4,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 10**4,
) -> tuple[DataFrame, DataFrame]:
    """``iters`` Lloyd iterations in FIXED-POINT integer arithmetic —
    the oracle-exactness upgrade ``pagerank_fixed_point`` gave the graph
    family, applied to clustering: coordinates quantized to 1/``scale``
    units, distances as exact BIGINT sums (summation-order-free), and
    centroid updates as truncating integral division (``DIV`` truncates
    toward zero on Spark; DuckDB ``//`` matches, verified both
    negative and positive). K chained iterations are therefore
    BIT-IDENTICAL across engines — the float twin (``lloyd_iterate``)
    reorders its ``avg`` partial sums per partition and flips low
    decimals, which is why its multi-iteration form was rows-only.

    Seeding: the rows with the ``k`` smallest ids, cluster label = the
    seed's id (deterministic on any engine, no rank needed — fixture
    ids are dense from 0). Empty clusters drop out of later rounds
    (documented semantics, mirrored by the oracle). Ties in the argmin
    break on the smaller cluster label via lexicographic struct min.

    Scale shape per iteration (round-16, driver-coordinated — the
    guide-§8 small-rows-decide split the PQ Lloyd and perceptron
    trainers received in round 15): the K x D centroid state is
    bounded BY CONSTRUCTION (k clusters × the embedding dim) and lives
    on the DRIVER between rounds; each round is ONE map-only corpus
    pass — literal-centroid argmin (a single parsed SQL expression, no
    broadcast build, no N x K row explosion) feeding a
    partial-aggregated (cluster, dim) sum/count — ending in ONE
    bounded K x D-row collect. The per-round eager checkpoint of the
    FULL corpus assignment (a corpus-sized materialization per round
    at any scale) is gone; the centroid update division is replicated
    exactly on the driver (``_tdiv`` ≡ Spark ``DIV`` ≡ DuckDB ``//``,
    truncate-toward-zero, pinned on negatives). Empty clusters drop
    out of the driver dict exactly as they dropped out of the old
    update aggregate.
    Overflow: |coord| <= m*scale ⇒ d2 <= D*(2*m*scale)²; at the
    defaults (D=64, m<1, scale=1e4) that is ~2.6e10 — far inside
    BIGINT; centroid sums are N*m*scale. Returns (assigned, centroids)
    with ``centroid`` as array<long>; ``assigned`` is the map-only
    argmin against the centroids that FED the final update, exactly as
    before.

    Compiled code: the centroids reach generated code as one folded
    array literal held by reference, so a retrain on other data reuses
    the compiled classes. Measured in one session (k=4, iters=2, summed
    ``d2`` collected): the first call at sf0.001 compiled 22 classes;
    later calls at sf0.001, sf0.01 (other centroids), sf0.1 and sf0.001
    again compiled 0 each."""
    if k < 1 or iters < 1:
        raise ValueError(f"k and iters must be >= 1, got k={k} iters={iters}")
    q = e.select(
        F.col(id_col).alias("vec_id"),
        quantize_vectors(e, vec_col, scale).alias("v"),
    ).localCheckpoint(eager=True)  # feeds every round's fused pass
    # The id<k seed rule assumes ids dense from 0; on a sparse id space it
    # silently under-seeds (round-7 advisory). The seed frame is <= k rows
    # BY CONSTRUCTION, so this collect is bounded, and it carries the
    # initial centroids in the same job the old code spent on count().
    seed_rows = q.filter(F.col("vec_id") < k).collect()
    if len(seed_rows) != k:
        raise ValueError(
            f"lloyd_fixed_point: seed rule id < k={k} found"
            f" {len(seed_rows)} rows —"
            f" ids must be dense from 0 (pass a reindexed frame)"
        )
    cents: dict[int, list[int]] = {
        int(r["vec_id"]): [int(x) for x in r["v"]] for r in seed_rows
    }

    prev = cents
    for _ in range(iters):
        prev = cents
        # ONE fused job: map-side literal argmin + partial-aggregated
        # (cluster, dim) update cells; the collect is <= k*D rows.
        upd = (
            q.withColumn("_b", _cent_argmin_expr(prev))
            .select(
                F.col("_b.lbl").alias("cluster"),
                F.posexplode("v").alias("pos", "val"),
            )
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("s"), F.count("val").alias("n"))
            .collect()
        )
        by_cl: dict[int, dict[int, int]] = {}
        for r in upd:
            by_cl.setdefault(int(r["cluster"]), {})[int(r["pos"])] = _tdiv(
                int(r["s"]), int(r["n"])
            )
        cents = {
            cl: [dims[p] for p in sorted(dims)] for cl, dims in by_cl.items()
        }
    assigned = q.withColumn("_b", _cent_argmin_expr(prev)).select(
        "vec_id",
        "v",
        F.col("_b.lbl").alias("cluster"),
        F.col("_b.d2").alias("d2"),
    )
    cent = local_frame(
        e.sparkSession,
        sorted(cents.items()),
        "cluster long, centroid array<bigint>",
    )
    return assigned, cent


def kcenter_greedy(
    e: DataFrame,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 10**4,
) -> tuple[list[tuple[int, int]], DataFrame]:
    """Greedy k-center (farthest-point traversal, Gonzalez 1985) in
    FIXED-POINT integer arithmetic — coreset / diversity selection for
    training data: pick the point farthest from the selected set, k-1
    times, starting from the minimum-id seed. The classic 2-approx
    cover whose selections a curriculum/coreset pipeline uses to
    subsample a corpus while preserving spread (vs random sampling
    which over-samples dense regions).

    Exactness: quantized BIGINT coordinates (``quantize_vectors``,
    round-half-away on the double promotion — engine-identical), exact
    integer squared distances, argmax tie-broken on the smaller id —
    every pick is bit-deterministic, so a SQL oracle can unroll the k
    steps (the ``pagerank_k`` / ``kmeans_k_fixed`` construction).

    Scale shape: each of the k-1 rounds is ONE map-side scan — the
    selected set (≤ k×D BIGINTs) rides along as a literal array, the
    min-distance is an ``array_min`` over it, and the argmax is a
    TakeOrdered(1) (no global sort, no shuffle). Driver-side state is
    k ids + k vectors — bounded by construction, N is never collected.

    Returns ``(centers, assigned)``: ``centers`` as [(step, id)] in
    selection order; ``assigned`` maps every point to its nearest
    center — (id_col, center_step, center_id, d2) — ties on (d2, step).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = e.select(
        F.col(id_col).alias("vec_id"),
        quantize_vectors(e, vec_col, scale).alias("v"),
    ).localCheckpoint(eager=True)  # feeds k-1 argmax rounds + assignment

    def _int_sqdist(vec: Column, c: Column) -> Column:
        return F.aggregate(
            F.zip_with(vec, c, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    seeds = q.orderBy("vec_id").limit(1).collect()
    if not seeds:
        raise ValueError("kcenter_greedy: input frame is empty")
    seed = seeds[0]
    centers = [(0, int(seed["vec_id"]))]
    center_vecs = [list(seed["v"])]

    def _arr_sql(cv) -> str:
        return "array(" + ", ".join(f"{int(x)}L" for x in cv) + ")"

    for step in range(1, k):
        # literal selected set as ONE parsed SQL expression — building
        # it from per-element F.lit() Columns costs a py4j round trip
        # per literal (the jl_project lesson in similarity.py: ~3s of
        # pure driver time at ~1k literals; here O(k^2 * D) across the
        # rounds)
        sel = F.expr(
            "array(" + ", ".join(_arr_sql(cv) for cv in center_vecs) + ")"
        )
        mind2 = F.array_min(
            F.transform(sel, lambda c: _int_sqdist(F.col("v"), c))
        )
        picks = (
            q.filter(~F.col("vec_id").isin([c[1] for c in centers]))
            .select("vec_id", "v", mind2.alias("d2"))
            .orderBy(F.col("d2").desc(), F.col("vec_id"))
            .limit(1)
            .collect()
        )
        if not picks:
            raise ValueError(
                f"kcenter_greedy: k={k} exceeds the number of input rows "
                f"({len(centers)} available)"
            )
        picked = picks[0]
        # the argmax landing at distance 0 means every remaining row
        # DUPLICATES a selected center — a coincident "center" covers
        # nothing new, so k exceeds the distinct-point count
        if int(picked["d2"]) == 0:
            raise ValueError(
                f"kcenter_greedy: k={k} exceeds the number of DISTINCT "
                f"points ({len(centers)} found before duplicates)"
            )
        centers.append((step, int(picked["vec_id"])))
        center_vecs.append(list(picked["v"]))
    packed = F.expr(
        "array("
        + ", ".join(
            f"named_struct('step', {step}L, 'cid', {cid}L,"
            f" 'cv', {_arr_sql(cv)})"
            for (step, cid), cv in zip(centers, center_vecs)
        )
        + ")"
    )
    best = F.array_min(
        F.transform(
            packed,
            lambda s: F.struct(
                _int_sqdist(F.col("v"), s["cv"]).alias("d2"),
                s["step"].alias("step"),
                s["cid"].alias("cid"),
            ),
        )
    )
    assigned = q.withColumn("_b", best).select(
        F.col("vec_id").alias(id_col),
        F.col("_b.step").alias("center_step"),
        F.col("_b.cid").alias("center_id"),
        F.col("_b.d2").alias("d2"),
    )
    return centers, assigned
