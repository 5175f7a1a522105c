"""Similarity search over embedding columns (beyond-reference surface).

Two tiers:

- **Brute-force cosine top-k** — exact; one pass over the table with a
  broadcast query vector. The correctness baseline, and still the right
  answer for "top-k against a handful of queries" even at scale (it's a
  single projection + TopK, no shuffle of the fact table).
- **Random-hyperplane LSH (sign-bucket) ANN** — candidate generation by
  signature prefix bucket; probes only matching buckets. The scale path
  for many-query / all-pairs workloads. Deterministic: hyperplanes come
  from a seeded numpy RandomState baked into the plan as literals.

Vector math uses JVM higher-order functions (``zip_with``/``aggregate``)
in double precision — deterministic, portable, no Python per row.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double-precision dot product (bit-stable
    across engines that reduce sequentially)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to a constant query vector.
    Deterministic tie-break on id. Returns (id, sim)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = emb.select(
        F.col(id_col), cosine(F.col(vec_col), q).alias("sim")
    )
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(n_planes, dim))


def with_lsh_signature_arrow(
    df: DataFrame,
    planes: np.ndarray,
    vec_col: str = "embedding",
    sig_col: str = "sig",
) -> DataFrame:
    """Append the sign-bit LSH signature via one Arrow-vectorized
    ``mapInPandas`` pass.

    Each batch computes ``V @ planes.T`` as a single BLAS matmul and folds
    the sign bits — replacing n_planes interpreted ``aggregate(zip_with)``
    dot products per row. Per-row, shuffle-free; the signature column then
    serves as a filter (local mode) or partition/bucket key (cluster).
    Sign decisions are FP-summation-order independent except when
    |dot| ≲ 1e-12, measure-zero under Gaussian random planes."""
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    P = planes.T.astype(np.float64)
    bits = np.uint64(1) << np.arange(planes.shape[0], dtype=np.uint64)
    schema = StructType(df.schema.fields + [StructField(sig_col, LongType())])

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                sig = ((V @ P) > 0).astype(np.uint64) @ bits
                pdf[sig_col] = pd.Series(sig.view(np.int64), index=pdf.index)
            else:
                pdf[sig_col] = pd.Series(np.empty(0, dtype=np.int64), index=pdf.index)
            yield pdf

    return df.mapInPandas(gen, schema=schema)


def lsh_candidate_filter_arrow(
    df: DataFrame,
    planes: np.ndarray,
    query_sig: int,
    max_hamming: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Signature + hamming probe fused into one mapInPandas pass: rows
    whose sign-bit signature is within ``max_hamming`` of ``query_sig``
    are emitted, everything else is dropped batch-side.

    vs ``with_lsh_signature_arrow`` + a JVM filter, the Arrow RETURN
    transfer shrinks from the whole table to the candidate set — the
    filter is where the selectivity is, so do it before re-serializing
    embeddings. Same schema out as in."""

    P = planes.T.astype(np.float64)
    bits = np.uint64(1) << np.arange(planes.shape[0], dtype=np.uint64)
    qs = np.uint64(query_sig)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            sig = ((V @ P) > 0).astype(np.uint64) @ bits
            ham = np.array(
                [bin(int(x)).count("1") for x in (sig ^ qs)], dtype=np.int64
            )
            yield pdf[ham <= max_hamming]

    return df.mapInPandas(gen, schema=df.schema)


def ann_lsh_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_hamming: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH signature is within
    ``max_hamming`` bits of the query's signature.

    At cluster scale the signature is a partitioning/bucketing key, so the
    probe touches a bounded subset of partitions; here it is a filter
    (bit_count of xor) that still avoids the full cosine computation for
    non-candidates. Signatures come from the Arrow-vectorized batch
    matmul (``with_lsh_signature_arrow``)."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes, seed)
    qsig = 0
    for i, plane in enumerate(planes):
        if float(np.dot(query_vec, plane)) > 0:
            qsig |= 1 << i

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    candidates = lsh_candidate_filter_arrow(
        emb.select(F.col(id_col), F.col(vec_col)), planes, qsig, max_hamming,
        vec_col=vec_col,
    )
    scored = candidates.select(F.col(id_col), cosine(F.col(vec_col), q).alias("sim"))
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def ivf_candidate_filter_arrow(
    df: DataFrame,
    centroids: np.ndarray,
    probe: set[int],
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF probe fused into one mapInPandas pass: each vector is assigned
    to its nearest (max dot product) centroid — one batched ``V @ C.T``
    matmul — and only rows whose centroid index is in the probed set are
    emitted.

    At cluster scale the assignment is a partition/bucket key written at
    ingest (the inverted file); the probe then prunes file listings
    instead of filtering rows. Ties break to the lowest centroid index
    (numpy argmax first-wins), matching the SQL ``ORDER BY dot DESC, cid``
    formulation. ``centroids`` here are data pivots or k-means output —
    the probe/assign shape is identical either way."""

    C = centroids.T.astype(np.float64)
    probe_arr = np.array(sorted(probe), dtype=np.int64)

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                yield pdf
                continue
            V = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            assign = np.argmax(V @ C, axis=1)
            yield pdf[np.isin(assign, probe_arr)]

    return df.mapInPandas(gen, schema=df.schema)


def ann_ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_ids: list[int] | None = None,
    round_sim: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: assign every vector to its nearest
    centroid, probe only the ``nprobe`` centroids closest to the query,
    brute-force cosine within the probed cells.

    Centroids default to the data vectors with the ``n_centroids``
    smallest ids — deterministic pivots that keep the whole operator
    exactly oracle-checkable in SQL (a trained k-means codebook drops in
    via ``centroid_ids``/a literal array without changing the plan
    shape). The centroid fetch is a bounded driver collect (n_centroids
    rows), never the fact table."""
    cent_rows = (
        emb.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(id_col).isin(centroid_ids) if centroid_ids
                else F.col(id_col).between(1, n_centroids))
        .orderBy(id_col)
        .collect()
    )
    C = np.array([[float(x) for x in r[vec_col]] for r in cent_rows])
    qv = np.array(query_vec, dtype=np.float64)
    dots = C @ qv
    # probe order: dot desc, centroid index asc (stable sort on -dots)
    probe = set(np.argsort(-dots, kind="stable")[:nprobe].tolist())

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cands = ivf_candidate_filter_arrow(
        emb.select(F.col(id_col), F.col(vec_col)), C, probe, vec_col=vec_col
    )
    sim = cosine(F.col(vec_col), q)
    # round BEFORE ordering when the caller compares against an engine
    # that also orders on the rounded value — keeps top-k tie selection
    # engine-independent
    if round_sim is not None:
        sim = F.round(sim, round_sim)
    scored = cands.select(F.col(id_col), sim.alias("sim"))
    return scored.orderBy(F.desc("sim"), F.asc(id_col)).limit(k)


def cosine_dup_pairs(
    emb: DataFrame,
    block_col: str,
    min_sim: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs within a blocking key (label /
    LSH-bucket): exact cosine on blocked candidates, (id_a < id_b)."""
    # per-row norm computed ONCE here (N rows), not per pair: cosine as
    # dot/(norm_a*norm_b) would re-run the norm aggregate-HOF for both
    # sides of every candidate pair — 3x the lambda evaluations of the
    # pair dot product for pure waste (measured 11s -> 4s on 200k pairs)
    prepped = emb.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    )
    a = prepped.alias("a")
    b = prepped.alias("b")
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))).alias("sim"),
        )
        .filter(F.col("sim") >= min_sim)
    )


def quantize_int8_projection(vec_col: str = "embedding") -> list[Column]:
    """Symmetric int8 quantization + fixed-point L2 norm of a vector
    column: scale = absmax/127, q_i = floor(x_i * 127 / absmax). All
    ops are an identical IEEE-double sequence on both engines, so the
    serialized signature is exactly oracle-checkable; zero vectors
    quantize to ''. Map-only HOF projection — no shuffle, no Python."""
    dbl = F.transform(vec_col, lambda x: x.cast("double"))
    mx = F.array_max(F.transform(dbl, F.abs))
    norm_fp = F.floor(
        F.sqrt(
            F.aggregate(
                F.transform(dbl, lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        )
        * 10000
    ).cast("long")
    q8 = F.when(mx == 0, F.lit("")).otherwise(
        F.array_join(
            F.transform(
                dbl, lambda x: F.floor(x * 127.0 / mx).cast("long").cast("string")
            ),
            "|",
        )
    )
    return [norm_fp.alias("l2_norm_fp"), q8.alias("q8_sig")]


def cosine_dup_pairs_arrow(
    emb: DataFrame,
    block_col: str,
    min_sim: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Arrow/BLAS twin of :func:`cosine_dup_pairs`: per-block normalized
    gram matrix (``Vn @ Vn.T``) instead of a per-pair JVM HOF dot — one
    matmul per block replaces |block|²·dim lambda evaluations (measured
    ~20x on 200k candidate pairs). Same contract: (id_a < id_b, sim >=
    min_sim).

    The twin convention of the dedup family applies: THIS is the
    production path (statistically identical, last-ulp float
    differences possible exactly at the threshold), the HOF form is the
    oracle-exact one. Block occupancy is the caller's contract (labels /
    IVF buckets / LSH buckets — cap hot blocks upstream like
    lsh_drop_hot_buckets); each block must fit one executor's Arrow
    batch."""
    import pandas as pd

    schema = "id_a long, id_b long, sim double"

    def per_block(pdf: "pd.DataFrame") -> "pd.DataFrame":
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        ids = pdf[id_col].to_numpy()
        V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = np.linalg.norm(V, axis=1)
        n[n == 0] = 1.0
        S = (V / n[:, None]) @ (V / n[:, None]).T
        iu, ju = np.triu_indices(len(ids), k=1)
        sims = S[iu, ju]
        keep = sims >= min_sim
        a, b = ids[iu[keep]], ids[ju[keep]]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": sims[keep]})

    return emb.select(
        F.col(id_col), F.col(block_col).alias("_blk"), F.col(vec_col)
    ).groupBy("_blk").applyInPandas(per_block, schema=schema)


def jl_sign_matrix(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 random-projection matrix (dense Achlioptas
    variant of Johnson–Lindenstrauss): sign(i, j) = +1 iff the first
    hex digit of md5("{i}#{j}#jl") is 0-7 (i, j 1-based) — the same
    derivation a SQL oracle can replay with its own md5, so the
    projection is engine-exact rather than seeded-PRNG-dependent.
    Computed driver-side once (in_dim × out_dim ints) and shipped as a
    plan literal; no per-row hashing."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"{i}#{j}#jl".encode()).hexdigest()[0]
            in "01234567"
            else -1
            for j in range(1, out_dim + 1)
        ]
        for i in range(1, in_dim + 1)
    ]


def jl_project(
    e: DataFrame,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 10**4,
) -> DataFrame:
    """Fixed-point JL sketch: quantize to BIGINT (1/scale units), then
    y_j = Σ_i v_i · sign(i, j) — exact integer arithmetic, so sketches
    are bit-identical across engines (|y_j| ≤ in_dim·scale·max|x|,
    far inside BIGINT at any sane scale). Returns (id_col, proj
    array<long>).

    Scale shape: ZERO shuffles — the sign matrix is a literal, each
    output component is one zip_with/aggregate over the row's own
    array, all fused into the scan projection. This is the standard
    dimensionality-reduction step in front of LSH/IVF indexing
    (project 64→16, bucket on the short vector) and costs one map
    pass at any corpus size."""
    from .clustering import quantize_vectors

    signs = jl_sign_matrix(in_dim, out_dim)
    q = e.select(
        F.col(id_col), quantize_vectors(e, vec_col, scale).alias("_v")
    )
    # The whole projection is ONE parsed SQL expression. Building it
    # from in_dim*out_dim F.lit() Columns instead costs a py4j round
    # trip per literal — measured ~3s of pure DRIVER time at 64x16
    # (flat across 4x data: all plan construction, zero execution).
    cols = ", ".join(
        "array(" + ", ".join(f"{signs[i][j]}L" for i in range(in_dim)) + ")"
        for j in range(out_dim)
    )
    proj = F.expr(
        f"transform(array({cols}), s -> aggregate("
        "zip_with(_v, s, (a, b) -> a * b), 0L, (acc, x) -> acc + x))"
    )
    # zip_with NULL-pads a length mismatch, which would silently poison
    # every component to NULL (and collapse downstream LSH bucketing to
    # one NULL bucket) — fail loudly per row instead
    guarded = F.when(F.size("_v") == in_dim, proj).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"jl_project: in_dim={in_dim} but vector length "),
                F.size("_v").cast("string"),
            )
        )
    )
    return q.select(F.col(id_col), guarded.alias("proj"))
