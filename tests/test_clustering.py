"""Lloyd iteration + repetition/quantization operator tests."""

from __future__ import annotations

import pyspark.sql.functions as F

from opendata_gov_lt_mysql_import_spark.operators.clustering import (
    assign_clusters,
    inertia,
    lloyd_iterate,
    seed_centroids_from_labels,
)
from opendata_gov_lt_mysql_import_spark.operators.textanalysis import (
    max_multiplicity,
    repetition_projection,
    token_bigrams,
    tokens,
)
from opendata_gov_lt_mysql_import_spark.sources.parquet import load_table


# ---------------------------------------------------------------------------
# Lloyd / k-means
# ---------------------------------------------------------------------------

def test_lloyd_inertia_non_increasing(spark, sf_dir):
    """The defining Lloyd invariant: total within-cluster squared
    distance never increases across iterations."""
    e = load_table(spark, sf_dir, "embeddings")
    js = []
    for iters in (1, 2, 3):
        assigned, _ = lloyd_iterate(e, iters=iters)
        js.append(inertia(assigned))
    assert js[1] <= js[0] + 1e-9
    assert js[2] <= js[1] + 1e-9


def test_lloyd_assignment_covers_every_vector(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    assigned, cent = lloyd_iterate(e, iters=1)
    assert assigned.count() == e.count()
    assert assigned.filter(F.col("cluster").isNull()).count() == 0
    k = cent.count()
    assert 1 <= k <= e.select("label").distinct().count()


def test_assign_clusters_planted_geometry(spark):
    """Two obvious clusters around (0,0) and (10,10): every point must
    land with its own seed."""
    e = spark.createDataFrame(
        [
            (1, [0.1, 0.0], 1),
            (2, [0.0, 0.2], 1),
            (3, [9.9, 10.0], 2),
            (4, [10.0, 9.8], 2),
        ],
        "vec_id int, embedding array<double>, label int",
    )
    cent = seed_centroids_from_labels(e)
    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(e, cent).select("vec_id", "cluster").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2}


# ---------------------------------------------------------------------------
# Repetition signals
# ---------------------------------------------------------------------------

def test_max_multiplicity_basics(spark):
    df = spark.createDataFrame(
        [(["a", "b", "a", "a"],), ([],), (["x"],)],
        "arr array<string>",
    )
    got = [r[0] for r in df.select(max_multiplicity(F.col("arr"))).collect()]
    assert got == [3, 0, 1]


def test_repetition_projection_planted(spark):
    rows = [
        ("a a a a",),          # bigrams: 'a a' x3 -> 10000 bp; dup 3/4 -> 7500
        ("w x y z",),          # all distinct -> top bigram 1/3 -> 3333; dup 0
        ("solo",),             # no bigrams, no dups
        ("",),                 # empty text
    ]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(*repetition_projection(F.col("text"))).collect()
    assert [(r["top_bigram_bp"], r["dup_token_bp"]) for r in got] == [
        (10000, 7500),
        (3333, 0),
        (0, 0),
        (0, 0),
    ]


def test_token_bigrams_edges(spark):
    df = spark.createDataFrame([("a b c",), ("a",), ("",)], "text string")
    got = [
        r[0] for r in df.select(token_bigrams(tokens(F.col("text")))).collect()
    ]
    assert got == [["a b", "b c"], [], []]


def test_repetition_is_map_only(spark, sf_dir):
    """The repetition block must not introduce a shuffle — it rides the
    same single scan as the rest of the quality features."""
    d = load_table(spark, sf_dir, "documents")
    plan = (
        d.select("doc_id", *repetition_projection(F.col("text")))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------

def test_embedding_quantize_planted(spark):
    from opendata_gov_lt_mysql_import_spark.operators.similarity import (
        quantize_int8_projection,
    )

    # planted vector [3,4] -> norm 5.0 -> 50000; q8 = floor(x*127/4)
    e = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])],
        "vec_id int, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["l2_norm_fp"], r["q8_sig"])
        for r in e.select(
            "vec_id", *quantize_int8_projection("embedding")
        ).collect()
    }
    assert got[1] == (50000, "95|127")
    assert got[2] == (0, "")


# ---------------------------------------------------------------------------
# word n-grams + linear quality model
# ---------------------------------------------------------------------------

def test_word_ngrams_edges(spark):
    from opendata_gov_lt_mysql_import_spark.operators.textanalysis import (
        word_ngrams,
    )

    df = spark.createDataFrame(
        [("a b c d e f",), ("a b",), ("",)], "text string"
    )
    got = [
        r[0]
        for r in df.select(word_ngrams(tokens(F.col("text")), 5)).collect()
    ]
    assert got == [["a b c d e", "b c d e f"], [], []]


def test_quality_model_score_planted(spark):
    from opendata_gov_lt_mysql_import_spark.operators.textanalysis import (
        QUALITY_MODEL_BIAS,
        QUALITY_MODEL_WEIGHTS,
        quality_model_score,
        quality_projection,
    )

    df = spark.createDataFrame([("the cat sat on the mat",)], "text string")
    feats = df.select(*quality_projection(F.col("text"))).collect()[0]
    expected = QUALITY_MODEL_BIAS + sum(
        w * feats[col] for col, w in QUALITY_MODEL_WEIGHTS
    )
    got = (
        df.select(*quality_projection(F.col("text")))
        .select(quality_model_score().alias("s"))
        .collect()[0]["s"]
    )
    assert got == expected


# ---------------------------------------------------------------------------
# Fixed-point Lloyd (oracle-exact multi-iteration path)
# ---------------------------------------------------------------------------

def _py_lloyd_fixed(vectors: dict, k: int, iters: int):
    """Pure-Python reference of the fixed-point contract: integer
    coordinates in, argmin with (d2, label) tie order, truncating-
    toward-zero integral centroid division, empty clusters drop."""
    def tdiv(a, b):
        qd = abs(a) // b
        return qd if a >= 0 else -qd

    cent = {vid: v for vid, v in vectors.items() if vid < k}
    assign = {}
    for _ in range(iters):
        assign = {}
        for vid, v in vectors.items():
            best = min(
                (sum((x - y) ** 2 for x, y in zip(v, c)), lbl)
                for lbl, c in cent.items()
            )
            assign[vid] = best[1]
        cent = {}
        for lbl in set(assign.values()):
            members = [vectors[vid] for vid, a in assign.items() if a == lbl]
            cent[lbl] = [
                tdiv(sum(col), len(members)) for col in zip(*members)
            ]
    return assign, cent


def test_lloyd_fixed_point_matches_python_reference(spark):
    import random

    from opendata_gov_lt_mysql_import_spark.operators.clustering import (
        lloyd_fixed_point,
        quantize_vectors,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-0.5, 0.5) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assigned, cent = lloyd_fixed_point(
        df, k=3, iters=3, vec_col="embedding", id_col="vec_id"
    )
    got_assign = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    got_cent = {r["cluster"]: list(r["centroid"]) for r in cent.collect()}

    qrows = df.select(
        "vec_id", quantize_vectors(df, "embedding").alias("v")
    ).collect()
    vectors = {r["vec_id"]: list(r["v"]) for r in qrows}
    ref_assign, ref_cent = _py_lloyd_fixed(vectors, k=3, iters=3)
    # the returned assignment is the one FEEDING the final update
    assert got_assign == ref_assign
    assert got_cent == ref_cent


def test_lloyd_fixed_point_validation_and_negatives(spark):
    import pytest

    from opendata_gov_lt_mysql_import_spark.operators.clustering import (
        lloyd_fixed_point,
    )

    df = spark.createDataFrame(
        [(0, [-0.31, 0.2]), (1, [0.1, -0.4]), (2, [-0.32, 0.21])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="k and iters"):
        lloyd_fixed_point(df, k=0)
    assigned, cent = lloyd_fixed_point(df, k=2, iters=2)
    a = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    # vec 2 sits next to vec 0; truncating division on the NEGATIVE
    # first coordinate must agree with the reference contract
    assert a == {0: 0, 1: 1, 2: 0}
    c = {r["cluster"]: list(r["centroid"]) for r in cent.collect()}
    # mean of -3100 and -3200 truncates toward zero: -3150 exact here;
    # the (0.2, 0.21) dim: (2000+2100) DIV 2 = 2050
    assert c[0] == [-3150, 2050]

    # round-7 advisory: sparse ids (nothing below k) must fail loudly
    # instead of silently seeding fewer than k clusters
    sparse = spark.createDataFrame(
        [(10, [0.1, 0.2]), (11, [0.3, 0.4]), (12, [0.5, 0.6])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="ids must be dense from 0"):
        lloyd_fixed_point(sparse, k=2, iters=1)


def test_literal_argmin_refuses_more_cells_than_the_limit():
    """Both literal-SQL argmins accept up to LITERAL_ARGMIN_MAX_CELLS
    cells (centroids × dims) and refuse one centroid more with a typed
    error that names the broadcast-join fallback."""
    import pytest

    from opendata_gov_lt_mysql_import_spark.operators.clustering import (
        LITERAL_ARGMIN_MAX_CELLS,
        _cent_argmin_expr,
    )
    from opendata_gov_lt_mysql_import_spark.queries_ml import _pq_cb_argmin_sql

    fallback = r"broadcast join \(operators\.clustering\.assign_clusters\)"
    k = LITERAL_ARGMIN_MAX_CELLS // 64 + 1
    with pytest.raises(ValueError, match=fallback):
        _cent_argmin_expr({c: [0] * 64 for c in range(k)})

    per_m = LITERAL_ARGMIN_MAX_CELLS // (4 * 16)
    cb = {m: [(c, [0] * 16) for c in range(per_m)] for m in range(4)}
    assert _pq_cb_argmin_sql(cb).startswith("array_min(")  # at the limit
    cb[0].append((per_m, [0] * 16))
    with pytest.raises(ValueError, match=fallback):
        _pq_cb_argmin_sql(cb)


class TestKCenterGreedy:
    def test_planted_geometry_picks_and_radii(self, spark):
        from opendata_gov_lt_mysql_import_spark.operators.clustering import (
            kcenter_greedy,
        )

        # seed = id 0 at origin; farthest is id 1 at (10,0); then id 3
        # at (5,5) (min-dist 50) beats id 2 at (0,1) (min-dist 1)
        df = spark.createDataFrame(
            [
                (0, [0.0, 0.0]),
                (1, [10.0, 0.0]),
                (2, [0.0, 1.0]),
                (3, [5.0, 5.0]),
            ],
            "vec_id long, embedding array<float>",
        )
        centers, assigned = kcenter_greedy(df, k=3)
        assert centers == [(0, 0), (1, 1), (2, 3)]
        rows = {r["vec_id"]: r for r in assigned.collect()}
        s = 10**4
        assert rows[2]["center_id"] == 0 and rows[2]["d2"] == 1 * s * s
        for cid in (0, 1, 3):
            assert rows[cid]["center_id"] == cid and rows[cid]["d2"] == 0

    def test_k1_is_seed_only(self, spark):
        from opendata_gov_lt_mysql_import_spark.operators.clustering import (
            kcenter_greedy,
        )

        df = spark.createDataFrame(
            [(7, [1.0]), (9, [2.0])], "vec_id long, embedding array<float>"
        )
        centers, assigned = kcenter_greedy(df, k=1)
        assert centers == [(0, 7)]
        assert all(r["center_id"] == 7 for r in assigned.collect())


class TestKCenterRandomizedModel:
    def test_matches_pure_python_reference(self, spark):
        # randomized cross-check against an independent pure-Python
        # greedy k-center (the snapshot-model-test discipline applied
        # to the coreset operator): integer-grid vectors so
        # quantization is exact and ties are real and must break the
        # same way ((d2 DESC, id) argmax; assignment (d2, step) min).
        import random

        from opendata_gov_lt_mysql_import_spark.operators.clustering import (
            kcenter_greedy,
        )

        rng = random.Random(4242)
        for trial in range(3):
            n, dim, k = 40, 4, 4
            pts = {
                i: [float(rng.randint(-20, 20)) for _ in range(dim)]
                for i in range(n)
            }
            s = 10**4

            def d2(a, b):
                return sum(
                    (int(x * s) - int(y * s)) ** 2 for x, y in zip(a, b)
                )

            centers = [(0, 0)]
            for step in range(1, k):
                chosen = {cid for _, cid in centers}
                best = max(
                    (
                        (min(d2(pts[i], pts[c]) for _, c in centers), -i, i)
                        for i in pts
                        if i not in chosen
                    ),
                )
                centers.append((step, best[2]))
            expect_assign = {}
            for i in pts:
                expect_assign[i] = min(
                    (d2(pts[i], pts[c]), st, c) for st, c in centers
                )

            df = spark.createDataFrame(
                [(i, v) for i, v in pts.items()],
                "vec_id long, embedding array<float>",
            )
            got_centers, assigned = kcenter_greedy(df, k=k)
            assert got_centers == centers, f"trial {trial}"
            got = {
                r["vec_id"]: (r["d2"], r["center_step"], r["center_id"])
                for r in assigned.collect()
            }
            assert got == expect_assign, f"trial {trial}"


def test_kcenter_k_exceeding_points_fails_loudly(spark):
    import pytest as _pytest

    from opendata_gov_lt_mysql_import_spark.operators.clustering import (
        kcenter_greedy,
    )

    df = spark.createDataFrame(
        [(0, [1.0]), (1, [2.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="exceeds the number"):
        kcenter_greedy(df, k=5)


class TestPQModel:
    """Randomized model test: the engine's PQ assignment must agree
    with an independent numpy brute-force quantizer on the same
    codebook — catches slice/indexing/tiebreak bugs the oracle can't
    (both engines could share a misreading of the spec)."""

    def test_pq_codes_match_numpy(self, spark):
        import numpy as np

        from opendata_gov_lt_mysql_import_spark.queries_ml import (
            pq_quantize_embeddings_q,
        )

        sf = "/root/testdata/sf0.001"
        rows = {
            r["vec_id"]: r
            for r in pq_quantize_embeddings_q(spark, sf).collect()
        }
        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
        }
        cb = {m: [(cid, emb[cid][m * 16 : m * 16 + 16]) for cid in range(1, 9)]
              for m in range(4)}
        rng = np.random.default_rng(99)
        sample = rng.choice(sorted(emb), size=40, replace=False)
        for vid in sample:
            v = emb[vid]
            err = 0.0
            for m in range(4):
                sv = v[m * 16 : m * 16 + 16]
                dists = [(float(((sv - cv) ** 2).sum()), cid)
                         for cid, cv in cb[m]]
                best_d, best_c = min(dists)  # ties -> min cid via tuple
                assert rows[vid][f"c{m}"] == best_c, (vid, m)
                err += best_d
            assert abs(rows[vid]["recon_err"] - round(err, 4)) < 1e-9, vid


class TestPQTrainModel:
    """Independent numpy replica of the fixed-point per-subspace Lloyd
    trainer: both engines could share a misreading of the update rule
    (e.g. mean over the wrong axis, assignment drift between trace and
    update), which the oracle comparison cannot catch — a third,
    imperative implementation can."""

    def test_pq_train_trace_matches_numpy(self, spark):
        import numpy as np

        from opendata_gov_lt_mysql_import_spark.queries_ml import (
            pq_train_codebook_q,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            (r["iter"], r["m"]): r
            for r in pq_train_codebook_q(spark, sf).collect()
        }
        emb = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
        }
        scale = 10**4
        # round half-away-from-zero on the double promotion (engine rule)
        q = {
            vid: np.array(
                [
                    int(np.floor(x * scale + 0.5))
                    if x >= 0
                    else -int(np.floor(-x * scale + 0.5))
                    for x in v
                ],
                dtype=np.int64,
            )
            for vid, v in emb.items()
        }
        subs = {
            m: {vid: v[m * 16 : m * 16 + 16] for vid, v in q.items()}
            for m in range(4)
        }
        for m in range(4):
            cb = {cid: subs[m][cid].copy() for cid in range(1, 9)}
            for it in range(3):
                # assignment vs codebook `it`
                assign, total = {}, 0
                for vid, sv in sorted(subs[m].items()):
                    dists = sorted(
                        (int(((sv - cv) ** 2).sum()), cid)
                        for cid, cv in cb.items()
                    )
                    d2, cid = dists[0]
                    assign[vid] = cid
                    total += d2
                row = got[(it, m)]
                assert row["recon_err"] == total, (it, m)
                assert row["n_cw"] == len(cb), (it, m)
                assert row["cb_sum"] == sum(
                    int(cv.sum()) for cv in cb.values()
                ), (it, m)
                if it < 2:
                    # update: truncating integral division per dimension
                    new = {}
                    for cid in cb:
                        members = [
                            subs[m][vid]
                            for vid, c in assign.items()
                            if c == cid
                        ]
                        if not members:
                            continue  # empty cells drop (engine semantics)
                        s = np.sum(members, axis=0, dtype=np.int64)
                        n = len(members)
                        # toward-zero division, matching DIV / //
                        new[cid] = np.array(
                            [int(x / n) for x in s], dtype=np.int64
                        )
                    cb = new
