"""Unit tests for operators/ranking.py (BM25, DSIR, argbest) and
operators/graph.py triangle_count — pure-Python golden replicas plus
structural invariants; the cross-engine oracle parity is covered by the
full-registry gate (test_oracle_gate.py)."""

from __future__ import annotations

import hashlib
import math
import random

import pytest
from pyspark.sql import Row, functions as F

from opendata_gov_lt_mysql_import_spark.operators.graph import triangle_count
from opendata_gov_lt_mysql_import_spark.operators.ranking import (
    DSIR_WIDTH,
    LOG_SCALE,
    argbest,
    bm25_topk,
    dsir_importance_weights,
)

DOCS = [
    (0, "join join vector scan", "en"),
    (1, "customer join filter filter filter", "en"),
    (2, "vector vector vector vector", "zh"),
    (3, "scan filter merge", "zh"),
    (4, "", "en"),  # empty text: dl=0, every tf=0
    (5, "join customer vector join", "es"),
]
TERMS = ["join", "vector", "customer"]


def _docs_df(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=lang) for i, t, lang in DOCS]
    )


def _py_bm25(k1=1.5, b=0.75):
    """Literal replica of bm25_topk's arithmetic (same op order)."""
    toks = {i: (t.split() if t.strip() else []) for i, t, _ in DOCS}
    n = float(len(DOCS))
    sum_dl = float(sum(len(v) for v in toks.values()))
    idf_fp = []
    for term in TERMS:
        df = float(sum(1 for v in toks.values() if term in v))
        idf_fp.append(
            math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * LOG_SCALE)
        )
    out = {}
    for i, v in toks.items():
        dl = float(len(v))
        score = 0.0
        first = True
        for j, term in enumerate(TERMS):
            tf = float(v.count(term))
            t = (idf_fp[j] / float(LOG_SCALE)) * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + b * dl * n / sum_dl)
            )
            score = t if first else score + t
            first = False
        out[i] = math.floor(score * 1e6)
    return out


def test_bm25_matches_pure_python_replica(spark):
    got = {
        r.doc_id: r.score_e6
        for r in bm25_topk(_docs_df(spark), TERMS, k=10).collect()
    }
    assert got == _py_bm25()


def test_bm25_orders_by_score_then_id(spark):
    rows = bm25_topk(_docs_df(spark), TERMS, k=3).collect()
    keys = [(-r.score_e6, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    assert len(rows) == 3


def test_bm25_rejects_empty_terms(spark):
    with pytest.raises(ValueError):
        bm25_topk(_docs_df(spark), [])


def _py_dsir():
    """Literal replica of dsir_importance_weights (md5-nibble buckets)."""
    bucket = lambda tok: int(  # noqa: E731
        hashlib.md5(tok.encode()).hexdigest()[:2], 16
    )
    per_doc, bstats = {}, {}
    for i, t, lang in DOCS:
        counts = {}
        for tok in t.split() if t.strip() else []:
            bkt = bucket(tok)
            counts[bkt] = counts.get(bkt, 0) + 1
            nt, nr = bstats.get(bkt, (0, 0))
            bstats[bkt] = (nt + (1 if lang == "en" else 0), nr + 1)
        per_doc[i] = counts
    big_nt = sum(v[0] for v in bstats.values())
    big_nr = sum(v[1] for v in bstats.values())
    lr = {
        bkt: math.floor(
            math.log(
                ((nt + 1.0) * (big_nr + float(DSIR_WIDTH)))
                / ((nr + 1.0) * (big_nt + float(DSIR_WIDTH)))
            )
            * LOG_SCALE
        )
        for bkt, (nt, nr) in bstats.items()
    }
    return {
        i: sum(c * lr[bkt] for bkt, c in counts.items())
        for i, counts in per_doc.items()
    }


def test_dsir_matches_pure_python_replica(spark):
    got = {
        r.doc_id: r.dsir_fp
        for r in dsir_importance_weights(
            _docs_df(spark), F.col("lang") == "en"
        ).collect()
    }
    assert got == _py_dsir()


def test_dsir_covers_every_doc_and_zeroes_empty_text(spark):
    got = {
        r.doc_id: r.dsir_fp
        for r in dsir_importance_weights(
            _docs_df(spark), F.col("lang") == "en"
        ).collect()
    }
    assert set(got) == {i for i, _, _ in DOCS}
    assert got[4] == 0  # empty text: identical profile under both dists


def test_dsir_prefers_target_like_docs(spark):
    # target docs speak only 'aaa'; raw background speaks only 'bbb'.
    # A fresh 'aaa' doc must outscore a fresh 'bbb' doc.
    rows = [Row(doc_id=i, text="aaa aaa aaa", lang="en") for i in range(5)]
    rows += [Row(doc_id=5 + i, text="bbb bbb bbb", lang="zh") for i in range(5)]
    rows += [
        Row(doc_id=100, text="aaa aaa", lang="xx"),
        Row(doc_id=101, text="bbb bbb", lang="xx"),
    ]
    got = {
        r.doc_id: r.dsir_fp
        for r in dsir_importance_weights(
            spark.createDataFrame(rows), F.col("lang") == "en"
        ).collect()
    }
    assert got[100] > got[101]


def _argbest_rows():
    """(g, score, tie, lab): 60 random groups over a score pool with
    repeats (ties on score), negatives, both zeros, infinities, NULL and
    NaN, plus hand-made groups whose best is contested between those."""
    rng = random.Random(7)
    pool = [-2.5, -1.0, -0.0, 0.0, 1.0, 3.0, math.inf, -math.inf,
            None, math.nan]
    rows = []
    for g in range(60):
        ties = rng.sample(range(-50, 50), rng.randint(1, 12))
        rows += [(g, rng.choice(pool), t, f"r{g}.{t}") for t in ties]
    contested = {
        100: [None, None],
        101: [math.nan, math.nan],
        102: [None, math.nan, 1.0],
        103: [0.0, -0.0, 0.0],
        104: [-0.0, 0.0],
        105: [math.nan, math.inf, None, -math.inf],
    }
    for g, scores in contested.items():
        rows += [(g, sc, t, f"r{g}.{t}") for t, sc in enumerate(scores)]
    return rows


def _canon(rows):
    # repr keeps NaN comparable and -0.0 apart from 0.0
    return sorted(
        tuple(repr(v) if isinstance(v, float) else v for v in r)
        for r in rows
    )


@pytest.mark.parametrize("largest", [False, True])
def test_argbest_equals_row_number_first(spark, largest):
    """argbest picks exactly the row row_number() OVER (PARTITION BY g
    ORDER BY score ASC|DESC, tie ASC) = 1 picks, NULL and NaN scores
    included, with ride-along columns from that row and an extra
    aggregate over the whole group."""
    df = spark.createDataFrame(
        _argbest_rows(), "g long, score double, tie long, lab string"
    ).repartition(4)
    got = argbest(
        df,
        "g",
        "score",
        "tie",
        largest=largest,
        carry=["lab"],
        aggs={"n": F.count(F.lit(1))},
        tie_as="best_tie",
        score_as="best_score",
    )
    assert got.columns == ["g", "best_tie", "best_score", "lab", "n"]
    df.createOrReplaceTempView("argbest_in")
    want = spark.sql(
        f"""
        SELECT g, tie AS best_tie, score AS best_score, lab, n FROM (
          SELECT *,
                 row_number() OVER (PARTITION BY g ORDER BY score
                                    {"DESC" if largest else "ASC"},
                                    tie ASC) AS rn,
                 count(1) OVER (PARTITION BY g) AS n
          FROM argbest_in)
        WHERE rn = 1
        """
    )
    got_rows, want_rows = _canon(got.collect()), _canon(want.collect())
    assert len(got_rows) == 66
    assert got_rows == want_rows


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs]
    )


def _tri_row(spark, pairs):
    return triangle_count(_edges_df(spark, pairs)).collect()[0]


def test_triangle_count_k4_with_noise(spark):
    # K4 (4 triangles) + pendant node, fed with duplicates, reversed
    # orientations and a self-loop — canonicalization must absorb all.
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 1), (5, 5), (4, 5), (5, 4)]
    r = _tri_row(spark, noisy)
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (5, 7, 4)


def test_triangle_count_star_has_none(spark):
    r = _tri_row(spark, [(0, i) for i in range(1, 8)])
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (8, 7, 0)


def test_triangle_count_two_shared_edge_triangles(spark):
    # two triangles sharing edge (1,2): degrees {1:3, 2:3, 3:2, 4:2}
    # exercises the (degree, id) tie-break inside the orientation
    r = _tri_row(spark, [(1, 2), (1, 3), (2, 3), (1, 4), (2, 4)])
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 5, 2)


class TestRRFFusion:
    """rrf_hybrid_topk fusion invariants: the rank->contribution map is
    the exact integer floor(1e9/(60+rank)); a doc absent from a list
    contributes zero from it; output ordering is (rrf_fp DESC, doc_id)."""

    def test_fusion_arithmetic_and_ordering(self, spark, sf_dir):
        import opendata_gov_lt_mysql_import_spark.queries_ml  # noqa: F401
        from opendata_gov_lt_mysql_import_spark.queries import all_queries

        rows = (
            all_queries()["rrf_hybrid_topk"](spark, sf_dir).collect()
        )
        assert 0 < len(rows) <= 10
        def contrib(rank):
            return 10**9 // (60 + rank) if rank > 0 else 0
        for r in rows:
            assert r["rrf_fp"] == contrib(r["rank_lex"]) + contrib(
                r["rank_sem"]
            )
            # at least one list must have ranked the doc
            assert r["rank_lex"] > 0 or r["rank_sem"] > 0
        keys = [(-r["rrf_fp"], r["doc_id"]) for r in rows]
        assert keys == sorted(keys)
