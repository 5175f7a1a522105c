"""Unit tests for operators/ranking.py (BM25, DSIR, argbest), the
recall-audit kernel of queries_ml.py (_topk_per_query, _recall_report)
and operators/graph.py triangle_count — pure-Python golden replicas plus
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


def _topk_rows():
    """(nprobe, qid, vec_id, s, lab): every qid under two nprobe values,
    integer scores drawn from a small pool so that many rows tie, also
    at the k-th place; vec_ids are shuffled so no input order agrees
    with the tiebreak."""
    rng = random.Random(11)
    rows = []
    for nprobe in (1, 2):
        for qid in range(6):
            ids = rng.sample(range(100), rng.randint(1, 9))
            rows += [
                (nprobe, qid, v, float(rng.choice((0, 1, 2))), f"{nprobe}.{qid}.{v}")
                for v in ids
            ]
    return rows


@pytest.mark.parametrize("largest", [False, True])
def test_topk_per_query_and_recall_report(spark, largest):
    """``_topk_per_query`` keeps the k best rows per (nprobe, qid) key,
    score ties to the smaller vec_id, with carried columns; the recall
    report gives every panel query a row, hits10 and recall_bp 0 (not
    NULL) for a query with no hit, also for an empty approximate side."""
    from opendata_gov_lt_mysql_import_spark.queries_ml import (
        _recall_report,
        _topk_per_query,
    )
    from opendata_gov_lt_mysql_import_spark.sources.local import local_frame

    k = 3
    rows = _topk_rows()
    scored = local_frame(
        spark, rows, "nprobe long, qid long, vec_id long, s double, lab string"
    ).repartition(3)
    got = _topk_per_query(
        scored, "s", k, by=("nprobe", "qid"), largest=largest, carry=("s", "lab")
    )
    assert got.columns == ["nprobe", "qid", "vec_id", "s", "lab"]
    groups = {}
    for r in rows:
        groups.setdefault(r[:2], []).append(r)
    want = []
    for g in groups.values():
        g.sort(key=lambda r: (-r[3] if largest else r[3], r[2]))
        want += g[:k]
    assert sorted(map(tuple, got.collect())) == sorted(want)
    # the k-th place is contested somewhere, and both nprobe keys of one
    # qid were ranked on their own
    assert any(
        len(g) > k and g[k - 1][3] == g[k][3] for g in groups.values()
    )
    assert {r[0] for r in want} == {1, 2}

    # recall: the exact top-k of the nprobe=1 key against the even
    # vec_ids of that key as the approximate side, qid 5 left out of it;
    # qid 6 is in the panel but in no side
    exact = got.filter(F.col("nprobe") == 1).select("qid", "vec_id")
    approx = scored.filter(
        (F.col("nprobe") == 1) & (F.col("vec_id") % 2 == 0) & (F.col("qid") != 5)
    ).select("qid", "vec_id")
    panel = local_frame(spark, [(q,) for q in range(7)], "qid long")
    report, cols = _recall_report(panel, exact, approx)
    out = {r["qid"]: (r["hits10"], r["recall_bp"])
           for r in report.select("qid", *cols).collect()}
    hits = {q: 0 for q in range(7)}
    for r in want:
        if r[0] == 1 and r[2] % 2 == 0 and r[1] != 5:
            hits[r[1]] += 1
    assert out == {q: (h, h * 1000) for q, h in hits.items()}
    assert max(hits.values()) > 1 and out[5] == out[6] == (0, 0)

    empty = local_frame(spark, [], "qid long, vec_id long")
    report, cols = _recall_report(panel, exact, empty, suffix="_raw")
    got_empty = report.select("qid", *cols)
    assert got_empty.columns == ["qid", "hits10_raw", "recall_bp_raw"]
    assert sorted(map(tuple, got_empty.collect())) == [
        (q, 0, 0) for q in range(7)
    ]


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
