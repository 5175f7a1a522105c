"""End-to-end pipeline test on a replica of the reference's own test
fixture (reference tests/test_odgovlt.py:120-389): 2 datasets (+1 with
unknown user/org), 2 users, 2 orgs, a 7-node 3-level category tree, and
the M:N bridge. Asserts the reference's golden outputs: group slugs and
tree edges, package documents (title/notes/url/maintainer/org/groups),
sorted tag lists with Lithuanian diacritics, and fallback defaults."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from opendata_gov_lt_mysql_import_spark.plans.pipeline import HarvestPipeline
from reference_fixture import R_ZODZIAI_1, build_reference_tables
from opendata_gov_lt_mysql_import_spark.plans.sync import (
    JsonDirSink,
    apply_sync_ordered,
    plan_sync,
)

@pytest.fixture(scope="module")
def tables(spark):
    return build_reference_tables(spark)


@pytest.fixture(scope="module")
def pipeline(spark, tables):
    return HarvestPipeline(spark, tables)


class TestGroupTree:
    def test_golden_group_names(self, pipeline):
        docs = pipeline.group_documents().collect()
        # reference tests/test_odgovlt.py:241-249
        assert sorted(d["name"] for d in docs) == [
            "testas1-1",
            "testas2-2",
            "testas3-3",
            "testas4-4",
            "testas5-5",
            "testas6-6",
            "testas7-7",
        ]

    def test_golden_tree_edges(self, pipeline):
        docs = {d["name"]: d for d in pipeline.group_documents().collect()}
        # reference tests/test_odgovlt.py:251-260
        def subgroups(name):
            return [g["name"] for g in docs[name]["groups"]]

        assert subgroups("testas1-1") == ["testas3-3"]
        assert subgroups("testas2-2") == ["testas4-4"]
        assert subgroups("testas3-3") == ["testas5-5"]
        assert subgroups("testas4-4") == ["testas6-6", "testas7-7"]
        assert subgroups("testas5-5") == []
        assert subgroups("testas6-6") == []
        assert subgroups("testas7-7") == []

    def test_depth_matches_lygis(self, pipeline, tables):
        docs = pipeline.group_documents().select("source_id", "depth").collect()
        lygis = {r["ID"]: r["LYGIS"] for r in tables["kategorija"].collect()}
        for d in docs:
            assert d["depth"] == lygis[d["source_id"]]

    def test_ownership_extras(self, pipeline):
        doc = pipeline.group_documents().filter(F.col("name") == "testas1-1").first()
        extras = {e["key"]: e["value"] for e in doc["extras"]}
        assert extras["Šaltinis"] == "IVPK IRS"
        assert extras["Šaltinio ID"] == "1"


class TestPackageDocuments:
    def test_golden_package_1(self, pipeline):
        docs = {d["id"]: d for d in pipeline.package_documents().collect()}
        p1 = docs["1"]
        # reference tests/test_odgovlt.py:329-344
        assert p1["title"] == "Testinė rinkmena nr. 1"
        assert p1["name"] == "testine-rinkmena-nr-1"
        assert p1["notes"] == "Testas nr. 1"
        assert p1["url"] == "http://www.testas1.lt"
        assert p1["maintainer"] == "Jonas Jonaitis"
        assert p1["maintainer_email"] == "testas1@testas1.com"
        assert p1["owner_org"] == "testine-organizacija-nr-1"
        assert p1["state"] == "active"
        assert [g["name"] for g in p1["groups"]] == ["testas1-1"]
        # reference tests/test_odgovlt.py:378-384
        assert sorted(t["name"] for t in p1["tags"]) == [
            "licencijos",
            "licencijuojamos veiklos teritorija",
            "šiluma",
            "šilumos tiekimo licencijas turinčių įmonių sąrašas",
            "šilumos tiekėjai",
        ]
        extras = {e["key"]: e["value"] for e in p1["extras"]}
        assert extras["Šaltinis"] == "IVPK IRS"
        assert extras["Šaltinio ID"] == "1"
        assert extras["Kodas"] == "kodas-1"

    def test_golden_package_2(self, pipeline):
        docs = {d["id"]: d for d in pipeline.package_documents().collect()}
        p2 = docs["2"]
        assert p2["maintainer"] == "Tomas Tomauskas"
        assert [g["name"] for g in p2["groups"]] == ["testas3-3"]
        assert sorted(t["name"] for t in p2["tags"]) == ["eismo intensyvumas", "keliai"]

    def test_unknown_user_org_defaults(self, pipeline):
        docs = {d["id"]: d for d in pipeline.package_documents().collect()}
        p3 = docs["3"]
        # reference tests/test_odgovlt.py:360-361
        assert p3["maintainer"] == "Unknown User"
        assert p3["owner_org"] == "unknown"
        assert p3["groups"] == []

    def test_unpublished_filtered(self, pipeline):
        ids = {d["id"] for d in pipeline.package_documents().collect()}
        assert "4" not in ids


class TestRejectedTags:
    def test_short_tag_surfaces_in_rejects(self, pipeline):
        """Dataset 2's '\"e\"' keyword normalizes to 1 char — the reference
        warns 'skip too short tag' (odgovlt.py:90-91); here it lands in
        the rejects frame with the original (pre-tagify) token."""
        rejects = [
            (r["id"], r["tag"], r["reason"])
            for r in pipeline.rejected_tags().collect()
        ]
        assert rejects == [("2", '"e"', "too_short")]

    def test_kept_plus_rejected_covers_all_tokens(self, spark):
        from pyspark.sql import functions as F

        from opendata_gov_lt_mysql_import_spark.functions.text import (
            package_tags_col,
            rejected_tags_col,
        )

        df = spark.createDataFrame(
            [("ok tag,x," + "y" * 101 + ",kitas geras",)], "packed string"
        )
        row = df.select(
            package_tags_col(F.col("packed")).alias("kept"),
            rejected_tags_col(F.col("packed")).alias("rej"),
        ).first()
        assert row["kept"] == ["ok tag", "kitas geras"]
        assert [(r["tag"], r["reason"]) for r in row["rej"]] == [
            ("x", "too_short"),
            ("y" * 101, "too_long"),
        ]


class TestMembershipEdges:
    def test_golden_edges(self, pipeline):
        """organization_member_create analog (odgovlt.py:381): each active
        dataset's (org, user) pair becomes one editor-role edge; unknown
        dims fall back to the reference's placeholder entities."""
        edges = {
            (r["org_name"], r["user_name"], r["role"])
            for r in pipeline.membership_edges().collect()
        }
        assert edges == {
            ("testine-organizacija-nr-1", "user1", "editor"),
            ("testine-organizacija-nr-2", "user2", "editor"),
            ("unknown", "unknown", "editor"),
        }


class TestEnsureHarvestUser:
    SCHEMA = "name string, sysadmin boolean, password string"

    def test_absent_created(self, spark):
        from opendata_gov_lt_mysql_import_spark.plans.sync import ensure_harvest_user

        users = spark.createDataFrame([("alice", False, "pw")], self.SCHEMA)
        out = ensure_harvest_user(users).collect()
        rows = {r["name"]: r for r in out}
        assert rows["harvest"]["sysadmin"] is True
        assert rows["harvest"]["password"] == "secret123"
        assert rows["alice"]["sysadmin"] is False

    def test_present_promoted(self, spark):
        from opendata_gov_lt_mysql_import_spark.plans.sync import ensure_harvest_user

        users = spark.createDataFrame(
            [("harvest", False, "pw"), ("bob", False, "pw")], self.SCHEMA
        )
        out = ensure_harvest_user(users).collect()
        rows = {r["name"]: r for r in out}
        assert len(out) == 2  # promoted in place, not duplicated
        assert rows["harvest"]["sysadmin"] is True
        assert rows["harvest"]["password"] == "pw"  # existing row kept

    def test_idempotent_fixpoint(self, spark):
        from opendata_gov_lt_mysql_import_spark.plans.sync import ensure_harvest_user

        users = spark.createDataFrame([("alice", False, "pw")], self.SCHEMA)
        once = ensure_harvest_user(users)
        twice = ensure_harvest_user(once)
        assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


class TestStagingRoundtrip:
    def test_staged_equals_direct(self, pipeline, tmp_path):
        path = str(tmp_path / "staging")
        pipeline.gather_to_staging(path)
        direct = pipeline.package_documents()
        staged = pipeline.packages_from_staging(path)
        d = {r["id"]: r for r in direct.collect()}
        s = {r["id"]: r for r in staged.collect()}
        assert set(d) == set(s)
        for k in d:
            assert d[k] == s[k]


class TestDiffSync:
    # `full` tier (round-16): see pytest.ini — excluded from the default driver-window run
    @pytest.mark.full
    def test_plan_and_ordered_apply(self, spark, pipeline, tmp_path):
        incoming = pipeline.group_documents()
        # existing sink state: one group up to date, one changed title,
        # one stale-owned, one stale-foreign
        existing = spark.createDataFrame(
            [
                ("testas1-1", "testas1", "IVPK IRS", 1),
                ("testas2-2", "SENAS PAVADINIMAS", "IVPK IRS", 1),
                ("nebeliko-99", "nebeliko", "IVPK IRS", 1),
                ("svetimas-1", "svetimas", "kita sistema", 1),
            ],
            "name string, title string, owner string, depth int",
        )
        plan = plan_sync(
            incoming.select("name", "title", "depth"),
            existing,
            key="name",
            compare_fields=["title"],
            ownership_filter=F.col("owner") == "IVPK IRS",
        )
        counts = plan.counts()
        assert counts == {"create": 5, "update": 1, "delete": 1}
        assert plan.deletes.first()["name"] == "nebeliko-99"

        sink_dir = str(tmp_path / "sink")
        apply_sync_ordered(plan, JsonDirSink(sink_dir), depth_col="depth")
        import glob
        import json as _json

        rows = []
        for f in sorted(glob.glob(f"{sink_dir}/*.jsonl")):
            kind = f.rsplit("/", 1)[-1].split("-")[0]
            with open(f, encoding="utf-8") as fh:
                rows += [(kind, _json.loads(line)) for line in fh]
        kinds = {}
        for kind, row in rows:
            kinds.setdefault(kind, []).append(row)
        assert len(kinds["create"]) == 5
        assert kinds["update"][0]["name"] == "testas2-2"
        assert kinds["delete"][0]["name"] == "nebeliko-99"

    @pytest.mark.parametrize("compare_fields", [["title"], None])
    def test_plan_equals_lazy_definitions(self, spark, tmp_path, compare_fields):
        """plan_sync's materialized sets equal the lazy definitions
        (changed_rows split by kind, stale_rows) as multisets, with NULL
        keys on both sides, stale rows that fail the ownership gate or
        have a NULL owner, and a sink-only column; and they stay readable
        after both inputs are gone."""
        import shutil
        from collections import Counter

        from opendata_gov_lt_mysql_import_spark.functions.diff import changed_rows
        from opendata_gov_lt_mysql_import_spark.operators.joins import stale_rows

        incoming = spark.createDataFrame(
            [
                (1, "same", "x", 0),
                (2, "retitled", "x", 0),
                (3, "same", "other extra", 0),
                (4, "new", "x", 1),
                (None, "null key", "x", 0),
                (None, "null key", "x", 0),
            ],
            "id int, title string, extra string, depth int",
        )
        existing = spark.createDataFrame(
            [
                (1, "same", "x", 0, "IVPK IRS", "s1"),
                (2, "old title", "x", 0, "IVPK IRS", "s2"),
                (3, "same", "x", 0, "IVPK IRS", "s3"),
                (5, "gone", "x", 0, "IVPK IRS", "s5"),
                (6, "foreign", "x", 0, "kita sistema", "s6"),
                (7, "no owner", "x", 0, None, "s7"),
                (None, "null key", "x", 0, "IVPK IRS", "s8"),
            ],
            "id int, title string, extra string, depth int, owner string, sink_only string",
        )
        inc_dir, ex_dir = str(tmp_path / "incoming"), str(tmp_path / "existing")
        incoming.write.parquet(inc_dir)
        existing.write.parquet(ex_dir)
        incoming, existing = spark.read.parquet(inc_dir), spark.read.parquet(ex_dir)
        owned = F.col("owner") == "IVPK IRS"

        changed = changed_rows(incoming, existing, "id", compare_fields)
        want = {
            kind: Counter(
                map(tuple, changed.filter(F.col("_change_kind") == kind)
                    .drop("_change_kind").collect())
            )
            for kind in ("create", "update")
        }
        want["delete"] = Counter(
            map(tuple, stale_rows(existing, incoming, on="id", ownership_filter=owned).collect())
        )

        plan = plan_sync(
            incoming, existing, key="id", compare_fields=compare_fields,
            ownership_filter=owned,
        )
        shutil.rmtree(inc_dir)
        shutil.rmtree(ex_dir)
        got = {
            "create": Counter(map(tuple, plan.creates.collect())),
            "update": Counter(map(tuple, plan.updates.collect())),
            "delete": Counter(map(tuple, plan.deletes.collect())),
        }
        assert got == want
        counts = plan.counts()
        assert counts == {k: sum(v.values()) for k, v in want.items()}
        assert counts == {"create": 3, "update": 1 if compare_fields else 2, "delete": 2}


class TestObservedExport:
    def test_metrics_ride_the_write_job(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from opendata_gov_lt_mysql_import_spark.plans.sync import (
            export_with_observed_metrics,
        )
        from opendata_gov_lt_mysql_import_spark.sources.parquet import load_table

        o = load_table(spark, sf_dir, "orders")
        path = str(tmp_path / "export")
        got = export_with_observed_metrics(
            o,
            path,
            {
                "rows": F.count(F.lit(1)),
                "null_keys": F.count(F.when(F.col("o_orderkey").isNull(), 1)),
                "total": F.round(F.sum("o_totalprice"), 2),
            },
        )
        want = o.agg(
            F.count(F.lit(1)).alias("rows"),
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("null_keys"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        ).collect()[0]
        assert got["rows"] == want["rows"] and got["rows"] > 0
        assert got["null_keys"] == 0
        assert abs(got["total"] - want["total"]) < 0.01
        # the export itself landed intact
        assert spark.read.parquet(path).count() == got["rows"]
