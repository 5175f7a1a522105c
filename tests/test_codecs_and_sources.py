"""JSON/datetime codecs (F6/F7/F9) and source-wrapper tests."""

from __future__ import annotations

import datetime

import pytest

from pyspark.sql import functions as F

from opendata_gov_lt_mysql_import_spark.functions.json_codec import (
    dumps,
    encode_datetime,
    extras_to_dict,
    extras_to_map_col,
    map_to_extras_col,
    rows_to_json,
)
from opendata_gov_lt_mysql_import_spark.sources.jdbc import (
    jdbc_read_options,
    mysql_url,
)


class TestDatetimeEncoding:
    def test_reference_format(self, spark):
        df = spark.createDataFrame(
            [(datetime.datetime(2017, 3, 5, 13, 45, 7),)], "ts timestamp"
        )
        out = df.select(encode_datetime(F.col("ts")).alias("s")).first()["s"]
        assert out == "2017-03-05T13:45:07"

    def test_null_stays_null(self, spark):
        df = spark.createDataFrame([(None,)], "ts timestamp")
        assert df.select(encode_datetime(F.col("ts")).alias("s")).first()["s"] is None

    def test_driver_side_dumps(self):
        s = dumps({"a": datetime.datetime(2017, 3, 5, 13, 45, 7), "b": "ū"})
        assert '"2017-03-05T13:45:07"' in s
        assert "ū" in s  # ensure_ascii off, like the staging IR

    def test_zero_date_sentinel_to_null(self, spark):
        """MySQL '0000-00-00 00:00:00' → null; valid strings parse; the
        sentinel never reaches to_timestamp (ANSI would raise)."""
        from opendata_gov_lt_mysql_import_spark.functions.json_codec import (
            normalize_zero_date,
        )

        df = spark.createDataFrame(
            [
                ("0000-00-00 00:00:00",),
                (" 0000-00-00 00:00:00 ",),  # trimmed before compare
                ("2017-03-05 13:45:07",),
                (None,),
            ],
            "raw string",
        )
        got = [
            r["ts"]
            for r in df.select(
                normalize_zero_date(F.col("raw")).alias("ts")
            ).collect()
        ]
        assert got[0] is None and got[1] is None and got[3] is None
        assert got[2] == datetime.datetime(2017, 3, 5, 13, 45, 7)


class TestRowsToJson:
    def test_roundtrip_via_spark(self, spark):
        df = spark.createDataFrame(
            [(1, "x", datetime.datetime(2020, 1, 2, 3, 4, 5))],
            "id int, s string, ts timestamp",
        )
        staged = rows_to_json(df)
        content = staged.first()["content"]
        assert '"ts":"2020-01-02T03:04:05"' in content
        parsed = staged.select(
            F.from_json(
                "content",
                df.schema,
                {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss"},
            ).alias("r")
        ).select("r.*")
        assert parsed.first() == df.first()


class TestExtras:
    def test_pure_python(self):
        assert extras_to_dict([{"key": "a", "value": "1"}]) == {"a": "1"}

    def test_column_roundtrip(self, spark):
        df = spark.createDataFrame(
            [([("Kodas", "888"), ("Adresas", "g. 9")],)],
            "extras array<struct<key:string,value:string>>",
        )
        m = df.select(extras_to_map_col(F.col("extras")).alias("m"))
        assert m.first()["m"] == {"Kodas": "888", "Adresas": "g. 9"}
        back = m.select(map_to_extras_col(F.col("m")).alias("extras")).first()["extras"]
        assert sorted((e["key"], e["value"]) for e in back) == [
            ("Adresas", "g. 9"),
            ("Kodas", "888"),
        ]


class TestJdbcOptions:
    def test_mysql_url_normalizes_zero_dates(self):
        url = mysql_url("db.example.com", "ivpk")
        assert "zeroDateTimeBehavior=CONVERT_TO_NULL" in url
        assert "characterEncoding=utf8" in url

    def test_partitioned_options(self):
        opts = jdbc_read_options(
            url="jdbc:mysql://h/db",
            table="t_rinkmena",
            partition_column="ID",
            lower_bound=0,
            upper_bound=1000,
            num_partitions=8,
        )
        assert opts["partitionColumn"] == "ID"
        assert opts["numPartitions"] == "8"
        assert opts["pushDownAggregate"] == "true"

    def test_partitioned_requires_bounds(self):
        with pytest.raises(ValueError):
            jdbc_read_options(
                url="jdbc:mysql://h/db", table="t", partition_column="ID"
            )


class TestPartitionedWrite:
    def test_partition_pruning_skips_directories(self, spark, sf_dir, tmp_path):
        from pyspark.sql import functions as F

        from opendata_gov_lt_mysql_import_spark.sources.parquet import (
            load_table,
            write_partitioned,
        )

        ev = load_table(spark, sf_dir, "events").withColumn(
            "day", F.to_date("ts")
        )
        out = str(tmp_path / "events_by_day")
        write_partitioned(ev, out, "day")

        back = spark.read.parquet(out)
        one_day = back.filter(F.col("day") == "2024-01-05")
        plan = one_day._jdf.queryExecution().sparkPlan().toString()
        # pruning shows up as a PartitionFilters entry on the scan, and the
        # full row count must still reconcile
        assert "PartitionFilters" in plan and "day" in plan.split("PartitionFilters")[1].split("]")[0]
        assert back.count() == ev.count()
        assert one_day.count() == ev.filter(F.col("day") == "2024-01-05").count()
        import os
        days = [d for d in os.listdir(out) if d.startswith("day=")]
        assert len(days) > 1  # actually laid out as directories


class TestCompaction:
    def test_compact_restores_row_parity_and_file_count(self, spark, tmp_path):
        from opendata_gov_lt_mysql_import_spark.sources.compact import (
            compact_parquet,
        )
        import pyspark.sql.functions as F
        import glob

        src = str(tmp_path / "fragmented")
        dst = str(tmp_path / "compacted")
        # 64 tiny files — the post-streaming-sink pathology
        spark.range(20_000).select(
            F.col("id"), (F.col("id") % 7).alias("grp")
        ).repartition(64).write.parquet(src)
        n_src = len(glob.glob(src + "/*.parquet"))
        assert n_src >= 32

        got = compact_parquet(spark, src, dst, target_bytes=1 << 30)
        n_dst = len(glob.glob(dst + "/*.parquet"))
        assert n_dst == 1  # all input fits one target-size file
        assert got.count() == 20_000
        assert got.agg(F.sum("id")).collect()[0][0] == sum(range(20_000))

    def test_cluster_by_narrows_file_value_ranges(self, spark, tmp_path):
        """Range clustering must give each output file a disjoint id
        span, so min/max stats make point filters skip files."""
        from opendata_gov_lt_mysql_import_spark.sources.compact import (
            compact_parquet,
        )
        import pyspark.sql.functions as F
        import glob

        src = str(tmp_path / "shuffled")
        dst = str(tmp_path / "clustered")
        spark.range(100_000).select(
            F.xxhash64("id").alias("scatter"), F.col("id")
        ).repartition(16, "scatter").write.parquet(src)
        compact_parquet(
            spark, src, dst, target_bytes=300_000, cluster_by=["id"]
        )
        files = glob.glob(dst + "/*.parquet")
        assert len(files) >= 2
        spans = []
        for f in files:
            stats = spark.read.parquet(f).agg(
                F.min("id"), F.max("id")
            ).collect()[0]
            spans.append((stats[0], stats[1]))
        spans.sort()
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi < lo  # disjoint ranges -> file-skipping filters

    def test_zorder_clustering_keeps_both_dims_selective(self, spark, tmp_path):
        """After Z-order compaction, a point filter on EITHER dimension
        must skip most files (1-D clustering would leave the second
        dimension scattered across every file)."""
        from opendata_gov_lt_mysql_import_spark.sources.compact import (
            compact_parquet,
            zorder_key,
        )
        import pyspark.sql.functions as F
        import glob

        src = str(tmp_path / "grid")
        dst = str(tmp_path / "zordered")
        # 256x256 grid, scattered on disk
        spark.range(65_536).select(
            (F.col("id") % 256).alias("x"),
            (F.col("id") / 256).cast("long").alias("y"),
            F.xxhash64("id").alias("scatter"),
        ).repartition(16, "scatter").write.parquet(src)

        df = spark.read.parquet(src).withColumn(
            "z", zorder_key("x", "y", bits=8)
        )
        z_src = str(tmp_path / "with_z")
        df.write.parquet(z_src)
        compact_parquet(
            spark, z_src, dst, target_bytes=120_000, cluster_by=["z"]
        )
        files = glob.glob(dst + "/*.parquet")
        assert len(files) >= 4

        def files_containing(col, val):
            hits = 0
            for f in files:
                stats = spark.read.parquet(f).agg(
                    F.min(col), F.max(col)
                ).collect()[0]
                if stats[0] <= val <= stats[1]:
                    hits += 1
            return hits

        # a point slice on either dim must be skippable in most files
        assert files_containing("x", 3) <= len(files) // 2 + 1
        assert files_containing("y", 3) <= len(files) // 2 + 1


class TestSchemaEvolution:
    """Drifting-schema parquet directory: early files lack columns and
    carry narrower types; readers present one stable schema."""

    @pytest.fixture()
    def drifted_dir(self, spark, tmp_path):
        d = str(tmp_path / "drift")
        # v1 epoch: no quality column, int ids
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id int, text string"
        ).write.mode("append").parquet(d)
        # v2 epoch: adds quality, widens doc_id to bigint
        spark.createDataFrame(
            [(3, "gamma", 0.9)], "doc_id long, text string, quality double"
        ).write.mode("append").parquet(d)
        return d

    def test_discovery_read_unions_additive_schemas(self, spark, tmp_path):
        # mergeSchema unions ADDED columns but refuses widened types
        # (int vs bigint → CANNOT_MERGE_SCHEMAS) — so discovery only
        # covers additive drift; widening needs the declared path below
        from opendata_gov_lt_mysql_import_spark.sources.evolution import (
            read_evolved,
        )

        d = str(tmp_path / "additive")
        spark.createDataFrame(
            [(1, "alpha"), (2, "beta")], "doc_id long, text string"
        ).write.mode("append").parquet(d)
        spark.createDataFrame(
            [(3, "gamma", 0.9)], "doc_id long, text string, quality double"
        ).write.mode("append").parquet(d)
        df = read_evolved(spark, d)
        assert set(df.columns) == {"doc_id", "text", "quality"}
        rows = {r["doc_id"]: r for r in df.collect()}
        assert rows[1]["quality"] is None  # pre-column file null-fills
        assert rows[3]["quality"] == 0.9

    def test_declared_read_skips_footer_merge_and_applies_defaults(
        self, spark, drifted_dir
    ):
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from opendata_gov_lt_mysql_import_spark.sources.evolution import (
            read_evolved,
        )

        target = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
                StructField("quality", DoubleType()),
            ]
        )
        df = read_evolved(spark, drifted_dir, target, defaults={"quality": 0.5})
        assert [f.dataType.simpleString() for f in df.schema.fields] == [
            "bigint",
            "string",
            "double",
        ]
        rows = {r["doc_id"]: r for r in df.collect()}
        assert rows[1]["quality"] == 0.5  # default replaces the null-fill
        assert rows[3]["quality"] == 0.9  # real value untouched

    def test_align_to_schema_is_pure_projection(self, spark):
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        from opendata_gov_lt_mysql_import_spark.sources.evolution import (
            align_to_schema,
        )

        target = StructType(
            [
                StructField("doc_id", LongType()),
                StructField("text", StringType()),
                StructField("quality", DoubleType()),
            ]
        )
        batch = spark.createDataFrame(
            [(7, "eta", "junk")], "doc_id int, text string, extra string"
        )
        out = align_to_schema(batch, target, defaults={"quality": 1.0})
        assert out.columns == ["doc_id", "text", "quality"]
        r = out.collect()[0]
        assert (r["doc_id"], r["quality"]) == (7, 1.0)
        assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


class TestTextSourceFormats:
    """Interop source formats beyond parquet/JSON: legacy-encoded CSV
    (the upstream opendata.gov.lt MySQL catalog is Lithuanian text that
    historically shipped in windows-1257) and ORC."""

    def test_csv_windows_1257_lithuanian(self, spark, tmp_path):
        rows = [
            (1, "Radiacinės saugos centras"),
            (2, "Šiaulių universitetas ąčęėįšųūž"),
        ]
        raw = "id;title\n" + "\n".join(f"{i};{t}" for i, t in rows) + "\n"
        p = tmp_path / "lt_csv"
        p.mkdir()
        (p / "data.csv").write_bytes(raw.encode("windows-1257"))
        from opendata_gov_lt_mysql_import_spark.sources.staging import (
            read_csv_legacy_encoding,
        )

        df = read_csv_legacy_encoding(
            spark, str(p), "id long, title string", "windows-1257",
            header="true", sep=";",
        )
        got = {r["id"]: r["title"] for r in df.collect()}
        assert got == dict(rows)  # byte-exact decode of Lithuanian text

        # and the decoded text flows straight into the slugify pipeline
        from opendata_gov_lt_mysql_import_spark.functions.text import slugify_col

        slugs = {
            r["id"]: r["slug"]
            for r in df.select("id", slugify_col(F.col("title")).alias("slug")).collect()
        }
        assert slugs[1].startswith("radiacines-saugos-centras")
        assert "siauliu-universitetas" in slugs[2]

    def test_orc_roundtrip_with_predicate_pushdown(self, spark, sf_dir, tmp_path):
        from opendata_gov_lt_mysql_import_spark.sources.parquet import load_table

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        path = str(tmp_path / "orders_orc")
        orders.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        assert back.count() == orders.count()
        # pushdown reaches the ORC scan
        plan = back.filter(F.col("o_orderstatus") == "F")._jdf.queryExecution().sparkPlan().toString()
        assert "o_orderstatus" in plan.split("PushedFilters")[-1].split("]")[0]
        want = orders.filter(F.col("o_orderstatus") == "F").count()
        assert back.filter(F.col("o_orderstatus") == "F").count() == want

    def test_csv_roundtrip_quoting_and_nulls(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, 'has,comma and "quotes"'), (2, None), (3, "plain")],
            "id long, title string",
        )
        path = str(tmp_path / "csv_rt")
        df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
        back = (
            spark.read.option("header", "true")
            .schema("id long, title string")
            .csv(path)
        )
        assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
