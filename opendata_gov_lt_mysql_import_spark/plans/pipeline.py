"""The harvest pipeline as one lazy DAG (reference E1-E3,
/root/reference/odgovlt.py:355-407).

The reference runs three stages through a work queue: gather (dimension
sync + per-row JSON staging), fetch (no-op), import (per-object N+1
lookups + document build + upsert). Here the whole thing is one Catalyst
plan per entity kind:

- dimension documents (users/orgs/groups) are built set-oriented;
- package documents join the staged facts against broadcast dimensions;
- the group tree is flattened once with the iterative closure;
- the staging hop (S10/S11) is an optional parquet checkpoint.

Input is a dict of the five source tables (``sources.jdbc
.read_reference_tables`` at production, synthesized DataFrames in tests) —
the pipeline itself is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import slugify_col
from ..operators.hierarchy import tree_closure
from ..operators.joins import mn_bridge_collect
from ..operators.projections import (
    ADDRESS_KEY,
    CODE_KEY,
    SOURCE_ID_KEY,
    SOURCE_IVPK_IRS,
    SOURCE_NAME,
    extras_entry,
    package_document,
    user_document,
    organization_document,
)
from ..sources.staging import stage_read, stage_write


def group_name_col(pavadinimas: F.Column, id_col: F.Column) -> F.Column:
    """W2: deterministic group naming — slug of 'PAVADINIMAS ID' so names
    embed the PK (reference _get_group_name, odgovlt.py:289-290)."""
    return slugify_col(F.concat_ws(" ", pavadinimas, id_col.cast("string")))


class HarvestPipeline:
    """Set-oriented re-expression of the OdgovltHarvester lifecycle."""

    def __init__(self, spark: SparkSession, tables: dict[str, DataFrame]):
        self.spark = spark
        self.t = tables

    # -- dimension documents ------------------------------------------------

    def user_documents(self) -> DataFrame:
        return user_document(self.t["user"])

    def organization_documents(self) -> DataFrame:
        return organization_document(self.t["istaiga"])

    def group_documents(self) -> DataFrame:
        """Category tree → CKAN group documents with child-group refs and
        topological depth for sink ordering (reference sync_group_tree,
        odgovlt.py:260-290, driven set-oriented here)."""
        kat = self.t["kategorija"].select(
            F.col("ID").alias("id"),
            F.col("KATEGORIJA_ID").alias("parent_id"),
            F.col("PAVADINIMAS").alias("title"),
        )
        named = kat.withColumn("name", group_name_col(F.col("title"), F.col("id")))

        closure = tree_closure(named, root_parent=0)
        depths = closure.select("id", "depth")

        child_refs = (
            named.select("parent_id", F.struct(F.col("name")).alias("child_ref"), F.col("id").alias("child_id"))
            .groupBy("parent_id")
            .agg(F.array_sort(F.collect_list(F.struct("child_id", "child_ref"))).alias("_kids"))
            .select(
                F.col("parent_id").alias("id"),
                F.transform(F.col("_kids"), lambda k: k["child_ref"]).alias("groups"),
            )
        )

        docs = (
            named.join(child_refs, on="id", how="left")
            .join(F.broadcast(depths), on="id", how="left")
            .select(
                F.col("id").alias("source_id"),
                "name",
                "title",
                F.array(
                    extras_entry(SOURCE_NAME, F.lit(SOURCE_IVPK_IRS)),
                    extras_entry(SOURCE_ID_KEY, F.col("id")),
                ).alias("extras"),
                F.coalesce(
                    F.col("groups"),
                    F.array().cast("array<struct<name:string>>"),
                ).alias("groups"),
                F.lit("active").alias("state"),
                F.col("depth"),
            )
        )
        return docs

    # -- fact documents -----------------------------------------------------

    def active_datasets(self) -> DataFrame:
        """S2/P1: the published-dataset scan (STATUSAS='U')."""
        return self.t["rinkmena"].filter(F.col("STATUSAS") == "U")

    def package_documents(self, datasets: DataFrame | None = None) -> DataFrame:
        """E3 assembly: dataset facts ⋈ broadcast user/org dims ⋈ group
        lists, projected into CKAN package documents. One plan; the
        reference's per-object N+1 lookups (odgovlt.py:373-407) appear as
        two broadcast hash joins + one bridge aggregation."""
        ds = datasets if datasets is not None else self.active_datasets()

        users = self.user_documents().select(
            F.col("source_id").alias("USER_ID"),
            F.col("fullname").alias("_user_fullname"),
        )
        orgs = self.organization_documents().select(
            F.col("source_id").alias("istaiga_id"),
            F.col("name").alias("_org_name"),
        )
        groups_per_ds = mn_bridge_collect(
            bridge=self.t["kategorija_rinkmena"],
            dim=self.t["kategorija"].withColumn(
                "_gname", group_name_col(F.col("PAVADINIMAS"), F.col("ID"))
            ),
            fact_key="ID",
            bridge_fact_key="RINKMENA_ID",
            bridge_dim_key="KATEGORIJA_ID",
            dim_key="ID",
            collect_col=F.col("_gname"),
            alias="_group_names",
        )

        enriched = (
            ds.join(F.broadcast(users), on="USER_ID", how="left")
            .join(F.broadcast(orgs), on="istaiga_id", how="left")
            .join(groups_per_ds, on="ID", how="left")
            .withColumn(
                "_user_fullname",
                F.coalesce(F.col("_user_fullname"), F.lit("Unknown User")),
            )
            .withColumn("_org_name", F.coalesce(F.col("_org_name"), F.lit("unknown")))
            .withColumn(
                "_group_names",
                F.coalesce(F.col("_group_names"), F.array().cast("array<string>")),
            )
        )
        return package_document(
            enriched,
            maintainer_fullname=F.col("_user_fullname"),
            owner_org_name=F.col("_org_name"),
            groups_col=F.transform(F.col("_group_names"), lambda g: g),
        )

    def rejected_tags(self, datasets: DataFrame | None = None) -> DataFrame:
        """P8 warn side-channel as a rejects DataFrame: one
        (dataset id, tag, reason) row per keyword the tag pipeline skips
        (reference logs them, odgovlt.py:88-93)."""
        from ..functions.text import rejected_tags_col

        ds = datasets if datasets is not None else self.active_datasets()
        return ds.select(
            F.col("ID").cast("string").alias("id"),
            F.explode(rejected_tags_col(F.col("R_ZODZIAI"))).alias("_r"),
        ).select("id", F.col("_r.tag").alias("tag"), F.col("_r.reason").alias("reason"))

    def membership_edges(self, datasets: DataFrame | None = None) -> DataFrame:
        """``organization_member_create`` analog (reference import stage,
        odgovlt.py:381): one (org_name, user_name, role='editor') edge per
        organization/user pair co-occurring on an active dataset. The
        reference issues the call once per imported dataset; member
        creation is idempotent, so the set-oriented form is the distinct
        pair set. Missing dims fall back to the reference's 'unknown'
        placeholder entities (odgovlt.py:195-201, 232-238)."""
        ds = datasets if datasets is not None else self.active_datasets()
        users = self.user_documents().select(
            F.col("source_id").alias("USER_ID"), F.col("name").alias("_user_name")
        )
        orgs = self.organization_documents().select(
            F.col("source_id").alias("istaiga_id"), F.col("name").alias("_org_name")
        )
        return (
            ds.select("USER_ID", "istaiga_id")
            .join(F.broadcast(users), on="USER_ID", how="left")
            .join(F.broadcast(orgs), on="istaiga_id", how="left")
            .select(
                F.coalesce(F.col("_org_name"), F.lit("unknown")).alias("org_name"),
                F.coalesce(F.col("_user_name"), F.lit("unknown")).alias("user_name"),
                F.lit("editor").alias("role"),
            )
            .distinct()
        )

    # -- staging (S10/S11) --------------------------------------------------

    def gather_to_staging(self, path: str) -> None:
        """E1: persist active dataset rows as (guid, JSON) parquet."""
        stage_write(self.active_datasets(), path, guid_col="ID")

    def packages_from_staging(self, path: str) -> DataFrame:
        """E3 from the checkpoint instead of the source tables."""
        staged = stage_read(self.spark, path, self.active_datasets().schema)
        return self.package_documents(datasets=staged.drop("guid"))
