"""Document projections (SURVEY.md §2.2 P4-P6) — flat rows → nested
CKAN-shaped entity documents.

The reference builds these dicts row-at-a-time
(package /root/reference/odgovlt.py:383-406, user :186-203, organization
:224-247). Here each is one ``select`` with struct/array builders — pure
projection, no shuffle, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import package_tags_col, slugify_col

# Well-known extras keys (reference constants, odgovlt.py:25-29)
CODE_KEY = "Kodas"
ADDRESS_KEY = "Adresas"
SOURCE_ID_KEY = "Šaltinio ID"
SOURCE_NAME = "Šaltinis"
SOURCE_IVPK_IRS = "IVPK IRS"


def extras_entry(key: str, value: Column) -> Column:
    return F.struct(F.lit(key).alias("key"), value.cast("string").alias("value"))


def user_document(users: DataFrame) -> DataFrame:
    """P5: user row → {name: slug(LOGIN), email, password, fullname}."""
    return users.select(
        F.col("ID").alias("source_id"),
        slugify_col(F.col("LOGIN")).alias("name"),
        F.col("EMAIL").alias("email"),
        F.col("PASS").alias("password"),
        F.concat_ws(" ", F.col("FIRST_NAME"), F.col("LAST_NAME")).alias("fullname"),
    )


def organization_document(orgs: DataFrame) -> DataFrame:
    """P6: organization row → {name, title, state, extras[ID/KODAS/ADRESAS]}."""
    return orgs.select(
        F.col("ID").alias("source_id"),
        slugify_col(F.col("PAVADINIMAS")).alias("name"),
        F.col("PAVADINIMAS").alias("title"),
        F.lit("active").alias("state"),
        F.array(
            extras_entry(SOURCE_ID_KEY, F.col("ID")),
            extras_entry(CODE_KEY, F.col("KODAS")),
            extras_entry(ADDRESS_KEY, F.col("ADRESAS")),
        ).alias("extras"),
    )


def package_document(
    datasets: DataFrame,
    maintainer_fullname: Column,
    owner_org_name: Column,
    groups_col: Column,
) -> DataFrame:
    """P4: 33-column dataset row (+ joined user/org/groups) → package doc.

    Renames PAVADINIMAS→title, SANTRAUKA→notes, TINKLAPIS→url,
    K_EMAIL→maintainer_email; 42-char slug budget (odgovlt.py:385); tags
    from the packed keyword column; constant extras tagging ownership.
    """
    return datasets.select(
        F.col("ID").cast("string").alias("id"),
        slugify_col(F.col("PAVADINIMAS"), 42).alias("name"),
        F.col("PAVADINIMAS").alias("title"),
        F.col("SANTRAUKA").alias("notes"),
        F.col("TINKLAPIS").alias("url"),
        maintainer_fullname.alias("maintainer"),
        F.col("K_EMAIL").alias("maintainer_email"),
        owner_org_name.alias("owner_org"),
        F.lit("active").alias("state"),
        F.transform(
            package_tags_col(F.col("R_ZODZIAI")), lambda t: F.struct(t.alias("name"))
        ).alias("tags"),
        F.transform(groups_col, lambda g: F.struct(g.alias("name"))).alias("groups"),
        F.array(
            extras_entry(SOURCE_NAME, F.lit(SOURCE_IVPK_IRS)),
            extras_entry(SOURCE_ID_KEY, F.col("ID")),
            extras_entry(CODE_KEY, F.col("KODAS")),
        ).alias("extras"),
    )


def denormalize_star(
    fact: DataFrame,
    dims: list[tuple[DataFrame, str, str, str]],
    broadcast_dims: bool = True,
) -> DataFrame:
    """Flatten a star schema into one wide frame: left-join each
    dimension ``(dim_df, fact_key, dim_key, prefix)`` onto the fact,
    prefixing dim columns to avoid collisions. The export shape for
    training-data and BI delivery — and the join plan is the point: with
    ``broadcast_dims`` every join is a broadcast-hash (the fact never
    shuffles, however many dims are attached), which is exactly how a
    100 TB fact should be widened. Left joins keep orphan fact rows
    (dim columns null) so the denormalize never silently drops facts —
    pair with validation.foreign_key_check to gate instead."""
    out = fact
    for dim, fact_key, dim_key, prefix in dims:
        renamed = dim.select(
            F.col(dim_key).alias(f"_dk_{prefix}"),
            *[
                F.col(c).alias(f"{prefix}_{c}")
                for c in dim.columns
                if c != dim_key
            ],
        )
        if broadcast_dims:
            renamed = F.broadcast(renamed)
        out = out.join(
            renamed, out[fact_key] == renamed[f"_dk_{prefix}"], "left"
        ).drop(f"_dk_{prefix}")
    return out
