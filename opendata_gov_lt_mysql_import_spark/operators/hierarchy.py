"""Hierarchy / recursion (SURVEY.md §2.5 W1) — adjacency-list tree closure.

The reference walks the category tree with driver-side DFS recursion
(``sync_group_tree``, /root/reference/odgovlt.py:260-290) over an
in-memory ``defaultdict`` adjacency index (odgovlt.py:302-306). Here the
closure is an iterative loop of self-joins — each iteration extends every
node's root-path by one level; terminates when no frontier rows remain
(or at ``max_levels``). The per-level frame is tiny relative to facts,
but the loop is written scale-safe anyway: no ``collect()`` of the tree,
localCheckpoint between levels to truncate lineage, and the result is a
flat ``(id, root_id, depth, path)`` closure any downstream join can
broadcast.

Spark 4.1 also ships native ``WITH RECURSIVE`` (UnionLoop execution);
``w1_tree_closure_recursive`` in queries_sql.py is the declarative twin
and the preferred form when no path-array accumulation or explicit
per-level lineage truncation is needed. This manual operator stays for
those two cases (and for Spark <4.0 portability of the pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tree_closure(
    nodes: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent_id",
    root_parent: object = 0,
    max_levels: int = 32,
    name_col: str | None = None,
) -> DataFrame:
    """Flatten an adjacency list into per-node root/depth/path.

    Returns columns: ``id``, ``parent_id``, ``root_id``, ``depth`` (1 =
    root), ``path`` (array of ids root→node), and ``name_path`` when
    ``name_col`` given.
    """
    select_cols = [
        F.col(id_col).alias("id"),
        F.col(parent_col).alias("parent_id"),
    ]
    if name_col:
        select_cols.append(F.col(name_col).alias("name"))
    base = nodes.select(*select_cols)

    frontier = base.filter(F.col("parent_id") == F.lit(root_parent)).select(
        "id",
        "parent_id",
        F.col("id").alias("root_id"),
        F.lit(1).alias("depth"),
        F.array("id").alias("path"),
        *([F.array("name").alias("name_path")] if name_col else []),
    )
    closure = frontier
    for _ in range(max_levels):
        children = base.select(
            F.col("id").alias("c_id"),
            F.col("parent_id").alias("c_parent"),
            *([F.col("name").alias("c_name")] if name_col else []),
        )
        nxt = (
            frontier.join(children, frontier["id"] == F.col("c_parent"))
            .select(
                F.col("c_id").alias("id"),
                F.col("c_parent").alias("parent_id"),
                "root_id",
                (F.col("depth") + 1).alias("depth"),
                F.array_append("path", F.col("c_id")).alias("path"),
                *(
                    [F.array_append("name_path", F.col("c_name")).alias("name_path")]
                    if name_col
                    else []
                ),
            )
        )
        nxt = nxt.localCheckpoint(eager=True)  # truncate lineage per level
        if nxt.isEmpty():
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure


def children_lists(nodes: DataFrame, id_col: str, parent_col: str, payload) -> DataFrame:
    """A1/A3: group children under their parent with a deterministic sorted
    list — the set-oriented form of the reference's defaultdict index +
    nested child-group references (odgovlt.py:302-306, 269-272)."""
    return (
        nodes.groupBy(F.col(parent_col).alias("parent_id"))
        .agg(F.array_sort(F.collect_list(payload)).alias("children"))
    )

