"""Connected components over the verified dup-pair edge list → dup-group ids.

Hash-to-min label propagation (Rastogi et al., ICDE 2013, "Finding Connected
Components in Map-Reduce in Logarithmic Rounds"): every vertex repeatedly adopts the
minimum label in its closed neighborhood. With the LSH layer's star/chain edges the
component diameter is tiny (buckets are cliques or chains through the sorted order),
so convergence takes O(log d) ≈ 3-6 rounds.

All DataFrame joins/aggregations; labels are the lexicographic min image_id, which is
deterministic and stable (ids are zero-padded). ``localCheckpoint`` truncates the
iterative lineage so plans don't grow superlinearly with rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 25,
    id_col: str = "image_id",
    label_col: str = "dup_group",
) -> DataFrame:
    """edges (src, dst) [+ optional vertex universe] → (id_col, label_col).

    Vertices not touched by any edge keep themselves as their label (singleton
    groups) when a vertex universe is supplied.
    """
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=True)
    )

    # seed labels with the closed-neighborhood min (= the first hash-to-min
    # round fused into initialization): one groupBy instead of a join+agg
    # round. Dup components are overwhelmingly tiny (pairs/triangles through
    # clique edges), so most converge AT init and the loop's first iteration
    # is just the no-change confirmation — one fewer full round.
    labels = (
        sym.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("label"))
        .withColumnRenamed("u", "id")
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iters):
        nbr_min = (
            sym.join(labels.withColumnRenamed("id", "v"), "v")
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("u", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.col("label").alias("_prev"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer jumping: label(v) ← label(label(v)) — makes convergence
        # logarithmic in component diameter instead of linear (path-graph case)
        jump = stepped.select(F.col("id").alias("jid"), F.col("label").alias("jlabel"))
        # the convergence count is observed on the checkpoint job itself; the
        # old label (_prev) feeds it and is dropped before materializing
        obs = Observation()
        labels = (
            stepped.join(jump.withColumnRenamed("jid", "label"), "label", "left")
            .select(
                "id",
                "_prev",
                F.least(F.col("label"), F.coalesce("jlabel", "label")).alias("label"),
            )
            .observe(obs, F.count_if(F.col("label") != F.col("_prev")).alias("changed"))
            .select("id", "label")
            .localCheckpoint(eager=True)
        )
        if obs.get["changed"] == 0:
            break

    out = labels.select(F.col("id").alias(id_col), F.col("label").alias(label_col))
    if vertices is not None:
        out = (
            vertices.select(id_col)
            .distinct()
            .join(out, id_col, "left")
            .select(
                id_col,
                F.coalesce(label_col, F.col(id_col)).alias(label_col),
            )
        )
    return out


def merge_dup_groups(
    assignments: DataFrame,
    new_edges: DataFrame,
    id_col: str = "image_id",
    group_col: str = "dup_group",
    max_iters: int = 25,
) -> DataFrame:
    """Incremental dup-group maintenance — the daily-ingest companion of
    ``connected_components``: new verified edges (shard-internal and
    shard-vs-corpus, e.g. from ``simhash_dedup_against_corpus``) may MERGE
    existing groups and introduce new members; recomputing closure over the
    full 10^12-row corpus for that is absurd. Instead the edge endpoints are
    CONTRACTED to their existing group ids (new ids stand for themselves),
    components run over that contracted graph — nodes are only the TOUCHED
    groups plus new ids, edges only the new batch, so the iterative part is
    shard-sized no matter how big the corpus — and labels stay stable: a
    merged component adopts the minimum surviving EXISTING group id (an
    all-new component takes its min new id). Untouched groups never appear
    and keep their ids by construction.

    Returns the updated full assignment table ``(id_col, group_col)``:
    corpus rows patched through the (tiny, broadcastable) old→new remap
    join, new ids appended with their component label. The remap itself is
    ``assignments'`` groups that changed — derivable, not separately
    returned."""
    a_src = assignments.select(
        F.col(id_col).alias("src"), F.col(group_col).alias("gsrc")
    )
    a_dst = assignments.select(
        F.col(id_col).alias("dst"), F.col(group_col).alias("gdst")
    )
    contracted = (
        new_edges.select("src", "dst")
        .join(a_src, "src", "left")
        .join(a_dst, "dst", "left")
        .select(
            F.coalesce("gsrc", F.col("src")).alias("src"),
            F.coalesce("gdst", F.col("dst")).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    comp = connected_components(
        contracted, max_iters=max_iters, id_col="node", label_col="comp"
    )
    existing = assignments.select(F.col(group_col).alias("node")).distinct()
    # component label: min node that IS an existing group id, else min node
    is_grp = comp.join(existing, "node", "semi").groupBy("comp").agg(
        F.min("node").alias("grp_label")
    )
    labels = (
        comp.join(is_grp, "comp", "left")
        .select("node", F.coalesce("grp_label", F.col("comp")).alias("label"))
    )
    remap = labels.join(existing, "node", "semi").where(
        F.col("node") != F.col("label")
    )
    updated = (
        assignments.join(
            F.broadcast(remap.withColumnRenamed("node", group_col)),
            group_col,
            "left",
        )
        .select(id_col, F.coalesce("label", F.col(group_col)).alias(group_col))
    )
    ends = (
        new_edges.select(F.col("src").alias(id_col))
        .unionByName(new_edges.select(F.col("dst").alias(id_col)))
        .distinct()
    )
    new_rows = (
        ends.join(assignments.select(id_col), id_col, "left_anti")
        .join(labels.withColumnRenamed("node", id_col), id_col)
        .select(id_col, F.col("label").alias(group_col))
    )
    return updated.unionByName(new_rows)
