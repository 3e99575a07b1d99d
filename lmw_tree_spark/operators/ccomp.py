"""Connected components over the verified dup-pair edge list → dup-group ids.

Min-label propagation with pointer jumping and hooking, in the style of
Shiloach-Vishkin / FastSV (Zhang et al., 2020). The state is
``labels(id, label, prev)``: the current label and the one before it. Each
round sends ``(target, source)`` messages and gives every target the minimum
current label of its sources:

- every symmetric edge ``(u, v)``: a vertex sees its neighbours' labels;
- ``(id, label)``, the pointer jump: a vertex sees its label's label; this row
  also carries the vertex's current label, which becomes its ``prev``;
- ``(prev, id)``, hooking: a vertex's previous label learns its current one.

A round is one join of the messages with ``labels`` on ``source = id`` and one
``groupBy(target)``. Labels never increase and are ids from a finite set, so
the loop ends; it stops at the first round in which no label changes, and a
fixed point has one label per component, its minimum id. Rounds grow with the
component's diameter, slowly: on a path with shuffled ids, 10 rounds at 60
vertices, 13 at 140 and 16 at 500; on a sorted path, 7 at 40 and 9 at 140.
There is no round cap, since a capped loop would return split groups.

Labels are the lexicographic min image_id, which is deterministic and stable
(ids are zero-padded). ``localCheckpoint`` truncates the lineage every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    id_col: str = "image_id",
    label_col: str = "dup_group",
) -> DataFrame:
    """edges (src, dst) [+ optional vertex universe] → (id_col, label_col).

    Vertices not touched by any edge keep themselves as their label (singleton
    groups) when a vertex universe is supplied.

    ``localCheckpoint`` keeps the size estimate of the plan it ran, and a round
    joins ``labels`` with messages built from ``labels``, so the estimate would
    square every round until planning it exhausts the driver heap. Each round's
    labels are therefore cached and filled by a write to the ``noop`` sink,
    after which the planner sees their real size. That is public API (Spark
    Connect has no ``_jdf`` to re-wrap the checkpoint's RDD with) and costs
    one scan-only job per round. The result is checkpointed from the last
    cache, which is then released.
    """
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .dropDuplicates(["u", "v"])
        .localCheckpoint(eager=True)
    )
    # the first round, fused into initialization: the closed-neighborhood min
    # from one groupBy. Dup components are mostly pairs and triangles, which
    # converge here, so the loop's first round only confirms them.
    labels = (
        sym.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("label"))
        .select(F.col("u").alias("id"), "label", F.col("u").alias("prev"))
        .localCheckpoint(eager=True)
    )
    edge_msgs = sym.select(F.col("u").alias("target"), F.col("v").alias("source"))
    cached = None
    while True:
        jump = labels.select(
            F.col("id").alias("target"),
            F.col("label").alias("source"),
            F.col("label").alias("prev"),
        )
        hook = labels.select(F.col("prev").alias("target"), F.col("id").alias("source"))
        obs = Observation()
        step = (
            edge_msgs.unionByName(jump, allowMissingColumns=True)
            .unionByName(hook, allowMissingColumns=True)
            .join(labels.select(F.col("id").alias("source"), "label"), "source")
            .groupBy(F.col("target").alias("id"))
            .agg(F.min("label").alias("label"), F.max("prev").alias("prev"))
            .observe(obs, F.count_if(F.col("label") != F.col("prev")).alias("changed"))
            .localCheckpoint(eager=True)
        )
        if cached is not None:
            cached.unpersist()
        labels = cached = step.persist()
        labels.write.format("noop").mode("overwrite").save()
        if obs.get["changed"] == 0:
            break
    labels = labels.localCheckpoint(eager=True)
    cached.unpersist()

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
    comp = connected_components(contracted, id_col="node", label_col="comp")
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
