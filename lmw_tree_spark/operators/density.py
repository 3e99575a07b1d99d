"""Density-based clustering (DBSCAN, Ester et al., KDD 1996) over an embedding
column — the density-family twin of the centroid-tree clusterers (EM-tree /
k-means / K-tree, reference /root/reference/src/lmw/EMTree.h, KMeans.h): where
those partition space around prototypes, DBSCAN grows clusters through
eps-dense regions and is the standard tool for curation tasks where cluster
COUNT is unknown and outliers must stay unlabeled (noise) rather than being
force-assigned to a nearest centroid.

Spark-first composition of the repo's existing bounded primitives — no new
shuffle shapes are introduced:

1. eps-graph: the EXACT triangle-inequality ball-cover join
   (`similarity.cosine_neardup_pairs_bounded`) emits every unordered pair with
   cosine >= min_cosine through equi-joins only — O(collisions) volume, never
   O(n^2), chunk-bounded rows at any skew.
2. core points: one hash groupBy counts eps-neighbors per vertex; a vertex is
   core iff it has >= min_core_neighbors neighbors (self excluded — the
   classic |N_eps(p)| >= minPts with p counted maps to
   min_core_neighbors = minPts - 1).
3. clusters: min-label propagation connected components
   (`ccomp.connected_components`) over the core-core subgraph; the cluster
   label is the min core vertex id — deterministic at any partitioning.
4. border points: non-core vertices with >= 1 core neighbor adopt the MIN
   cluster label among their core neighbors. (Classic DBSCAN assigns border
   points to whichever core point scans them first — scan-order-dependent;
   taking the min is a fixed, partitioning-independent refinement of that
   tie.) Everything else is noise (cluster = -1).

At 10^12 rows every stage is the same machinery already sized for the
flagship: the eps-join moves O(admitted chunk pairs), degree counting is one
shuffle keyed by vertex, and CC converges in O(log diameter) edge-sized
rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lmw_tree_spark.operators.ccomp import connected_components
from lmw_tree_spark.operators.similarity import cosine_neardup_pairs_bounded


def dbscan_embeddings(
    df: DataFrame,
    min_cosine: float,
    min_core_neighbors: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    seed: int = 42,
    chunk_rows: int = 2048,
    round_digits: int = 4,
) -> DataFrame:
    """DBSCAN over unit-cosine geometry → one row per input id:
    ``(id_col, role in {'core','border','noise'}, cluster)`` with
    ``cluster = -1`` for noise and the min member-id of the core component
    otherwise. Exact (the eps-graph equals brute force by construction) and
    deterministic at any parallelism.
    """
    pairs = (
        cosine_neardup_pairs_bounded(
            df,
            min_cosine=min_cosine,
            n_cells=n_cells,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            chunk_rows=chunk_rows,
            round_digits=round_digits,
        )
        .select("src", "dst")
        .persist()
    )
    sym = pairs.select(
        F.col("src").alias("id"), F.col("dst").alias("nb")
    ).unionByName(pairs.select(F.col("dst").alias("id"), F.col("src").alias("nb")))
    # pairs are unordered-unique, so this degree is the exact eps-neighbor count
    core = (
        sym.groupBy("id")
        .agg(F.count("*").alias("n_nbrs"))
        .where(F.col("n_nbrs") >= min_core_neighbors)
        .select("id")
        .persist()
    )
    core_edges = pairs.join(
        core.withColumnRenamed("id", "src"), "src"
    ).join(core.withColumnRenamed("id", "dst"), "dst")
    comp = connected_components(
        core_edges, vertices=core, id_col="id", label_col="cluster"
    )
    border = (
        sym.join(core, "id", "left_anti")  # non-core vertices only
        .join(comp.withColumnRenamed("id", "nb"), "nb")  # ...with a core neighbor
        .groupBy("id")
        .agg(F.min("cluster").alias("cluster"))
    )
    labs = comp.withColumn("role", F.lit("core")).unionByName(
        border.withColumn("role", F.lit("border"))
    )
    return (
        df.select(F.col(id_col).cast("long").alias("id"))
        .join(labs, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("role", F.lit("noise")).alias("role"),
            F.coalesce("cluster", F.lit(-1)).cast("long").alias("cluster"),
        )
    )
