"""Seeded input builders. Each writes the parquet the program reads and keeps the
ground truth (image_id -> dup_group) on the benchmark side.

The corpus is a window of ``sources.images.generate_batch`` rows. Its start is a
multiple of 7, so the generator's ``i % 7`` duplicate structure holds inside it:
3/7 of the rows sit in near-duplicate groups of 3. The skewed variant adds exact
reposts of a few rows with Zipf-distributed copy counts, so the largest groups are
far larger than ``PipelineConfig.bucket_pair_cap``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# window starts range over the first 7 * 10**6 generator rows
_WINDOWS = 10**6


def corpus_offset(seed: int) -> int:
    """First generator index of the seed's corpus window (a multiple of 7)."""
    return 7 * int(np.random.default_rng([seed, 1]).integers(0, _WINDOWS))


def zipf_copy_counts(n_rows: int, n_bases: int, largest_frac: float) -> list[int]:
    """Copy counts for the reposted bases: rank k gets ``largest / k``."""
    largest = max(1, int(n_rows * largest_frac))
    return [max(1, largest // k) for k in range(1, n_bases + 1)]


def zipf_reposts(
    rows: pd.DataFrame,
    rng: np.random.Generator,
    n_bases: int = 12,
    largest_frac: float = 0.1,
) -> pd.DataFrame:
    """Exact reposts of ``n_bases`` seeded rows: same bytes, caption and phash, a
    new image_id, and the source row's truth group."""
    counts = zipf_copy_counts(len(rows), n_bases, largest_frac)
    picks = rng.choice(len(rows), size=n_bases, replace=False)
    copies = []
    for pos, count in zip(picks, counts):
        rep = rows.iloc[np.full(count, pos)].copy()
        src = rows["image_id"].iloc[pos]
        rep["image_id"] = [f"{src}r{j:05d}" for j in range(count)]
        copies.append(rep)
    return pd.concat(copies, ignore_index=True)


def generate_window(spark, start: int, n: int) -> pd.DataFrame:
    """Rows ``start .. start+n-1`` of the generator, with truth, built across the
    session's cores."""
    from lmw_tree_spark.sources.images import IMAGES_SCHEMA_TRUTH, generate_batch

    def gen(batches):
        for b in batches:
            yield generate_batch(b["id"].to_numpy(), with_truth=True)

    parts = spark.sparkContext.defaultParallelism
    return (
        spark.range(start, start + n, 1, parts)
        .mapInPandas(gen, IMAGES_SCHEMA_TRUTH)
        .toPandas()
    )


def write_parquet_files(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Write ``df`` as ``n_files`` parquet files of consecutive rows."""
    os.makedirs(out_dir, exist_ok=True)
    for k, chunk in enumerate(np.array_split(np.arange(len(df)), n_files)):
        table = pa.Table.from_pandas(df.iloc[chunk], preserve_index=False)
        pq.write_table(table, os.path.join(out_dir, f"part-{k:05d}.parquet"))


def build_corpus(
    spark, seed: int, n: int, reposts: bool, out_dir: str, n_files: int
) -> pd.DataFrame:
    """Write the seed's image corpus to ``out_dir``; return its truth table
    (image_id, dup_group). Rows are shuffled by the seed so reposts spread over
    every file."""
    rng = np.random.default_rng([seed, 2])
    rows = generate_window(spark, corpus_offset(seed), n)
    if reposts:
        rows = pd.concat([rows, zipf_reposts(rows, rng)], ignore_index=True)
    rows = rows.iloc[rng.permutation(len(rows))].reset_index(drop=True)
    write_parquet_files(rows.drop(columns=["dup_group"]), out_dir, n_files)
    return rows[["image_id", "dup_group"]]
