"""Bounded-memory frequency / membership sketches — the 100-TB statistics layer.

At target scale an exact token-frequency table or a corpus-membership
semi-join is itself a massive shuffle. The classic fixes are sketches with a
FIXED memory footprint independent of corpus size:

* **Count-Min Sketch** (Cormode & Muthukrishnan 2005): a ``d x w`` counter
  grid; each item increments one counter per row; an estimate is the min over
  rows (a guaranteed over-estimate). Heavy hitters fall out by thresholding.
* **Bloom filter** (Bloom 1970): ``k`` hash positions per key in an ``m``-bit
  array; a probe is "maybe member" iff all ``k`` bits are set (no false
  negatives). The standard fast path for incremental shard-vs-corpus dedup:
  broadcast the corpus filter, drop definite non-members without shuffling
  the corpus.

Spark shapes (both pure DataFrame algebra — no UDFs, no driver state):

* CMS build = ``explode(tokens) x explode(d seeds) -> groupBy(row, bucket)``.
  The groupBy key space is exactly ``d*w`` so map-side partial aggregation
  bounds every task's hash table at the sketch size — the shuffle moves
  O(partitions * d * w) rows regardless of corpus size. Estimation joins the
  (tiny, broadcast) sketch back to candidate items.
* Bloom build = ``k`` md5 positions per key -> ``distinct`` over at most
  ``m`` position strings (same map-side-combine bound). Probe = broadcast
  join positions -> a row is "maybe" iff all ``k`` matched. This is the
  dataflow equivalent of broadcasting the bit array (which Spark's own
  ``DataFrameStatFunctions.bloomFilter`` builds driver-side and is neither
  inspectable nor SQL-replayable).

Hash parity contract (shared with operators/sampling.py): bucket / bit
positions are the first ``c`` hex chars of ``md5(seed ':' item)`` — a string
key both Spark and DuckDB reproduce bit-for-bit, so every decision here is
hash-checkable by an independent engine with no float or RNG anywhere.

Reference tie-in: the reference computes exact dimension histograms over all
signatures (GeneralExperiments.h:157-201) and exact cluster-size histograms
(NodeVisitor.h:19-72); these sketches are the sub-linear-memory versions of
those statistics at 10^12 rows (SURVEY.md §2.5 notes approx sketches as the
scale substitute for the reference's exact counters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _bucket_col(seed, item, chars: int):
    """First ``chars`` hex digits of md5(seed ':' item) — the shared
    Spark/DuckDB bucket key. ``16**chars`` buckets."""
    return F.substring(F.md5(F.concat_ws(":", seed.cast("string"), item)), 1, chars)


# ---------------------------------------------------------------------------
# Count-Min Sketch
# ---------------------------------------------------------------------------


def cms_build(
    items: DataFrame, item_col: str = "token", depth: int = 4, chars: int = 3
) -> DataFrame:
    """Build a ``depth x 16**chars`` Count-Min sketch over an item stream.

    ``items`` is one row per occurrence (pre-exploded). Returns
    ``(row, bucket, cnt)`` — at most ``depth * 16**chars`` rows however large
    the input: the groupBy's key space IS the sketch, so map-side combine
    caps both executor memory and shuffle volume at the sketch size.
    """
    seeds = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    return (
        items.select(F.col(item_col).alias("item"), seeds)
        .select("row", _bucket_col(F.col("row"), F.col("item"), chars).alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    item_col: str = "token",
    depth: int = 4,
    chars: int = 3,
) -> DataFrame:
    """Point-estimate each candidate's frequency: min over the sketch's rows.

    The sketch is broadcast (≤ d*w rows by construction); absent buckets
    count 0 (can only happen for items never inserted). Adds ``est_count``.
    """
    seeds = F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("row")
    probes = candidates.select(F.col(item_col).alias("item"), seeds).select(
        "item", "row", _bucket_col(F.col("row"), F.col("item"), chars).alias("bucket")
    )
    joined = probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
    return (
        joined.groupBy("item")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est_count"))
        .withColumnRenamed("item", item_col)
    )


# ---------------------------------------------------------------------------
# Bloom filter
# ---------------------------------------------------------------------------


def bloom_build(
    keys: DataFrame, key_col: str, k: int = 4, chars: int = 3
) -> DataFrame:
    """Occupied-position set of a ``16**chars``-slot, ``k``-hash Bloom filter.

    Returns a single-column ``(pos)`` DataFrame of ≤ ``16**chars`` distinct
    position strings — the inspectable, joinable form of the bit array.
    """
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("hk")
    return (
        keys.select(F.col(key_col).alias("key"), seeds)
        .select(_bucket_col(F.col("hk"), F.col("key"), chars).alias("pos"))
        .distinct()
    )


def bloom_probe(
    probes: DataFrame,
    bloom: DataFrame,
    key_col: str,
    id_col: str,
    k: int = 4,
    chars: int = 3,
) -> DataFrame:
    """Flag each probe row ``maybe_member`` iff all ``k`` positions are set.

    Grouped by ``id_col`` (each probe row explodes to exactly ``k`` position
    rows, so the membership test is ``matched == k`` even when several probe
    rows share a key or two hashes of one key collide on a position).
    ``bloom`` is broadcast; no false negatives by construction, false
    positives at the textbook ``(1 - e^{-kn/m})^k`` rate. Pure map +
    broadcast-join + groupBy(id): the probe payload never shuffles.
    """
    seeds = F.explode(F.array(*[F.lit(i) for i in range(k)])).alias("hk")
    hits = (
        probes.select(id_col, F.col(key_col).alias("key"), seeds)
        .select(id_col, _bucket_col(F.col("hk"), F.col("key"), chars).alias("pos"))
        .join(F.broadcast(bloom.withColumn("set", F.lit(1))), "pos", "left")
        .groupBy(id_col)
        .agg((F.count("set") == F.lit(k)).alias("maybe_member"))
    )
    return probes.join(hits, id_col, "left")


# ---------------------------------------------------------------------------
# Mergeable histogram quantiles
# ---------------------------------------------------------------------------


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    bin_width: int = 4,
    n_bins: int = 256,
    tenths: tuple[int, ...] = (1, 2, 3, 4, 5, 6, 7, 8, 9),
) -> DataFrame:
    """Decile estimates from a fixed-width counting histogram — the mergeable
    substitute for exact percentiles at 10^12 rows (an exact percentile is a
    global sort; a histogram is one bounded groupBy whose partials merge
    associatively, the same contract as the CMS above).

    Estimate for quantile k/10: the smallest bin whose cumulative count
    reaches ``ceil(N * k / 10)``; reported as the bin's inclusive upper edge.
    All-integer algebra (targets via ``(N*k + 9) // 10``) — no floats, no
    interpolation — so an independent SQL engine reproduces it exactly.
    Returns ``(tenth, target_rank, bin, upper)``.

    The rank window runs over the aggregated histogram (≤ n_bins rows), not
    the data — a deliberately tiny single-partition sort.
    """
    from pyspark.sql import Window

    binned = df.select(
        F.least(
            F.expr(f"{value_col} div {bin_width}"), F.lit(n_bins - 1)
        ).cast("int").alias("bin")
    )
    hist = binned.groupBy("bin").agg(F.count("*").alias("cnt"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    n = df.count()
    targets = [(k, (n * k + 9) // 10) for k in tenths]
    tdf = df.sparkSession.createDataFrame(targets, "tenth int, target_rank long")
    return (
        tdf.join(F.broadcast(cum), F.col("cum") >= F.col("target_rank"))
        .groupBy("tenth", "target_rank")
        .agg(F.min("bin").alias("bin"))
        .select(
            "tenth",
            "target_rank",
            "bin",
            ((F.col("bin") + 1) * bin_width - 1).cast("long").alias("upper"),
        )
        .orderBy("tenth")
    )


# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch
# ---------------------------------------------------------------------------


def hll_registers(
    df: DataFrame,
    item_col: str,
    p_chars: int = 3,
    rho_cap: int = 40,
    seed: int = 7,
) -> DataFrame:
    """HyperLogLog registers (Flajolet et al. 2007): bucket = first ``p_chars``
    hex chars of md5 (``m = 16**p_chars`` registers), rho = 1 + leading zero
    BITS of the next 15 hex chars (60 bits), capped at ``rho_cap``.

    The register build is one bounded ``groupBy(bucket).agg(max(rho))`` — the
    map-side partials are at most ``m`` rows per task, so the shuffle moves
    O(partitions * m) rows at any corpus size. ``max`` is idempotent, so the
    input needs NO pre-``distinct`` (the whole point vs exact count-distinct,
    whose groupBy key space is the cardinality itself).

    All decisions are string/integer algebra over the md5 hex — no floats, no
    RNG — so an independent SQL engine replays registers bit-for-bit
    (the same hash-parity contract as the CMS/Bloom sketches above).
    Reference tie-in: the scale substitute for the reference's exact distinct
    counters over signature dims (GeneralExperiments.h:157-201).

    Returns ``(bucket string, reg int)`` — only occupied buckets.
    """
    h = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(item_col)))
    suffix = F.substring(h, p_chars + 1, 15)
    stripped = F.expr(
        f"trim(LEADING '0' FROM substring(md5(concat_ws(':', '{seed}', {item_col})), "
        f"{p_chars + 1}, 15))"
    )
    zp = F.lit(15) - F.length(stripped)
    first = F.substring(stripped, 1, 1)
    digit_lz = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.when(F.length(stripped) == 0, F.lit(rho_cap)).otherwise(
        F.least(zp * 4 + digit_lz + 1, F.lit(rho_cap))
    )
    return (
        df.select(
            F.substring(h, 1, p_chars).alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate(
    registers: DataFrame, p_chars: int = 3, rho_cap: int = 40
) -> DataFrame:
    """Cardinality estimate from HLL registers — one row:
    ``(m, nonzero_buckets, numerator, hll_estimate)``.

    The harmonic sum is kept EXACT integer algebra: ``sum(2^-reg)`` is scaled
    by ``2^rho_cap`` so ``numerator = sum(1 << (rho_cap - reg)) + zeros <<
    rho_cap`` is a bigint (max ``m * 2^rho_cap`` = 2^52 at the defaults — no
    float-summation order dependence between engines). The only floats are the
    final alpha multiply and the small-range linear-counting branch
    (``m * ln(m / zeros)`` when raw <= 2.5m and zeros > 0), identical formula
    text on the SQL side.
    """
    m = 16**p_chars
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = registers.agg(
        F.count("*").alias("nonzero_buckets"),
        F.sum(F.expr(f"shiftleft(1L, {rho_cap} - reg)")).alias("sumnz"),
    )
    zeros = F.lit(m) - F.col("nonzero_buckets")
    numerator = F.col("sumnz") + zeros * F.lit(1 << rho_cap)
    raw = F.lit(alpha * m * m * float(1 << rho_cap)) / numerator
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    ).otherwise(raw)
    return agg.select(
        F.lit(m).alias("m"),
        F.col("nonzero_buckets").cast("long").alias("nonzero_buckets"),
        numerator.cast("long").alias("numerator"),
        F.round(est, 2).alias("hll_estimate"),
    )
