"""LSH candidate generation + JVM-side verification.

Re-expresses the target's candidate-pair layer (the reference itself clusters
exhaustively; candidate generation is the scale path that makes 10^12 rows feasible):

1. **Bucket keys** (one narrow DF of ``(bucket, image_id)``):
   - MinHash band keys over caption shingles (b bands x r rows, Broder/LSH standard),
   - pigeonhole bit-slices of ``phash`` and pixel ``simhash`` (Manku et al. WWW'07 —
     4 slices of 16 bits ⇒ any pair within Hamming distance 3 shares a slice),
   - winnowed caption shingle fingerprints — the grouping stage of the substring
     pass: share-substring(≥L) ⇒ share-fingerprint, guaranteed (Schleimer et al.
     winnowing; exact per-group suffix-array verification in operators/suffix.py).
2. **Edges from buckets — all JVM-side, no Python:**
   - *chain edges*: within each bucket, link consecutive ids of the sorted
     members. O(n) edges per bucket, preserves connectivity for the
     connected-components pass no matter how skewed the bucket — a 10M-row bucket
     of identical memes emits 10M-1 edges, never 10M² pairs. Skew is handled
     EXPLICITLY with fixed salted keys: chains run in two levels —
     (bucket, hash-salt) sub-chains from one hash aggregation, then per-salt
     representatives linked within the bucket — see ``edges_from_buckets``.
   - *clique edges*: buckets with ≤ cfg.bucket_pair_cap members additionally emit
     all pairs (better direct recall for near-dup verification).
3. **Verification**: join both endpoints' signatures and evaluate phash/simhash
   Hamming (``bit_count`` built-in) and MinHash agreement (``zip_with`` +
   ``aggregate``) — whole-stage-codegen expressions, no UDF.

The candidate union is deduped on (src, dst) before verification so each pair is
verified once no matter how many buckets it collides in.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lmw_tree_spark.config import PipelineConfig
from lmw_tree_spark.functions.bitops import hamming64_col
from lmw_tree_spark.functions.signatures import (
    band_hashes,
    char_shingle_hashes,
    hamming_band_keys,
)

BUCKET_SCHEMA = "bucket long, image_id string"


def _minhash_bucket_frame(pdf: pd.DataFrame, n_bands: int) -> pd.DataFrame:
    """NumPy core of MinHash banding over one Arrow batch."""
    mh = np.array(list(pdf["minhash"]), dtype=np.int64).view(np.uint64)
    # captions too short to shingle yield the all-sentinel signature —
    # no caption evidence; banding them would bucket every captionless
    # row together
    nonempty = ~(mh == np.uint64(0xFFFFFFFFFFFFFFFF)).all(axis=1)
    if not nonempty.any():
        return pd.DataFrame({"bucket": [], "image_id": []})
    mh = mh[nonempty]
    bands = band_hashes(mh, n_bands)  # (N, b) int64
    ids = pdf["image_id"].to_numpy()[nonempty]
    return pd.DataFrame(
        {"bucket": bands.ravel(), "image_id": np.repeat(ids, n_bands)}
    )


def _hamming64_bucket_frame(
    pdf: pd.DataFrame, col: str, n_bands: int, namespace: int
) -> pd.DataFrame:
    """NumPy core of pigeonhole bit-slice banding over one Arrow batch."""
    vals = pdf[col].to_numpy(dtype=np.int64).view(np.uint64)
    keys = hamming_band_keys(vals, n_bands).view(np.uint64)
    ns = np.uint64((namespace * 0x9E3779B97F4A7C15) % (1 << 64))
    keys = (keys ^ ns).view(np.int64)
    ids = pdf["image_id"].to_numpy()
    return pd.DataFrame(
        {"bucket": keys.ravel(), "image_id": np.repeat(ids, n_bands)}
    )


def minhash_buckets(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(image_id, minhash) → exploded (bucket, image_id) band keys."""
    n_bands = cfg.lsh_bands

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _minhash_bucket_frame(pdf, n_bands)

    return sigs.select("image_id", "minhash").mapInPandas(run, BUCKET_SCHEMA)


def hamming64_buckets(
    sigs: DataFrame, col: str, n_bands: int, namespace: int
) -> DataFrame:
    """Pigeonhole bit-slice buckets for a 64-bit signature column (phash/simhash)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _hamming64_bucket_frame(pdf, col, n_bands, namespace)

    return sigs.select("image_id", col).mapInPandas(run, BUCKET_SCHEMA)


def lgram_buckets(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Caption substring buckets via winnowed shingle fingerprints.

    Winnowing (Schleimer et al. SIGMOD'03; kernel in functions/suffix.py): from the
    k-char rolling-hash stream, keep the minimum of every window of
    w = substring_len - k + 1 grams. Two captions sharing a common substring of
    length ≥ substring_len are GUARANTEED to share a fingerprint (the substring
    contains a full window), at ~2/(w+1) of the key volume of emitting every gram —
    this is the scalable grouping stage of the suffix-array substring pass
    (operators/suffix.py runs the exact per-group SA verification; in the image
    pipeline the verified-pair stage plays that role)."""
    k = cfg.shingle_k
    window = cfg.substring_len - k + 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _lgram_bucket_frame(pdf, k, window)

    return sigs.select("image_id", "caption").mapInPandas(run, BUCKET_SCHEMA)


def _lgram_bucket_frame(pdf: pd.DataFrame, k: int, window: int) -> pd.DataFrame:
    """NumPy core of winnowed-substring bucketing over one Arrow batch."""
    from lmw_tree_spark.functions.suffix import winnow_select

    norm = pd.Series([str(t).lower().encode("utf-8") for t in pdf["caption"]])
    hashes, mask = char_shingle_hashes(norm, k)
    selected = winnow_select(hashes, mask, window)
    ids = pdf["image_id"].to_numpy()
    counts = [len(s) for s in selected]
    keys = np.concatenate(selected) if selected else np.empty(0, dtype=np.uint64)
    keys = (keys ^ np.uint64((5 * 0x9E3779B97F4A7C15) % (1 << 64))).view(np.int64)
    return pd.DataFrame({"bucket": keys, "image_id": np.repeat(ids, counts)})


def _salt_groups(buckets: DataFrame, chain_salts: int) -> DataFrame:
    """``agg1`` of :func:`edges_from_buckets`: sorted member arrays per
    ``(bucket, hash(id) % chain_salts)``."""
    salted = buckets.withColumn(
        "salt", F.pmod(F.xxhash64("image_id"), F.lit(chain_salts))
    )
    return salted.groupBy("bucket", "salt").agg(
        F.sort_array(F.collect_list("image_id")).alias("ids")
    )


def release_salt_groups(buckets: DataFrame, chain_salts: int) -> None:
    """Unpersist the ``agg1`` cache that ``edges_from_buckets(buckets, ...,
    chain_salts)`` left behind, once its edges are written. Spark keys a cache
    on the plan, so rebuilding the same plan over the same ``buckets`` frame
    finds the entry; no other cache is touched."""
    _salt_groups(buckets, chain_salts).unpersist()


def edges_from_buckets(
    buckets: DataFrame, pair_cap: int, chain_salts: int = 4096
) -> DataFrame:
    """(bucket, image_id) → candidate edges (src < dst), JVM-only.

    The plan fans out over ``buckets`` FOUR ways (level-1 chains, per-salt
    reps, bucket counts, clique join) — without materialization every consumer
    re-runs the upstream bucket generator in Python. Measured on 2,800
    generated images (4096-bit signatures): 314,138 bucket rows through Python
    per checkpointed pipeline build without the cache vs 157,069 with it (2×),
    and 628,276 vs 157,069 per fused run (4×). ``agg1`` below is therefore
    persisted MEMORY_AND_DISK before the fan-out: one materialization,
    spill-backed so a 100 TB run (~tens of keys per row) degrades to
    local-disk reads instead of OOM. :func:`release_salt_groups` drops it once the edges are consumed;
    ``run_pipeline`` does so after the dup groups in every mode.

    Chain edges give O(n)-per-bucket connectivity regardless of skew; clique edges
    (bucket size ≤ pair_cap) add direct pairs for verification recall.

    **Every stage here is skew-bounded by construction** (north-rule requirement;
    AQE splits skewed *joins* but can never split a *window* partition — which is
    why there is NO window here at all: the 16M-image probe's event logs showed
    the per-partition window sorts of an earlier formulation dominating the
    candidate-edge stage, so the whole stage now rides ONE hash aggregation of
    the raw bucket table):

    - ``agg1`` groups by ``(bucket, salt)`` with ``salt = hash(id) %
      chain_salts`` — a fixed salting that needs NO bucket size, so no
      count-join precedes it — into per-group sorted member arrays. The largest
      aggregation buffer is ~``size/chain_salts`` ids: a 10M-row bucket of
      identical memes becomes ~2.4k-element arrays at the default 4096 salts.
      This is the only shuffle that touches the raw table; it is hash-based
      (no sort phase) and every downstream consumer reads the persisted result.
    - *Level-1 chains*: adjacent pairs of each sorted per-salt array — a pure
      array transform over ``agg1``, zero further shuffle.
    - *Level-2* chains the per-salt representatives (array head = min id per
      sub-chain) within each bucket — an ``agg1``-sized groupBy whose buffers
      are ≤ ``chain_salts`` entries, restoring cross-salt connectivity.
      Singleton and small buckets chain entirely here (their members land in
      distinct salts), so level 1 is a no-op for them and the behavior matches
      unsalted sorted-adjacency chaining.
    - *Cliques* need bucket sizes — one partial-agg rollup of ``agg1``'s array
      sizes (skew-immune) — and the members-of-small-buckets join is an
      ``agg1``-sized equi-join AQE can split; the flatten buffer is bounded
      because only buckets ≤ pair_cap reach it. Pair expansion is an array
      transform — no self-join.

    Producers guarantee (bucket, image_id) uniqueness; the final
    ``dropDuplicates`` dedups across the three edge sources."""
    agg1 = _salt_groups(buckets, chain_salts).persist(StorageLevel.MEMORY_AND_DISK)

    # adjacent pairs of a sorted array — the chain linker shared by both levels
    adj_expr = (
        "transform(sequence(1, size(ids) - 1), "
        "i -> struct(ids[i - 1] AS src, ids[i] AS dst))"
    )

    def chain_of(df: DataFrame) -> DataFrame:
        return (
            df.where(F.size("ids") >= 2)
            .select(F.explode(F.expr(adj_expr)).alias("p"))
            .select("p.src", "p.dst")
        )

    chain = chain_of(agg1)

    reps = agg1.select(
        "bucket", F.element_at("ids", 1).alias("rep"), F.size("ids").alias("sz")
    )
    agg2 = reps.groupBy("bucket").agg(
        F.sort_array(F.collect_list("rep")).alias("ids"),
        F.sum("sz").alias("bsize"),
    )
    rep_chain = chain_of(agg2)

    small_ids = agg2.where(
        (F.col("bsize") >= 2) & (F.col("bsize") <= pair_cap)
    ).select("bucket")
    pairs_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> struct(x AS src, y AS dst))))"
    )
    clique = (
        agg1.join(small_ids, "bucket")
        .groupBy("bucket")
        .agg(F.sort_array(F.flatten(F.collect_list("ids"))).alias("ids"))
        .select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.src", "p.dst")
    )
    return (
        chain.unionByName(rep_chain)
        .unionByName(clique)
        .dropDuplicates(["src", "dst"])
    )


def candidate_buckets(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """All four candidate-generation modalities (MinHash bands ∪ phash
    pigeonhole ∪ simhash pigeonhole ∪ winnowed substring) in ONE fused Arrow
    pass over the signature table — same row multiset as unioning the four
    standalone generators (namespaced keys keep families disjoint), but one
    table scan and one Python stage instead of four of each. At 100 TB the
    signature table is TBs wide even at ~2% of input width, so the 4×-fewer
    scans matter as much locally (Python-worker spin-up) as at scale (I/O)."""
    n_bands, ph_bands = cfg.lsh_bands, cfg.phash_bands
    k = cfg.shingle_k
    window = cfg.substring_len - k + 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            frames = [
                _minhash_bucket_frame(pdf, n_bands),
                _hamming64_bucket_frame(pdf, "phash", ph_bands, namespace=1),
                _hamming64_bucket_frame(pdf, "simhash", ph_bands, namespace=2),
                _lgram_bucket_frame(pdf, k, window),
            ]
            frames = [f for f in frames if len(f)]
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return sigs.select("image_id", "minhash", "phash", "simhash", "caption").mapInPandas(
        run, BUCKET_SCHEMA
    )


def candidate_edges(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """All candidate-generation modalities → deduped (src, dst) edges."""
    return edges_from_buckets(
        candidate_buckets(sigs, cfg), cfg.bucket_pair_cap, cfg.chain_salts
    )


def minhash_agreement_col() -> F.Column:
    """Fraction of agreeing MinHash values between columns a_mh / b_mh (estimates
    caption Jaccard) — zip_with + aggregate, stays in codegen.

    The all-sentinel signature (every value -1 as int64; produced for captions
    too short to shingle) carries NO caption evidence: agreement against it is
    0, never 1 — otherwise any two captionless images would verify as dups."""
    empty = lambda c: (F.array_min(c) == F.lit(-1)) & (F.array_max(c) == F.lit(-1))
    agree = (
        F.aggregate(
            F.zip_with("a_mh", "b_mh", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.size("a_mh")
    ).cast("double")
    return F.when(empty("a_mh") | empty("b_mh"), F.lit(0.0)).otherwise(agree)


def verify_edges(edges: DataFrame, sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Attach both endpoints' signatures and keep pairs passing any dup criterion.

    Output: (src, dst, phash_dist, simhash_dist, caption_sim, is_dup).
    """
    # 32-bit truncation of the verification prefix: agreement is an EQUALITY
    # test, so comparing low halves is the same algebra with a 2^-32 per-slot
    # false-agree rate (≈5e-9 expected extra agreement per pair at prefix 32 —
    # nothing against a 0.6 threshold) for HALF the dominant shuffle bytes of
    # the verify join (the prefix is ~16x wider than the two image hashes
    # combined). The all--1 empty-caption sentinel survives the cast (-1 low
    # half is -1), and the SQL oracle replays the same truncation, so results
    # stay bit-identical across engines.
    # (shiftleft then arithmetic shiftright sign-extends the low half into
    # int range first — a plain cast throws under ANSI on overflow)
    mh_prefix = F.transform(
        F.slice("minhash", 1, cfg.verify_minhash_prefix),
        lambda x: F.shiftright(F.shiftleft(x, 32), 32).cast("int"),
    )
    a = sigs.select(
        F.col("image_id").alias("src"),
        F.col("phash").alias("a_ph"),
        F.col("simhash").alias("a_sh"),
        mh_prefix.alias("a_mh"),
    )
    b = sigs.select(
        F.col("image_id").alias("dst"),
        F.col("phash").alias("b_ph"),
        F.col("simhash").alias("b_sh"),
        mh_prefix.alias("b_mh"),
    )
    joined = edges.join(a, "src").join(b, "dst")
    scored = joined.select(
        "src",
        "dst",
        hamming64_col("a_ph", "b_ph").alias("phash_dist"),
        hamming64_col("a_sh", "b_sh").alias("simhash_dist"),
        minhash_agreement_col().alias("caption_sim"),
    )
    votes = (
        (F.col("phash_dist") <= cfg.phash_max_dist).cast("int")
        + (F.col("simhash_dist") <= cfg.simhash_max_dist).cast("int")
        + (F.col("caption_sim") >= cfg.minhash_min_jaccard).cast("int")
    )
    if cfg.verify_votes <= 1:
        # legacy any-single-vote rule
        is_dup = votes >= 1
    else:
        # corroboration rule — see the config.py threshold block for the
        # measured precision/recall trade at 100k images
        is_dup = (
            (votes >= cfg.verify_votes)
            | (F.col("phash_dist") <= cfg.strong_image_dist)
            | (F.col("simhash_dist") <= cfg.strong_image_dist)
            | (F.col("caption_sim") >= cfg.caption_alone_min)
        )
    return scored.withColumn("is_dup", is_dup)


# 24 fixed universal-hash permutations (h*a + b) mod M31 for the SQL-portable
# band-sweep tuner — primes chosen once; both the Spark side and any SQL oracle
# embed the same literals, so band keys agree bit-for-bit across engines.
SWEEP_PERMS: list[tuple[int, int]] = [
    (1299721, 11), (2750161, 97), (4256233, 193), (5800079, 389),
    (7368787, 769), (8960453, 1543), (10570841, 3079), (12195257, 6151),
    (13834103, 12289), (15485863, 24593), (17148757, 49157), (18822473, 98317),
    (20506903, 196613), (22199981, 393241), (23902343, 786433), (25612637, 1572869),
    (27330337, 3145739), (29055301, 6291469), (30786791, 12582917), (32524387, 25165843),
    (34267481, 50331653), (36015361, 100663319), (37768697, 201326611), (39526393, 402653189),
]
_M31 = 2147483647


def band_config_sweep(
    tok_hashes: DataFrame,
    configs: tuple[int, ...] = (2, 4, 6, 8),
    id_col: str = "doc_id",
    hash_col: str = "h",
) -> DataFrame:
    """MinHash band-configuration tuner — the sizing pass a 100-TB dedup run
    does FIRST: on a sample, measure every candidate (rows-per-band r, bands
    b = 24//r) config's bucket collision profile in ONE job, then pick the r
    whose S-curve threshold ``(1/b)^(1/r)`` sits at the target similarity
    before committing the full-corpus config (Broder resemblance LSH;
    Leskovec/Rajaraman/Ullman ch.3 tuning construction).

    Input: distinct ``(id, token-hash)`` pairs (``functions.text.
    token_hash32_col`` output). All 24 ``SWEEP_PERMS`` minhashes are computed
    once and reused by every config — the sweep costs ONE minhash pass +
    one bounded groupBy per config, not a re-run per candidate r.

    Output per config: rows_per_band, n_bands, n_multi_buckets (band buckets
    holding >= 2 docs), cand_pairs (sum over buckets of C(n,2) — the
    verification workload this config would enqueue), n_docs_bucketed
    (distinct docs appearing in any multi-bucket = docs that would reach the
    verifier).

    Scale shape: the perm table (24 rows) and the config/band map (<= 24*4
    rows) broadcast; minhash is one groupBy(id, perm) with map-side combine;
    band keys one groupBy(id, r, band); bucket stats one groupBy(r, band,
    key). Nothing is quadratic — cand_pairs is COUNTED from bucket sizes,
    the pairs are never materialized."""
    spark = tok_hashes.sparkSession
    perms = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(SWEEP_PERMS)],
        "p_idx int, a long, b long",
    )
    mh = (
        tok_hashes.crossJoin(F.broadcast(perms))
        .groupBy(id_col, "p_idx")
        .agg(
            F.min(
                (F.col(hash_col) * F.col("a") + F.col("b")) % F.lit(_M31)
            ).alias("mh")
        )
    )
    cfg_map = spark.createDataFrame(
        [
            (r, p, p // r)
            for r in configs
            for p in range(24 - 24 % r)
        ],
        "rows_per_band int, p_idx int, band int",
    )
    band_keys = (
        mh.join(F.broadcast(cfg_map), "p_idx")
        .groupBy(id_col, "rows_per_band", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p_idx", "mh"))),
                    lambda s: s["mh"].cast("string"),
                ),
                ",",
            ).alias("bkey")
        )
    )
    # band_keys feeds both the bucket stats and the docs-reaching-verifier
    # count — persist so the minhash pass runs once, not twice.
    band_keys = band_keys.persist()
    multi = (
        band_keys.groupBy("rows_per_band", "band", "bkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 2)
    )
    stats = multi.groupBy("rows_per_band").agg(
        F.count("*").cast("long").alias("n_multi_buckets"),
        F.sum(F.expr("(n * (n - 1)) div 2")).cast("long").alias("cand_pairs"),
    )
    # docs that reach the verifier: semi-join rows back to the multi buckets,
    # then a distributed distinct — never an array rollup (a hot bucket at
    # corpus scale would otherwise pack every member id into one agg row).
    docs_bucketed = (
        band_keys.join(
            multi.select("rows_per_band", "band", "bkey"),
            ["rows_per_band", "band", "bkey"],
            "left_semi",
        )
        .select("rows_per_band", id_col)
        .distinct()
        .groupBy("rows_per_band")
        .agg(F.count("*").cast("long").alias("n_docs_bucketed"))
    )
    stats = stats.join(docs_bucketed, "rows_per_band")
    n_bands = (F.lit(24) - F.lit(24) % F.col("rows_per_band")) / F.col(
        "rows_per_band"
    )
    return stats.select(
        "rows_per_band",
        n_bands.cast("int").alias("n_bands"),
        "n_multi_buckets",
        "cand_pairs",
        "n_docs_bucketed",
    )


def tagged_candidate_buckets(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """The four candidate modalities as (modality, bucket, image_id) — the
    diagnostics twin of ``candidate_buckets`` (which fuses them namespaced
    into one untagged stream for the production edge path)."""
    return (
        minhash_buckets(sigs, cfg).select(F.lit("minhash").alias("modality"), "*")
        .unionByName(
            hamming64_buckets(sigs, "phash", cfg.phash_bands, namespace=1).select(
                F.lit("phash").alias("modality"), "*"
            )
        )
        .unionByName(
            hamming64_buckets(sigs, "simhash", cfg.phash_bands, namespace=2).select(
                F.lit("simhash").alias("modality"), "*"
            )
        )
        .unionByName(
            lgram_buckets(sigs, cfg).select(F.lit("lgram").alias("modality"), "*")
        )
    )


def bucket_skew_stats(
    buckets: DataFrame,
    modality_col: str = "modality",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Per-modality bucket-size distribution → one row per modality:
    (modality, n_buckets, n_rows, max_size, p50_size, p99_size).

    The tuning dial for every skew guard in this engine (chain_salts,
    pair_cap, max_token_df are all set against the bucket-size tail): run
    this on a sample before a production campaign and the p99/max columns
    say whether the caps are sized right for THIS corpus — e.g. a meme-heavy
    crawl shifts the phash tail an order of magnitude vs stock photography.

    Exact percentiles computed scale-safely by histogram-then-scan, never a
    window over bucket-sized data: bucket sizes groupBy to a (modality, size)
    histogram whose cardinality is bounded by the largest bucket (thousands
    of distinct sizes at most, vs billions of buckets), and the percentile
    scan runs over that tiny histogram. p-th size = smallest size with
    cumulative bucket count ≥ ceil(p · n_buckets) (i.e. the discrete lower
    quantile, same definition the SQL oracle replays)."""
    sizes = buckets.groupBy(modality_col, bucket_col).agg(F.count("*").alias("size"))
    hist = sizes.groupBy(modality_col, "size").agg(F.count("*").alias("n"))
    # ONE traversal of the bucket stream: totals ride the same per-modality
    # window shuffle as the cumulative count (the histogram is tiny), and
    # both percentiles fall out of a single conditional aggregation — the
    # previous tot/at(0.5)/at(0.99) join shape re-evaluated the whole
    # buckets->sizes->hist pipeline once per output column (no exchange
    # reuse across the join subtrees; measured 3x the union scan's cost).
    w = Window.partitionBy(modality_col).orderBy("size")
    wall = (
        Window.partitionBy(modality_col)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cum = hist.select(
        modality_col,
        "size",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(wall).alias("n_buckets"),
        F.sum(F.col("n") * F.col("size")).over(wall).alias("n_rows"),
        F.max("size").over(wall).alias("max_size"),
    )

    def at(q: float) -> F.Column:
        hit = F.col("cum") >= F.ceil(F.lit(q) * F.col("n_buckets"))
        return F.min(F.when(hit, F.col("size")))

    return cum.groupBy(modality_col).agg(
        F.first("n_buckets").alias("n_buckets"),
        F.first("n_rows").alias("n_rows"),
        F.first("max_size").alias("max_size"),
        at(0.5).alias("p50_size"),
        at(0.99).alias("p99_size"),
    )
