"""Document deduplication suite for the training-data pipeline: exact, token-set
Jaccard, MinHash+LSH, and SimHash near-dup detection over a text table.

These are the text-corpus counterparts of the image dedup layer (operators/lsh.py)
and reuse the same kernels. Everything that can stay JVM-side does; MinHash/SimHash
batch kernels run as Arrow ``mapInPandas``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lmw_tree_spark.functions.signatures import (
    band_hashes,
    char_shingle_hashes,
    hamming_band_keys,
    minhash_matrix,
    simhash_from_token_hashes,
    word_shingle_hashes,
)
from lmw_tree_spark.functions.text import fingerprint_col
from lmw_tree_spark.operators.lsh import edges_from_buckets


def exact_dedup_groups(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by normalized-content fingerprint: one row per group
    with size and canonical (min) id. Pure hash-groupBy — the cheap first pass of
    any corpus dedup."""
    return (
        df.select(F.col(id_col), fingerprint_col(text).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("group_size"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def _word_gram_tokens(
    df: DataFrame, ngram: int, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id, token) rows: lowercase word unigrams, or word n-gram
    shingles for ``ngram > 1``. All JVM (split → transform/slice → explode)."""
    if ngram == 1:
        tok_col = F.explode(F.split(F.lower(text), " "))
    else:
        n = int(ngram)
        grams = (
            f"transform(sequence(1, size(_arr) - {n - 1}), "
            f"i -> concat_ws(' ', slice(_arr, i, {n})))"
        )
        # short docs yield an empty (typed) array — sequence() must not see a
        # descending range, and array() alone would type as array<void>
        tok_col = F.explode(
            F.expr(f"IF(size(_arr) >= {n}, {grams}, slice(_arr, 1, 0))")
        )
        df = df.withColumn("_arr", F.split(F.lower(text), " "))
    return df.select(F.col(id_col).alias("id"), tok_col.alias("tok")).distinct()


def token_jaccard_pairs(
    df: DataFrame,
    min_jaccard: float = 0.5,
    text: str = "text",
    id_col: str = "doc_id",
    left_filter=None,
    max_token_df: int | None = None,
    ngram: int = 1,
) -> DataFrame:
    """Token-set Jaccard between document pairs sharing ≥1 token.

    Classic inverted-index join: tokens → equi-join → |A∩B| per pair → Jaccard from
    per-doc distinct counts. ``left_filter`` (a Column predicate on the left side)
    bounds the query side.

    ``ngram > 1`` computes Jaccard over word n-gram sets (shingles) instead of
    unigrams — much sharper for near-dup detection since shared vocabulary no
    longer collides; the df guard then bites on boilerplate PHRASES. All JVM
    (split → transform/slice → explode), no Python.

    ``max_token_df`` is the SCALE guard: tokens whose document frequency exceeds it
    (stopwords, boilerplate) are dropped from the token universe BEFORE the
    self-join — a hot token otherwise produces O(df²) pairs, which is the join's
    failure mode at corpus scale. The Jaccard is then defined over the df-capped
    token universe (sizes computed after the same filter), so the measure stays
    internally consistent; high-df tokens carry no dedup signal anyway. Tokens with
    df = 1 are additionally excluded from the join sides only (they cannot
    intersect), which changes nothing about the result but halves join volume on
    long-tail vocabulary.
    """
    toks = _word_gram_tokens(df, ngram, text, id_col)
    if max_token_df is not None:
        keep = (
            toks.groupBy("tok")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_token_df)
        )
        toks = toks.join(keep.select("tok"), "tok")
        joinable = keep.where(F.col("df") >= 2).select("tok")
    else:
        joinable = None
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    join_toks = toks if joinable is None else toks.join(joinable, "tok")
    left = join_toks if left_filter is None else join_toks.where(left_filter)
    inter = (
        left.alias("a")
        .join(join_toks.alias("b"), "tok")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "src").withColumnRenamed("sz", "sa"), "src")
        .join(sizes.withColumnRenamed("id", "dst").withColumnRenamed("sz", "sb"), "dst")
        .select(
            "src",
            "dst",
            (F.col("inter").cast("double") / (F.col("sa") + F.col("sb") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )


DOC_MINHASH_SCHEMA = "doc_id long, minhash array<long>"
DOC_SIMHASH_SCHEMA = "doc_id long, simhash long"


def doc_minhash(
    df: DataFrame, k: int = 5, n_perm: int = 64, seed: int = 42,
    text: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc MinHash signature over k-char shingles (Arrow-vectorized)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            h, m = char_shingle_hashes(pdf[text], k)
            mh = minhash_matrix(h, m, n_perm, seed)
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].to_numpy(), "minhash": list(mh.view(np.int64))}
            )

    return df.select(id_col, text).mapInPandas(run, DOC_MINHASH_SCHEMA)


def minhash_lsh_dedup(
    df: DataFrame, n_bands: int = 16, k: int = 5, n_perm: int = 64,
    min_sim: float = 0.6, pair_cap: int = 64,
    text: str = "text", id_col: str = "doc_id",
    mh: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs: shingle → minhash → band → bucket join → verify
    by signature agreement. Output (src, dst, est_jaccard).

    ``mh`` optionally injects a precomputed ``doc_minhash`` DataFrame (e.g. one
    the caller also materializes for an external oracle) so the signatures are
    computed once. With ``pair_cap`` ≥ the largest band-bucket size every bucket
    emits its full clique, making the candidate set EXACTLY "pairs sharing ≥ 1
    band" — the SQL-replayable configuration; smaller caps trade completeness
    for bounded volume (chains)."""
    if mh is None:
        mh = doc_minhash(df, k, n_perm, text=text, id_col=id_col)
    mh = mh.persist()

    def bucketer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["minhash"]), dtype=np.int64).view(np.uint64)
            bands = band_hashes(m, n_bands)
            yield pd.DataFrame(
                {
                    "bucket": bands.ravel(),
                    "image_id": np.repeat(pdf["doc_id"].astype(str).to_numpy(), n_bands),
                }
            )

    buckets = mh.mapInPandas(bucketer, "bucket long, image_id string")
    # bucket ids chain in STRING order; re-normalize src < dst numerically
    cast_edges = edges_from_buckets(buckets, pair_cap).select(
        F.col("src").cast("long").alias("s"), F.col("dst").cast("long").alias("d")
    )
    edges = cast_edges.select(
        F.least("s", "d").alias("src"), F.greatest("s", "d").alias("dst")
    )
    a = mh.select(F.col("doc_id").alias("src"), F.col("minhash").alias("a_mh"))
    b = mh.select(F.col("doc_id").alias("dst"), F.col("minhash").alias("b_mh"))
    sim = (
        F.aggregate(
            F.zip_with("a_mh", "b_mh", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.size("a_mh")
    ).cast("double")
    return (
        edges.join(a, "src").join(b, "dst")
        .select("src", "dst", sim.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_sim)
    )


def doc_simhash(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit token SimHash per document (majority vote over token-hash bits)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            h, m = word_shingle_hashes(pdf[text], n=1)
            s = simhash_from_token_hashes(h, m)
            yield pd.DataFrame(
                {"doc_id": pdf[id_col].to_numpy(), "simhash": s.view(np.int64)}
            )

    return df.select(id_col, text).mapInPandas(run, DOC_SIMHASH_SCHEMA)


def simhash_dedup(
    df: DataFrame, max_dist: int = 6, n_bands: int = 4,
    text: str = "text", id_col: str = "doc_id", pair_cap: int = 256,
    sh: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs via pigeonhole band buckets + exact Hamming verify.
    Output (src, dst, dist). ``sh`` optionally injects a precomputed
    ``doc_simhash`` DataFrame; ``pair_cap`` ≥ the largest bucket makes the
    candidate set exactly "pairs sharing ≥ 1 bit-slice band" (SQL-replayable)."""
    if sh is None:
        sh = doc_simhash(df, text, id_col)
    sh = sh.persist()

    def bucketer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pdf["simhash"].to_numpy(dtype=np.int64).view(np.uint64)
            keys = hamming_band_keys(vals, n_bands)
            yield pd.DataFrame(
                {
                    "bucket": keys.ravel(),
                    "image_id": np.repeat(pdf["doc_id"].astype(str).to_numpy(), n_bands),
                }
            )

    buckets = sh.mapInPandas(bucketer, "bucket long, image_id string")
    cast_edges = edges_from_buckets(buckets, pair_cap).select(
        F.col("src").cast("long").alias("s"), F.col("dst").cast("long").alias("d")
    )
    edges = cast_edges.select(
        F.least("s", "d").alias("src"), F.greatest("s", "d").alias("dst")
    )
    a = sh.select(F.col("doc_id").alias("src"), F.col("simhash").alias("a_sh"))
    b = sh.select(F.col("doc_id").alias("dst"), F.col("simhash").alias("b_sh"))
    return (
        edges.join(a, "src").join(b, "dst")
        .select(
            "src", "dst",
            F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh"))).cast("long").alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def _band_buckets_long(mh: DataFrame, n_bands: int) -> DataFrame:
    """(doc_id, minhash) → exploded (bucket, doc_id) band keys, long ids."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array(list(pdf["minhash"]), dtype=np.int64).view(np.uint64)
            bands = band_hashes(m, n_bands)
            yield pd.DataFrame(
                {
                    "bucket": bands.ravel(),
                    "doc_id": np.repeat(pdf["doc_id"].to_numpy(), n_bands),
                }
            )

    return mh.mapInPandas(run, "bucket long, doc_id long")


def minhash_dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    n_bands: int = 16,
    k: int = 5,
    n_perm: int = 64,
    min_sim: float = 0.6,
    max_bucket_df: int | None = None,
    text: str = "text",
    id_col: str = "doc_id",
    mh_new: DataFrame | None = None,
    mh_corpus: DataFrame | None = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs between an INCOMING shard and an
    EXISTING corpus — the daily-ingest shape of a training-data pipeline
    (dedupe the new crawl against everything already kept, without re-running
    corpus-vs-corpus).

    Band buckets on both sides meet in a bucket equi-join that only produces
    new×corpus candidates; verification is the MinHash agreement fraction. The
    corpus-side signatures/buckets are exactly what a production run persists
    (``mh_corpus`` injects them precomputed — the incremental index). Candidate
    volume per band bucket is |new ∩ bucket| × |corpus ∩ bucket|;
    ``max_bucket_df`` drops corpus-hot buckets (boilerplate bands) before the
    join — the same df-guard scale bound as ``token_jaccard_pairs``, since a
    band shared by b corpus rows otherwise multiplies every colliding new row
    by b. Output (new_id, corpus_id, est_jaccard).
    """
    if mh_new is None:
        mh_new = doc_minhash(new_df, k, n_perm, text=text, id_col=id_col)
    if mh_corpus is None:
        mh_corpus = doc_minhash(corpus_df, k, n_perm, text=text, id_col=id_col)
    mh_new = mh_new.persist()
    mh_corpus = mh_corpus.persist()
    nb = _band_buckets_long(mh_new, n_bands)
    cb = _band_buckets_long(mh_corpus, n_bands)
    if max_bucket_df is not None:
        keep = (
            cb.groupBy("bucket")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_bucket_df)
            .select("bucket")
        )
        cb = cb.join(keep, "bucket")
    cand = (
        nb.select("bucket", F.col("doc_id").alias("new_id"))
        .join(cb.select("bucket", F.col("doc_id").alias("corpus_id")), "bucket")
        .select("new_id", "corpus_id")
        .dropDuplicates()
    )
    a = mh_new.select(F.col("doc_id").alias("new_id"), F.col("minhash").alias("a_mh"))
    b = mh_corpus.select(
        F.col("doc_id").alias("corpus_id"), F.col("minhash").alias("b_mh")
    )
    sim = (
        F.aggregate(
            F.zip_with("a_mh", "b_mh", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.size("a_mh")
    ).cast("double")
    return (
        cand.join(a, "new_id")
        .join(b, "corpus_id")
        .select("new_id", "corpus_id", sim.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= min_sim)
    )


def contamination_pairs(
    train_df: DataFrame,
    eval_df: DataFrame,
    ngram: int = 3,
    min_containment: float = 0.5,
    max_gram_df: int | None = None,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: eval documents whose word n-grams appear in
    training documents (n-gram-overlap contamination checks: Brown et al. 2020
    appendix C; Dodge et al. 2021 on C4). For each (eval, train) pair sharing
    ≥1 distinct n-gram, ``containment`` = |grams(eval) ∩ grams(train)| /
    |grams(eval)| — the asymmetric measure: a short eval item fully quoted
    inside a long train doc scores 1.0.

    Inverted-index equi-join on grams, all JVM; ``max_gram_df`` drops
    training-hot grams (boilerplate phrases) before the join — without it a
    gram in b train docs multiplies every eval doc containing it by b. Output
    (eval_id, train_id, overlap, containment), containment ≥ threshold.
    """
    tg = _word_gram_tokens(train_df, ngram, text, id_col)
    eg = _word_gram_tokens(eval_df, ngram, text, id_col)
    if max_gram_df is not None:
        keep = (
            tg.groupBy("tok")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_gram_df)
            .select("tok")
        )
        tg = tg.join(keep, "tok")
        eg = eg.join(keep, "tok")
    esz = eg.groupBy("id").agg(F.count("*").alias("esz"))
    inter = (
        eg.select(F.col("id").alias("eval_id"), "tok")
        .join(tg.select(F.col("id").alias("train_id"), "tok"), "tok")
        .where(F.col("eval_id") != F.col("train_id"))
        .groupBy("eval_id", "train_id")
        .agg(F.count("*").alias("overlap"))
    )
    return (
        inter.join(esz.withColumnRenamed("id", "eval_id"), "eval_id")
        .select(
            "eval_id",
            "train_id",
            "overlap",
            F.round(F.col("overlap").cast("double") / F.col("esz"), 4).alias(
                "containment"
            ),
        )
        .where(F.col("containment") >= min_containment)
    )


def editdist_pairs(
    df: DataFrame,
    min_sim: float = 0.6,
    ngram: int = 5,
    max_gram_df: int | None = 200,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs verified by full-text Levenshtein edit distance.

    The two-stage shape every fuzzy-dedup pipeline at corpus scale uses:
    a cheap CANDIDATE stage (documents sharing >= 1 word-``ngram`` shingle,
    df-capped so boilerplate phrases can't explode the self-join — same guard
    as :func:`token_jaccard_pairs`) followed by an expensive VERIFY stage that
    runs only on candidates: JVM ``levenshtein`` on the full lowercased text,
    ``edit_sim = 1 - lev / max(len_a, len_b)``, keep pairs >= ``min_sim``.

    Edit distance is the sharpest text near-dup verifier (order-sensitive,
    catches small in-place edits that set measures dilute) but is O(len_a *
    len_b) per pair — exactly why it must sit BEHIND a candidate generator and
    never in a self-join. Cost at scale: O(candidate_pairs), each a pure JVM
    row operation; the shuffle is the candidate equi-join, bounded by the df
    cap. Reference has no text-verify stage (signature Hamming only,
    /root/reference/src/lmw/Distance.h); this follows the MinHash-then-verify
    pattern of web dedup literature (Broder 1997).
    """
    # persisted: the exploded grams feed the df aggregate AND both self-join
    # sides — without it the shingle explode runs three times
    grams = _word_gram_tokens(df, ngram, text, id_col).persist()
    if max_gram_df is not None:
        keep = (
            grams.groupBy("tok")
            .agg(F.count("*").alias("df"))
            .where(F.col("df").between(2, max_gram_df))
            .select("tok")
        )
        grams = grams.join(keep, "tok")
    cand = (
        grams.alias("a")
        .join(grams.alias("b"), "tok")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .distinct()
    )
    texts = df.select(F.col(id_col).alias("_tid"), F.lower(F.col(text)).alias("_txt"))
    return (
        cand.join(texts.withColumnRenamed("_tid", "src").withColumnRenamed("_txt", "_ta"), "src")
        .join(texts.withColumnRenamed("_tid", "dst").withColumnRenamed("_txt", "_tb"), "dst")
        .select(
            "src",
            "dst",
            F.levenshtein("_ta", "_tb").alias("lev"),
            F.round(
                F.lit(1.0)
                - F.levenshtein("_ta", "_tb").cast("double")
                / F.greatest(F.length("_ta"), F.length("_tb")),
                4,
            ).alias("edit_sim"),
        )
        .where(F.col("edit_sim") >= min_sim)
    )


def simhash_dedup_against_corpus(
    new_sh: DataFrame,
    corpus_sh: DataFrame,
    max_dist: int = 6,
    n_bands: int = 4,
    max_bucket_df: int | None = None,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
) -> DataFrame:
    """Incremental PERCEPTUAL dedup: near-dup (new, corpus) pairs between an
    incoming shard's 64-bit hashes (SimHash / dHash / pHash — any Hamming
    family) and the persisted hash index of everything already kept — the
    image analogue of ``minhash_dedup_against_corpus``, and the daily-ingest
    shape of the north rule's image pipeline: the corpus side is exactly the
    input table's stored ``phash`` column, no recompute, no corpus-vs-corpus
    rerun.

    All-JVM: both sides explode into ``n_bands`` pigeonhole bit-slice keys
    (bucket equi-join only produces new×corpus candidates), then one exact
    ``bit_count(xor)`` verify. ``max_bucket_df`` drops corpus-hot buckets
    (flat/logo-like hash slices) before the join — the same df-guard bound as
    the text family, since a band shared by b corpus rows multiplies every
    colliding new row by b. Scale shape: the corpus side shuffles once by
    (band, key) — at 10^12 rows this is the persisted layout of the index —
    and the daily shard streams against it. Output (new_id, corpus_id, dist).
    """
    width = 64 // n_bands
    mask = (1 << width) - 1

    def slices(df: DataFrame, out_id: str) -> DataFrame:
        arr = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col(hash_col), b * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
                for b in range(n_bands)
            ]
        )
        return df.select(
            F.col(id_col).alias(out_id), F.explode(arr).alias("s")
        ).select(out_id, "s.band", "s.key")

    nb = slices(new_sh, "new_id")
    cb = slices(corpus_sh, "corpus_id")
    if max_bucket_df is not None:
        keep = (
            cb.groupBy("band", "key")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_bucket_df)
            .select("band", "key")
        )
        cb = cb.join(keep, ["band", "key"])
    cand = nb.join(cb, ["band", "key"]).select("new_id", "corpus_id").distinct()
    a = new_sh.select(
        F.col(id_col).alias("new_id"), F.col(hash_col).alias("a_sh")
    )
    b = corpus_sh.select(
        F.col(id_col).alias("corpus_id"), F.col(hash_col).alias("b_sh")
    )
    return (
        cand.join(a, "new_id")
        .join(b, "corpus_id")
        .select(
            "new_id",
            "corpus_id",
            F.bit_count(F.col("a_sh").bitwiseXOR(F.col("b_sh")))
            .cast("long")
            .alias("dist"),
        )
        .where(F.col("dist") <= max_dist)
    )


def group_diameter(
    groups: DataFrame,
    sigs: DataFrame,
    size_cap: int = 64,
    id_col: str = "image_id",
    group_col: str = "dup_group",
    hash_col: str = "phash",
) -> DataFrame:
    """Chain-drift audit: per dup group, the MAX pairwise Hamming distance of a
    perceptual hash across members → (dup_group, n_members, diameter).

    Transitive closure over near-dup edges admits A~B~C chains where A and C
    are far apart — each hop passed the verify radius but the group's ends
    drifted. This measures that directly: a group whose diameter is well past
    the verify radius was fused by chaining (or by a spurious bridge), and is
    the thing to route to k-truss hardening or manual review. The complement
    of ktruss(): measurement instead of repair.

    Only groups with 2..size_cap members are scored — the within-group
    self-join is O(size²) per group, so the cap bounds the worst group's pair
    count at size_cap²/2 regardless of how large closure groups get; larger
    groups are reported with diameter NULL (flagged, not priced). The join
    is a group-key equi-join (AQE-splittable), the same bounded shape as
    SemDeDup's within-cluster scoring.
    """
    sized = groups.groupBy(group_col).agg(F.count("*").alias("n_members"))
    small = sized.where(
        (F.col("n_members").between(2, size_cap))
    ).select(group_col)
    member = groups.join(sigs.select(id_col, hash_col), id_col).join(
        small, group_col
    )
    a = member.select(
        group_col, F.col(id_col).alias("a_id"), F.col(hash_col).alias("a_h")
    )
    b = member.select(
        group_col, F.col(id_col).alias("b_id"), F.col(hash_col).alias("b_h")
    )
    diam = (
        a.join(b, group_col)
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy(group_col)
        .agg(
            F.max(F.bit_count(F.col("a_h").bitwiseXOR(F.col("b_h"))).cast("long")).alias(
                "diameter"
            )
        )
    )
    return (
        sized.where(F.col("n_members") >= 2)
        .join(diam, group_col, "left")
        .select(group_col, "n_members", "diameter")
    )
