"""LSH candidate generation + verification tests."""

import numpy as np
from pyspark.sql import functions as F

from lmw_tree_spark.config import SMALL
from lmw_tree_spark.operators import lsh
from lmw_tree_spark.operators.signature_stage import extract_signatures
from lmw_tree_spark.sources.images import generate_images


def _sigs(spark, n=140):
    images = generate_images(spark, n, with_truth=True)
    truth = {r["image_id"]: r["dup_group"] for r in images.select("image_id", "dup_group").collect()}
    sigs = extract_signatures(images.drop("dup_group"), SMALL).persist()
    return sigs, truth


def test_candidates_cover_true_dup_pairs(spark):
    sigs, truth = _sigs(spark)
    edges = lsh.candidate_edges(sigs, SMALL).collect()
    cand = {(r["src"], r["dst"]) for r in edges}
    # every true dup pair must be a candidate, directly or via the bucket chain —
    # check connectivity: union-find over candidate edges
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in cand:
        parent[find(s)] = find(d)
    groups = {}
    for img, g in truth.items():
        groups.setdefault(g, []).append(img)
    for g, members in groups.items():
        if len(members) > 1:
            roots = {find(m) for m in members}
            assert len(roots) == 1, f"dup group {g} not connected by candidates"


def test_edges_are_ordered_and_unique(spark):
    sigs, _ = _sigs(spark, 70)
    edges = lsh.candidate_edges(sigs, SMALL).collect()
    seen = set()
    for r in edges:
        assert r["src"] < r["dst"]
        assert (r["src"], r["dst"]) not in seen
        seen.add((r["src"], r["dst"]))


def test_verify_separates_dups_from_chance_collisions(spark):
    sigs, truth = _sigs(spark)
    edges = lsh.candidate_edges(sigs, SMALL)
    verified = lsh.verify_edges(edges, sigs, SMALL).collect()
    for r in verified:
        same_group = truth[r["src"]] == truth[r["dst"]]
        if same_group:
            assert r["is_dup"], f"true pair rejected: {r}"
    # at least some candidate edges exist that verification rejects OR all
    # candidates were true (tiny data) — just check the flag computes both ways
    assert all(isinstance(r["is_dup"], bool) for r in verified)


def test_bucket_cap_emits_chain_not_clique(spark):
    # one giant bucket of identical keys: edges must be O(n), not O(n^2)
    n = 500
    df = spark.createDataFrame(
        [(1, f"id{i:05d}") for i in range(n)], "bucket long, image_id string"
    )
    edges = lsh.edges_from_buckets(df, pair_cap=64)
    cnt = edges.count()
    assert cnt == n - 1  # chain only — skew-safe


def _components(edges, ids):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in edges:
        parent[find(r["src"])] = find(r["dst"])
    groups = {}
    for i in ids:
        groups.setdefault(find(i), set()).add(i)
    return {frozenset(g) for g in groups.values()}


def test_salted_mega_bucket_stays_connected_and_bounded(spark):
    """Skew salting: with chain_salts=10, a 500-row bucket chains in ~10 bounded
    sub-chains; representative linking must keep every member in ONE component,
    and edge volume stays O(n)."""
    n = 500
    ids = [f"id{i:05d}" for i in range(n)]
    df = spark.createDataFrame(
        [(1, i) for i in ids], "bucket long, image_id string"
    )
    edges = lsh.edges_from_buckets(df, pair_cap=16, chain_salts=10).collect()
    assert len(edges) == n - 1  # sub-chain edges + rep links, disjoint by design
    assert _components(edges, ids) == {frozenset(ids)}


def test_salt_count_does_not_change_components(spark):
    ids = [f"id{i}x{b}" for b in range(3) for i in range(5)]
    df = spark.createDataFrame(
        [(int(i.split("x")[1]), i) for i in ids], "bucket long, image_id string"
    )
    comp_big = _components(
        lsh.edges_from_buckets(df, pair_cap=64, chain_salts=65536).collect(), ids
    )
    comp_small = _components(
        lsh.edges_from_buckets(df, pair_cap=64, chain_salts=2).collect(), ids
    )
    assert comp_big == comp_small
    assert len(comp_big) == 3


def test_small_bucket_emits_clique(spark):
    df = spark.createDataFrame(
        [(1, f"id{i}") for i in range(4)], "bucket long, image_id string"
    )
    edges = lsh.edges_from_buckets(df, pair_cap=64)
    assert edges.count() == 6  # C(4,2), chain edges are a subset


def test_minhash_agreement_col_matches_numpy(spark):
    rng = np.random.default_rng(2)
    a = rng.integers(0, 100, (10, 16)).astype(np.int64)
    b = a.copy()
    b[:, :8] = rng.integers(0, 100, (10, 8))
    rows = [(a[i].tolist(), b[i].tolist()) for i in range(10)]
    df = spark.createDataFrame(rows, "a_mh array<long>, b_mh array<long>")
    got = df.select(lsh.minhash_agreement_col().alias("s")).collect()
    exp = (a == b).mean(axis=1)
    assert np.allclose([r["s"] for r in got], exp)


def test_verify_corroboration_rule_semantics(spark):
    """The corroborated is_dup rule: a lone image-hash vote at radius 5-6 is
    rejected (the accidental-collision band), but corroborated pairs, strong
    single image hashes, and caption-alone evidence pass; verify_votes=1
    restores the legacy any-vote rule."""
    from dataclasses import replace

    import numpy as np
    import pandas as pd

    from lmw_tree_spark.operators.lsh import verify_edges

    # hand-built signatures: phash/simhash int64, minhash prefix arrays
    base_mh = list(np.arange(32, dtype=np.int64))
    other_mh = list(np.arange(100, 132, dtype=np.int64))
    mixed_mh = base_mh[:20] + other_mh[:12]  # 20/32 agreement = 0.625
    rows = [
        # a<->b: simhash dist 6 only (phash far, captions disjoint) -> reject
        ("a", 0, 0, base_mh), ("b", (1 << 40) - 1, 63, other_mh),
        # c<->d: simhash dist 6 AND phash dist 1 -> 2 votes -> accept
        ("c", 0, 0, base_mh), ("d", 1, 63, other_mh),
        # e<->f: phash dist 3 only -> strong single image hash -> accept
        ("e", 0, 0, base_mh), ("f", 7, (1 << 20) - 1, other_mh),
        # g<->h: caption 0.625 alone (hashes far) -> caption_alone_min -> accept
        ("g", 0, 0, base_mh), ("h", (1 << 40) - 1, (1 << 20) - 1, mixed_mh),
    ]
    sigs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "phash", "simhash", "minhash"]),
        "image_id string, phash long, simhash long, minhash array<long>",
    )
    edges = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")], "src string, dst string"
    )
    got = {
        (r["src"], r["dst"]): r["is_dup"]
        for r in verify_edges(edges, sigs, SMALL).collect()
    }
    assert got == {("a", "b"): False, ("c", "d"): True,
                   ("e", "f"): True, ("g", "h"): True}
    legacy = replace(SMALL, verify_votes=1)
    got1 = {
        (r["src"], r["dst"]): r["is_dup"]
        for r in verify_edges(edges, sigs, legacy).collect()
    }
    assert got1[("a", "b")] is True  # any single vote sufficed before


# ---------------------------------------------------------------------------
# band_config_sweep (one-pass LSH config tuner)
# ---------------------------------------------------------------------------


def test_band_config_sweep_matches_bruteforce(spark):
    import hashlib
    from collections import Counter

    from lmw_tree_spark.operators.lsh import SWEEP_PERMS, band_config_sweep

    M = 2147483647
    texts = {}
    for i in range(40):
        base = [f"tok{j}_{i % 8}" for j in range(12)]  # 8 dup families of 5
        texts[i] = base + [f"uniq{i}"]
    rows = [(i, h) for i, toks in texts.items()
            for h in {int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks}]
    df = spark.createDataFrame(rows, "doc_id long, h long")

    got = {
        r["rows_per_band"]: r
        for r in band_config_sweep(df, configs=(2, 4, 8)).collect()
    }

    mh = {
        i: [min((h * a + b) % M for h in {hh for d, hh in rows if d == i})
            for (a, b) in SWEEP_PERMS]
        for i in texts
    }
    for r in (2, 4, 8):
        buckets = Counter()
        members = {}
        for i, sig in mh.items():
            for band in range(24 // r):
                key = (band, tuple(sig[band * r:(band + 1) * r]))
                buckets[key] += 1
                members.setdefault(key, set()).add(i)
        multi = {k: n for k, n in buckets.items() if n >= 2}
        want_pairs = sum(n * (n - 1) // 2 for n in multi.values())
        want_docs = len(set().union(*[members[k] for k in multi])) if multi else 0
        assert got[r]["n_multi_buckets"] == len(multi)
        assert got[r]["cand_pairs"] == want_pairs
        assert got[r]["n_docs_bucketed"] == want_docs
        assert got[r]["n_bands"] == 24 // r
    # the tuner's whole point: fewer rows per band -> looser threshold ->
    # at least as many candidate pairs
    assert got[2]["cand_pairs"] >= got[4]["cand_pairs"] >= got[8]["cand_pairs"]


def test_bucket_skew_stats_exact(spark):
    """histogram-then-scan percentiles vs a direct sorted-sizes computation."""
    import math

    from lmw_tree_spark.operators.lsh import bucket_skew_stats

    rows = []
    # modality A: bucket sizes 1..10; modality B: heavy skew 1,1,1,100
    for b in range(10):
        rows += [("A", b, f"id{b}_{i}") for i in range(b + 1)]
    for b, sz in enumerate([1, 1, 1, 100]):
        rows += [("B", 1000 + b, f"bd{b}_{i}") for i in range(sz)]
    df = spark.createDataFrame(rows, "modality string, bucket long, image_id string")
    got = {r.modality: r for r in bucket_skew_stats(df).collect()}

    def brute(sizes):
        s = sorted(sizes)
        n = len(s)
        pick = lambda q: s[math.ceil(q * n) - 1]
        return n, sum(s), max(s), pick(0.5), pick(0.99)

    for mod, sizes in (("A", list(range(1, 11))), ("B", [1, 1, 1, 100])):
        n, tot, mx, p50, p99 = brute(sizes)
        r = got[mod]
        assert (r.n_buckets, r.n_rows, r.max_size, r.p50_size, r.p99_size) == (
            n, tot, mx, p50, p99,
        )


def test_verify_slices_partition_edge_set_exactly(spark):
    """Hash-sliced verify (staged large-input mode) = unsliced verify: the
    pmod(xxhash64) predicate partitions edges exactly and verify is row-local
    after its joins."""
    from pyspark.sql import functions as F

    from lmw_tree_spark.config import SMALL
    from lmw_tree_spark.operators.lsh import candidate_edges, verify_edges
    from lmw_tree_spark.operators.signature_stage import extract_signatures
    from lmw_tree_spark.sources.images import generate_images

    sigs = extract_signatures(generate_images(spark, 250), SMALL).persist()
    edges = candidate_edges(sigs, SMALL).persist()
    full = verify_edges(edges, sigs, SMALL).where("is_dup")
    want = {(r.src, r.dst) for r in full.collect()}
    got = set()
    n_slices = 3
    for s in range(n_slices):
        sl = edges.where(F.pmod(F.xxhash64("src", "dst"), F.lit(n_slices)) == s)
        got |= {
            (r.src, r.dst)
            for r in verify_edges(sl, sigs, SMALL).where("is_dup").collect()
        }
    assert got == want and len(want) > 0


def test_bucket_slices_partition_edge_generation_exactly(spark):
    """Bucket-hash-sliced edge generation (staged large-input mode): the union
    of per-slice edges_from_buckets, deduped, equals the unsliced edge set —
    every edge-generation step is keyed by bucket, so bucket slicing is an
    exact partition of the work."""
    from pyspark.sql import functions as F

    from lmw_tree_spark.config import SMALL
    from lmw_tree_spark.operators.lsh import candidate_buckets, edges_from_buckets
    from lmw_tree_spark.operators.signature_stage import extract_signatures
    from lmw_tree_spark.sources.images import generate_images

    sigs = extract_signatures(generate_images(spark, 200), SMALL)
    buckets = candidate_buckets(sigs, SMALL).persist()
    want = {
        (r.src, r.dst)
        for r in edges_from_buckets(
            buckets, SMALL.bucket_pair_cap, SMALL.chain_salts
        ).collect()
    }
    got = set()
    n_slices = 3
    for s in range(n_slices):
        sl = buckets.where(F.pmod(F.xxhash64("bucket"), F.lit(n_slices)) == s)
        got |= {
            (r.src, r.dst)
            for r in edges_from_buckets(
                sl, SMALL.bucket_pair_cap, SMALL.chain_salts
            ).collect()
        }
    assert got == want and len(want) > 0
