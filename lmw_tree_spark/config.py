"""Pipeline configuration. One frozen dataclass threaded through every stage so the
"identical shingle/signature config" requirement (recall scoring vs the oracle) is a
single object, not scattered constants.

Defaults mirror the reference's flagship experiment where a setting exists there:
4096-bit signatures (/root/reference/src/StreamingEMTreeExperiments.h:50-52), EM-tree
order m=10, depth 4, 10 iterations (StreamingEMTreeExperiments.h:29-31,125). Tests use
smaller sig_bits/tree per FIXTURES.md (256-bit at tiny/small scale).
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class PipelineConfig:
    # signatures
    sig_bits: int = 4096          # packed bit-signature width (divisible by 64)
    simhash_seed: int = 7         # hyperplane seed (pinned for reproducibility)
    minhash_perms: int = 128      # MinHash permutations over caption shingles
    minhash_seed: int = 42
    shingle_k: int = 5            # char-shingle width for captions
    substring_len: int = 16       # L for the common-substring (suffix-array) pass —
                                  # short enough to catch one-token caption edits,
                                  # long enough that stock phrases don't bucket
                                  # unrelated captions together

    # LSH candidate generation
    lsh_bands: int = 32           # MinHash bands (rows = perms // bands)
    phash_bands: int = 4          # 64-bit Hamming pigeonhole slices (tolerates 3 flips)
    bucket_pair_cap: int = 24     # buckets larger than this emit chain edges only
                                  # (chain keeps connectivity; cap bounds clique
                                  # pair volume at cap*(cap-1)/2 per bucket)
    chain_salts: int = 4096       # fixed salt count for the two-level chains:
                                  # one hash aggregation on (bucket, hash(id)%this)
                                  # builds sorted sub-chains (each ≤ ~size/this ids
                                  # at any skew), then ≤ this per-salt
                                  # representatives are chained per bucket
    # (substring buckets use winnowing with window = substring_len - shingle_k + 1:
    #  exact share-substring(≥L) ⇒ share-fingerprint guarantee at ~2/(w+1) density)
    verify_minhash_prefix: int = 32  # minhash values used for pair verification
                                     # (32 samples → Jaccard est ±~0.08; full width
                                     # is carried only to the band hasher)

    # verification thresholds — per-modality EVIDENCE votes
    phash_max_dist: int = 6       # phash vote: Hamming ≤ this
    simhash_max_dist: int = 6     # pixel-simhash vote: Hamming ≤ this
    minhash_min_jaccard: float = 0.7  # caption vote: MinHash similarity ≥ this
    # corroboration rule (measured at 100k images: precision 0.959 → 0.998 at
    # recall 0.9995 vs 0.9996 for the any-single-vote rule). A pair is a dup if
    # it has >= verify_votes evidence votes, OR one IMAGE hash is within the
    # (much tighter) strong radius, OR caption similarity alone clears
    # caption_alone_min — caption MinHash is empirically exact (zero false
    # fires at 100k; false pairs max 0.44 agreement vs 0.5+ for one-token
    # edits), while a lone image-hash vote at radius 5-6 is where accidental
    # collisions between smooth images concentrate. verify_votes=1 restores
    # the legacy any-vote rule.
    verify_votes: int = 2         # min corroborating votes
    strong_image_dist: int = 4    # single image-hash suffices within this
    caption_alone_min: float = 0.6  # caption similarity alone suffices ≥ this
    suffix_dup_min_len: int | None = None  # when set, run the exact suffix-array
                                  # substring pass on captions and count pairs
                                  # with a common substring ≥ this many chars as
                                  # dups (catches shared boilerplate/watermark
                                  # text that MinHash dilutes away)
    truss_k: int | None = None    # when set (k ≥ 3), harden verified edges with
                                  # a k-truss peel (operators/graph.py) before
                                  # connected components: every surviving edge
                                  # must sit in ≥ k-2 triangles of surviving
                                  # edges, so one spurious pair can't fuse two
                                  # dup groups. Precision knob — trades recall
                                  # on size-2 groups (no triangle to support
                                  # them), hence off by default

    # EM-tree (reference flagship: m=10, depth=4, 10 iters)
    tree_order: int = 10
    tree_depth: int = 4
    em_iters: int = 4
    tsvq_sample: int = 2000       # sample size for TSVQ seeding (ref: 2M of 733M)
    tsvq_maxiters: int = 0        # k-means iters inside TSVQ init (ref flagship: 0)
    seed: int = 42

    def small(self) -> "PipelineConfig":
        """Test-scale variant: 256-bit signatures, shallow tree."""
        return replace(self, sig_bits=256, tree_order=4, tree_depth=2, tsvq_sample=500)


DEFAULT = PipelineConfig()
SMALL = DEFAULT.small()
