"""Deterministic synthetic image+caption table — the engine's Iceberg-shaped input.

Schema is fixed by the target spec:
``(image_id string, bytes binary, w int, h int, fmt string, caption string, phash long)``.

Generation is fully distributed (``spark.range(n)`` → ``mapInPandas``) and seeded per
row index, so any scale factor reproduces byte-identically regardless of
partitioning — the Spark analogue of the reference's seeded ``genData``
(/root/reference/src/CreateSignatures.h:9-24, VectorGenerator.h:46-81). No driver-side
data, no collect: the same code generates 10^3 or 10^12 rows.

Duplicate structure (ground truth for recall scoring, FIXTURES.md §1): every index
``i`` with ``i % 7 == 0`` is a group base; ``i % 7 ∈ {1, 2}`` are near-dup variants of
``i - (i % 7)``:

- variant 1: same pixels + ±1 uniform noise, re-encoded; caption verbatim.
- variant 2: lossy re-encode after nearest-neighbor resize to the next size in the
  cycle; caption with one token substituted (exercises MinHash + substring pass).

``phash`` is computed from the *decoded* bytes (what a consumer reading the table
would compute), DCT pHash over 32x32 luma.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from lmw_tree_spark.functions.signatures import phash_from_luma32
from lmw_tree_spark.sources import codecs

GLOBAL_SEED = 42
SIZES = (32, 48, 64)

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)
IMAGES_SCHEMA_TRUTH = IMAGES_SCHEMA + ", dup_group long"

_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "ki", "lo", "mu", "na",
    "pe", "qui", "ra", "so", "tu", "ve", "wi", "xo", "yu", "za",
]


def vocabulary(size: int = 500) -> list[str]:
    """Deterministic 500-word vocabulary (seeded syllable compounds)."""
    rng = np.random.default_rng(GLOBAL_SEED)
    words = []
    seen = set()
    while len(words) < size:
        n_syl = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[int(rng.integers(0, len(_SYLLABLES)))] for _ in range(n_syl))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


_VOCAB = vocabulary()


def _smooth_pattern(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Low-frequency random RGB pattern (bilinear upsample of a 6x6 seed grid) —
    smooth content so near-dup perturbations stay perceptually close."""
    base = rng.uniform(0.0, 255.0, (6, 6, 3))
    yi = np.linspace(0.0, 5.0, h)
    xi = np.linspace(0.0, 5.0, w)
    y0 = np.floor(yi).astype(int).clip(0, 4)
    x0 = np.floor(xi).astype(int).clip(0, 4)
    fy = (yi - y0)[:, None, None]
    fx = (xi - x0)[None, :, None]
    p00 = base[np.ix_(y0, x0)]
    p01 = base[np.ix_(y0, x0 + 1)]
    p10 = base[np.ix_(y0 + 1, x0)]
    p11 = base[np.ix_(y0 + 1, x0 + 1)]
    out = (1 - fy) * ((1 - fx) * p00 + fx * p01) + fy * ((1 - fx) * p10 + fx * p11)
    return out.clip(0, 255).astype(np.uint8)


def base_index(i: int) -> int:
    """Ground-truth dup-group base for row index i (group = {base, base+1, base+2})."""
    r = i % 7
    return i - r if r in (1, 2) else i


def _generate_one(i: int) -> tuple[bytes, int, int, str, str, int, int]:
    """Generate row i: (bytes, w, h, fmt, caption, phash, dup_group). Seeded by the
    group base so variants derive from identical source content."""
    base = base_index(i)
    variant = i - base
    rng = np.random.default_rng([GLOBAL_SEED, base])
    size = SIZES[base % len(SIZES)]
    pixels = _smooth_pattern(rng, size, size)
    n_tok = int(rng.integers(8, 25))
    tokens = [_VOCAB[int(t)] for t in rng.integers(0, len(_VOCAB), n_tok)]

    # per-variant perturbations come from a variant-specific stream
    vrng = np.random.default_rng([GLOBAL_SEED, base, variant])
    w = h = size
    if variant == 1:
        noise = vrng.integers(-1, 2, pixels.shape, dtype=np.int16)
        pixels = (pixels.astype(np.int16) + noise).clip(0, 255).astype(np.uint8)
    elif variant == 2:
        w = h = SIZES[(base + 1) % len(SIZES)]
        chans = [codecs.resize_nn(pixels[..., c].astype(np.float64), h, w) for c in range(3)]
        pixels = np.stack(chans, axis=-1).astype(np.uint8)
        pos = int(vrng.integers(0, n_tok))
        tokens = list(tokens)
        tokens[pos] = _VOCAB[int(vrng.integers(0, len(_VOCAB)))]

    lossy = (i % 3 == 0) or variant == 2
    fmt = "jpeg" if lossy else "png"
    data = codecs.encode_lossy(pixels) if lossy else codecs.encode_png(pixels)
    decoded = codecs.decode_image(data, fmt)
    lum32 = codecs.resize_nn(codecs.luma(decoded), 32, 32)
    ph = int(np.int64(np.uint64(phash_from_luma32(lum32[None])[0])))
    return data, w, h, fmt, " ".join(tokens), ph, base


def generate_batch(indices: np.ndarray, with_truth: bool = False) -> pd.DataFrame:
    rows = []
    for i in indices:
        i = int(i)
        data, w, h, fmt, caption, ph, grp = _generate_one(i)
        row = {
            "image_id": f"img{i:010d}",
            "bytes": data,
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": caption,
            "phash": ph,
        }
        if with_truth:
            row["dup_group"] = grp
        rows.append(row)
    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"] + (
        ["dup_group"] if with_truth else []
    )
    return pd.DataFrame(rows, columns=cols)


def generate_images(
    spark: SparkSession,
    n: int,
    partitions: int | None = None,
    with_truth: bool = False,
) -> DataFrame:
    """Distributed deterministic generator → DataFrame in the input_hint schema."""
    if partitions is None:
        partitions = max(2, min(int(spark.conf.get("spark.sql.shuffle.partitions", "32")), n))
    schema = IMAGES_SCHEMA_TRUTH if with_truth else IMAGES_SCHEMA

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield generate_batch(b["id"].to_numpy(), with_truth)

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema)
