"""Scale probe: run the flagship dedup+cluster pipeline at an arbitrary image
count and print one JSON line with its wall time + dup-pair recall/precision
vs the generator's planted truth.

The per-round bench (bench.py) runs the fixed sf0.1 corpus (7,000 images);
this probe is how the 100k-image scale findings in BASELINE.md were produced
(throughput 450 -> 736 img/s from 7k to 100k as fixed costs amortize, and the
precision measurement that motivated the corroborated verify rule).

    python tools/scale_probe.py --n-images 100000

``--checkpoint-dir`` runs the checkpointed pipeline: every stage commits a
snapshot (a rerun with the same dir resumes), and from 2 × ROWS_PER_SLICE
images on, dedup runs in hash slices that bound local scratch
(``lmw_tree_spark/plans/pipeline.py``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=100_000)
    ap.add_argument("--master", default=f"local[{len(os.sched_getaffinity(0))}]")
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument(
        "--checkpoint-dir", default=None,
        help="commit every stage (and dedup slice) here; rerun to resume",
    )
    args = ap.parse_args()

    from bench import run_flagship

    r = run_flagship(
        args.master, args.shuffle_partitions, args.n_images, args.checkpoint_dir
    )
    r["n_images"] = args.n_images
    r["images_per_sec"] = round(args.n_images / r["t_total"], 1)
    print(json.dumps(r))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
