"""Kernel profiler: times the library's public batch kernels on one fixed,
seeded batch, without Spark.

The batch is ``--rows`` generated images (``sources.images.generate_batch``,
seeded by row index). Four kernels are timed, best of ``--trials``:

  signatures    compute_signature_batch(images, cfg): decode, DCT projection,
                MinHash
  descend       descend(tree, sigs): pass A of the EM insert, pads cached
  descend_cold  descend on a freshly unpickled tree, so it includes the
                per-level pad build every Spark worker pays once per broadcast
  accumulate    accumulate_leaves(tree, sigs): one whole EM insert pass

``sigs`` are the batch's ``--bits``-wide signatures, and the tree is
TSVQ-seeded from them at ``--order`` / ``--depth`` (flagship defaults: 4096
bits, order 10, depth 4). With ``--workers W`` the kernels run in W spawned
worker processes at once, each on its own copy of the batch, started together
per trial; a trial's time is its slowest worker's, and rows/s is aggregate
(W × rows / time) — the setting of an executor whose W task slots share the
memory bus and the last-level cache. ``--chunks`` repeats the EM kernels per
descent chunk size (``tree._DESCEND_CHUNK``), which is how that constant was
swept.

Spark's Python workers run with one BLAS thread and glibc's mmap/trim
thresholds raised (``session.get_spark``); the BLAS setting is applied here,
the malloc one must be in the environment before the process starts:

  MALLOC_MMAP_THRESHOLD_=1073741824 MALLOC_TRIM_THRESHOLD_=1073741824 \\
      python tools/profile_kernels.py [--rows 4096] [--bits 4096] [--order 10]
          [--depth 4] [--workers 1] [--trials 3] [--chunks 1024,4096]

Prints one line per (kernel, chunk) and a final JSON line with the same rows.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import pickle
import sys
import time
from dataclasses import replace

for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import numpy as np  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lmw_tree_spark.config import DEFAULT  # noqa: E402
from lmw_tree_spark.functions.bitops import longs_to_u64  # noqa: E402
from lmw_tree_spark.operators import tree as tree_ops  # noqa: E402
from lmw_tree_spark.operators.signature_stage import compute_signature_batch  # noqa: E402
from lmw_tree_spark.operators.tree import accumulate_leaves, descend, tsvq_init  # noqa: E402
from lmw_tree_spark.sources.images import generate_batch  # noqa: E402


def _kernel_times(images, sigs, tree, cfg, chunks, trials, barrier=None) -> dict:
    """{(kernel, chunk): [seconds per trial]}; every trial of every kernel
    starts at ``barrier`` when workers run together."""
    blob = pickle.dumps(tree)

    def descend_cold():
        descend(pickle.loads(blob), sigs)

    em = {
        "descend": lambda: descend(tree, sigs),
        "descend_cold": descend_cold,
        "accumulate": lambda: accumulate_leaves(tree, sigs),
    }
    runs = [("signatures", None, lambda: compute_signature_batch(images, cfg))]
    runs += [(name, c, fn) for c in chunks for name, fn in em.items()]
    default_chunk = tree_ops._DESCEND_CHUNK
    out: dict = {}
    try:
        for name, chunk, fn in runs:
            tree_ops._DESCEND_CHUNK = chunk or default_chunk
            fn()  # warm-up: allocator, pads, caches
            for _ in range(trials):
                if barrier is not None:
                    barrier.wait()
                t0 = time.perf_counter()
                fn()
                out.setdefault((name, chunk), []).append(time.perf_counter() - t0)
    finally:
        tree_ops._DESCEND_CHUNK = default_chunk
    return out


def _worker(args, queue, barrier) -> None:
    queue.put(_kernel_times(*args, barrier=barrier))


def profile(
    rows: int = 4096,
    bits: int = 4096,
    order: int = 10,
    depth: int = 4,
    workers: int = 1,
    trials: int = 3,
    chunks: tuple[int, ...] = (),
) -> dict:
    """Build the batch and tree, time the kernels; returns the report dict."""
    cfg = replace(DEFAULT, sig_bits=bits, tree_order=order, tree_depth=depth)
    images = generate_batch(np.arange(rows))
    sigs = longs_to_u64(compute_signature_batch(images, cfg)["sig"])
    tree = tsvq_init(sigs[: cfg.tsvq_sample], order, depth, cfg.tsvq_maxiters, cfg.seed)
    chunks = tuple(chunks) or (tree_ops._DESCEND_CHUNK,)
    args = (images, sigs, tree, cfg, chunks, trials)
    if workers == 1:
        per_worker = [_kernel_times(*args)]
    else:
        ctx = mp.get_context("spawn")
        queue, barrier = ctx.Queue(), ctx.Barrier(workers)
        procs = [
            ctx.Process(target=_worker, args=(args, queue, barrier)) for _ in range(workers)
        ]
        for p in procs:
            p.start()
        per_worker = [queue.get() for _ in procs]
        for p in procs:
            p.join()
    kernels = []
    for key in per_worker[0]:
        # a trial lasts as long as its slowest worker; keep the best trial
        s = min(max(times) for times in zip(*(w[key] for w in per_worker)))
        kernels.append(
            {
                "kernel": key[0],
                "chunk": key[1],
                "s": round(s, 4),
                "rows_per_s": round(workers * rows / s),
            }
        )
    return {
        "rows": rows,
        "bits": bits,
        "leaves": tree.n_leaves,
        "depth": tree.depth,
        "workers": workers,
        "trials": trials,
        "kernels": kernels,
    }


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rows", type=int, default=4096)
    ap.add_argument("--bits", type=int, default=4096)
    ap.add_argument("--order", type=int, default=10)
    ap.add_argument("--depth", type=int, default=4)
    ap.add_argument("--workers", type=int, default=1)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--chunks", default="", help="comma-separated descent chunk sizes")
    a = ap.parse_args(argv)
    chunks = tuple(int(c) for c in a.chunks.split(",") if c)
    report = profile(a.rows, a.bits, a.order, a.depth, a.workers, a.trials, chunks)
    print(
        f"rows={report['rows']} bits={report['bits']} leaves={report['leaves']} "
        f"depth={report['depth']} workers={report['workers']} trials={report['trials']}"
    )
    for k in report["kernels"]:
        chunk = "" if k["chunk"] is None else f" chunk={k['chunk']}"
        print(f"{k['kernel']:<13}{chunk:<12} {k['s']:>9.4f} s  {k['rows_per_s']:>12,} rows/s")
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    main()
