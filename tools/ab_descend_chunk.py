"""A/B the descent chunk size UNDER FULL PARALLEL CONTENTION (no Spark).

Forks W worker processes that each run `accumulate_leaves` over N/W synthetic
4096-bit signatures at the flagship tree geometry, and reports aggregate
sigs/sec per candidate descent chunk (`tree._DESCEND_CHUNK`). The single-core optimum (4096 rows
= a 64 MB float32 chunk, fits this part's L3) is not obviously the parallel
optimum: 32 workers share that L3, so each worker's cache share is ~L3/32 and
a smaller chunk may keep the per-level re-reads cache-resident instead of
streaming through shared DRAM. This isolates the kernel from Spark overheads
so the sweep is fast and low-noise; the winner should then be confirmed with
`bench.py`'s EM section.

Usage: python tools/ab_descend_chunk.py [workers=32] [rows_total=2000000] [trials=2]
"""

from __future__ import annotations

import multiprocessing as mp
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

from lmw_tree_spark.operators import tree as T  # noqa: E402
from lmw_tree_spark.operators.tree import accumulate_leaves, tsvq_init  # noqa: E402


def _worker(tree, n_rows: int, seed: int, chunk: int, q) -> None:
    T._DESCEND_CHUNK = chunk
    rng = np.random.default_rng(seed)
    sigs = rng.integers(0, np.iinfo(np.uint64).max, size=(n_rows, 64), dtype=np.uint64)
    t0 = time.perf_counter()
    accumulate_leaves(tree, sigs)
    q.put(time.perf_counter() - t0)


def main() -> None:
    workers = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    rows_total = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    trials = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    per = rows_total // workers

    rng = np.random.default_rng(0)
    sample = rng.integers(0, 2**63, (2000, 64), dtype=np.uint64)
    tree = tsvq_init(sample, 10, 4, 0, 42)  # bench geometry: ~2k leaves
    print(f"workers={workers} rows={rows_total} leaves={tree.n_leaves} trials={trials}")

    chunks = [int(c) for c in os.environ.get("AB_CHUNKS", "1024,2048,4096").split(",")]
    ctx = mp.get_context("fork")
    results: dict[int, float] = {}
    for trial in range(trials):
        for chunk in chunks:
            q = ctx.Queue()
            procs = [
                ctx.Process(target=_worker, args=(tree, per, 1000 + i, chunk, q))
                for i in range(workers)
            ]
            t0 = time.perf_counter()
            for p in procs:
                p.start()
            times = [q.get() for _ in procs]
            for p in procs:
                p.join()
            wall = time.perf_counter() - t0
            thr = rows_total / wall
            results[chunk] = max(results.get(chunk, 0.0), thr)
            print(
                f"trial {trial} chunk {chunk:>5}: wall {wall:6.2f}s "
                f"(max worker {max(times):6.2f}s) => {thr:,.0f} sigs/s"
            )
    print("\nbest per chunk:")
    for c in chunks:
        print(f"  chunk {c:>5}: {results[c]:,.0f} sigs/s")


if __name__ == "__main__":
    main()
