"""Spark-free scaling probe of the build's dominant kernel.

Runs the EXACT invert hot path (flat_tokenize over the same deterministic
synthetic corpus content + per-doc tf aggregation, the body of
build._invert_batches) in N raw multiprocessing workers with zero Spark,
zero Arrow, zero shuffle. If aggregate docs/sec stops scaling with N the
same way the full Spark build does, the decay is the machine's (shared
DRAM bandwidth on one VM), not the engine's orchestration — on a real
N-vs-4N-executor cluster each node brings its own memory channels.

The corpus is generated once in the parent and inherited by fork (COW),
so worker startup is excluded and identical across levels. Per-core work
is held constant (docs_per_core per level), each level is measured REPS
times, and the best rep is kept (same best-of-N policy as the build
protocol on this VM's noisy vCPUs).

Usage: python scripts/kernel_scaling.py [docs_per_core] [levels] [reps]
  defaults: 3000 docs/core, levels "2,4,8,16,32", 3 reps
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

_DOCS: list = []  # generated in the parent; inherited by fork


def _work(args) -> int:
    """One work unit: invert docs [lo, hi) (tokenize + per-doc tf)."""
    lo, hi = args
    import numpy as np
    import pandas as pd

    from lucene_spark.analysis import flat_tokenize

    content = pd.Series(_DOCS[lo:hi])
    flat, counts = flat_tokenize(content, chain="code")
    row_idx = np.repeat(np.arange(len(content)), counts)
    key = pd.DataFrame({"d": row_idx, "t": flat})
    tf = key.groupby(["d", "t"], sort=False).size()
    return int(tf.sum())


def level(procs: int, n_docs: int, reps: int, chunk: int = 500) -> float:
    units = [(i, min(i + chunk, n_docs)) for i in range(0, n_docs, chunk)]
    best = 0.0
    with mp.Pool(procs) as p:
        p.map(_work, units[: procs * 2])  # warm (imports + JIT paths)
        for _ in range(reps):
            t0 = time.time()
            p.map(_work, units)
            best = max(best, n_docs / (time.time() - t0))
    return best


def main() -> None:
    global _DOCS
    docs_per_core = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    levels = [
        int(x)
        for x in (sys.argv[2] if len(sys.argv) > 2 else "2,4,8,16,32").split(",")
    ]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from lucene_spark.corpus import _gen_row

    n_max = docs_per_core * max(levels)
    _DOCS = [_gen_row(i, 42)[4] for i in range(n_max)]
    print(json.dumps({"corpus_docs": n_max, "docs_per_core": docs_per_core,
                      "reps": reps}), flush=True)

    out = {}
    for procs in levels:
        thru = level(procs, docs_per_core * procs, reps)
        out[str(procs)] = round(thru, 1)
        print(json.dumps({"procs": procs, "docs_per_sec": out[str(procs)],
                          "per_core": round(thru / procs, 1)}), flush=True)
    pairs = {}
    for lo in levels:
        for hi in levels:
            if hi > lo and hi % lo == 0:
                pairs[f"{lo}->{hi}"] = round(
                    out[str(hi)] / out[str(lo)] / (hi / lo), 3)
    print(json.dumps({"kernel_scaling_efficiency": pairs}, indent=2))


if __name__ == "__main__":
    main()
