"""Microbench of the ``functions.hashing`` batch kernels, called directly
(no Spark): ms per million characters and the tracemalloc peak in bytes
per character, on a fixed generated batch of ordinary documents plus a few
100k-character ones."""

from __future__ import annotations

import statistics
import time
import tracemalloc

import numpy as np

import gen

K = 3  # the shingle / k-gram width the dedup operators default to


def batch() -> list[str]:
    rng = np.random.default_rng(20240)
    vocab = gen.vocabulary()
    texts = [" ".join(vocab[i] for i in rng.integers(0, len(vocab), int(n)))
             for n in rng.integers(8, 90, 2000)]
    for _ in range(4):
        big, n = [], 0
        while n < 100_000:
            big.append(vocab[int(rng.integers(0, len(vocab)))])
            n += len(big[-1]) + 1
        texts.append(" ".join(big)[:100_000])
    return texts


def run(reps: int = 3) -> dict[str, float]:
    from simsearch_spark.functions import hashing

    texts = batch()
    n_chars = sum(len(t) for t in texts)
    kernels = {
        "kgram": lambda: hashing.batch_kgram_hashes(texts, K),
        "fold": lambda: hashing.batch_fold_hashes(texts),
    }
    out = {}
    for name, fn in kernels.items():
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[f"functions.hashing.{name}_ms_per_mchar"] = statistics.median(times) * 1e3 / (n_chars / 1e6)
        tracemalloc.start()
        try:
            fn()
            peak = tracemalloc.get_traced_memory()[1]
        finally:
            tracemalloc.stop()
        out[f"functions.hashing.{name}_peak_bytes_per_char"] = peak / n_chars
    return out
