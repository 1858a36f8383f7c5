"""Driver-only microbenchmark of the public ``functions.hashing``
kernels: no Spark, a fixed seeded doc sample, the same per-doc calls
the scan operators make. Gives the ``kernel.*`` per-layer metrics."""

from __future__ import annotations

import statistics
import time

import numpy as np


def _per_item_us(fn, items, min_s: float) -> float:
    """Median over repeats of the mean µs per item of ``fn`` over
    ``items``; repeats until ``min_s`` seconds have been spent."""
    reps, spent = [], 0.0
    while spent < min_s or len(reps) < 3:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        dt = time.perf_counter() - t0
        spent += dt
        reps.append(dt * 1e6 / len(items))
    return statistics.median(reps)


def kernel_metrics(
    docs: list[str], pairs: list[tuple[str, str]], cfg, min_s: float = 0.3
) -> dict[str, float]:
    """µs per doc of the minhash (OPH + banding), simhash and winnowing
    scan kernels, and µs per pair of the exact-Jaccard verify kernel,
    at ``cfg``'s shingle width and fingerprint settings."""
    from deduplidog_spark.functions import hashing as H

    k = cfg.shingle_k

    def minhash(batch):
        # per doc signatures, then one banding call per batch, as the
        # fused scan does it
        sigs = np.stack(
            [H.oph_signature(H.shingle_hashes_u64(t, k), cfg.num_perm) for t in batch]
        )
        H.band_hashes_from_sigs(sigs, cfg.lsh_bands, cfg.lsh_rows)

    return {
        "kernel.minhash_us_per_doc": _per_item_us(minhash, [docs], min_s) / len(docs),
        "kernel.simhash_us_per_doc": _per_item_us(
            lambda t: H.simhash64(H.shingle_hashes_u64(t, k)), docs, min_s
        ),
        "kernel.winnow_us_per_doc": _per_item_us(
            lambda t: H.winnow_fingerprints(
                t, cfg.fingerprint_k, cfg.fingerprint_window
            ),
            docs,
            min_s,
        ),
        "kernel.jaccard_us_per_pair": _per_item_us(
            lambda p: H.jaccard_of_texts(p[0], p[1], k), pairs, min_s
        ),
    }


def sample(docs: list[tuple[str, str]], n: int, seed: int) -> list[str]:
    rng = np.random.RandomState(seed)
    idx = rng.choice(len(docs), min(n, len(docs)), replace=False)
    return [docs[i][1] for i in sorted(idx)]
