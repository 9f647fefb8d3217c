"""In-process kernel microbenchmark and the fixed-work host control.

Both run on the driver, outside Spark: the microbenchmark times the tile
kernel's three parts (Jaro-Winkler cross, key encoder, cosine GEMM) on a
fixed tile of the workload's own keys; the control times a constant
computation whose only variable is the host's effective speed.
"""

from __future__ import annotations

import random
import time

import numpy as np

TILE = 96          # keys per tile side: 9,216 pairs
EMBED_DIM = 128
MIN_TIMED_S = 0.25


def _rate(fn, work: int) -> float:
    """Work units per second of ``fn``, repeated until ``MIN_TIMED_S``."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= MIN_TIMED_S:
            return work * reps / dt


def kernel_metrics(keys: list[str], seed: int) -> dict:
    from fuzzylink_spark.functions._jw_native import jw_cross_native
    from fuzzylink_spark.functions.strdist import jaro_winkler_cross
    from fuzzylink_spark.functions.vectors import embed_strings

    rng = random.Random(seed)
    distinct = sorted(set(keys))
    xs = [k.lower() for k in rng.sample(distinct, min(TILE, len(distinct)))]
    ys = [k.lower() for k in rng.sample(distinct, min(TILE, len(distinct)))]
    a = embed_strings(xs, dim=EMBED_DIM)
    b = embed_strings(ys, dim=EMBED_DIM)
    pairs = len(xs) * len(ys)
    return {
        "kernel.jw_pairs_per_s": _rate(lambda: jaro_winkler_cross(xs, ys), pairs),
        "kernel.encode_keys_per_s": _rate(
            lambda: embed_strings(xs + ys, dim=EMBED_DIM), len(xs) + len(ys)),
        "kernel.gemm_pairs_per_s": _rate(lambda: a @ b.T, pairs),
        "kernel.long_key_share": sum(len(k) > 64 for k in distinct) / len(distinct),
        "kernel.native_jw": 1.0 if jw_cross_native() is not None else 0.0,
    }


def host_control(iters: int = 14) -> float:
    """Seconds for ``iters`` rounds of bench.py's ``tile_control`` work
    (encode, f32 GEMM, batched JW, melt to columns) on a constant 400 x 600
    tile. The work is fixed, so between runs of one commit it tracks host
    speed; it calls the program's encoder and JW kernel, so a change to
    those moves it too."""
    import pandas as pd

    from fuzzylink_spark.functions.strdist import jaro_winkler_cross
    from fuzzylink_spark.functions.vectors import embed_strings

    rng = random.Random(0)
    words = ("key agg row scan slow fast table value part hash batch "
             "window spark order data column").split()
    xs = [" ".join(rng.choice(words) for _ in range(8))[:48] for _ in range(400)]
    ys = [" ".join(rng.choice(words) for _ in range(8))[:48] for _ in range(600)]
    na, nb = len(xs), len(ys)
    ids_a, ids_b = np.arange(na, dtype=np.int64), np.arange(nb, dtype=np.int64)
    t0 = time.perf_counter()
    for _ in range(iters):
        sims = (embed_strings(xs, dim=EMBED_DIM) @ embed_strings(ys, dim=EMBED_DIM).T)
        jw = jaro_winkler_cross([x.lower() for x in xs], [y.lower() for y in ys])
        pd.DataFrame({
            "block_id": np.zeros(na * nb, dtype=np.int32),
            "a_id": np.repeat(ids_a, nb),
            "b_id": np.tile(ids_b, na),
            "sim": sims.ravel().astype(np.float32),
            "jw": jw.ravel().astype(np.float32),
            "exact": np.repeat(ids_a, nb) == np.tile(ids_b, na),
        })
    return time.perf_counter() - t0
