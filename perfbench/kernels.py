"""In-process kernel probes: no Spark session, no scheduler noise.

Each probe runs one kernel on a seeded driver-side sample (the workload's
own corpus shape, from ``corpus.generate_corpus_pandas``) and reports the
median rate over a few repetitions.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from biobloom_spark.config import DEFAULT_FPR, DEFAULT_SHINGLE_W
from biobloom_spark.corpus import generate_corpus_pandas
from biobloom_spark.functions.text import batch_frames
from biobloom_spark.sketch.bloom import BloomSketch
from biobloom_spark.sketch.mibf import MIBFSketch, mibf_size_slots

REPS = 5


def _median_s(fn) -> float:
    samples = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def kernel_probes(pages: int, seed: int, corpus_kw: dict) -> dict[str, float]:
    texts = generate_corpus_pandas(pages, seed=seed, **corpus_kw)["text"].to_numpy()
    w = DEFAULT_SHINGLE_W
    # a fresh memo per call: the worker memo is per task, so a probe that
    # reused it would measure dictionary hits instead of hashing
    shingle_s = _median_s(lambda: batch_frames(texts, w, {}))
    frames = batch_frames(texts, w, {})[0]

    def insert():
        BloomSketch.for_capacity(frames.size, DEFAULT_FPR, block_bits=64).update_batch(frames)

    bloom = BloomSketch.for_capacity(frames.size, DEFAULT_FPR, block_bits=64)
    bloom.update_batch(frames)
    if not bloom.contains_batch(frames).all():
        raise RuntimeError("Bloom kernel probe: false negative on inserted frames")

    num_hashes = 3
    m = mibf_size_slots(frames.size, num_hashes)
    rng = np.random.default_rng(seed)
    ids = rng.integers(1, 9, m, dtype=np.uint16)
    sk = MIBFSketch(m, num_hashes, w, [f"l{i}" for i in range(8)], ids)
    pos = sk.positions_for(frames)
    return {
        "text.shingle_pages_per_s": pages / shingle_s,
        "bloom.insert_per_s": frames.size / _median_s(insert),
        "bloom.probe_per_s": frames.size / _median_s(lambda: bloom.contains_batch(frames)),
        "mibf.gather_per_s": pos.size / _median_s(lambda: sk.gather(sk.positions_for(frames))),
    }
