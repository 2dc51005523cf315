"""chunk_row_starts: vectorized chunk-cut placement (searchsorted) must
reproduce the original per-row greedy loop of value-budget cuts exactly."""

import numpy as np

from mapbox_vector_tile_spark.engine.encode import chunk_row_starts


def _reference_loop(lengths, max_chunk_values):
    row_starts = [0]
    acc = 0
    for i, ln in enumerate(lengths):
        acc += int(ln)
        if acc >= max_chunk_values and i + 1 < len(lengths):
            row_starts.append(i + 1)
            acc = 0
    row_starts.append(len(lengths))
    return row_starts


def test_empty():
    assert chunk_row_starts(np.array([], dtype=np.int64), 100) == [0, 0]


def test_single_row_never_cut():
    assert chunk_row_starts(np.array([10_000], dtype=np.int64), 100) == [0, 1]


def test_matches_reference_loop_randomized():
    rng = np.random.default_rng(7)
    for trial in range(200):
        n = int(rng.integers(0, 50))
        lengths = rng.integers(0, 40, size=n).astype(np.int64)
        max_vals = int(rng.integers(1, 120))
        got = chunk_row_starts(lengths, max_vals)
        want = _reference_loop(lengths, max_vals)
        assert got == want, (trial, lengths.tolist(), max_vals)
