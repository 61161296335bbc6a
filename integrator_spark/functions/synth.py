"""Deterministic synthetic data kernels for the at-scale harnesses.

Scale measurements (the 1.1M-row kNN and ANN runs, measured in round 5
(SCALING.md)) need multi-million-row embedding tables that are
bit-reproducible across runs and across executors WITHOUT shipping RNG
state: these kernels derive every value from integer counters through
the splitmix64 finalizer, so the same (id, column) always yields the
same float. The
module lives inside the package (not the scripts) because the closures
that use it execute on executor Python workers, which import the
package via the addPyFile ride-along (session.py) — a script-local
helper would be unimportable there.
"""

from __future__ import annotations

import numpy as np


def splitmix_vectors(ids: np.ndarray, dim: int) -> np.ndarray:
    """Deterministic pseudo-random [-1, 1) float32 matrix from integer
    ids — splitmix64 finalizer over (id, column) counters, fully
    vectorized, no RNG object."""
    j = (np.arange(dim, dtype=np.uint64) + 1) * np.uint64(0xBF58476D1CE4E5B9)
    x = ids.astype(np.uint64)[:, None] * np.uint64(0x9E3779B97F4A7C15) + j
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return ((x >> np.uint64(11)).astype(np.float64)
            / float(1 << 53) * 2.0 - 1.0).astype(np.float32)
