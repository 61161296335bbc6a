"""The engine's one driver-memory budget.

Every operator family that has both a driver numpy kernel and a
distributed Spark route (the det-ANN Lloyd fit and ADC scan, PQ query
LUTs, graph-ANN matrices, union-find connected components and Borůvka
contraction, CSR triangle and common-neighbor counting, exact kNN,
the cosine residual and the Hamming top-m scans) asks :func:`fits_driver` with the bytes of the
structure it is about to hold in the driver process. Under the budget
the driver kernel runs; past it the distributed route runs. Both
routes return the same rows (pinned by the route-parity tests), so the
budget decides where the work runs, never what it returns.

The budget is a constant, not a function of ``spark.driver.memory``:
the kernels hold their arrays in the Python driver process, not in the
JVM heap. :func:`fits_driver` reads it on every call, so setting
``DRIVER_BUDGET_BYTES`` in-process reaches every gate; ``0`` forces
every distributed route, even for an empty structure (a positive
budget still takes a structure of exactly its size on the driver).
"""

from __future__ import annotations

DRIVER_BUDGET_BYTES = 512 << 20


def fits_driver(nbytes: int | None) -> bool:
    """True when ``nbytes`` fit the driver budget. ``None`` (size
    unknown) is False: an unknown size is treated as big. A zero budget
    fits nothing."""
    return (nbytes is not None and DRIVER_BUDGET_BYTES > 0
            and nbytes <= DRIVER_BUDGET_BYTES)
