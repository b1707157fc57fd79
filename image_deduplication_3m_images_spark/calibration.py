"""Raw-CPU calibration constant for cross-window bench comparability.

This sandbox is a co-tenant virtualized box whose effective speed drifts
1.5-2.5x between measurement windows (measured across rounds: identical
config + input walls of 478 s vs 657-1094 s).  Every bench/scaling JSON
line therefore carries ``calibration``: the wall seconds of a FIXED,
deterministic, single-thread numpy kernel measured in the same process,
immediately before the timed work.  To compare walls across windows,
divide each wall by its run's calibration (a window where the kernel takes
2x longer is a window where everything takes ~2x longer).

The kernel is vector arithmetic over a 16 MiB array with no disk and no
Python-level per-element work.  Honest scope note: ``v * a + b`` allocates
two array temporaries per iteration, so the constant tracks CPU steal AND
a slice of memory-bandwidth/allocator weather — on this box those move
together under co-tenancy, which is what we normalize for.  The kernel is
deliberately FROZEN as-is: every recorded constant in
``BENCH/scaling_runs.jsonl`` and the per-round bench JSONs was measured
with this exact loop, and changing it (e.g. to in-place ops) would break
cross-round comparability of the one number that exists to provide it.
"""

from __future__ import annotations

import time

import numpy as np

_N = 1 << 21  # 2M uint64 = 16 MiB: larger than L2, stable vs cache quirks
_ITERS = 60


def _one_pass() -> float:
    rng = np.random.RandomState(7)
    v = rng.randint(0, 2**62, size=_N).astype(np.uint64)
    a = np.uint64(6364136223846793005)
    b = np.uint64(1442695040888963407)
    sh = np.uint64(33)
    # perf_counter: monotonic — an NTP clock step mid-pass must not corrupt
    # the constant (time.time() is not step-safe)
    t0 = time.perf_counter()
    for _ in range(_ITERS):
        v = v * a + b
        v ^= v >> sh
    _ = int(v[0])  # force materialization
    return time.perf_counter() - t0


def calibration_const(passes: int = 3) -> float:
    """Best-of-``passes`` wall seconds of the fixed mix kernel: min measures
    the window's CPU capability the same way best-of-N walls do."""
    return round(min(_one_pass() for _ in range(passes)), 3)
