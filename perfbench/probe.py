"""Host-speed probe: a fixed CPU- and memory-bound kernel, timed on every
core at once.

On a shared VM the speed of a core drifts with the load of its neighbours:
here one pass of either workload, and the CPU seconds it burns, swung by
up to 2x over tens of minutes while the code stayed the same. The probe is
sampled after set-up and right before each timed operation, and the
end-to-end times are scaled by its median to a host on which it takes
``REFERENCE_S``, so that a run measures the code rather than the
neighbours. The kernel mixes what the engine's hot paths do: a
pure-Python varint decode loop and zlib over a fixed buffer, then numpy
random gathers and a sort over arrays larger than the caches, because a
neighbour's load slows memory-bound work more than it slows the Python
loop (with the memory part, the scaled ``registry_queries`` figures
spread by 7% instead of 8% for ``pass_s`` and 5% instead of 6% for
``cpu_s_per_gb`` over eight seeds; ``transcode_planet`` 11% instead of
12% and 8% instead of 9% over six). It is short (~0.25 s) so that it can
be sampled often: the speed also jumps within seconds, and a median of
four samples of a longer kernel, one per pass, added more spread to the
scaled figures than it took away.
"""

from __future__ import annotations

import random
import statistics
import time
import zlib
from multiprocessing import get_context

# Probe seconds on the reference host: a round figure near what the
# 4-vCPU VM the bounds were tuned on takes with all cores busy.
REFERENCE_S = 0.25

_RNG = random.Random(20_240_101)
# varint-encoded ascending ids, the shape of a dense-node block
_VARINTS = bytes(b for _ in range(40_000)
                 for b in ((_RNG.randrange(1, 128) | 0x80), _RNG.randrange(0, 64)))
_BLOB = _RNG.randbytes(1 << 20).translate(bytes(i & 31 for i in range(256)))


_ARRAYS = None  # built in each worker on its first sample, outside the timing


def _arrays():
    import numpy as np

    global _ARRAYS
    if _ARRAYS is None:
        rng = np.random.default_rng(20_240_101)
        _ARRAYS = (rng.integers(0, 1 << 40, 1 << 22), rng.permutation(1 << 22),
                   rng.random(1 << 20))
    return _ARRAYS


def _kernel(_) -> float:
    import numpy as np

    values, order, floats = _arrays()
    t0 = time.perf_counter()
    for _rep in range(3):
        total, shift, value = 0, 0, 0
        for byte in _VARINTS:
            value |= (byte & 0x7F) << shift
            if byte & 0x80:
                shift += 7
            else:
                total += value
                shift, value = 0, 0
    for _rep in range(2):
        zlib.decompress(zlib.compress(_BLOB, 6))
    values[order].sum()
    np.sort(floats)
    return time.perf_counter() - t0


class HostProbe:
    """One forked worker per core, kept for the run. ``sample()`` times the
    kernel on all of them at once; ``speed()`` is ``REFERENCE_S`` over the
    median sample, so a time measured in the run, multiplied by it, reads
    as on the reference host."""

    def __init__(self, cpus: int) -> None:
        self.cpus = cpus
        self._pool = get_context("fork").Pool(cpus)
        self.samples: list[float] = []

    def sample(self) -> None:
        self.samples.append(statistics.mean(
            self._pool.map(_kernel, range(self.cpus), chunksize=1)))

    def speed(self) -> float:
        return REFERENCE_S / statistics.median(self.samples)

    def close(self) -> None:
        self._pool.close()
        self._pool.join()

    def __enter__(self) -> "HostProbe":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
