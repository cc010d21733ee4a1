"""Single-threaded NumPy reference fit, run as a child process.

Reads a pickled ``(Z, codes, params)`` from stdin, runs
``core.numpy_ref.run_harmony_numpy`` in batch mode and writes a pickled
``(Z_corr, seconds)`` to stdout.  The parent sets the BLAS thread
variables to 1 before this process imports NumPy.
"""

from __future__ import annotations

import os
import pickle
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harmony_spark.core.numpy_ref import run_harmony_numpy  # noqa: E402


def main() -> None:
    Z, codes, params = pickle.load(sys.stdin.buffer)
    t0 = time.perf_counter()
    h = run_harmony_numpy(Z, codes, params, mode="batch")
    seconds = time.perf_counter() - t0
    pickle.dump((h.Z_corr, seconds), sys.stdout.buffer)


if __name__ == "__main__":
    main()
