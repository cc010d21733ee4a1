"""Seeded synthetic single-cell embeddings with planted structure.

The FIXTURES.md ``cells`` design: two cell types and three datasets,
where dataset 0 holds only type 0, dataset 1 only type 1 and dataset 2
(``half``, ~34 % of cells) both.  Every cell is a point in a ``D``-dim
PC space made of three parts: its cell type's centre, its dataset's
shift, and Gaussian noise.  The planted labels are the ground truth the
quality metrics score against.

The planted geometry (type centres, dataset shifts) is part of the
workload's definition and drawn from ``POPULATION``; the workload seed
only draws cells from it.  A fit's round count depends on the geometry,
so a geometry that moved with the seed would change the work per fit
from seed to seed.

Output depends only on ``(seed, cell_id)``: cells are drawn in fixed
chunks of ``CHUNK`` ids, each from its own ``(seed, chunk)`` stream, so a
Spark partition that generates ids ``[a, b)`` produces exactly the rows
the driver gets from :func:`draw` for the same ids.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

CHUNK = 4096
_GEOMETRY, _CELLS = 0, 1  # stream tags

N_TYPES = 2
BATCH_COL = "dataset"
BATCH_LEVELS = ("jurkat", "t293", "half")
MIXED_SHARE = 0.34  # share of cells in the dataset that holds both types
D = 20
TYPE_SCALE, BATCH_SCALE, NOISE = 2.0, 1.5, 0.8
POPULATION = 1

SCHEMA = f"cell_id long, features array<float>, {BATCH_COL} string, cell_type string"


@dataclass(frozen=True)
class Cells:
    """Generated cells in id order; ``batch``/``cell_type`` are integer
    codes into ``BATCH_LEVELS`` and ``range(N_TYPES)``."""

    cell_id: np.ndarray
    z: np.ndarray  # (n, D) float32
    batch: np.ndarray
    cell_type: np.ndarray


def _geometry():
    rng = np.random.default_rng([POPULATION, _GEOMETRY])
    centers = rng.normal(0.0, TYPE_SCALE, size=(N_TYPES, D))
    batch_shift = rng.normal(0.0, BATCH_SCALE, size=(len(BATCH_LEVELS), D))
    sigma_scale = np.linspace(1.0, 0.4, D)  # PC variance falls with rank
    return centers, batch_shift, sigma_scale


def _chunk(seed: int, chunk: int, geometry) -> Cells:
    centers, batch_shift, sigma_scale = geometry
    rng = np.random.default_rng([seed, _CELLS, chunk])
    ctype = rng.integers(0, N_TYPES, size=CHUNK)
    batch = np.where(rng.random(CHUNK) < MIXED_SHARE, 2, ctype)
    noise = rng.normal(0.0, NOISE, size=(CHUNK, D))
    z = (centers[ctype] + batch_shift[batch] + noise) * sigma_scale
    ids = np.arange(chunk * CHUNK, (chunk + 1) * CHUNK, dtype=np.int64)
    return Cells(ids, z.astype(np.float32), batch, ctype)


def draw(seed: int, ids: np.ndarray) -> Cells:
    """The cells with the given ids, in the order given."""
    ids = np.asarray(ids, dtype=np.int64)
    geometry = _geometry()
    z = np.empty((len(ids), D), dtype=np.float32)
    batch, ctype = np.empty(len(ids), dtype=np.int64), np.empty(len(ids), dtype=np.int64)
    chunk_of = ids // CHUNK
    for c in np.unique(chunk_of):
        sel = chunk_of == c
        full = _chunk(seed, int(c), geometry)
        pos = ids[sel] - c * CHUNK
        z[sel], batch[sel], ctype[sel] = full.z[pos], full.batch[pos], full.cell_type[pos]
    return Cells(ids, z, batch, ctype)


def _frame(cells: Cells) -> pd.DataFrame:
    out = pd.DataFrame({"cell_id": cells.cell_id, "features": list(cells.z)})
    out[BATCH_COL] = np.asarray(BATCH_LEVELS, dtype=object)[cells.batch]
    out["cell_type"] = [f"t{t}" for t in cells.cell_type]
    return out


def spark_cells(spark, seed: int, n: int, partitions: int):
    """Cells ``0 .. n-1`` as a Spark DataFrame, generated on the workers
    from ``(seed, cell_id)``."""

    def gen(it):
        for pdf in it:
            if len(pdf):
                yield _frame(draw(seed, pdf["id"].to_numpy()))

    return spark.range(n, numPartitions=partitions).mapInPandas(gen, SCHEMA)
