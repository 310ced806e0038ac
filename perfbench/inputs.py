"""Seeded input generation. The program under test only ever sees the
files written here.

Column domains follow the reference dataset CustomerData.txt (FIXTURES.md
F1): binary sex and marital status, continuous min-max-normalised age and
income, four education levels, three occupation and settlement levels.
Wider inputs repeat the seven domains column by column.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# (kind, levels): "cont" draws uniformly from [0, 1]; "levels" draws one
# of the listed normalised values
CUSTOMER_DOMAINS = (
    ("levels", (0.0, 1.0)),  # sex
    ("levels", (0.0, 1.0)),  # marital status
    ("cont", None),  # age
    ("levels", (0.0, 1.0 / 3.0, 2.0 / 3.0, 1.0)),  # education
    ("cont", None),  # income
    ("levels", (0.0, 0.5, 1.0)),  # occupation
    ("levels", (0.0, 0.5, 1.0)),  # settlement size
)


def customer_points(rng: np.random.Generator, n: int, d: int) -> np.ndarray:
    """n x d float32 points, column j drawn from domain j mod 7."""
    x = np.empty((n, d), dtype=np.float32)
    for j in range(d):
        kind, levels = CUSTOMER_DOMAINS[j % len(CUSTOMER_DOMAINS)]
        if kind == "cont":
            x[:, j] = rng.random(n, dtype=np.float32)
        else:
            x[:, j] = np.asarray(levels, dtype=np.float32)[
                rng.integers(0, len(levels), n)
            ]
    return x


def distinct_row_indices(rng: np.random.Generator, x: np.ndarray, k: int) -> list[int]:
    """k row indices whose rows are pairwise distinct — initial
    centroids drawn from the input, as the reference's sampler does."""
    picked: list[int] = []
    seen: set[bytes] = set()
    for i in rng.permutation(len(x)):
        key = x[i].tobytes()
        if key not in seen:
            seen.add(key)
            picked.append(int(i))
            if len(picked) == k:
                return picked
    raise ValueError(f"input has fewer than {k} distinct rows")


def _fresh_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def write_parquet_table(x: np.ndarray, path: str, files: int) -> None:
    """Write ``features: array<float>`` as ``files`` parquet part files
    under the directory ``path``."""
    _fresh_dir(path)
    n, d = x.shape
    per = -(-n // files)
    for f in range(files):
        part = np.ascontiguousarray(x[f * per : (f + 1) * per])
        offsets = pa.array(np.arange(0, part.size + 1, d, dtype=np.int32))
        values = pa.array(part.ravel(), type=pa.float32())
        table = pa.table({"features": pa.ListArray.from_arrays(offsets, values)})
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def write_reference_csv(x: np.ndarray, path: str) -> None:
    """Header-less comma-separated floats, one point per line — the
    reference input format. Each value is written as the shortest decimal
    of its float32 widened to double, so a float32 parse recovers the
    generated value exactly."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="ascii") as f:
        for row in x:
            f.write(",".join(repr(float(v)) for v in row))
            f.write("\n")
