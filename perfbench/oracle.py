"""NumPy Lloyd's oracles the benchmark checks every answer against.

``native_lloyd`` mirrors ``kmeans.core.lloyd`` in native mode: float64
means, an empty cluster keeps its previous centroid, and lowest-index
argmin. ``compat_lloyd`` adds the reference quirks: per-dimension means
rounded half-up to 5 decimals in float32, at most ``max_loop - 1`` rounds,
and stop once every unsquared centroid movement is <= thresh.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np


@dataclass
class FitAnswer:
    centroids: np.ndarray  # (k, d) float64
    n_iter: int
    sizes: list[int]  # member counts from the last round's assignment
    label_sizes: list[int]  # member counts under the final centroids
    dbi: float


def squared_distances(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n, k) squared Euclidean distances summed term by term, the way
    the engine's expression path sums them."""
    d2 = np.empty((len(x), len(c)), dtype=np.float64)
    for j, cj in enumerate(c):
        diff = x - cj
        d2[:, j] = np.einsum("ij,ij->i", diff, diff)
    return d2


def nearest(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Lowest-index argmin, the reference's strict-< tie-break.

    Distances come from one matmul (|x|^2 - 2 x.c + |c|^2); rows whose
    best two centroids are within rounding error of a tie are settled
    again with the term-by-term distances."""
    d2 = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :]
    labels = np.argmin(d2, axis=1)
    if len(c) > 1:
        rows = np.arange(len(x))
        best = d2[rows, labels]
        d2[rows, labels] = np.inf
        second = d2.min(axis=1)
        near_tie = np.flatnonzero(second - best <= 1e-9 * (1.0 + np.abs(second)))
        if near_tie.size:
            labels[near_tie] = np.argmin(squared_distances(x[near_tie], c), axis=1)
    return labels


def _means(x: np.ndarray, labels: np.ndarray, c: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    k = len(c)
    sizes = np.bincount(labels, minlength=k)
    new = c.copy()
    nz = sizes > 0
    for dim in range(x.shape[1]):
        sums = np.bincount(labels, weights=x[:, dim], minlength=k)
        new[nz, dim] = sums[nz] / sizes[nz]
    return new, sizes


def davies_bouldin(x: np.ndarray, c: np.ndarray, labels: np.ndarray) -> float:
    """The reference DBI (Main.java:71-111) with an empty cluster giving
    NaN, as ``core.davies_bouldin_index`` does by default."""
    k = len(c)
    own = np.sqrt(((x - c[labels]) ** 2).sum(axis=1))
    counts = np.bincount(labels, minlength=k)
    sums = np.bincount(labels, weights=own, minlength=k)
    sigma = np.where(counts > 0, sums / np.maximum(counts, 1), np.nan)
    total = 0.0
    for i in range(k):
        best = 0.0
        for j in range(k):
            if j == i:
                continue
            dij = math.sqrt(float(((c[i] - c[j]) ** 2).sum()))
            r = (sigma[i] + sigma[j]) / dij if dij > 0 else math.inf
            if math.isnan(r):
                best = math.nan
                break
            best = max(best, r)
        total += best
    return total / k


def _finish(x: np.ndarray, c: np.ndarray, n_iter: int, sizes: np.ndarray) -> FitAnswer:
    labels = nearest(x, c)
    return FitAnswer(
        centroids=c,
        n_iter=n_iter,
        sizes=[int(v) for v in sizes],
        label_sizes=[int(v) for v in np.bincount(labels, minlength=len(c))],
        dbi=davies_bouldin(x, c, labels),
    )


def native_lloyd(x: np.ndarray, init: np.ndarray, rounds: int) -> FitAnswer:
    """``rounds`` native-mode Lloyd rounds with a threshold no movement
    can meet, so the round count is exact."""
    c = np.asarray(init, dtype=np.float64)
    sizes = np.zeros(len(c), dtype=np.int64)
    for _ in range(rounds):
        c, sizes = _means(x, nearest(x, c), c)
    return _finish(x, c, rounds, sizes)


def _round5_float32(m: np.ndarray) -> np.ndarray:
    """Half-up 5-decimal rounding stored as float32
    (PointWritable.java:106-112)."""
    return (np.floor(m * 100000.0 + 0.5) / 100000.0).astype(np.float32).astype(np.float64)


def compat_lloyd(
    x: np.ndarray, init: np.ndarray, thresh: float, max_loop: int
) -> FitAnswer:
    c = np.asarray(init, dtype=np.float64)
    sizes = np.zeros(len(c), dtype=np.int64)
    n_iter = 0
    while n_iter < max_loop - 1:
        n_iter += 1
        new, sizes = _means(x, nearest(x, c), c)
        nz = sizes > 0
        new[nz] = _round5_float32(new[nz])
        moved = np.sqrt(((new - c) ** 2).sum(axis=1))
        c = new
        if (moved <= thresh).all():
            break
    return _finish(x, c, n_iter, sizes)


def same_dbi(got: float, want: float, rtol: float = 1e-6) -> bool:
    """Equal to a relative tolerance; NaN (an empty cluster) matches NaN."""
    if math.isnan(want):
        return math.isnan(got)
    return math.isclose(got, want, rel_tol=rtol)


def check_fit(
    want: FitAnswer,
    centroids,
    n_iter: int,
    sizes: dict[int, int],
    label_sizes: list[int],
    dbi: float,
    atol: float = 1e-7,
    dbi_rtol: float = 1e-6,
) -> list[str]:
    """Problems found comparing one fit's outputs to the oracle; empty
    when the answer is right."""
    problems = []
    if n_iter != want.n_iter:
        problems.append(f"n_iter {n_iter} != {want.n_iter}")
    got = np.asarray(centroids, dtype=np.float64)
    if got.shape != want.centroids.shape or not np.allclose(got, want.centroids, rtol=0.0, atol=atol):
        err = np.abs(got - want.centroids).max() if got.shape == want.centroids.shape else got.shape
        problems.append(f"centroids differ (max abs err {err})")
    got_sizes = [int(sizes.get(i, 0)) for i in range(len(want.sizes))]
    if got_sizes != want.sizes:
        problems.append(f"cluster sizes {got_sizes} != {want.sizes}")
    if list(label_sizes) != want.label_sizes:
        problems.append(f"label sizes {list(label_sizes)} != {want.label_sizes}")
    if not same_dbi(dbi, want.dbi, dbi_rtol):
        problems.append(f"DBI {dbi} != {want.dbi}")
    return problems
