"""Seeded Esri ASCII grid generator for the dissolve_smooth workload.

Cell values are written with four decimals, and kept in memory as integers
k = value * 10000 (-1 for NODATA). The engine reads the text as doubles and
tests `prob >= t`; for t in {0.25, 0.5, 0.75} that equals `k >= t * 10000`
exactly, so the checks can work on the integers without the engine.

`cellsize` is a power of two and the origin a multiple of it, so every cell
corner, and every polygon area the engine computes, is exact in binary.

Usage: python3 perfbench/gridgen.py <seed> <dir>
"""
import os
import sys

import numpy as np

NODATA = -1
CELLSIZE = 0.0625
XLL, YLL = -100.0, 30.0

SPECIES = 4
SIDE = 120  # rows = cols

_TEXT = np.array([f"{i // 10000}.{i % 10000:04d}" for i in range(10001)]
                 + ["-9999"])  # index -1 (NODATA) maps to the NODATA value


def _nodata_border(rng, k):
    n = k.shape[0]
    top, bottom, left, right = rng.integers(2, 7, size=4)
    k[:top, :] = NODATA
    k[n - bottom:, :] = NODATA
    k[:, :left] = NODATA
    k[:, n - right:] = NODATA


# Share of the grid at or above each threshold. Ranks of the field are
# mapped onto these shares, so every seed gives each species × threshold
# group the same cell count and only the shapes change with the seed.
RANK_KNOTS = [0.0, 0.55, 0.72, 0.88, 1.0]
VALUE_KNOTS = [0.0, 0.25, 0.50, 0.75, 1.0]


def smooth(rng, n, species):
    """Gaussian bumps plus noise, ranked onto [0, 1], NODATA borders.

    Each species has its own bump layout; the seed jitters the bumps'
    centres, widths and heights and draws the noise. The dissolve's cost
    follows the length of the range boundaries, which a fresh random layout
    per seed would swing by half; jittering one layout keeps it steady.
    """
    layout = np.random.default_rng([7, species])
    y, x = np.mgrid[0:n, 0:n].astype(np.float64)
    f = np.zeros((n, n))
    for _ in range(10):
        cx, cy = layout.uniform(0.1 * n, 0.9 * n, size=2) + rng.normal(0, 0.02 * n, size=2)
        s = layout.uniform(0.06 * n, 0.14 * n) * rng.uniform(0.9, 1.1)
        h = layout.uniform(0.6, 1.0) * rng.uniform(0.9, 1.1)
        f += h * np.exp(-((x - cx) ** 2 + (y - cy) ** 2) / (2 * s * s))
    f += rng.normal(0.0, 0.015, size=(n, n))
    rank = np.empty(n * n)
    rank[np.argsort(f, axis=None, kind="stable")] = np.arange(n * n) / (n * n - 1)
    v = np.interp(rank, RANK_KNOTS, VALUE_KNOTS).reshape(n, n)
    k = np.rint(v * 10000).astype(np.int32)
    _nodata_border(rng, k)
    return k


def generate(seed, out_dir, n=SIDE):
    """Write the grids to out_dir; return {species: k-array}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    grids = {}
    for i in range(SPECIES):
        species = f"species{i:02d}"
        k = smooth(rng, n, i)
        header = (f"ncols {n}\nnrows {n}\nxllcorner {XLL}\nyllcorner {YLL}\n"
                  f"cellsize {CELLSIZE}\nNODATA_value -9999\n")
        body = "\n".join(" ".join(row) for row in _TEXT[k])
        with open(os.path.join(out_dir, f"{species}.asc"), "w") as f:
            f.write(header + body + "\n")
        grids[species] = k
    return grids


if __name__ == "__main__":
    g = generate(int(sys.argv[1]), sys.argv[2])
    for s, k in g.items():
        print(s, k.shape, int((k >= 2500).sum()), "cells >= 0.25")
