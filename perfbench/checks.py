"""Output checks that do not rely on the engine.

dissolve_smooth is checked against the generated integer grids (see
gridgen.py): thresholded cell counts and 4-connected components found by a
plain BFS here. query_mix is checked against each query's DuckDB oracle SQL
with the comparison rules of tools/check.py, whose `canon` it uses: columns
sorted by name, cells rendered with their Python type, rows sorted, and
types compared as DuckDB describes them.

Each check returns a list of failure messages; empty means correct.
"""
import glob
import os
import sys
from collections import deque

import numpy as np

from gridgen import CELLSIZE, NODATA

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

THRESHOLDS = {"25": 2500, "50": 5000, "75": 7500}


def components(mask):
    """Sizes of the 4-connected components of a boolean grid (plain BFS)."""
    n_rows, n_cols = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    sizes = []
    for r0, c0 in zip(*np.nonzero(mask)):
        if seen[r0, c0]:
            continue
        seen[r0, c0] = True
        q = deque([(r0, c0)])
        size = 0
        while q:
            r, c = q.popleft()
            size += 1
            for rr, cc in ((r - 1, c), (r + 1, c), (r, c - 1), (r, c + 1)):
                if 0 <= rr < n_rows and 0 <= cc < n_cols and mask[rr, cc] and not seen[rr, cc]:
                    seen[rr, cc] = True
                    q.append((rr, cc))
        sizes.append(size)
    return sizes


def expected_groups(grids):
    """{(species, threshold): component sizes} for every non-empty group."""
    out = {}
    for species, k in grids.items():
        for t, kt in THRESHOLDS.items():
            sizes = components((k != NODATA) & (k >= kt))
            if sizes:
                out[(species, t)] = sizes
    return out


def check_dissolve(grids, rows):
    """One row per (species, threshold): area = cells * cellsize^2 exactly,
    polygon count = component count, JTS-valid geometry."""
    cell_area = CELLSIZE * CELLSIZE
    want = expected_groups(grids)
    got = {(r["species"], r["threshold"]): r for r in rows}
    errs = []
    if len(rows) != len(got) or set(got) != set(want):
        errs.append(f"groups: got {sorted(got)} ({len(rows)} rows), want {sorted(want)}")
    for key in sorted(set(got) & set(want)):
        r, sizes = got[key], want[key]
        if r["area"] != sum(sizes) * cell_area:
            errs.append(f"{key}: area {r['area']} != {sum(sizes)} cells * {cell_area}")
        if r["ngeoms"] != len(sizes):
            errs.append(f"{key}: {r['ngeoms']} polygons, {len(sizes)} components")
        if not r["valid"]:
            errs.append(f"{key}: geometry is not valid")
    return errs


def check_queries(sf_dir, outputs):
    """Compare each query's written output with its oracle SQL in DuckDB."""
    import duckdb
    import pandas as pd

    sys.path.insert(0, TOOLS)
    from check import canon  # tools/check.py

    con = duckdb.connect()
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        # a Spark-written table is a directory of part files
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{src}'")
    errs, rows = [], {}
    for name, o in sorted(outputs.items()):
        sql, parts = o["oracle"], sorted(glob.glob(os.path.join(o["dir"], "*.parquet")))
        if not sql or not parts:
            errs.append(f"{name}: no oracle SQL or no output")
            continue
        s_df = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
        d_df = con.execute(sql).df()
        rows[name] = len(s_df)
        if sorted(s_df.columns) != sorted(d_df.columns):
            errs.append(f"{name}: columns {sorted(s_df.columns)} != {sorted(d_df.columns)}")
            continue
        s_t = {r[0]: r[1] for r in con.execute(
            f"DESCRIBE (SELECT * FROM '{o['dir']}/*.parquet')").fetchall()}
        d_t = {r[0]: r[1] for r in con.execute(f"DESCRIBE ({sql})").fetchall()}
        if s_t != d_t:
            errs.append(f"{name}: types {s_t} != {d_t}")
            continue
        if len(s_df) == 0:
            errs.append(f"{name}: empty output")
        elif canon(s_df) != canon(d_df):
            errs.append(f"{name}: rows differ from the oracle ({len(s_df)} vs {len(d_df)})")
    return errs, rows
