"""Expected results, computed without the engine's kernels.

- point_join: NumPy half-plane tests of each page against each convex part
  of each region (inputs.points_in_region);
- geom_join: the closed-form lattice answers written by inputs.make_lattice;
- tile_knn: DuckDB GROUP BY for the tile pyramid, a NumPy convex clip for
  the region tile weights, and brute-force haversine for kNN.

Each expected result is reduced by ``checksum`` (Spark built-ins only:
count, bit_xor of xxhash64 over the exact columns, sum of the float
columns) to compare with the same reduction of the engine's output.
"""

from __future__ import annotations

import math

import numpy as np

from inputs import points_in_region, region_bbox

GRID_RES = 9            # the engine's storage grid (cells of 0.70° × 0.35°)
PYRAMID = (8, 7, 6)     # tile_rollup levels below GRID_RES
FLOAT_RTOL = 1e-9


def cell_of(lat: np.ndarray, lon: np.ndarray, res: int) -> np.ndarray:
    """Row-major grid cell with 2^res cells per axis, -1 for NaN."""
    n = 1 << res
    ix = np.minimum(n - 1, np.maximum(0, np.floor((lon + 180.0) / 360.0 * n)))
    iy = np.minimum(n - 1, np.maximum(0, np.floor((lat + 90.0) / 180.0 * n)))
    cell = (iy * n + ix)
    bad = np.isnan(lat) | np.isnan(lon)
    return np.where(bad, -1, cell).astype(np.int64)


def point_pairs(lat, lon, ok, regions) -> np.ndarray:
    """(page index, region id) for every geotagged page inside or on a
    region; the inputs keep pages GUARD away from every edge."""
    out = []
    idx = np.flatnonzero(ok)
    x, y = lon[idx], lat[idx]
    for reg in regions:
        bb = region_bbox(reg)
        if bb is None:
            continue
        sel = np.flatnonzero((x >= bb[0]) & (x <= bb[2])
                             & (y >= bb[1]) & (y <= bb[3]))
        if not len(sel):
            continue
        inside, _ = points_in_region(reg, x[sel], y[sel])
        hit = idx[sel[inside]]
        out.append(np.column_stack([hit, np.full(len(hit), reg["id"])]))
    if not out:
        return np.zeros((0, 2), dtype=np.int64)
    return np.vstack(out).astype(np.int64)


# ---------------------------------------------------------------------------
# Tiles
# ---------------------------------------------------------------------------

def tile_levels(cells: np.ndarray) -> dict:
    """{res: DataFrame(cell_id, n_tiles, n_pages)} for the base grid and
    every pyramid level, by DuckDB GROUP BY over the page cells."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("pages", pd.DataFrame({"c": cells[cells >= 0]}))
        n = 1 << GRID_RES
        out = {GRID_RES: con.execute(
            "SELECT c AS cell_id, 1::BIGINT AS n_tiles, count(*) AS n_pages "
            "FROM pages GROUP BY c ORDER BY c").df()}
        for pres in PYRAMID:
            d = GRID_RES - pres
            out[pres] = con.execute(
                f"SELECT (((c // {n}) >> {d}) << {pres}) + ((c % {n}) >> {d})"
                " AS cell_id, count(*) AS n_tiles, sum(n) AS n_pages FROM "
                "(SELECT c, count(*) AS n FROM pages GROUP BY c) "
                "GROUP BY 1 ORDER BY 1").df()
        return out
    finally:
        con.close()


def _clip_convex(poly: np.ndarray, x0, y0, x1, y1) -> float:
    """Area of a convex ring (open, counter-clockwise or clockwise) clipped
    to a rectangle, by Sutherland–Hodgman."""
    pts = [tuple(p) for p in poly]
    for axis, bound, keep_ge in ((0, x0, True), (0, x1, False),
                                 (1, y0, True), (1, y1, False)):
        if not pts:
            return 0.0
        out = []
        for i in range(len(pts)):
            p, q = pts[i - 1], pts[i]
            pin = (p[axis] >= bound) if keep_ge else (p[axis] <= bound)
            qin = (q[axis] >= bound) if keep_ge else (q[axis] <= bound)
            if qin:
                if not pin:
                    out.append(_cut(p, q, axis, bound))
                out.append(q)
            elif pin:
                out.append(_cut(p, q, axis, bound))
        pts = out
    if len(pts) < 3:
        return 0.0
    a = 0.0
    for i in range(len(pts)):
        (xa, ya), (xb, yb) = pts[i - 1], pts[i]
        a += xa * yb - xb * ya
    return abs(a) / 2.0


def _cut(p, q, axis, bound):
    t = (bound - p[axis]) / (q[axis] - p[axis])
    return (p[0] + t * (q[0] - p[0]), p[1] + t * (q[1] - p[1]))


def _ring_area(ring: np.ndarray) -> float:
    x, y = ring[:, 0], ring[:, 1]
    return abs(float(np.dot(x[:-1], y[1:]) - np.dot(x[1:], y[:-1]))) / 2.0


def region_rollup(regions, level_base) -> dict:
    """raster_vector_aggregate's answer: per region, over the base-grid
    cells that hold pages and overlap the region with positive area,
    n_tiles, n_pages and sum(n_pages × clipped area / region area)."""
    res = GRID_RES
    n = 1 << res
    counts = dict(zip(level_base["cell_id"].tolist(),
                      level_base["n_pages"].tolist()))
    rid, nt, npg, wp = [], [], [], []
    for reg in regions:
        bb = region_bbox(reg)
        if bb is None:
            continue
        total = sum(_ring_area(s) - (_ring_area(h) if h is not None else 0.0)
                    for s, h in reg["parts"])
        ix0, ix1 = (int(min(n - 1, max(0, math.floor((v + 180.0) / 360.0 * n))))
                    for v in (bb[0], bb[2]))
        iy0, iy1 = (int(min(n - 1, max(0, math.floor((v + 90.0) / 180.0 * n))))
                    for v in (bb[1], bb[3]))
        t = p = 0
        w = 0.0
        for iy in range(iy0, iy1 + 1):
            for ix in range(ix0, ix1 + 1):
                c = iy * n + ix
                cnt = counts.get(c)
                if cnt is None:
                    continue
                cx0, cx1 = ix * 360.0 / n - 180.0, (ix + 1) * 360.0 / n - 180.0
                cy0, cy1 = iy * 180.0 / n - 90.0, (iy + 1) * 180.0 / n - 90.0
                a = 0.0
                for shell, hole in reg["parts"]:
                    a += _clip_convex(shell[:-1], cx0, cy0, cx1, cy1)
                    if hole is not None:
                        a -= _clip_convex(hole[:-1], cx0, cy0, cx1, cy1)
                if a <= 0.0:
                    continue
                t += 1
                p += cnt
                w += cnt * a / total
        if t:
            rid.append(reg["id"])
            nt.append(t)
            npg.append(p)
            wp.append(w)
    return {"region_id": np.array(rid, dtype=np.int64),
            "n_tiles": np.array(nt, dtype=np.int64),
            "n_pages": np.array(npg, dtype=np.int64),
            "weighted_pages": np.array(wp)}


# ---------------------------------------------------------------------------
# Checksums
# ---------------------------------------------------------------------------

def checksum(df, exact: list[str], floats: tuple[str, ...] = ()):
    """One aggregate over every listed column: row count, bit_xor of
    xxhash64 over the exact columns, and the sum of each float column.
    Returns (count, xor, *sums) as plain Python values."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64(*exact)), F.lit(0)).alias("x")]
    aggs += [F.coalesce(F.sum(c), F.lit(0.0)).alias(f"s{i}")
             for i, c in enumerate(floats)]
    agg = df.agg(*aggs)
    row = agg.collect()[0]
    return agg, tuple(row)


def same(got: tuple, want: tuple) -> bool:
    """Exact on count and xor, FLOAT_RTOL on float sums."""
    if len(got) != len(want) or got[:2] != want[:2]:
        return False
    return all(abs(g - w) <= FLOAT_RTOL * max(1.0, abs(w))
               for g, w in zip(got[2:], want[2:]))
