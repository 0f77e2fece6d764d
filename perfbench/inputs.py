"""Seeded inputs the benchmark owns, written once per (seed, size).

Nothing here imports the engine: a change to ``shapely_spark`` cannot change
what is measured. Every layer is written as standard little-endian WKB by
``wkb_*`` below, and the pages table in the engine's input contract
(url, warc_ts, html, text, lang) by pyarrow.

Exactness. The references in ``reference.py`` decide every answer with
plain NumPy geometry, so the generators keep every decision away from its
boundary: a page is redrawn when it lies within ``GUARD`` degrees of a
region edge, a footprint is redrawn when its closed-form answer falls in
the band between its inner and outer radius, and a page whose two nearest
kNN targets are closer than ``KNN_GAP_KM`` apart is redrawn. Float
rounding in any correct kernel therefore cannot flip a pair.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
import struct

import numpy as np

GUARD = 1e-7          # degrees: min distance of a page to any region edge
MARGIN = 1e-6         # degrees: closed-form decision margin for footprints
KNN_GAP_KM = 1e-6     # min gap between a page's first and second target

# ten hotspot centres (lat, lon); 80 % of pages cluster here
HOTSPOTS = np.array([
    (52.52, 13.40), (41.90, 12.50), (-34.60, -58.38), (37.57, 126.98),
    (1.35, 103.82), (55.75, 37.62), (-1.29, 36.82), (43.65, -79.38),
    (-37.81, 144.96), (6.52, 3.38),
])
LANGS = ["en", "de", "fr", "es", "pt", "zh", "ru", "ja"]
WORDS = ["lorem", "ipsum", "dolor", "sit", "amet", "straße", "café",
         "日本", "данные", "ciudad"]
PAGE_FILES = 4  # one scan task per core on a 4-core host


# ---------------------------------------------------------------------------
# WKB (OGC simple features, little-endian)
# ---------------------------------------------------------------------------

def _ring_bytes(ring: np.ndarray) -> bytes:
    return struct.pack("<I", len(ring)) + np.ascontiguousarray(
        ring, dtype="<f8").tobytes()


def wkb_polygon(rings: list[np.ndarray]) -> bytes:
    return struct.pack("<BII", 1, 3, len(rings)) + b"".join(
        _ring_bytes(r) for r in rings)


def wkb_multipolygon(parts: list[list[np.ndarray]]) -> bytes:
    return struct.pack("<BII", 1, 6, len(parts)) + b"".join(
        wkb_polygon(p) for p in parts)


def wkb_linestring(pts: np.ndarray) -> bytes:
    return struct.pack("<BI", 1, 2) + _ring_bytes(pts)


def ngon_ring(cx, cy, r, n, theta0) -> np.ndarray:
    """Closed counter-clockwise regular n-gon with vertices on radius r."""
    ang = theta0 + 2.0 * math.pi * np.arange(n) / n
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def box_ring(x0, y0, x1, y1) -> np.ndarray:
    return np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]],
                    dtype=np.float64)


# ---------------------------------------------------------------------------
# Region layer: 1,000 polygons, 70 % stacked on the hotspots
# ---------------------------------------------------------------------------

def _rayleigh(q):
    """Distance quantile of a 2-D normal offset with unit sigma."""
    return math.sqrt(-2.0 * math.log(1.0 - min(q, 0.999)))


def make_regions(rng: np.random.Generator, n: int) -> list[dict]:
    """Convex shells: n-gons around the hotspots and boxes elsewhere, 5 %
    holed, 2 % two-part multipolygons and 0.5 % empty. Kinds follow the
    region id and sizes and offsets are stratified quantiles, so the seed
    moves every shape while the layer's total fan-out stays close to the
    same. Returns per region its convex parts as (shell, hole-or-None),
    the WKB and the kNN target point (the shell centre)."""
    regions = []
    for rid in range(n):
        j = rid // 10
        if rid % 200 == 199:
            regions.append({"id": rid, "kind": "empty", "parts": [],
                            "wkb": wkb_polygon([]),
                            "centre": (rng.uniform(-170, 170),
                                       rng.uniform(-60, 60))})
            continue
        if j % 10 < 7:  # 70 n-gons per hotspot, stratified by rank k
            k, K = (j // 10) * 7 + j % 10, 70
            hy, hx = HOTSPOTS[rid % len(HOTSPOTS)]
            d = 0.3 * _rayleigh(((k * 37) % K + rng.uniform()) / K)
            a = rng.uniform(0, 2 * math.pi)
            cx, cy = hx + d * math.cos(a), hy + d * math.sin(a)
            rad = 0.05 + 0.45 * (k + rng.uniform()) / K
            shell = ngon_ring(cx, cy, rad, 5 + k % 7, rng.uniform(0, 2 * math.pi))
            kind, ext = "ngon", rad
        else:  # 30 boxes per stratum, placed anywhere
            k, K = (j // 10) * 3 + j % 10 - 7, 30
            cx, cy = rng.uniform(-170, 168), rng.uniform(-70, 68)
            w = 0.2 + 2.8 * (k + rng.uniform()) / K
            h = 0.2 + 1.8 * (((k * 11) % K) + rng.uniform()) / K
            shell = box_ring(cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2)
            kind, ext = "box", max(w, h)
        if rid % 20 == 3:
            hole = ((shell - [cx, cy]) * 0.3 + [cx, cy])[::-1].copy()
            parts = [(shell, hole)]
            wkb = wkb_polygon([shell, hole])
            kind = "holed"
        elif rid % 50 == 11:
            # second part shifted east by more than the shell's extent
            other = shell + [2.5 * ext, 0.0]
            parts = [(shell, None), (other, None)]
            wkb = wkb_multipolygon([[shell], [other]])
            kind = "multi"
        else:
            parts = [(shell, None)]
            wkb = wkb_polygon([shell])
        regions.append({"id": rid, "kind": kind, "parts": parts, "wkb": wkb,
                        "centre": (cx, cy)})
    return regions


# ---------------------------------------------------------------------------
# Convex-ring geometry shared by the generators and the references
# ---------------------------------------------------------------------------

def convex_min_dist(ring: np.ndarray, x: np.ndarray, y: np.ndarray,
                    orient: float = 1.0) -> np.ndarray:
    """Minimum over the edges of a closed convex ring of each point's signed
    distance to the edge line, positive inside (orient=-1 for a clockwise
    ring): > 0 strictly inside, < 0 outside, and any point within GUARD of
    the boundary has |value| < GUARD."""
    a, b = ring[:-1], ring[1:]
    ex, ey = b[:, 0] - a[:, 0], b[:, 1] - a[:, 1]
    cross = ex[None, :] * (y[:, None] - a[None, :, 1]) - ey[None, :] * (
        x[:, None] - a[None, :, 0])
    return (orient * cross / np.hypot(ex, ey)[None, :]).min(axis=1)


def points_in_region(region: dict, x: np.ndarray, y: np.ndarray):
    """(inside-or-on-boundary mask, ambiguous mask) of points vs a region
    built from convex parts, decided with the GUARD band."""
    inside = np.zeros(len(x), dtype=bool)
    amb = np.zeros(len(x), dtype=bool)
    for shell, hole in region["parts"]:
        d = convex_min_dist(shell, x, y)
        amb |= np.abs(d) < GUARD
        ins = d > 0
        if hole is not None:
            dh = convex_min_dist(hole, x, y, orient=-1.0)
            amb |= np.abs(dh) < GUARD
            ins &= ~(dh > 0)
        inside |= ins
    return inside, amb


def region_bbox(region: dict) -> tuple[float, float, float, float] | None:
    if not region["parts"]:
        return None
    pts = np.vstack([s for s, _ in region["parts"]])
    return (pts[:, 0].min(), pts[:, 1].min(), pts[:, 0].max(), pts[:, 1].max())


# ---------------------------------------------------------------------------
# Pages: 80 % hotspot skew, ~1 % missing geotag, ~0.5 % malformed
# ---------------------------------------------------------------------------

def _draw_coords(rng, m):
    hot = rng.uniform(size=m) < 0.8
    h = HOTSPOTS[rng.integers(0, len(HOTSPOTS), size=m)]
    lat = np.where(hot, h[:, 0] + rng.normal(0, 0.05, m),
                   rng.uniform(-85, 85, m))
    lon = np.where(hot, h[:, 1] + rng.normal(0, 0.05, m),
                   rng.uniform(-180, 180, m))
    lat = np.clip(lat, -85.0, 85.0)
    lon = np.clip(lon, -180.0, 179.999999)
    # the geotag carries 6 decimals; these are the values any parser sees
    lat = np.round(lat, 6)
    lon = np.round(lon, 6)
    return lat, lon


def _fmt6(v: np.ndarray) -> list[str]:
    return [f"{x:.6f}" for x in v.tolist()]


def make_pages(rng: np.random.Generator, n: int, regions: list,
               targets: np.ndarray) -> dict:
    """Page coordinates and geotag status; coordinates inside GUARD of a
    region edge, or with a near-tie between their two nearest targets,
    are redrawn. Also returns each page's nearest target and its
    distance (the kNN reference)."""
    lat, lon = _draw_coords(rng, n)
    # parse-exact values: what float('%.6f') gives back
    lat = np.array(_fmt6(lat), dtype=np.float64)
    lon = np.array(_fmt6(lon), dtype=np.float64)
    for _ in range(100):
        bad, knn_km, knn_idx = _ambiguous_pages(lat, lon, regions, targets)
        if not bad.any():
            break
        nl, no = _draw_coords(rng, int(bad.sum()))
        lat[bad] = np.array(_fmt6(nl), dtype=np.float64)
        lon[bad] = np.array(_fmt6(no), dtype=np.float64)
    else:  # pragma: no cover - a generator bug, not a data property
        raise RuntimeError("page coordinates did not clear the guard band")
    u = rng.uniform(size=n)
    status = np.where(u < 0.01, 0, np.where(u < 0.015, 1, 2))  # none/bad/ok
    return {"lat": lat, "lon": lon, "status": status,
            "knn_km": knn_km, "knn_idx": knn_idx}


def _ambiguous_pages(lat, lon, regions, targets):
    """(pages to redraw, nearest target km, nearest target index)."""
    bad = np.zeros(len(lat), dtype=bool)
    for reg in regions:
        bb = region_bbox(reg)
        if bb is None:
            continue
        sel = np.flatnonzero((lon >= bb[0] - 1e-6) & (lon <= bb[2] + 1e-6)
                             & (lat >= bb[1] - 1e-6) & (lat <= bb[3] + 1e-6))
        if len(sel):
            _, amb = points_in_region(reg, lon[sel], lat[sel])
            bad[sel[amb]] = True
    d1, d2, idx = nearest_two_km(lat, lon, targets)
    bad |= (d2 - d1) < KNN_GAP_KM
    return bad, d1, idx


def nearest_two_km(lat, lon, targets, chunk: int = 8192):
    """Brute-force haversine over every target: (best km, second km, best
    index). The haversine terms are expanded into products of per-point and
    per-target factors so each chunk is a few matrix products."""
    R2 = 2.0 * 6371.0088
    tl, tn = np.radians(targets[:, 0]), np.radians(targets[:, 1])
    ctl, stl, ctn, stn = np.cos(tl), np.sin(tl), np.cos(tn), np.sin(tn)
    best = np.empty(len(lat))
    second = np.empty(len(lat))
    idx = np.empty(len(lat), dtype=np.int64)
    for s in range(0, len(lat), chunk):
        pl, pn = np.radians(lat[s:s + chunk]), np.radians(lon[s:s + chunk])
        cpl, spl = np.cos(pl)[:, None], np.sin(pl)[:, None]
        cpn, spn = np.cos(pn)[:, None], np.sin(pn)[:, None]
        # sin²(Δφ/2) = (1 − cos Δφ)/2 ; sin²(Δλ/2) = (1 − cos Δλ)/2
        s_dphi = (1.0 - (cpl * ctl + spl * stl)) / 2.0
        s_dlam = (1.0 - (cpn * ctn + spn * stn)) / 2.0
        a = s_dphi + cpl * ctl * s_dlam
        part = np.argpartition(a, 1, axis=1)[:, :2]
        rows = np.arange(len(a))[:, None]
        a2 = a[rows, part]
        o = np.argsort(a2, axis=1)
        a2 = np.take_along_axis(a2, o, axis=1)
        part = np.take_along_axis(part, o, axis=1)
        d = R2 * np.arcsin(np.sqrt(np.clip(a2, 0.0, 1.0)))
        best[s:s + chunk], second[s:s + chunk] = d[:, 0], d[:, 1]
        idx[s:s + chunk] = part[:, 0]
    return best, second, idx


def pages_table(pages: dict):
    """The pages table in the engine's input contract."""
    import pyarrow as pa

    n = len(pages["lat"])
    lat_s, lon_s = _fmt6(pages["lat"]), _fmt6(pages["lon"])
    urls, htmls, texts, langs = [], [], [], []
    for i in range(n):
        lang = LANGS[i % len(LANGS)]
        reps = 1 + (i * 7919) % 6
        body = " ".join(WORDS[(i + k) % len(WORDS)] for k in range(3 * reps))
        text = f"page {i} in {lang}: {body} #{i % 97}"
        st = pages["status"][i]
        if st == 2:
            meta = (f'<meta name="geo.position" content="{lat_s[i]};{lon_s[i]}">'
                    f'<meta name="ICBM" content="{lat_s[i]}, {lon_s[i]}">')
        elif st == 1:
            meta = '<meta name="geo.position" content="not;a;coordinate">'
        else:
            meta = ""
        urls.append(f"https://host{i % 1000}.example/p/{i}")
        htmls.append(f"<html><head>{meta}</head><body><p>{text}</p>"
                     f"</body></html>".encode())
        texts.append(text)
        langs.append(lang)
    base = np.datetime64("2026-01-01T00:00:00", "us")
    ts = base + np.arange(n).astype("timedelta64[s]")
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
    })


# ---------------------------------------------------------------------------
# Geometry join lattice: footprints × areal regions and × line segments
# ---------------------------------------------------------------------------

LATTICE_S = 3.0          # site spacing (degrees)
LATTICE_NX, LATTICE_NY = 60, 30


def make_lattice(rng: np.random.Generator, n_left: int, n_lines: int) -> dict:
    """Areal regions centred on a 60×30 lattice (spacing 3°), small left
    footprints scattered over the sites, and line segments. Each footprint
    is within 0.45 spacings of its site along each axis and every region
    within 0.4, so only its own site's region can touch it; the answer per footprint is closed-form from its inner and
    outer radius (redrawn when it falls in between). Region kinds follow
    the site index and line orientations the line index."""
    S = LATTICE_S
    nsite = LATTICE_NX * LATTICE_NY
    sx = (np.arange(nsite) % LATTICE_NX - LATTICE_NX / 2 + 0.5) * S
    sy = (np.arange(nsite) // LATTICE_NX - LATTICE_NY / 2 + 0.5) * S
    # --- right areal regions, one per site (one site in eight empty) ---
    pattern = ["none", "box", "ngon", "box", "holed", "ngon", "multi", "box"]
    kinds = [pattern[(s * 5) % len(pattern)] for s in range(nsite)]
    right = []
    for s in range(nsite):
        k = kinds[s]
        if k == "none":
            continue
        cx, cy = sx[s] + rng.uniform(-0.1, 0.1), sy[s] + rng.uniform(-0.1, 0.1)
        if k == "box":
            hw, hh = rng.uniform(0.3, 0.8), rng.uniform(0.3, 0.8)
            ring = box_ring(cx - hw, cy - hh, cx + hw, cy + hh)
            shapes = [("box", cx, cy, hw, hh)]
            wkb = wkb_polygon([ring])
        elif k in ("ngon", "holed"):
            R, m, th = rng.uniform(0.5, 1.1), int(rng.integers(5, 10)), rng.uniform(0, 6.3)
            shell = ngon_ring(cx, cy, R, m, th)
            shapes = [("ngon", cx, cy, R, m)]
            if k == "holed":
                h = 0.45
                hole = ngon_ring(cx, cy, h * R, m, th)[::-1].copy()
                shapes = [("holed", cx, cy, R, m, h)]
                wkb = wkb_polygon([shell, hole])
            else:
                wkb = wkb_polygon([shell])
        else:  # multi: two disjoint n-gons side by side
            R, m, th = rng.uniform(0.25, 0.45), int(rng.integers(5, 9)), rng.uniform(0, 6.3)
            a = (cx - 0.6, cy)
            b = (cx + 0.6, cy)
            shapes = [("ngon", a[0], a[1], R, m), ("ngon", b[0], b[1], R, m)]
            wkb = wkb_multipolygon([[ngon_ring(a[0], a[1], R, m, th)],
                                    [ngon_ring(b[0], b[1], R, m, th)]])
        right.append({"id": 10_000 + s, "site": s, "kind": k,
                      "shapes": shapes, "wkb": wkb})
    by_site = {r["site"]: r for r in right}

    # --- line segments: axis-parallel and diagonal, 2-4 spacings long ---
    lines = []
    x0, x1 = sx.min() - S / 2, sx.max() + S / 2
    y0, y1 = sy.min() - S / 2, sy.max() + S / 2
    for li in range(n_lines):
        ang = [0.0, math.pi / 2, rng.uniform(0, math.pi)][li % 3]
        L = rng.uniform(2 * S, 4 * S)
        cx, cy = rng.uniform(x0 + L, x1 - L), rng.uniform(y0 + L, y1 - L)
        dx, dy = L / 2 * math.cos(ang), L / 2 * math.sin(ang)
        pts = np.array([[cx - dx, cy - dy], [cx + dx, cy + dy]])
        lines.append({"id": 50_000 + li, "pts": pts, "wkb": wkb_linestring(pts)})
    seg = np.array([l["pts"].ravel() for l in lines]).reshape(-1, 4)

    # --- left footprints: n-gons and axis-aligned rectangles ---
    site = rng.integers(0, nsite, size=n_left)
    lx = np.empty(n_left)
    ly = np.empty(n_left)
    todo = np.arange(n_left)
    lr = rng.uniform(0.02, 0.12, size=n_left)
    lrect = rng.uniform(size=n_left) < 0.5
    lm = rng.integers(4, 9, size=n_left)
    lth = rng.uniform(0, 2 * math.pi, size=n_left)
    # inner radius: rectangle half-side min; n-gon inradius
    aspect = rng.uniform(0.5, 1.0, size=n_left)
    hits = np.zeros(n_left, dtype=bool)
    line_hits: list = [None] * n_left
    for _ in range(200):
        if not len(todo):
            break
        lx[todo] = sx[site[todo]] + rng.uniform(-S / 2 + 0.15, S / 2 - 0.15, len(todo))
        ly[todo] = sy[site[todo]] + rng.uniform(-S / 2 + 0.15, S / 2 - 0.15, len(todo))
        outer = lr[todo]
        inner = np.where(lrect[todo], outer * aspect[todo] / np.hypot(1, aspect[todo]),
                         outer * np.cos(math.pi / lm[todo]))
        amb = np.zeros(len(todo), dtype=bool)
        for j, i in enumerate(todo):
            r = by_site.get(int(site[i]))
            if r is None:
                hits[i] = False
                continue
            yes, no = _footprint_vs_region(r["shapes"], lx[i], ly[i], inner[j], outer[j])
            hits[i] = yes
            amb[j] = not (yes or no)
        for c in range(0, len(todo), 4096):
            sl = slice(c, c + 4096)
            lyes, lamb = _footprint_vs_lines(
                seg, lx[todo[sl]], ly[todo[sl]], inner[sl], outer[sl])
            amb[sl] |= lamb
            for j, i in enumerate(todo[sl]):
                line_hits[i] = np.flatnonzero(lyes[j])
        todo = todo[amb]
    else:  # pragma: no cover
        raise RuntimeError("footprints did not clear the decision margin")

    left_wkb = []
    for i in range(n_left):
        if lrect[i]:
            hw = lr[i] / math.hypot(1, aspect[i])
            hh = hw * aspect[i]
            left_wkb.append(wkb_polygon([box_ring(lx[i] - hw, ly[i] - hh,
                                                  lx[i] + hw, ly[i] + hh)]))
        else:
            left_wkb.append(wkb_polygon([ngon_ring(lx[i], ly[i], lr[i],
                                                   int(lm[i]), lth[i])]))
    region_pairs = np.array([(i, by_site[int(site[i])]["id"])
                             for i in range(n_left) if hits[i]],
                            dtype=np.int64).reshape(-1, 2)
    line_pairs = np.array([(i, lines[k]["id"]) for i in range(n_left)
                           for k in line_hits[i]], dtype=np.int64).reshape(-1, 2)
    return {"left_wkb": left_wkb, "left_rect": lrect,
            "right": right, "lines": lines,
            "region_pairs": region_pairs, "line_pairs": line_pairs}


def _footprint_vs_region(shapes, x, y, inner, outer):
    """(surely intersects, surely disjoint) for a footprint whose shape
    contains the disk (x, y, inner) and lies in the disk (x, y, outer)."""
    any_yes, all_no = False, True
    for sh in shapes:
        if sh[0] == "box":
            _, cx, cy, hw, hh = sh
            dx = max(abs(x - cx) - hw, 0.0)
            dy = max(abs(y - cy) - hh, 0.0)
            d = math.hypot(dx, dy)
            yes = d < inner - MARGIN
            no = d > outer + MARGIN
        else:
            cx, cy, R, m = sh[1], sh[2], sh[3], sh[4]
            rin = R * math.cos(math.pi / m)
            d = math.hypot(x - cx, y - cy)
            if sh[0] == "ngon":
                yes = d < rin + inner - MARGIN
                no = d > R + outer + MARGIN
            else:  # holed: ring between hole circumradius and shell inradius
                h = sh[5]
                hin = h * R * math.cos(math.pi / m)
                lo = max(h * R, d - inner)
                hi = min(rin, d + inner)
                yes = lo + MARGIN < hi
                no = (d + outer < hin - MARGIN) or (d > R + outer + MARGIN)
        any_yes |= yes
        all_no &= no
    return any_yes, (all_no and not any_yes)


def _footprint_vs_lines(seg, x, y, inner, outer):
    """(crosses matrix, ambiguous rows) of footprints vs long segments.
    crosses(footprint, line) holds when the segment enters the footprint
    interior and leaves it: segment distance < inner with an endpoint
    beyond outer. Segments are ≥ 2 spacings long, so an endpoint is always
    beyond outer; only the distance band is ambiguous."""
    ax, ay, bx, by = seg[:, 0], seg[:, 1], seg[:, 2], seg[:, 3]
    vx, vy = bx - ax, by - ay
    ll = vx * vx + vy * vy
    t = ((x[:, None] - ax) * vx + (y[:, None] - ay) * vy) / ll
    t = np.clip(t, 0.0, 1.0)
    px, py = ax + t * vx, ay + t * vy
    d = np.hypot(x[:, None] - px, y[:, None] - py)
    yes = d < inner[:, None] - MARGIN
    no = d > outer[:, None] + MARGIN
    return yes, (~yes & ~no).any(axis=1)


# ---------------------------------------------------------------------------
# Cache: one directory per (workload inputs, seed, size)
# ---------------------------------------------------------------------------

def content_hash(path: str) -> str:
    """Hash of the parquet files the engine reads (not of the benchmark's
    own reference facts)."""
    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(path)):
        for f in sorted(files):
            if not f.endswith(".parquet"):
                continue
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def cached(base: str, key: str, build, keep: int = 4) -> tuple[str, str, bool]:
    """Return (dir, content hash, built_now). ``build(dir)`` writes the
    inputs; the DONE marker records the hash. Only the ``keep`` most
    recent input sets stay on disk."""
    path = os.path.join(base, key)
    done = os.path.join(path, "DONE")
    if os.path.exists(done):
        with open(done) as fh:
            return path, json.load(fh)["sha256_16"], False
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    build(path)
    digest = content_hash(path)
    with open(done, "w") as fh:
        json.dump({"sha256_16": digest}, fh)
    old = sorted((os.path.getmtime(os.path.join(base, d)), d)
                 for d in os.listdir(base) if d != key)
    for _, d in old[:max(0, len(old) - (keep - 1))]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path, digest, True
