"""The three workloads: inputs, the timed job, its check and its trace.

Each workload is one batch job run through the engine's public functions.
``job(spark)`` returns ``{label: (aggregate DataFrame, result
tuple)}``: every output is reduced by one aggregate over all of its columns
(reference.checksum), never by a bare ``.count()``, which lets Catalyst
prune the Python nodes. ``expected(spark, drop)`` gives the same reduction
of the independent reference (computed afresh on every run, with Spark
built-ins only; ``drop`` > 0 removes that many rows from each reference so
the smoke run can show that the check rejects it), and ``trace()`` the
per-layer figures that come from the benchmark's own spans.
"""

from __future__ import annotations

import os
import pickle
import time

import numpy as np

import inputs as I
import reference as R

N_REGIONS = 1000
LAYER_FILES = 4  # region, footprint-right and line layers: 4 files each


def _frame(spark, cols: dict, schema: str):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(cols), schema)


def _seed_rng(seed: int, salt: int) -> np.random.Generator:
    return np.random.default_rng([seed, salt])


# ---------------------------------------------------------------------------
# Pages + region layer inputs (point_join and tile_knn)
# ---------------------------------------------------------------------------

def build_pages_set(path: str, seed: int, n_pages: int) -> None:
    import pyarrow as pa

    regions = I.make_regions(_seed_rng(seed, 1), N_REGIONS)
    targets = np.array([(r["centre"][1], r["centre"][0]) for r in regions])
    pages = I.make_pages(_seed_rng(seed, 2), n_pages, regions, targets)
    write_files(os.path.join(path, "pages"), I.pages_table(pages), I.PAGE_FILES)
    write_files(os.path.join(path, "regions.parquet"), pa.table({
        "region_id": pa.array([r["id"] for r in regions], pa.int64()),
        "name": [f"region_{r['id']}" for r in regions],
        "wkb": pa.array([r["wkb"] for r in regions], pa.binary()),
        "kind": [r["kind"] for r in regions],
    }), LAYER_FILES)
    write_files(os.path.join(path, "targets.parquet"), pa.table({
        "target_id": pa.array(np.arange(len(targets)), pa.int64()),
        "t_lat": targets[:, 0], "t_lon": targets[:, 1],
    }), 1)

    ok = pages["status"] == 2
    lat = np.where(ok, pages["lat"], np.nan)
    lon = np.where(ok, pages["lon"], np.nan)
    pairs = R.point_pairs(lat, lon, ok, regions)
    cells = R.cell_of(lat, lon, R.GRID_RES)
    levels = R.tile_levels(cells)
    rollup = R.region_rollup(regions, levels[R.GRID_RES])
    okx = np.flatnonzero(ok)
    d1, ti = pages["knn_km"][okx], pages["knn_idx"][okx]
    lv = np.concatenate([np.full(len(levels[k]), k) for k in levels])

    def col(c):
        return np.concatenate([levels[k][c].to_numpy() for k in levels])

    np.savez(os.path.join(path, "facts.npz"), lat=lat, lon=lon, pairs=pairs,
             knn_page=okx, knn_target=ti, knn_dist=d1, lvl=lv,
             lvl_cell=col("cell_id"), lvl_tiles=col("n_tiles"),
             lvl_pages=col("n_pages"),
             **{f"rollup_{k}": v for k, v in rollup.items()})


def write_files(path: str, table, files: int) -> None:
    """A stored table as ``files`` parquet files of equal row counts; the
    file count sets how many tasks a scan of the table runs."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step),
                       os.path.join(path, f"part-{f:05d}.parquet"))


def _url(i: np.ndarray) -> list[str]:
    return [f"https://host{k % 1000}.example/p/{k}" for k in i.tolist()]


# ---------------------------------------------------------------------------
# Workload base
# ---------------------------------------------------------------------------

class Workload:
    """``size`` names the input sizes; ``size[rows_key]`` is the input row
    count that ``rows_per_s`` divides by."""

    name = ""
    key = ""
    rows_key = ""

    def __init__(self, base: str, seed: int, size: dict):
        self.seed = seed
        self.size = size
        self.rows = size[self.rows_key]
        self.path, self.sha, self.built = I.cached(
            base, f"{self.key}-{'-'.join(f'{k}{v}' for k, v in size.items())}"
                  f"-seed{seed}", self.build)
        self.facts = np.load(os.path.join(self.path, "facts.npz"))

    def build(self, path):
        build_pages_set(path, self.seed, self.size["n"])

    def job(self, spark) -> dict:
        raise NotImplementedError

    def expected(self, spark, drop: int = 0) -> dict:
        raise NotImplementedError

    def trace(self, spark) -> dict:
        raise NotImplementedError


PAGES_DIR = "/pages"


def _pages(spark, path):
    return spark.read.parquet(os.path.join(path, "pages"))


POINT_COLS = ["url", "warc_ts", "html", "text", "lang", "extracted_text",
              "lat", "lon", "cell_id", "region_id"]


class PointJoin(Workload):
    """pages parquet → with_geo → spatial_join(1,000 regions, intersects)."""

    name = "point_join"
    key = "pages"
    rows_key = "n"

    def job(self, spark):
        from shapely_spark.spark.extract import with_geo
        from shapely_spark.spark.join import spatial_join

        regions = spark.read.parquet(os.path.join(self.path, "regions.parquet"))
        out = spatial_join(with_geo(_pages(spark, self.path)), regions,
                           predicate="intersects")
        return {"pairs": R.checksum(out, POINT_COLS)}

    def expected(self, spark, drop=0):
        from pyspark.sql import functions as F

        f = self.facts
        ok = ~np.isnan(f["lat"])
        idx = np.flatnonzero(ok)
        page = _frame(spark, {
            "i": idx, "lat": f["lat"][idx], "lon": f["lon"][idx],
            "cell_id": R.cell_of(f["lat"][idx], f["lon"][idx], R.GRID_RES),
        }, "i long, lat double, lon double, cell_id long")
        pp = f["pairs"][drop:]
        pairs = _frame(spark, {"i": pp[:, 0], "region_id": pp[:, 1]},
                       "i long, region_id long")
        pages = (spark.read.parquet(os.path.join(self.path, "pages"))
                 .withColumn("i", F.regexp_extract("url", r"/p/([0-9]+)$", 1)
                             .cast("long")))
        ref = (pages.join(page, "i").join(pairs, "i")
               .withColumn("extracted_text", F.col("text")))
        return {"pairs": R.checksum(ref, POINT_COLS)[1]}

    def trace(self, spark):
        from pyspark.sql import functions as F

        from shapely_spark.geo.kernels import RaggedPolygonLayer
        from shapely_spark.geo.wkb import from_wkb
        from shapely_spark.index.cells import polygon_cover
        from shapely_spark.spark.join import JOIN_RES, covers_df

        m = extract_span(spark, self.path)
        regions = spark.read.parquet(os.path.join(self.path, "regions.parquet"))
        cov = covers_df(regions, JOIN_RES).agg(
            F.count(F.lit(1)), F.sum(F.col("full").cast("long"))).collect()[0]
        m["spark.join.cover_full_share"] = int(cov[1]) / max(1, int(cov[0]))
        geoms = {int(r[0]): from_wkb(bytes(r[1]))
                 for r in regions.select("region_id", "wkb").collect()}
        t0 = time.perf_counter()
        covers = {rid: polygon_cover(g, JOIN_RES) for rid, g in geoms.items()}
        m["index.cells.polygon_cover_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        layer = RaggedPolygonLayer(geoms)
        m["geo.kernels.layer_build_s"] = time.perf_counter() - t0
        m["geo.kernels.layer_pickle_bytes"] = len(
            pickle.dumps(layer, protocol=pickle.HIGHEST_PROTOCOL))

        # fixed kernel sample: the geotagged pages in the partial cover
        # cells of the first 64 regions, paired with that region
        f = self.facts
        ok = ~np.isnan(f["lat"])
        pcell = R.cell_of(f["lat"][ok], f["lon"][ok], JOIN_RES)
        px, py = f["lon"][ok], f["lat"][ok]
        order = np.argsort(pcell, kind="stable")
        sc = pcell[order]
        s_rid, s_x, s_y = [], [], []
        for rid in sorted(covers)[:64]:
            cells, full = covers[rid]
            lo = np.searchsorted(sc, cells[~full], "left")
            hi = np.searchsorted(sc, cells[~full], "right")
            for a, b in zip(lo, hi):
                sel = order[a:b]
                s_rid.append(np.full(len(sel), rid))
                s_x.append(px[sel])
                s_y.append(py[sel])
        rid_s, x_s, y_s = (np.concatenate(a) for a in (s_rid, s_x, s_y))
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            layer.classify_many(rid_s, x_s, y_s)
            times.append(time.perf_counter() - t0)
        m["geo.kernels.classify_many_ns_per_pair"] = (
            float(np.median(times)) * 1e9 / max(1, len(rid_s)))
        return m


class TileKnn(Workload):
    """pages → with_geo → tile_counts → tile_rollup pyramid, plus
    raster_vector_aggregate over the regions and knn_join_broadcast (k=1)
    against the 1,000 region centres."""

    name = "tile_knn"
    key = "pages"
    rows_key = "n"

    def job(self, spark):
        from pyspark.sql import functions as F

        from shapely_spark.spark.extract import with_geo
        from shapely_spark.spark.knn import knn_join_broadcast
        from shapely_spark.spark.tiles import (raster_vector_aggregate,
                                               tile_counts, tile_rollup)

        geo = with_geo(_pages(spark, self.path))
        base = tile_counts(geo, R.GRID_RES)
        levels = [base.select(F.lit(R.GRID_RES).alias("level"), "cell_id",
                              F.lit(1).cast("long").alias("n_tiles"), "n_pages")]
        cur, res = base, R.GRID_RES
        for pres in R.PYRAMID:
            cur = tile_rollup(cur, res, pres)
            res = pres
            levels.append(cur.select(F.lit(pres).alias("level"), "cell_id",
                                     "n_tiles", "n_pages"))
        pyramid = levels[0]
        for lv in levels[1:]:
            pyramid = pyramid.unionByName(lv)
        regions = spark.read.parquet(os.path.join(self.path, "regions.parquet"))
        rollup = raster_vector_aggregate(geo, regions, R.GRID_RES)
        targets = spark.read.parquet(os.path.join(self.path, "targets.parquet"))
        knn = knn_join_broadcast(geo, targets, k=1, point_id="url")
        return {
            "pyramid": R.checksum(pyramid, ["level", "cell_id", "n_tiles", "n_pages"]),
            "rollup": R.checksum(rollup, ["region_id", "n_tiles", "n_pages"],
                                 ("weighted_pages",)),
            "knn": R.checksum(knn, ["url", "target_id", "knn_rank"], ("dist_km",)),
        }

    def expected(self, spark, drop=0):
        f = {k: self.facts[k][drop:] for k in self.facts.files}
        pyr = _frame(spark, {"level": f["lvl"].astype(np.int32),
                             "cell_id": f["lvl_cell"], "n_tiles": f["lvl_tiles"],
                             "n_pages": f["lvl_pages"]},
                     "level int, cell_id long, n_tiles long, n_pages long")
        rol = _frame(spark, {k: f[f"rollup_{k}"] for k in
                             ("region_id", "n_tiles", "n_pages", "weighted_pages")},
                     "region_id long, n_tiles long, n_pages long, "
                     "weighted_pages double")
        knn = _frame(spark, {"url": _url(f["knn_page"]),
                             "target_id": f["knn_target"],
                             "knn_rank": np.ones(len(f["knn_page"]), np.int32),
                             "dist_km": f["knn_dist"]},
                     "url string, target_id long, knn_rank int, dist_km double")
        return {
            "pyramid": R.checksum(pyr, ["level", "cell_id", "n_tiles", "n_pages"])[1],
            "rollup": R.checksum(rol, ["region_id", "n_tiles", "n_pages"],
                                 ("weighted_pages",))[1],
            "knn": R.checksum(knn, ["url", "target_id", "knn_rank"], ("dist_km",))[1],
        }

    def trace(self, spark):
        return extract_span(spark, self.path)


# ---------------------------------------------------------------------------
# Geometry × geometry join on the lattice
# ---------------------------------------------------------------------------

class GeomJoin(Workload):
    """footprints ⋈ areal regions (intersects) and footprints ⋈ line
    segments (crosses), both through spatial_join_geom."""

    name = "geom_join"
    key = "lattice"
    rows_key = "left"

    def build(self, path):
        import pyarrow as pa

        lat = I.make_lattice(_seed_rng(self.seed, 3), self.size["left"],
                             self.size["lines"])
        n = len(lat["left_wkb"])
        write_files(os.path.join(path, "left.parquet"), pa.table({
            "left_id": pa.array(np.arange(n), pa.int64()),
            "wkb": pa.array(lat["left_wkb"], pa.binary()),
        }), I.PAGE_FILES)
        write_files(os.path.join(path, "right.parquet"), pa.table({
            "region_id": pa.array([r["id"] for r in lat["right"]], pa.int64()),
            "wkb": pa.array([r["wkb"] for r in lat["right"]], pa.binary()),
        }), LAYER_FILES)
        write_files(os.path.join(path, "lines.parquet"), pa.table({
            "line_id": pa.array([r["id"] for r in lat["lines"]], pa.int64()),
            "wkb": pa.array([r["wkb"] for r in lat["lines"]], pa.binary()),
        }), LAYER_FILES)
        np.savez(os.path.join(path, "facts.npz"),
                 region_pairs=lat["region_pairs"], line_pairs=lat["line_pairs"])

    def job(self, spark):
        from shapely_spark.spark.join import spatial_join_geom

        left = spark.read.parquet(os.path.join(self.path, "left.parquet"))
        right = spark.read.parquet(os.path.join(self.path, "right.parquet"))
        lines = spark.read.parquet(os.path.join(self.path, "lines.parquet"))
        a = spatial_join_geom(left, right, "intersects", left_id="left_id",
                              right_id="region_id")
        b = spatial_join_geom(left, lines, "crosses", left_id="left_id",
                              right_id="line_id")
        return {"regions": R.checksum(a, ["left_id", "region_id"]),
                "lines": R.checksum(b, ["left_id", "line_id"])}

    def expected(self, spark, drop=0):
        f = {k: self.facts[k][drop:] for k in self.facts.files}
        a = _frame(spark, {"left_id": f["region_pairs"][:, 0],
                           "region_id": f["region_pairs"][:, 1]},
                   "left_id long, region_id long")
        b = _frame(spark, {"left_id": f["line_pairs"][:, 0],
                           "line_id": f["line_pairs"][:, 1]},
                   "left_id long, line_id long")
        return {"regions": R.checksum(a, ["left_id", "region_id"])[1],
                "lines": R.checksum(b, ["left_id", "line_id"])[1]}


    def trace(self, spark):
        from shapely_spark.geo import kernels as K
        from shapely_spark.geo.group_predicates import group_predicate
        from shapely_spark.geo.wkb import from_wkb

        left = spark.read.parquet(os.path.join(self.path, "left.parquet")) \
            .orderBy("left_id").collect()
        lg = [from_wkb(bytes(r[1])) for r in left]
        lb = np.array([K.bounds(g) for g in lg])
        # group kernel over a fixed sample: every 8th right geometry of each
        # layer with the footprints whose bounding boxes overlap it
        declined = done = 0
        t_acc = 0.0
        for fname, idc, pred in (("right.parquet", "region_id", "intersects"),
                                 ("lines.parquet", "line_id", "crosses")):
            rows = spark.read.parquet(os.path.join(self.path, fname)) \
                .orderBy(idc).collect()
            for r in rows[::8]:
                g = from_wkb(bytes(r[1]))
                b = K.bounds(g)
                hit = np.flatnonzero((lb[:, 0] <= b[2]) & (b[0] <= lb[:, 2])
                                     & (lb[:, 1] <= b[3]) & (b[1] <= lb[:, 3]))
                if not len(hit):
                    continue
                batch = [lg[i] for i in hit]
                t0 = time.perf_counter()
                res = group_predicate(pred, batch, g)
                dt = time.perf_counter() - t0
                if res is None:
                    declined += len(hit)
                else:
                    done += len(hit)
                    t_acc += dt
        return {"geo.group_predicates.declined_pairs": declined,
                "geo.group_predicates.ns_per_pair": t_acc * 1e9 / max(1, done)}


class PointTileKnn(PointJoin, TileKnn):
    """point_join and tile_knn as one job over one pages table, in that
    order; the per-layer figures keep the two apart by output label."""

    name = "point_tile_knn"

    def job(self, spark):
        return {**PointJoin.job(self, spark), **TileKnn.job(self, spark)}

    def expected(self, spark, drop=0):
        return {**PointJoin.expected(self, spark, drop),
                **TileKnn.expected(self, spark, drop)}


WORKLOADS = {w.name: w for w in (PointJoin, GeomJoin, TileKnn, PointTileKnn)}


# ---------------------------------------------------------------------------
# Per-layer figures
# ---------------------------------------------------------------------------

def extract_span(spark, path) -> dict:
    """Span around the extract layer alone: with_geo over the stored pages,
    reduced by one aggregate that reads every derived column."""
    from pyspark.sql import functions as F

    from shapely_spark.spark.extract import with_geo

    t0 = time.perf_counter()
    geo = with_geo(spark.read.parquet(os.path.join(path, "pages")))
    row = geo.agg(F.count(F.lit(1)), F.count("lat"),
                  F.bit_xor(F.xxhash64("extracted_text", "lat", "lon",
                                       "cell_id"))).collect()[0]
    return {"spark.extract.call_s": time.perf_counter() - t0,
            "spark.extract.geotagged_rows": int(row[1])}


def _py_self(n) -> float:
    """Task-summed Python time of a node. Spark 4.1.2 records worker init
    in pythonInitTime without it being a clean part of pythonTotalTime
    (total − boot − init goes negative on the refine node), so this is
    pythonTotalTime as reported; boot and init are the spark.daemon.*
    figures."""
    return n["metrics"].get("pythonTotalTime", 0.0)


def plan_layers(plans: dict) -> dict:
    """Per-layer figures from the executed plans of one job, keyed by the
    output label (see planmetrics.nodes)."""
    m = {}

    def add(k, v):
        m[k] = m.get(k, 0) + v

    for label, nodes in plans.items():
        for n in nodes:
            name, mm, anc = n["name"], n["metrics"], n["ancestors"]
            under_bx = "BroadcastExchange" in anc
            if name.startswith("Scan parquet") and n["path"].endswith(PAGES_DIR):
                add("spark.extract.scan_rows", mm.get("numOutputRows", 0))
                add("spark.extract.scan_s", mm.get("scanTime", 0.0))
                add("spark.extract.scan_bytes", mm.get("filesSize", 0))
            if name in ("MapInPandas", "ArrowEvalPython"):
                add("spark.daemon.boot_s", mm.get("pythonBootTime", 0.0))
                add("spark.daemon.init_s", mm.get("pythonInitTime", 0.0))
            if name == "Exchange":
                add("shuffle.bytes_written", mm.get("shuffleBytesWritten", 0))
                add("shuffle.write_s", mm.get("shuffleWriteTime", 0.0))
            add("spill.bytes", mm.get("spillSize", 0))
            if label == "pairs":  # point_join
                if name == "MapInPandas" and under_bx:
                    add("spark.join.cover_rows", mm.get("pythonNumRowsReceived", 0))
                    add("spark.join.cover_python_s", _py_self(n))
                elif name == "BroadcastExchange":
                    add("spark.join.broadcast_collect_s", mm.get("collectTime", 0.0))
                    add("spark.join.broadcast_bytes", mm.get("dataSize", 0))
                elif name == "BroadcastHashJoin":
                    add("spark.join.candidate_pairs", mm.get("numOutputRows", 0))
                elif name == "ArrowEvalPython":
                    add("spark.join.refine_rows", mm.get("pythonNumRowsReceived", 0))
                    add("spark.join.arrow_bytes_sent", mm.get("pythonDataSent", 0))
                    add("spark.join.arrow_bytes_received", mm.get("pythonDataReceived", 0))
                    add("spark.join.refine_python_s", _py_self(n))
                elif name == "Filter" and "ArrowEvalPython" in n["child_names"]:
                    add("spark.join.output_pairs", mm.get("numOutputRows", 0))
            elif label in ("regions", "lines"):  # geom_join
                if name == "MapInPandas":
                    side = "right" if under_bx else "left"
                    add(f"spark.join.geom_{side}_cover_rows",
                        mm.get("pythonNumRowsReceived", 0))
                elif name == "BroadcastHashJoin":
                    add("spark.join.geom_candidates", mm.get("numOutputRows", 0))
                elif name == "ArrowEvalPython":
                    add("spark.join.geom_refine_rows", mm.get("pythonNumRowsReceived", 0))
                    add("spark.join.geom_refine_python_s", _py_self(n))
            elif label in ("pyramid", "rollup"):  # tile_knn
                if name == "HashAggregate":
                    add("spark.tiles.agg_s", mm.get("aggTime", 0.0))
                    if label == "rollup" and anc[-1:] == ("BroadcastHashJoin",):
                        # tile_counts' final aggregate: the probe side of
                        # the tiles ⋈ weights join, one row per base cell
                        add("spark.tiles.cells", mm.get("numOutputRows", 0))
                elif name == "Exchange":
                    add("spark.tiles.shuffle_bytes", mm.get("shuffleBytesWritten", 0))
                elif name == "MapInPandas" and under_bx:
                    add("spark.tiles.weights_python_s", _py_self(n))
            elif label == "knn":
                if name == "MapInPandas":
                    add("spark.knn.python_s", _py_self(n))
                    add("spark.knn.rows_out", mm.get("pythonNumRowsReceived", 0))
                    add("spark.knn.arrow_bytes_received", mm.get("pythonDataReceived", 0))
    if m.get("spark.join.candidate_pairs"):
        m["spark.join.arrow_bytes_per_candidate"] = (
            m.get("spark.join.arrow_bytes_sent", 0) / m["spark.join.candidate_pairs"])
    if m.get("spark.join.refine_rows"):
        m["spark.join.refine_yield"] = (
            m.get("spark.join.output_pairs", 0) / m["spark.join.refine_rows"])
    return m
