"""End-to-end vertical slice: synthetic pages ⋈ regions on Spark must equal
the single-node STRtree oracle pair-for-pair (the correctness contract of
SURVEY.md §7 step 3; STRtree.query semantics shapely/strtree.py:229-266)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from shapely_spark.geo import STRtree, point
from shapely_spark.geo.wkb import from_wkb
from shapely_spark.spark.extract import with_geo
from shapely_spark.spark.join import spatial_join
from shapely_spark.spark.pages import regions_df, synth_pages, synth_regions

RES = 9
N_PAGES = 3000
N_REGIONS = 60


@pytest.fixture(scope="module")
def pages(spark):
    return with_geo(synth_pages(spark, N_PAGES), res=RES).cache()


@pytest.fixture(scope="module")
def regions():
    return synth_regions(N_REGIONS, seed=42)


def test_extract_text_byte_identical(pages):
    """Per-row invariant from the driver input_hint: extracted text ==
    stored text, byte for byte, for every url."""
    bad = pages.where(
        F.encode(F.col("extracted_text"), "UTF-8") != F.encode(F.col("text"), "UTF-8")
    ).count()
    assert bad == 0


def test_extract_null_and_malformed_geotags(pages):
    n = pages.count()
    nulls = pages.where(F.col("lat").isNull()).count()
    # ~1% missing + ~0.5% malformed
    assert 0 < nulls < 0.05 * n
    cells_for_null = pages.where(F.col("lat").isNull()).select("cell_id").distinct().collect()
    assert [r.cell_id for r in cells_for_null] == [-1]


def test_spatial_join_matches_strtree_oracle(spark, pages, regions):
    rdf = regions_df(spark, regions)
    got = (
        spatial_join(pages, rdf, predicate="intersects", res=RES)
        .select("url", "region_id")
        .collect()
    )
    got_pairs = {(r.url, r.region_id) for r in got}

    # single-node oracle: same pages through the kernel STRtree
    rows = pages.select("url", "lat", "lon").collect()
    geoms = [g for _, _, g, _ in regions]
    tree = STRtree(geoms)
    want_pairs = set()
    pts = [
        (r.url, point(r.lon, r.lat)) for r in rows if r.lat is not None
    ]
    res = tree.query([p for _, p in pts], predicate="intersects")
    for qi, ti in res.T.tolist():
        want_pairs.add((pts[qi][0], regions[ti][0]))

    assert got_pairs == want_pairs
    assert len(got_pairs) > 0  # hotspot regions guarantee matches


def test_spatial_join_within_excludes_boundary(spark, pages, regions):
    rdf = regions_df(spark, regions)
    inter = spatial_join(pages, rdf, predicate="intersects", res=RES).count()
    within = spatial_join(pages, rdf, predicate="within", res=RES).count()
    assert within <= inter


def test_spatial_join_invalid_predicate(spark, pages, regions):
    with pytest.raises(ValueError, match="not a valid option"):
        spatial_join(pages, regions_df(spark, regions), predicate="disjoint")


def test_null_coords_never_join(spark, pages, regions):
    rdf = regions_df(spark, regions)
    joined = spatial_join(pages, rdf, predicate="intersects", res=RES)
    assert joined.where(F.col("lat").isNull()).count() == 0


def test_broadcast_plan_is_broadcast(spark, pages, regions):
    """The covers side must broadcast — no shuffle of the pages side."""
    rdf = regions_df(spark, regions)
    plan = spatial_join(pages, rdf, res=RES)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_shuffle_mode_same_result(spark, pages, regions):
    rdf = regions_df(spark, regions)
    a = spatial_join(pages, rdf, res=RES, broadcast=True).select("url", "region_id")
    b = spatial_join(pages, rdf, res=RES, broadcast=False).select("url", "region_id")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_spatial_join_arbitrary_int64_region_ids(spark, pages, regions):
    """Region ids are any int64: remapped to negative, sparse and >2^40
    (up to 2^62) values, both spatial_join modes return the dense-id
    pairs, mapped back."""
    def new_id(rid):  # negative and sparse; every third id above 2^40
        return (rid - 30) * 1_000_003 + (
            2**62 if rid % 6 == 3 else 2**41 if rid % 3 == 0 else 0)

    remap = {rid: new_id(rid) for rid, _, _, _ in regions}
    assert len(set(remap.values())) == len(remap)
    back = {v: k for k, v in remap.items()}
    dense = regions_df(spark, regions)
    remapped = regions_df(spark, [(remap[r], n, g, k) for r, n, g, k in regions])
    for broadcast in (True, False):
        want = {tuple(r) for r in spatial_join(
            pages, dense, res=RES, broadcast=broadcast)
            .select("url", "region_id").collect()}
        got = {(r.url, back[r.region_id]) for r in spatial_join(
            pages, remapped, res=RES, broadcast=broadcast)
            .select("url", "region_id").collect()}
        assert got == want and len(want) > 0, broadcast


def test_null_ids_are_skipped(spark, pages, regions):
    """A row whose id is NULL is skipped like a NULL geometry: in both
    joins and both modes the result equals the join without those rows."""
    import pandas as pd

    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom

    def frame(rows, id_col):
        return spark.createDataFrame(
            pd.DataFrame({id_col: pd.Series([r[0] for r in rows], dtype="Int64"),
                          "wkb": [to_wkb(r[1]) for r in rows]}),
            f"{id_col} long, wkb binary")

    rows = [(rid, g) for rid, _, g, _ in regions]
    with_null = frame([(None if i % 4 == 0 else rid, g)
                       for i, (rid, g) in enumerate(rows)], "region_id")
    without = frame([(rid, g) for i, (rid, g) in enumerate(rows) if i % 4], "region_id")
    lefts = frame([(None if i % 5 == 0 else 1000 + i, g)
                   for i, (_, g) in enumerate(rows) if not g.is_empty], "left_id")
    lefts_kept = lefts.where(F.col("left_id").isNotNull())
    for broadcast in (True, False):
        got = {tuple(r) for r in spatial_join(
            pages, with_null, res=RES, broadcast=broadcast)
            .select("url", "region_id").collect()}
        want = {tuple(r) for r in spatial_join(
            pages, without, res=RES, broadcast=broadcast)
            .select("url", "region_id").collect()}
        assert got == want and len(want) > 0, broadcast
        got = set(map(tuple, spatial_join_geom(
            lefts, with_null, broadcast=broadcast).collect()))
        want = set(map(tuple, spatial_join_geom(
            lefts_kept, without, broadcast=broadcast).collect()))
        assert got == want and len(want) > 0, broadcast


def test_spatial_join_geom_matches_bruteforce(spark):
    """Geometry×geometry join vs an O(n²) scalar-kernel oracle, in both
    broadcast modes. Lefts: irregular n-gons, plus points and segments
    placed on the regions' exact vertices and edge midpoints (boundary
    hits) and scattered around them — point and line lefts take the same
    grouped refine as polygons, so every boundary case goes through
    group_predicate."""
    import pandas as pd

    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import linestring, point, regular_ngon
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom
    from shapely_spark.spark.pages import regions_df, synth_regions

    rng_regions = synth_regions(40, seed=7)
    right = regions_df(spark, rng_regions)
    # left: n-gons scattered over the same hotspots
    lgeoms = []
    for i in range(120):
        hy, hx = (40.71, -74.00) if i % 2 else (51.51, -0.13)
        g = regular_ngon(hx + (i % 11) * 0.2 - 1.0, hy + (i % 7) * 0.2 - 0.6,
                         0.15 + (i % 5) * 0.05, 5 + i % 6, theta0=i * 0.3)
        lgeoms.append(g)
    rng = np.random.RandomState(3)
    for _rid, _name, rg, _kind in rng_regions:
        if rg.is_empty:
            continue
        ring = np.asarray(rg.rings[0] if rg.rings else rg.parts[0].rings[0])[:, :2]
        v, w = ring[rng.choice(len(ring) - 1, 2, replace=False)]
        mid = (ring[0] + ring[1]) / 2
        x0, y0, x1, y1 = K.bounds(rg)
        inside = rng.uniform([x0, y0], [x1, y1])
        lgeoms += [
            point(*v), point(*mid), point(*inside),            # vertex, edge, scatter
            point(*rng.uniform([x0 - 0.3, y0 - 0.3], [x1 + 0.3, y1 + 0.3])),
            linestring([v, w]),                                # vertex to vertex
            linestring([ring[0], ring[1]]),                    # along an edge
            linestring([inside, inside + rng.uniform(-1, 1, 2)]),
            linestring([mid, mid + (mid - inside)]),           # edge point outward
        ]
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": list(range(len(lgeoms))),
                      "wkb": [to_wkb(g) for g in lgeoms]}),
        "left_id long, wkb binary",
    )
    for pred in ["intersects", "within", "covered_by", "touches", "crosses"]:
        fn = getattr(K, pred)
        want = {(i, rid) for i, lg in enumerate(lgeoms)
                for rid, _name, rg, _kind in rng_regions
                if not rg.is_empty and fn(lg, rg)}
        assert want, pred
        for broadcast in (True, False):
            got = {(r.left_id, r.region_id)
                   for r in spatial_join_geom(left, right, predicate=pred,
                                              left_id="left_id",
                                              broadcast=broadcast).collect()}
            assert got == want, (pred, broadcast, sorted(got ^ want)[:5])


def test_spatial_join_plan_is_broadcast_no_pages_shuffle(spark):
    """Plan guard: the covers side must broadcast — the points side of the
    join never shuffles (the engine's core scale property)."""
    import io
    from contextlib import redirect_stdout

    import pandas as pd

    from shapely_spark.spark.join import spatial_join
    from shapely_spark.spark.pages import regions_df, synth_regions

    pts = spark.createDataFrame(
        pd.DataFrame({"url": ["a", "b"], "lat": [40.7, 51.5], "lon": [-74.0, -0.1]})
    )
    rdf = regions_df(spark, synth_regions(20, seed=42))
    plan = spatial_join(pts, rdf)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # no sort-merge/shuffled-hash join of the points side
    assert "SortMergeJoin" not in plan


def test_clustered_write_prunes_partitions(spark, tmp_path):
    """Cell-prefix partitioning must surface as Catalyst PartitionFilters:
    a small cell-range query may not even open files outside its region."""
    from pyspark.sql import functions as F

    from shapely_spark.spark.extract import with_geo
    from shapely_spark.spark.pages import (
        read_pages_cell_range,
        synth_pages,
        write_pages_clustered,
    )

    path = str(tmp_path / "clustered")
    pages = with_geo(synth_pages(spark, 20000)).select("url", "lat", "lon", "cell_id")
    write_pages_clustered(pages, path, prefix_shift=12)

    # pick a populated cell range (one prefix bucket)
    some = pages.where(F.col("cell_id") >= 0).select("cell_id").first()[0]
    lo = (some >> 12) << 12
    hi = lo + (1 << 12) - 1
    q = read_pages_cell_range(spark, path, lo, hi, prefix_shift=12)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "cell_prefix" in plan.split("PartitionFilters", 1)[1][:400]
    # correctness: matches an unpruned filter over the same range
    full = spark.read.parquet(path).where(
        (F.col("cell_id") >= lo) & (F.col("cell_id") <= hi))
    assert q.count() == full.count() > 0


def test_salted_join_pattern_matches_plain_join(spark):
    """The documented hot-cell skew remedy (SURVEY §2.9): salt the big side
    by a per-row unique column, explode the small side across all salts,
    join on (key, salt) — result set identical to the plain join while no
    single task owns a whole hot key."""
    from pyspark.sql import functions as F

    from shapely_spark.spark.columns import salt_col

    SALTS = 8
    # 10k rows, 90% in one hot cell
    big = spark.range(10_000).select(
        F.col("id").alias("row_id"),
        F.when(F.col("id") % 10 < 9, F.lit(42)).otherwise(F.col("id") % 100).alias("cell"),
    )
    small = spark.range(100).select(
        F.col("id").alias("cell"), (F.col("id") * 7).alias("payload"))

    plain = big.join(small, "cell")
    salted_big = big.withColumn("salt", salt_col(F.col("row_id"), SALTS))
    salted_small = small.withColumn(
        "salt", F.explode(F.array(*[F.lit(s) for s in range(SALTS)])))
    salted = salted_big.join(salted_small, ["cell", "salt"])

    assert salted.count() == plain.count()
    a = {(r.row_id, r.payload) for r in plain.collect()}
    b = {(r.row_id, r.payload) for r in salted.collect()}
    assert a == b
    # the salt actually splits the hot key
    per_salt = (salted_big.where(F.col("cell") == 42)
                .groupBy("salt").count().collect())
    assert len(per_salt) == SALTS


def test_spatial_join_geom_shuffle_mode_matches_broadcast(spark):
    """broadcast=False (right WKB rides the cell-cover join, no driver
    collect) must produce identical pairs to the broadcast path."""
    import pandas as pd

    from shapely_spark.geo.geom import regular_ngon
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom
    from shapely_spark.spark.pages import regions_df, synth_regions

    right = regions_df(spark, synth_regions(25, seed=11))
    lgeoms = []
    for i in range(80):
        hy, hx = (40.71, -74.00) if i % 2 else (51.51, -0.13)
        g = regular_ngon(hx + (i % 9) * 0.25 - 1.0, hy + (i % 5) * 0.25 - 0.5,
                         0.1 + (i % 4) * 0.07, 4 + i % 5, theta0=i * 0.7)
        lgeoms.append((i, g))
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": [i for i, _ in lgeoms],
                      "wkb": [to_wkb(g) for _, g in lgeoms]}),
        "left_id long, wkb binary",
    )
    a = {(r.left_id, r.region_id)
         for r in spatial_join_geom(left, right, left_id="left_id").collect()}
    b = {(r.left_id, r.region_id)
         for r in spatial_join_geom(left, right, left_id="left_id",
                                    broadcast=False).collect()}
    assert a == b and len(a) > 0


def test_coverage_simplify_grouped(spark):
    """Grouped coverage simplify: within each key the shared wiggly edge is
    simplified identically on both sides (edge-matched output), groups are
    independent."""
    import pandas as pd

    from shapely_spark.geo import coverage_is_valid, from_wkt, from_wkb
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.overlay_ops import coverage_simplify_grouped

    p1 = from_wkt("POLYGON ((0 0, 2 0, 2 0.9, 2.05 1.0, 2 1.1, 2 2, 0 2, 0 0))")
    p2 = from_wkt("POLYGON ((2 0, 4 0, 4 2, 2 2, 2 1.1, 2.05 1.0, 2 0.9, 2 0))")
    rows = []
    for grp in (0, 1):
        rows.append((grp, 0, to_wkb(p1)))
        rows.append((grp, 1, to_wkb(p2)))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["grp", "gid", "wkb"]),
        "grp int, gid int, wkb binary",
    )
    out = coverage_simplify_grouped(df, "grp", "gid", tolerance=0.2).collect()
    assert len(out) == 4
    for grp in (0, 1):
        gs = sorted((r for r in out if r.grp == grp), key=lambda r: r.gid)
        s1, s2 = (from_wkb(bytes(r.wkb)) for r in gs)
        assert coverage_is_valid([s1, s2])
        assert abs((K.area(s1) + K.area(s2)) - 8.0) < 1e-9
        assert len(s1.rings[0]) < len(p1.rings[0])


def test_rect_pred_col_matches_scalar_kernels(spark):
    """The closed-form rect×rect Catalyst predicate (the only path a pair
    of axis-aligned rectangles takes in spatial_join_geom) must agree with
    the exact scalar kernels for every supported predicate on every
    adversarial configuration: corner touch, shared edge, partial shared
    edge, containment sharing a boundary, equality, interior containment,
    partial overlap, disjoint. crosses is False for every pair."""
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import box
    from shapely_spark.spark.join import _GEOM_JOIN_PREDICATES, _rect_pred_col

    pairs = [
        ((0, 0, 2, 2), (2, 2, 4, 4)),      # corner touch
        ((0, 0, 2, 2), (2, 0, 4, 2)),      # full shared edge
        ((0, 0, 4, 2), (2, 0, 6, 2)),      # overlap along a shared edge line
        ((0, 0, 4, 1), (4, 0.5, 6, 2)),    # partial shared-edge segment
        ((0, 0, 4, 4), (1, 1, 3, 3)),      # interior containment
        ((0, 0, 4, 4), (0, 0, 2, 4)),      # containment sharing boundary
        ((0, 0, 2, 4), (0, 0, 4, 4)),      # the same, reversed
        ((0, 0, 2, 2), (0, 0, 2, 2)),      # equal
        ((0, 0, 1, 1), (3, 3, 4, 4)),      # disjoint
        ((0, 0, 3, 3), (2, 2, 5, 5)),      # partial overlap
    ]
    cols = ["__lx", "__ly", "__lx2", "__ly2", "__rx", "__ry", "__rx2", "__ry2"]
    df = spark.createDataFrame(
        [(k, *map(float, a), *map(float, b)) for k, (a, b) in enumerate(pairs)],
        ["k"] + cols)
    preds = sorted(_GEOM_JOIN_PREDICATES)
    rows = df.select("k", *[_rect_pred_col(p).alias(p) for p in preds]) \
        .orderBy("k").collect()
    for p in preds:
        got = [bool(r[p]) for r in rows]
        fn = getattr(K, p)
        want = [bool(fn(box(*a), box(*b))) for a, b in pairs]
        assert got == want, (p, got, want)
    assert not any(r["crosses"] for r in rows)


def test_spatial_join_geom_mixed_rects_and_ngons(spark):
    """Mixed batch: rect×rect pairs ride the closed-form JVM path while
    pairs with an n-gon on either side take the grouped refine
    (group_predicate) — output must equal the O(n²) oracle for both."""
    import pandas as pd

    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import box, regular_ngon
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom
    from shapely_spark.spark.pages import regions_df, synth_regions

    rng_regions = synth_regions(25, seed=13)
    right = regions_df(spark, rng_regions)
    lgeoms = []
    for i in range(100):
        hy, hx = (40.71, -74.00) if i % 2 else (51.51, -0.13)
        x = hx + (i % 9) * 0.25 - 1.0
        y = hy + (i % 5) * 0.25 - 0.5
        if i % 3:
            g = box(x, y, x + 0.3 + (i % 4) * 0.1, y + 0.2 + (i % 3) * 0.1)
        else:
            g = regular_ngon(x, y, 0.2, 5 + i % 4, theta0=i * 0.7)
        lgeoms.append((i, g))
    left = spark.createDataFrame(
        pd.DataFrame({"left_id": [i for i, _ in lgeoms],
                      "wkb": [to_wkb(g) for _, g in lgeoms]}),
        "left_id long, wkb binary",
    )
    for pred in ["intersects", "within"]:
        got = {(r.left_id, r.region_id)
               for r in spatial_join_geom(left, right, left_id="left_id",
                                          predicate=pred).collect()}
        fn = getattr(K, pred)
        want = {(i, rid) for i, lg in lgeoms
                for rid, name, rg, kind in rng_regions
                if not rg.is_empty and fn(lg, rg)}
        assert got == want, pred


def test_ragged_layer_matches_prepared_classify():
    """RaggedPolygonLayer.classify_many (the point-join refine kernel) must
    be bit-identical to points_in_rings_class over each region's rings —
    the classifier the layer is built on — over the full region zoo:
    interior/boundary/exterior, exact corner and edge hits, empties, holed
    and multi polygons, both layer layouts, and the same layer keyed by
    negative, sparse and >2^62 ids (unknown ids classify exterior)."""
    from shapely_spark.geo.geom import GEOMETRYCOLLECTION, MULTIPOLYGON, POLYGON
    from shapely_spark.geo.kernels import (
        RaggedPolygonLayer, bounds, points_in_rings_class)

    def rings_of(g):
        if g.is_empty:
            return []
        polys = [g] if g.type_id == POLYGON else (
            [p for p in g.parts or [] if p.type_id == POLYGON]
            if g.type_id in (MULTIPOLYGON, GEOMETRYCOLLECTION) else [])
        return [np.asarray(r)[:, :2] for p in polys for r in p.rings]

    def remap(r):  # negative, sparse and huge ids, all distinct
        return (r - 300) * 1_000_003 + (2**62 if r % 3 == 0 else 0)

    for layout in ("hotspot", "uniform", "sparse"):
        regions = synth_regions(600, seed=7,
                                layout="hotspot" if layout == "sparse" else layout)
        geoms = {rid: g for rid, _, g, _ in regions}
        key = remap if layout == "sparse" else (lambda r: r)
        layer = RaggedPolygonLayer({key(r): g for r, g in geoms.items()})
        rng = np.random.RandomState(0)
        rids = rng.randint(0, 600, 5000).astype(np.int64)
        px = np.zeros(len(rids))
        py = np.zeros(len(rids))
        for i, r in enumerate(rids):
            if geoms[r].is_empty:
                continue
            bb = bounds(geoms[r])
            u = rng.uniform()
            if u < 0.1:  # exact corner → boundary for boxes
                px[i], py[i] = bb[0], bb[1]
            elif u < 0.2:  # exact bbox-edge midpoint
                px[i], py[i] = (bb[0] + bb[2]) / 2, bb[1]
            else:
                px[i] = rng.uniform(bb[0] - 0.2, bb[2] + 0.2)
                py[i] = rng.uniform(bb[1] - 0.2, bb[3] + 0.2)
        ids = np.array([key(int(r)) for r in rids], dtype=np.int64)
        got = layer.classify_many(ids, px, py)
        exp = np.zeros(len(rids), dtype=np.int8)
        for r in np.unique(rids):
            m = rids == r
            exp[m] = points_in_rings_class(px[m], py[m], rings_of(geoms[r]))
        assert (got == exp).all(), layout
        # all three classes must actually occur for the test to mean anything
        assert set(np.unique(got)) == {0, 1, 2}
        # an id the layer does not hold is exterior, never another region
        missing = ids + (1 if layout == "sparse" else 600)
        assert not layer.classify_many(missing, px, py).any()


def test_group_intersects_matches_scalar_fuzz():
    """kernels.group_intersects (the r4 vectorized non-rect pair refine)
    agrees with the scalar intersects kernel over a mixed fuzz batch:
    rotated n-gons, segments, points, gapped multipolygons, None, plus
    exact vertex-touch constructions."""
    from shapely_spark.geo import kernels as K
    from shapely_spark.geo.geom import (
        box, linestring, multipolygon, point, polygon, regular_ngon,
    )

    rng = np.random.RandomState(7)
    for rgeom in (
        regular_ngon(0, 0, 3.0, 7, 0.3),
        linestring([[-4, -4], [4, 4], [6, -2]]),
        multipolygon([box(-3, -3, -1, -1), box(1, 1, 3, 3)]),
    ):
        lefts = []
        for i in range(300):
            kind = i % 4
            cx, cy = rng.uniform(-8, 8, 2)
            if kind == 0:
                lefts.append(regular_ngon(cx, cy, rng.uniform(0.2, 4),
                                          int(rng.randint(3, 9)),
                                          rng.uniform(0, 3)))
            elif kind == 1:
                dx, dy = rng.uniform(-5, 5, 2)
                lefts.append(linestring([[cx, cy], [cx + dx, cy + dy]]))
            elif kind == 2:
                lefts.append(point(cx, cy))
            else:
                lefts.append(multipolygon([
                    box(cx, cy, cx + 1, cy + 1),
                    box(cx + 6, cy + 6, cx + 7, cy + 7)]))
        lefts[7] = None
        # exact touch: a triangle sharing exactly one right vertex
        rv = rgeom.all_coords()[0]
        lefts.append(polygon([[rv[0], rv[1]], [rv[0] + 9, rv[1] + 9],
                              [rv[0] + 10, rv[1] + 8], [rv[0], rv[1]]]))
        got = K.group_intersects(lefts, rgeom)
        want = np.array([False if g is None else K.intersects(g, rgeom)
                         for g in lefts])
        assert (got == want).all(), np.flatnonzero(got != want)[:5]
        assert want.any() and not want.all()


def test_geom_join_rect_branch_has_no_udf(spark):
    """When both sides are axis-aligned rectangles the pair predicate
    evaluates JVM-side: rect×rect rows feed NULL into the single refine
    UDF, so the one-scan plan carries exactly one ArrowEvalPython node,
    and the answer still matches brute force."""
    from shapely_spark.geo.geom import box
    from shapely_spark.geo.wkb import to_wkb
    from shapely_spark.spark.join import spatial_join_geom

    lrows = [(i, to_wkb(box(i * 3.0, 0.0, i * 3.0 + 4.0, 4.0)))
             for i in range(40)]
    rrows = [(j, to_wkb(box(j * 5.0, 2.0, j * 5.0 + 5.0, 8.0)))
             for j in range(20)]
    left = spark.createDataFrame(lrows, "left_id long, wkb binary")
    right = spark.createDataFrame(rrows, "region_id long, wkb binary")
    out = spatial_join_geom(left, right, predicate="intersects",
                            left_id="left_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one plan, one refine UDF (rect rows reach it NULL-fed)
    assert plan.count("ArrowEvalPython") == 1
    got = {(r.left_id, r.region_id) for r in out.collect()}
    want = {
        (i, j)
        for i in range(40) for j in range(20)
        if i * 3.0 <= j * 5.0 + 5.0 and j * 5.0 <= i * 3.0 + 4.0
        and 0.0 <= 8.0 and 2.0 <= 4.0
    }
    assert got == want


def test_geom_join_rejects_disjoint_predicate(spark):
    from shapely_spark.spark.join import spatial_join_geom

    df = spark.createDataFrame([(0, None)], "left_id long, wkb binary")
    with pytest.raises(ValueError, match="disjoint"):
        spatial_join_geom(df, df, predicate="disjoint")
