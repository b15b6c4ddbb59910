"""Round-2 operator tests: exact kNN termination, Hamming near-dup,
intersection-geometry join."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.functions import geometry as G
from gdal_spark.operators import dedup
from gdal_spark.operators.knn import knn_join


def test_knn_exact_with_isolated_far_point(spark):
    """Worst-case spacing: a query in one corner, its nearest sites
    across the grid. The old best-effort final round silently returned
    wrong/NULL neighbors here; the exact pending × all-sites round
    must return the true top-k for ANY max_rounds."""
    queries = spark.createDataFrame([(1, -179.0, -84.0)], "pt_id long, lon double, lat double")
    sites = spark.createDataFrame(
        [(10, 179.0, 84.0), (11, 170.0, 80.0), (12, 0.0, 0.0)],
        "site_id long, lon double, lat double",
    )
    for max_rounds in (1, 2, 6):
        out = knn_join(queries, sites, k=2, max_rounds=max_rounds).collect()
        got = sorted((r.site_id, r.rank) for r in out)
        # true distances: site 12 (~197.6), 11 (~384.3), 10 (~395.2)
        assert got == [(11, 2), (12, 1)], (max_rounds, got)


def test_knn_zero_sites_in_first_rings(spark):
    """Sites exist but far outside every early ring: still exact."""
    queries = spark.createDataFrame(
        [(i, float(i), 0.0) for i in range(5)], "pt_id long, lon double, lat double"
    )
    sites = spark.createDataFrame([(99, 150.0, 70.0)], "site_id long, lon double, lat double")
    out = knn_join(queries, sites, k=1).collect()
    assert len(out) == 5
    assert all(r.site_id == 99 and r.rank == 1 for r in out)


def test_hamming_neardup_guarantee(spark):
    """Band-join must find exactly the distinct-sig pairs within the
    pigeonhole guarantee (bands-1)."""
    rows = [
        (1, 0b0000),             # baseline
        (2, 0b0001),             # hamming 1 from sig 0
        (3, 0b0001),             # duplicate signature (clusters)
        (4, 0b111100001111000),  # far away
    ]
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    pairs = dedup.hamming_neardup_pairs(df, "doc_id", "sig", bits=64, bands=4, max_hamming=3)
    got = {(r.sig_a, r.sig_b): (r.hamming, r.n_a, r.n_b) for r in pairs.collect()}
    assert got == {(0, 1): (1, 1, 2)}
    import pytest

    with pytest.raises(ValueError):
        dedup.hamming_neardup_pairs(df, "doc_id", "sig", bands=4, max_hamming=5)


def test_signature_clusters(spark):
    df = spark.createDataFrame(
        [("a", 7), ("b", 7), ("c", 9)], "image_id string, phash long"
    )
    got = {r.phash: (r.keep_id, r.n) for r in dedup.signature_clusters(df, "image_id", "phash").collect()}
    assert got == {7: ("a", 2), 9: ("c", 1)}


def test_intersection_join_emits_clipped_geometry(spark):
    from gdal_spark.operators.spatial_join import spatial_intersection_join

    left = spark.createDataFrame(
        [("L1", 0.0, 0.0, 10.0, 10.0)],
        "id string, lon_min double, lat_min double, lon_max double, lat_max double",
    )
    # a triangle poking into the box: (5,5) (12,5) (5,12)
    tri = G.wkb_polygon([[(5, 5), (12, 5), (5, 12), (5, 5)]])
    polys = spark.createDataFrame(
        [(7, 5.0, 5.0, 12.0, 12.0, bytearray(tri))],
        "poly_id long, lon_min double, lat_min double, lon_max double, lat_max double, geom binary",
    )
    out = spatial_intersection_join(left, polys).collect()
    assert len(out) == 1
    r = out[0]
    # triangle ∩ box [0,10]² = {x,y ∈ [5,10], x+y ≤ 17}
    # = 5×5 square minus the corner triangle past x+y=17 (legs 3)
    # = 25 − 4.5 = 20.5
    g = G.parse_wkb(bytes(r.int_geom))
    assert abs(r.int_area - G.geom_area(g)) < 1e-12
    assert abs(r.int_area - 20.5) < 1e-9


def test_write_tiles_iceberg_gate_falls_back(spark, tmp_path):
    """No Iceberg catalog in this sandbox: the gated sink must detect
    that and use the parquet partitionBy(z) layout, which is also the
    resume record."""
    import os

    from gdal_spark.plans.inspect import assert_column_pruned
    from gdal_spark.raster import tiler

    assert tiler.iceberg_available(spark) is False
    rows = [(12, 1, 2, 1, 4093, "q", bytes(b"png"), 7, 1)]
    tiles = spark.createDataFrame(
        rows,
        "z int, tx int, ty int, x int, y int, quadkey string, tile binary, checksum int, n_srcs int",
    )
    out = str(tmp_path / "ice_out")
    assert tiler.written_tiles(spark, out) is None  # nothing written yet
    os.makedirs(f"{out}/tiles/_temporary")  # a first commit cut short
    assert tiler.written_tiles(spark, out) is None
    info = tiler.write_tiles(spark, tiles, out, iceberg_table="iceberg.db.tiles")
    assert info["n_tiles"] == 1
    assert spark.read.parquet(f"{out}/tiles").count() == 1
    done = tiler.written_tiles(spark, out)
    assert done.columns == ["z", "tx", "ty"]
    assert_column_pruned(done, "tile")  # resume reads no tile bytes
    assert [tuple(r) for r in done.collect()] == [(12, 1, 2)]


def test_delaunay_and_tin_plane_exact():
    """Triangulating samples of a plane must reproduce the plane
    exactly (barycentric interpolation is linear-exact)."""
    import numpy as np

    from gdal_spark.operators.tin import delaunay, tin_interpolate_grid

    # unit square -> 2 triangles
    sq = np.array([(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)])
    tris = delaunay(sq)
    assert len(tris) == 2
    assert {i for t in tris for i in t} == {0, 1, 2, 3}

    rng = np.random.default_rng(11)
    sites = rng.uniform(0, 10, (60, 2))
    vals = 3.0 * sites[:, 0] - 2.0 * sites[:, 1] + 7.0  # a plane
    gx, gy, out = tin_interpolate_grid(sites, vals, (0, 0, 10, 10), 20, 20)
    assert len(out) > 200  # most of the hull interior covered
    qx = 0 + (gx + 0.5) * 0.5
    qy = 0 + (gy + 0.5) * 0.5
    assert np.abs(out - (3.0 * qx - 2.0 * qy + 7.0)).max() < 1e-9


def test_grid_linear_site_guard(spark):
    """Beyond the broadcast-TIN bound grid_linear must refuse loudly
    (round-2 verdict item 10) instead of collecting 10^8 sites to the
    driver; under the bound it works."""
    import pytest

    from gdal_spark.operators.tin import grid_linear

    pts = spark.range(20).selectExpr(
        "cast(id % 5 as double) as lon",
        "cast(id div 5 as double) as lat",
        "cast(id as double) as v",
    )
    with pytest.raises(ValueError, match="broadcast-TIN bound"):
        grid_linear(spark, pts, "v", (0, 0, 5, 4), 8, 8, max_sites=10)
    out = grid_linear(spark, pts, "v", (0, 0, 5, 4), 8, 8)
    assert out.count() > 0


def test_median_cut_and_dither():
    import numpy as np

    from gdal_spark.raster.palette import dither_fs, map_nearest, median_cut

    # 4 distinct colors -> palette recovers them exactly at n>=4
    arr = np.zeros((8, 8, 3), np.uint8)
    arr[:4, :4] = (255, 0, 0)
    arr[:4, 4:] = (0, 255, 0)
    arr[4:, :4] = (0, 0, 255)
    arr[4:, 4:] = (255, 255, 0)
    pal = median_cut(arr, 4)
    assert len(pal) == 4
    assert {tuple(p) for p in pal} == {(255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 0)}
    idx = map_nearest(arr, pal)
    assert (pal[idx] == arr).all()  # exact colors -> lossless mapping
    d = dither_fs(arr, pal)
    assert (pal[d] == arr).all()  # zero error -> dither is identity
    # gradient dithered with a 2-color palette: mean preserved roughly
    g = np.tile(np.linspace(0, 255, 64, dtype=np.uint8)[None, :, None], (16, 1, 3))
    pal2 = np.array([[0, 0, 0], [255, 255, 255]], np.uint8)
    dd = dither_fs(g, pal2)
    mean_err = abs(float(pal2[dd].mean()) - float(g.mean()))
    assert mean_err < 3.0  # error diffusion preserves average intensity


def test_saved_plan_roundtrip(spark):
    from gdal_spark.plans import saved

    spec = saved.make_spec(
        "parquet:nation",
        [
            {"op": "filter", "expr": "n_nationkey < 10"},
            {"op": "with_column", "name": "k2", "expr": "n_nationkey * 2"},
            {"op": "select", "exprs": ["n_nationkey", "k2"]},
            {"op": "sort", "cols": [{"col": "n_nationkey", "desc": True}]},
            {"op": "limit", "n": 3},
        ],
    )
    text = saved.dumps(spec)
    df = saved.apply_plan(spark, "/root/testdata/sf0.001", saved.loads(text))
    rows = [(r.n_nationkey, r.k2) for r in df.collect()]
    assert rows == [(9, 18), (8, 16), (7, 14)]
    import pytest

    with pytest.raises(ValueError):
        saved.loads('{"type": "other"}')

def test_grid_linear_cells_matches_broadcast(spark):
    """The distributed per-cell TIN (one-ring halo + circumcircle
    certification) must reproduce the broadcast TIN exactly on a
    jittered site set: every certified local triangle is a global
    Delaunay triangle (empty-circle argument), and on this density
    every pixel certifies."""
    import numpy as np

    from gdal_spark.operators.tin import grid_linear, grid_linear_cells

    rng = np.random.default_rng(42)
    g = 12
    xs = np.linspace(0, 10, g)
    pts = []
    for i, x in enumerate(xs):
        for j, y in enumerate(np.linspace(0, 8, g)):
            jx = 0.0 if i in (0, g - 1) else float(rng.uniform(-0.3, 0.3))
            jy = 0.0 if j in (0, g - 1) else float(rng.uniform(-0.2, 0.2))
            pts.append((float(x + jx), float(y + jy), float(np.sin(x) + y * 0.1)))
    df = spark.createDataFrame(pts, "lon double, lat double, v double")
    bounds = (0.0, 0.0, 10.0, 8.0)
    a = {
        (r.gx, r.gy): r.value
        for r in grid_linear(spark, df, "v", bounds, 20, 16).collect()
    }
    rows = grid_linear_cells(
        spark, df, "v", bounds, 20, 16, cells_x=4, cells_y=4
    ).collect()
    b = {(r.gx, r.gy): r.value for r in rows}
    assert all(r.certified for r in rows)
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12, (k, a[k], b[k])


def test_grid_linear_cells_plane_exact(spark):
    """Sites on a plane -> every interpolated pixel equals the plane
    value regardless of triangulation (the gdalgrid linear invariant)."""
    import numpy as np

    from gdal_spark.operators.tin import grid_linear_cells

    pts = [
        (float(x), float(y), float(2.0 * x - 0.5 * y + 3.0))
        for x in np.linspace(0, 6, 7)
        for y in np.linspace(0, 6, 7)
    ]
    df = spark.createDataFrame(pts, "lon double, lat double, v double")
    rows = grid_linear_cells(
        spark, df, "v", (0.0, 0.0, 6.0, 6.0), 12, 12, cells_x=3, cells_y=3
    ).collect()
    assert len(rows) == 144
    for r in rows:
        px = (r.gx + 0.5) * 0.5
        py = (r.gy + 0.5) * 0.5
        assert abs(r.value - (2.0 * px - 0.5 * py + 3.0)) < 1e-9
        assert r.certified


def test_pct2rgb_exact_when_palette_covers():
    """pct2rgb (osgeo_utils/pct2rgb.py): expansion is the palette LUT;
    if the source has ≤ n_colors distinct colors the rgb2pct→pct2rgb
    round trip is lossless."""
    import numpy as np

    from gdal_spark.raster.palette import (
        map_nearest,
        median_cut,
        palette_expand,
    )

    rng = np.random.default_rng(9)
    pal_true = rng.integers(0, 255, (8, 3), dtype=np.uint8)
    idx_true = rng.integers(0, 8, (20, 30))
    arr = pal_true[idx_true]
    pal = median_cut(arr, 16)
    rgb = palette_expand(map_nearest(arr, pal), pal)
    assert np.array_equal(rgb, arr)
