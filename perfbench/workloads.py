"""The benchmark's workloads: seeded inputs, the checked calls of one
pass, and the layer prefixes of a traced pass.

Inputs are generated from the seed with NumPy and written to parquet (the
pixel table is encoded by the engine's own ``synth.images``). Passes read
that parquet and call only public engine functions.
"""

from __future__ import annotations

import os
import shutil
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import oracles

TILE_ZOOM = 12
# files per input table: one scan partition per local core
FILES = len(os.sched_getaffinity(0))


def _write_table(cols: dict, path: str) -> None:
    """Write ``cols`` as ``FILES`` parquet files under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    n = len(next(iter(cols.values())))
    bounds = np.linspace(0, n, FILES + 1).astype(int)
    for k in range(FILES):
        a, b = bounds[k], bounds[k + 1]
        if b > a:
            pq.write_table(
                pa.table({c: v[a:b] for c, v in cols.items()}),
                f"{path}/part-{k:03d}.parquet",
            )


def _footprint_cols(ids: np.ndarray, lon: np.ndarray, lat: np.ndarray) -> dict:
    """0.01-degree image footprints centred on (lon, lat)."""
    return {
        "image_id": ids.astype(np.int64),
        "lon": lon,
        "lat": lat,
        "lon_min": lon - 0.005,
        "lat_min": lat - 0.005,
        "lon_max": lon + 0.005,
        "lat_max": lat + 0.005,
    }


def _wkb_polygon(ring: np.ndarray) -> bytes:
    """Little-endian WKB of a one-ring polygon (``ring`` closed, (n, 2))."""
    return struct.pack("<BIII", 1, 3, 1, len(ring)) + ring.astype("<f8").tobytes()


def _digest_call(df, cols):
    return lambda: oracles.spark_digest(df, cols)


class Workload:
    name = ""
    why = ""
    # warm passes per run at least, whatever --seconds says
    WARM_PASSES = 2

    def generate(self, rng: np.random.Generator, d: str) -> int:
        """Write the inputs under ``d``; return the number of image rows."""
        raise NotImplementedError

    def expected(self, d: str) -> dict:
        """Oracle digest of every checked call."""
        raise NotImplementedError

    def calls(self, spark, d: str, scratch: str) -> list:
        """``[(span, fn)]`` of one pass; ``fn()`` returns the output digest."""
        raise NotImplementedError

    def layers(self, spark, d: str, scratch: str) -> list:
        """``[(span, parent, fn)]`` plan prefixes, shortest first; ``fn()``
        materialises the prefix and returns its row count."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# join_tiles
# ---------------------------------------------------------------------------


def _star(rng, cx: float, cy: float) -> np.ndarray:
    """Closed star ring of 8-64 vertices around (cx, cy): alternating
    outer/inner radii on monotone angles, so the ring is simple."""
    k = 2 * int(rng.integers(4, 33))
    r0 = rng.uniform(0.4, 1.2)
    ang = (np.arange(k) + rng.uniform(-0.3, 0.3, k)) * (2 * np.pi / k) + rng.uniform(0, 2 * np.pi)
    rad = np.where(np.arange(k) % 2 == 0, rng.uniform(0.8, 1.2, k), rng.uniform(0.3, 0.6, k)) * r0
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return np.vstack([ring, ring[:1]])


def _polygon_table(rings: list, path: str) -> None:
    _write_table(
        {
            "poly_id": np.arange(len(rings), dtype=np.int64),
            "lon_min": np.array([r[:, 0].min() for r in rings]),
            "lat_min": np.array([r[:, 1].min() for r in rings]),
            "lon_max": np.array([r[:, 0].max() for r in rings]),
            "lat_max": np.array([r[:, 1].max() for r in rings]),
            "geom": [_wkb_polygon(r) for r in rings],
        },
        path,
    )


class JoinTiles(Workload):
    """Two joins in one pass.

    Rectangles: ``N`` uniform footprints joined with 25 axis-aligned AOIs
    (a jittered 5x4 grid with gaps, four small boxes, one oversized hot box),
    then their z12 tile cover. Every refine candidate is a hit.

    Stars: ``N_POLY`` footprints over a region, ``HOT_SHARE`` of them packed
    into one z7 cell, joined with ``POLYS`` star polygons (``HOT_POLYS`` of
    them over the hot cell); then point-in-polygon on the footprint centres,
    without and with hot-cell salting. The refine drops about half of its
    candidates.
    """

    name = "join_tiles"
    # each call's median over three drops a stall that hits it in one pass;
    # with two, the run-to-run spread of wall_s grew from 9% to 12% (IQR /
    # median, ten seeds, 4 vCPU host)
    WARM_PASSES = 3
    why = (
        "paper headline (rect AOI join + z12 tiles, refine keeps every candidate) "
        "beside star AOIs over a hot z7 cell (refine keeps ~half; PIP +/- salting)"
    )
    N = 60_000
    N_POLY = 2_000
    POLYS = 2_000
    HOT_SHARE = 0.2
    HOT_POLYS = 40
    SALT = 8
    REGION = (-40.0, -25.0, 40.0, 25.0)

    def generate(self, rng, d):
        from gdal_spark.functions.tile_math import GlobalMercator

        lon = rng.uniform(-179.5, 179.5, self.N)
        lat = rng.uniform(-84.5, 84.5, self.N)
        _write_table(_footprint_cols(np.arange(self.N), lon, lat), f"{d}/fp")
        boxes = []
        for k in range(20):
            x0 = -180.0 + (k % 5) * 72.0 + 9.0 + rng.uniform(-6, 6)
            y0 = -84.0 + (k // 5) * 42.0 + 6.0 + rng.uniform(-4, 4)
            boxes.append((x0, y0, x0 + 54.0, y0 + 30.0))
        for _ in range(4):
            x0, y0 = rng.uniform(-170, 160), rng.uniform(-80, 70)
            boxes.append((x0, y0, x0 + 8.0, y0 + 10.0))
        cx, cy = rng.uniform(-10, 10), rng.uniform(-5, 5)
        boxes.append((cx - 60.0, cy - 30.0, cx + 60.0, cy + 30.0))
        _polygon_table(
            [np.array([(a, b), (c, b), (c, e), (a, e), (a, b)]) for a, b, c, e in boxes], f"{d}/aoi"
        )

        x0, y0, x1, y1 = self.REGION
        n_hot = int(self.N_POLY * self.HOT_SHARE)
        lon = rng.uniform(x0, x1, self.N_POLY)
        lat = rng.uniform(y0, y1, self.N_POLY)
        m = GlobalMercator()
        tx, ty = m.LatLonToTile(rng.uniform(y0 + 5, y1 - 5), rng.uniform(x0 + 5, x1 - 5), 7)
        s, w, n, e = m.TileLatLonBounds(tx, ty, 7)
        lon[:n_hot] = rng.uniform(w + 0.01, e - 0.01, n_hot)
        lat[:n_hot] = rng.uniform(s + 0.01, n - 0.01, n_hot)
        # rows in random order: the hot cell is skew in the join key, not in
        # the file layout
        perm = rng.permutation(self.N_POLY)
        _write_table(_footprint_cols(np.arange(self.N_POLY), lon[perm], lat[perm]), f"{d}/fp_poly")
        centres = [(rng.uniform(x0, x1), rng.uniform(y0, y1)) for _ in range(self.POLYS - self.HOT_POLYS)]
        centres += [(rng.uniform(w, e), rng.uniform(s, n)) for _ in range(self.HOT_POLYS)]
        _polygon_table([_star(rng, a, b) for a, b in centres], f"{d}/stars")
        return self.N + self.N_POLY

    def expected(self, d):
        fp = pq.read_table(f"{d}/fp_poly").to_pydict()
        stars = pq.read_table(f"{d}/stars", columns=["poly_id", "geom"]).to_pydict()
        rings = [
            (pid, np.frombuffer(g, "<f8", offset=13).reshape(-1, 2))
            for pid, g in zip(stars["poly_id"], stars["geom"])
        ]
        poly_bbox, pip = oracles.polygon_joins_digest(fp, rings)
        return {
            "spatial_join.bbox": oracles.rect_join_digest(f"{d}/fp/*.parquet", f"{d}/aoi/*.parquet"),
            "tiler.assign": oracles.tile_cover_digest(f"{d}/fp/*.parquet", TILE_ZOOM),
            "spatial_join.poly_bbox": poly_bbox,
            "spatial_join.pip": pip,
            "spatial_join.pip_salted": pip,
        }

    def _inputs(self, spark, d):
        bbox = ["image_id", "lon_min", "lat_min", "lon_max", "lat_max"]
        fp = spark.read.parquet(f"{d}/fp")
        fpp = spark.read.parquet(f"{d}/fp_poly")
        return (
            fp, fp.select(*bbox), spark.read.parquet(f"{d}/aoi"),
            fpp.select(*bbox), fpp.select("image_id", "lon", "lat"), spark.read.parquet(f"{d}/stars"),
        )

    def _salted(self, pts, stars):
        from gdal_spark.operators.spatial_join import hot_cells, point_in_polygon_join, with_point_cell

        def run():
            hot = hot_cells(with_point_cell(pts), threshold=self.N_POLY // 100)
            return point_in_polygon_join(pts, stars, salt=self.SALT, hot=hot)

        return run

    def calls(self, spark, d, scratch):
        from gdal_spark.operators.spatial_join import bbox_intersection_join, point_in_polygon_join
        from gdal_spark.raster import tiler

        fp, boxes, aoi, pboxes, pts, stars = self._inputs(spark, d)
        salted = self._salted(pts, stars)
        key = ["image_id", "poly_id"]
        tile_key = ["image_id", "z", "x", "y", F.crc32(F.col("quadkey").cast("binary"))]
        return [
            ("spatial_join.bbox", _digest_call(bbox_intersection_join(boxes, aoi), key)),
            ("tiler.assign", _digest_call(tiler.assign_tiles(fp, TILE_ZOOM), tile_key)),
            ("spatial_join.poly_bbox", _digest_call(bbox_intersection_join(pboxes, stars), key)),
            ("spatial_join.pip", _digest_call(point_in_polygon_join(pts, stars), key)),
            ("spatial_join.pip_salted", lambda: oracles.spark_digest(salted(), key)),
        ]

    def layers(self, spark, d, scratch):
        from gdal_spark.operators.spatial_join import (
            DEFAULT_ZOOM, bbox_intersection_join, explode_bbox_cells, point_in_polygon_join,
        )
        from gdal_spark.raster import tiler

        fp, boxes, aoi, pboxes, pts, stars = self._inputs(spark, d)
        salted = self._salted(pts, stars)
        return [
            ("scan", None, fp.count),
            ("spatial_join.explode", "scan", explode_bbox_cells(boxes, zoom=DEFAULT_ZOOM).count),
            ("spatial_join.filter", "spatial_join.explode",
             bbox_intersection_join(boxes, aoi, refine=False).count),
            ("spatial_join.refine", "spatial_join.filter", bbox_intersection_join(boxes, aoi).count),
            ("tiler.assign", "scan", tiler.assign_tiles(fp, TILE_ZOOM).count),
            ("scan.poly", None, pboxes.count),
            ("spatial_join.poly_filter", "scan.poly",
             bbox_intersection_join(pboxes, stars, refine=False).count),
            ("spatial_join.poly_refine", "spatial_join.poly_filter",
             bbox_intersection_join(pboxes, stars).count),
            ("spatial_join.pip", "scan.poly", point_in_polygon_join(pts, stars).count),
            ("spatial_join.pip_salted", "scan.poly", lambda: salted().count()),
        ]


# ---------------------------------------------------------------------------
# pixel_pyramid_write
# ---------------------------------------------------------------------------

# ``synth`` places image ``okey`` at lon = -179.5 + (okey*LON_MUL % 359000)/1000
# and lat = -84.5 + (okey*LAT_MUL % 169000)/1000. For okey = 100*m that is a
# 0.1-degree grid cell (m*LON_MUL % 3590, m*LAT_MUL % 1690), and m repeats its
# cell every lcm(3590, 1690) = 606710.
_GRID_W, _GRID_H, _PERIOD = 3590, 1690, 606_710


class PixelPyramidWrite(Workload):
    name = "pixel_pyramid_write"
    why = (
        "png/jpeg/webp images at 64-512 px: header sniff, decode+checksum, z10-12 "
        "pyramid over a partly stacked subset, tile sink; no join layer runs"
    )
    # a third warm pass narrowed neither run-to-run spread here (IQR / median
    # over ten seeds: CPU time 13.3% against 13.2%, wall time 8.7% against
    # 8.1%) and costs 8 s a run
    OTHER = 12           # checksummed only: one per (size, format) class
    CLUSTER_CELLS = 8    # pyramid images stacked on nearby grid cells
    STACK = 3
    SCATTER = 8          # pyramid images scattered over the world

    def _okeys(self, rng) -> np.ndarray:
        from gdal_spark.sources import synth

        # clustered: the CLUSTER_CELLS reachable cells nearest a seeded
        # 1.6-degree block's centre, each holding STACK images
        j0 = int(rng.integers(0, _GRID_W - 16))
        i0 = int(rng.integers(250, 1430))
        m = np.arange(_PERIOD, dtype=np.int64)
        j, i = m * synth.LON_MUL % _GRID_W, m * synth.LAT_MUL % _GRID_H
        inb = (j >= j0) & (j < j0 + 16) & (i >= i0) & (i < i0 + 16)
        near = np.argsort((j[inb] - j0 - 8) ** 2 + (i[inb] - i0 - 8) ** 2, kind="stable")
        cells = m[inb][near[: self.CLUSTER_CELLS]]
        clustered = (cells[:, None] + _PERIOD * np.arange(self.STACK)[None, :]).ravel()
        scattered = rng.choice(np.arange(self.STACK * _PERIOD, 8 * _PERIOD), self.SCATTER, replace=False)
        pyramid = 100 * np.concatenate([clustered, scattered])
        # the others: equal counts of the 12 (okey % 4 size, okey % 3 format)
        # classes, never on the pyramid's okey % 20 lattice
        other = []
        for r in range(12):
            got = 0
            while got < self.OTHER // 12:
                k = 12 * int(rng.integers(1, 20_000_000)) + r
                if k % 20:
                    other.append(k)
                    got += 1
        return np.unique(np.concatenate([pyramid, np.array(other, dtype=np.int64)]))

    def generate(self, rng, d):
        """``orders.parquet`` (the keys, for the golden mirrors) and the
        ``synth.images`` rows of those keys, encoded in this process."""
        from gdal_spark.raster import codec
        from gdal_spark.sources import synth

        okeys = self._okeys(rng)
        os.makedirs(d, exist_ok=True)
        pq.write_table(pa.table({"o_orderkey": okeys}), f"{d}/orders.parquet")
        # synth's footprint rule, in the same IEEE operation order
        lon = -179.5 + (okeys * synth.LON_MUL % 359000) / 1000.0
        lat = -84.5 + (okeys * synth.LAT_MUL % 169000) / 1000.0
        w = np.array([64, 128, 256, 512], dtype=np.int32)[okeys % 4]
        h = np.array([128, 64, 512, 256], dtype=np.int32)[okeys % 4]
        fmt = np.array(["png", "jpeg", "webp"])[okeys % 3]
        ids = [f"img{k:012d}" for k in okeys]
        data, phash = [], []
        for iid, wi, hi, f in zip(ids, w, h, fmt):
            arr = synth.synth_pixels(iid, int(wi), int(hi))
            data.append(codec.encode_image(arr, str(f), compress_level=1))
            phash.append(synth.phash64(arr))
        cols = {
            "image_id": ids, "bytes": data, "w": w, "h": h, "fmt": fmt.tolist(),
            "caption": [f"synthetic scene {k} tags:{k % 17}" for k in okeys],
            "phash": np.array(phash, dtype=np.int64),
            "okey": okeys,
            **{k: v for k, v in _footprint_cols(okeys, lon, lat).items() if k != "image_id"},
        }
        # image rows in random order, so every file mixes sizes and formats
        perm = rng.permutation(len(okeys))
        _write_table(
            {k: (v[perm] if isinstance(v, np.ndarray) else [v[i] for i in perm]) for k, v in cols.items()},
            f"{d}/images",
        )
        return len(okeys)

    def expected(self, d):
        return oracles.pixel_digests(d, f"{d}/images")

    def _inputs(self, spark, d):
        imgs = spark.read.parquet(f"{d}/images")
        return imgs, imgs.filter(F.col("okey") % 100 == 0)

    @staticmethod
    def _sink(spark, pyr, out: str):
        from gdal_spark.raster import tiler

        def run():
            tiler.write_tiles(spark, pyr, out)
            back = spark.read.parquet(f"{out}/tiles")
            dg = oracles.spark_digest(
                back, ["z", "x", "y", F.crc32(F.col("quadkey").cast("binary")), "checksum", "n_srcs"]
            )
            shutil.rmtree(out, ignore_errors=True)
            return dg

        return run

    def calls(self, spark, d, scratch):
        from gdal_spark.operators.info import raster_headers
        from gdal_spark.raster import pipeline, tiler

        imgs, subset = self._inputs(spark, d)
        iid = F.crc32(F.col("image_id").cast("binary"))
        return [
            ("info.headers", _digest_call(
                raster_headers(imgs),
                [iid, F.crc32(F.col("driver").cast("binary")), "width", "height", "bands"],
            )),
            ("pipeline.checksums", _digest_call(
                pipeline.with_checksums(imgs), [iid, "checksum_b0", "checksum_b1", "checksum_b2"]
            )),
            ("tiler.pyramid_write", self._sink(
                spark, tiler.build_pyramid(subset, 10, TILE_ZOOM), f"{scratch}/tiles_out"
            )),
        ]

    def layers(self, spark, d, scratch):
        from gdal_spark.operators.info import raster_headers
        from gdal_spark.raster import pipeline, tiler

        imgs, subset = self._inputs(spark, d)

        def write():
            out = f"{scratch}/tiles_layer"
            shutil.rmtree(out, ignore_errors=True)
            n = tiler.write_tiles(spark, tiler.build_pyramid(subset, 10, TILE_ZOOM), out)["n_tiles"]
            sizes = {
                os.path.join(b, f): os.path.getsize(os.path.join(b, f))
                for b, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
            }
            shutil.rmtree(out, ignore_errors=True)
            return {
                "rows": n,
                "files_written": len(sizes),
                "bytes_written": sum(sizes.values()),
                "tile_bytes": sum(v for p, v in sizes.items() if p.startswith(f"{out}/tiles/")),
            }

        return [
            ("scan", None, imgs.count),
            ("info.headers", "scan", raster_headers(imgs).count),
            ("pipeline.checksums", "scan", pipeline.with_checksums(imgs).count),
            ("scan.subset", None, subset.count),
            ("tiler.base", "scan.subset", lambda: tiler.build_pyramid(subset, TILE_ZOOM, TILE_ZOOM).count()),
            ("tiler.pyramid", "tiler.base", lambda: tiler.build_pyramid(subset, 10, TILE_ZOOM).count()),
            ("tiler.write", "tiler.pyramid", write),
        ]


WORKLOADS = {w.name: w for w in (JoinTiles(), PixelPyramidWrite())}
