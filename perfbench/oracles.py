"""Output oracles that do not run the engine.

Every timed call is checked by comparing a digest of its output with the
digest of the rows an independent computation expects:

- rectangle pairs and the z12 tile cover: DuckDB SQL over the same parquet
  inputs (the gate's ``bbox_join`` / ``tile_assign_z12`` oracle shape);
- polygon refine and point-in-polygon: a NumPy even-odd / edge-crossing
  check written here, over every candidate pair;
- pixels: the single-process mirrors in ``tools/make_golden.py``
  (``g_tile_pyramid``, ``g_raster_checksums``) plus a single-process decode
  of the stored bytes for the images those mirrors do not cover.

A digest is ``(rows, sum h1, sum h2)`` where ``h1``/``h2`` are two integer
hashes of a row's key columns. Spark computes it as one aggregate over the
output (no collect); NumPy computes it over the expected rows with the same
int64 arithmetic, so any dropped, duplicated or altered row changes it.
"""

from __future__ import annotations

import zlib

import numpy as np

# Per-column multipliers and moduli of the two row hashes. Inputs are
# non-negative and below 2**33, so every product stays inside int64 (Spark's
# ANSI mode would raise on overflow rather than wrap).
_P1 = (1000003, 999983, 1000033, 999979, 1000037, 999961, 1000039)
_P2 = (65537, 131071, 524287, 8191, 131, 257, 4099)
_M1 = 2147483647
_M2 = 1000000007


def spark_digest(df, cols: list) -> tuple[int, int, int]:
    """Digest of ``df`` over ``cols`` (Column expressions or names)."""
    from pyspark.sql import functions as F

    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    h1 = sum((c.cast("long") * F.lit(p) for c, p in zip(cs, _P1)), F.lit(0))
    h2 = sum((c.cast("long") * F.lit(p) for c, p in zip(cs, _P2)), F.lit(0))
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h1, F.lit(_M1))).alias("s1"),
        F.sum(F.pmod(h2, F.lit(_M2))).alias("s2"),
    ).collect()[0]
    return int(r.n), int(r.s1 or 0), int(r.s2 or 0)


def np_digest(cols: list) -> tuple[int, int, int]:
    """The same digest over NumPy columns of expected rows."""
    cs = [np.asarray(c, dtype=np.int64) for c in cols]
    n = len(cs[0]) if cs else 0
    h1 = np.zeros(n, dtype=np.int64)
    h2 = np.zeros(n, dtype=np.int64)
    for c, p, q in zip(cs, _P1, _P2):
        h1 += c * p
        h2 += c * q
    return n, int((h1 % _M1).sum()), int((h2 % _M2).sum())


def crc32s(values) -> np.ndarray:
    """CRC-32 of each string, as Spark's ``crc32(col)`` computes it."""
    return np.array([zlib.crc32(str(v).encode()) for v in values], dtype=np.int64)


# ---------------------------------------------------------------------------
# DuckDB: rectangle pairs and the z12 tile cover
# ---------------------------------------------------------------------------

ORIGIN_SHIFT = 20037508.342789244
PI = 3.141592653589793
EARTH_RADIUS = 6378137.0


def _tile_sql(zoom: int) -> tuple[str, str]:
    """DuckDB mercator tile x/y of ``lon_``/``lat_`` at ``zoom`` (gdal2tiles
    arithmetic, same operation order as the engine's column math)."""
    res = repr((2 * PI * EARTH_RADIUS / 256) / (2**zoom))
    mx = f"(lon_ * {ORIGIN_SHIFT!r} / 180.0)"
    my = (
        f"(ln(tan((90.0 + lat_) * {PI!r} / 360.0)) / ({PI!r} / 180.0)"
        f" * {ORIGIN_SHIFT!r} / 180.0)"
    )
    tx = f"CAST(ceil((({mx} + {ORIGIN_SHIFT!r}) / {res}) / 256.0) - 1 AS BIGINT)"
    ty = f"CAST(ceil((({my} + {ORIGIN_SHIFT!r}) / {res}) / 256.0) - 1 AS BIGINT)"
    return tx, ty


def _quadkey(tx: np.ndarray, ty_google: np.ndarray, zoom: int) -> list[str]:
    digits = [
        ((tx >> (i - 1)) & 1) + 2 * ((ty_google >> (i - 1)) & 1)
        for i in range(zoom, 0, -1)
    ]
    return ["".join(map(str, d)) for d in zip(*digits)]


def rect_join_digest(fp_path: str, aoi_path: str) -> tuple[int, int, int]:
    """Expected ``bbox_intersection_join`` pairs of rectangles: closed
    envelope overlap is exact Intersects for axis-aligned boxes."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        t = con.execute(
            f"""SELECT f.image_id, a.poly_id
            FROM read_parquet('{fp_path}') f JOIN read_parquet('{aoi_path}') a
              ON f.lon_min <= a.lon_max AND a.lon_min <= f.lon_max
             AND f.lat_min <= a.lat_max AND a.lat_min <= f.lat_max"""
        ).fetchnumpy()
    finally:
        con.close()
    return np_digest([t["image_id"], t["poly_id"]])


def tile_cover_digest(fp_path: str, zoom: int) -> tuple[int, int, int]:
    """Expected ``tiler.assign_tiles(fp, zoom)`` rows
    ``(image_id, z, x, y_google, crc32(quadkey))``."""
    import duckdb

    tx, ty = _tile_sql(zoom)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        t = con.execute(
            f"""WITH b AS (
              SELECT image_id,
                     {tx.replace('lon_', 'lon_min')} AS txmin,
                     {tx.replace('lon_', 'lon_max')} AS txmax,
                     {ty.replace('lat_', 'lat_min')} AS tymin,
                     {ty.replace('lat_', 'lat_max')} AS tymax
              FROM read_parquet('{fp_path}'))
            SELECT image_id, tx, unnest(range(tymin, tymax + 1)) AS ty
            FROM (SELECT image_id, tymin, tymax,
                         unnest(range(txmin, txmax + 1)) AS tx FROM b)"""
        ).fetchnumpy()
    finally:
        con.close()
    tx_, ty_ = t["tx"].astype(np.int64), t["ty"].astype(np.int64)
    yg = (1 << zoom) - 1 - ty_
    qk = crc32s(_quadkey(tx_, yg, zoom))
    z = np.full(len(tx_), zoom, dtype=np.int64)
    return np_digest([t["image_id"], z, tx_, yg, qk])


# ---------------------------------------------------------------------------
# NumPy: polygon refine and point-in-polygon
# ---------------------------------------------------------------------------


def _in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray cast of points against one closed ring."""
    a, b = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    c, d = ring[1:, 0][None, :], ring[1:, 1][None, :]
    x, y = px[:, None], py[:, None]
    straddle = (b > y) != (d > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xc = a + (c - a) * (y - b) / (d - b)
    return ((straddle & (x < xc)).sum(axis=1) % 2).astype(bool)


def _segment_hits_box(ax, ay, bx, by, x0, y0, x1, y1) -> np.ndarray:
    """Liang-Barsky: does segment (a,b) touch box [x0,x1]x[y0,y1]?
    ``a``/``b`` are scalars, the boxes are arrays."""
    dx, dy = bx - ax, by - ay
    lo = np.zeros(len(x0))
    hi = np.ones(len(x0))
    ok = np.ones(len(x0), dtype=bool)
    for p, q0, q1 in ((dx, x0 - ax, x1 - ax), (dy, y0 - ay, y1 - ay)):
        if p == 0:
            ok &= (q0 <= 0) & (q1 >= 0)
            continue
        t0, t1 = q0 / p, q1 / p
        lo = np.maximum(lo, np.minimum(t0, t1))
        hi = np.minimum(hi, np.maximum(t0, t1))
    return ok & (lo <= hi)


def polygon_joins_digest(fp: dict, polys: list[tuple[int, np.ndarray]]):
    """Expected pairs of the two polygon joins.

    ``fp``: columns ``image_id, lon, lat, lon_min, lat_min, lon_max,
    lat_max``; ``polys``: ``(poly_id, closed ring)``. Returns
    ``(bbox_digest, pip_digest)``: rectangle-Intersects-polygon pairs
    and centre-in-polygon pairs."""
    ids = np.asarray(fp["image_id"], dtype=np.int64)
    x0, y0 = np.asarray(fp["lon_min"]), np.asarray(fp["lat_min"])
    x1, y1 = np.asarray(fp["lon_max"]), np.asarray(fp["lat_max"])
    cx, cy = np.asarray(fp["lon"]), np.asarray(fp["lat"])
    order = np.argsort(x0)
    sx0 = x0[order]
    width = float((x1 - x0).max()) if len(x0) else 0.0
    bbox_i, bbox_p, pip_i, pip_p = [], [], [], []
    for pid, ring in polys:
        px0, py0 = ring[:, 0].min(), ring[:, 1].min()
        px1, py1 = ring[:, 0].max(), ring[:, 1].max()
        lo = np.searchsorted(sx0, px0 - width, "left")
        hi = np.searchsorted(sx0, px1, "right")
        cand = order[lo:hi]
        cand = cand[
            (x0[cand] <= px1) & (px0 <= x1[cand]) & (y0[cand] <= py1) & (py0 <= y1[cand])
        ]
        if not len(cand):
            continue
        a0, b0, a1, b1 = x0[cand], y0[cand], x1[cand], y1[cand]
        # rectangle Intersects polygon: a corner inside, a vertex inside,
        # or (neither) an edge crossing the rectangle
        hit = (
            _in_ring(a0, b0, ring) | _in_ring(a1, b0, ring)
            | _in_ring(a1, b1, ring) | _in_ring(a0, b1, ring)
        )
        vx, vy = ring[:-1, 0], ring[:-1, 1]
        hit |= (
            (vx[None, :] >= a0[:, None]) & (vx[None, :] <= a1[:, None])
            & (vy[None, :] >= b0[:, None]) & (vy[None, :] <= b1[:, None])
        ).any(axis=1)
        rest = np.flatnonzero(~hit)
        for k in range(len(ring) - 1):
            if not len(rest):
                break
            touch = _segment_hits_box(
                ring[k, 0], ring[k, 1], ring[k + 1, 0], ring[k + 1, 1],
                a0[rest], b0[rest], a1[rest], b1[rest],
            )
            hit[rest[touch]] = True
            rest = rest[~touch]
        bbox_i.append(ids[cand[hit]])
        bbox_p.append(np.full(int(hit.sum()), pid, dtype=np.int64))
        # point-in-polygon on the centres inside the polygon's envelope
        pc = cand[(cx[cand] >= px0) & (cx[cand] <= px1) & (cy[cand] >= py0) & (cy[cand] <= py1)]
        inside = _in_ring(cx[pc], cy[pc], ring)
        pip_i.append(ids[pc[inside]])
        pip_p.append(np.full(int(inside.sum()), pid, dtype=np.int64))

    def cat(parts):
        return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)

    return (
        np_digest([cat(bbox_i), cat(bbox_p)]),
        np_digest([cat(pip_i), cat(pip_p)]),
    )


# ---------------------------------------------------------------------------
# Pixels: make_golden mirrors
# ---------------------------------------------------------------------------


def _make_golden():
    import importlib.util
    import os

    path = os.path.join(os.getcwd(), "tools", "make_golden.py")
    spec = importlib.util.spec_from_file_location("make_golden", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def pixel_digests(sf_dir: str, images_path: str) -> dict:
    """Expected digests of the pixel workload's calls.

    - ``raster_headers``: the header each image was encoded with, from
      the footprint mirror's size/format cycles (3 bands);
    - ``with_checksums``: ``g_raster_checksums`` for the images it covers
      (``okey % 20 == 0``), a single-process decode of the stored bytes
      for the others;
    - ``pyramid``: ``g_tile_pyramid`` z10-12 over ``okey % 100 == 0``.
    Also returns per-level tile counts and the base level's mean sources
    per tile."""
    import pyarrow.parquet as pq

    from gdal_spark.raster import codec
    from gdal_spark.raster.checksum import checksum_bands

    mg = _make_golden()
    okeys = mg.order_keys(sf_dir)
    fps = [mg.footprint(k) for k in okeys]
    ids = crc32s([f["image_id"] for f in fps])
    headers = np_digest(
        [ids, crc32s([f["fmt"] for f in fps]),
         [f["w"] for f in fps], [f["h"] for f in fps], np.full(len(fps), 3)]
    )

    _, golden = mg.g_raster_checksums(sf_dir)
    cs = {r[0]: r[4:7] for r in golden}
    t = pq.read_table(images_path, columns=["image_id", "bytes"]).to_pydict()
    for iid, buf in zip(t["image_id"], t["bytes"]):
        if iid not in cs:
            b = checksum_bands(codec.decode_image(buf))
            cs[iid] = (b[0], b[1] if len(b) > 1 else b[0], b[2] if len(b) > 2 else b[0])
    rows = [(f["image_id"], *cs[f["image_id"]]) for f in fps]
    checksums = np_digest(
        [crc32s([r[0] for r in rows])] + [[r[i] for r in rows] for i in (1, 2, 3)]
    )

    _, tiles = mg.g_tile_pyramid(sf_dir, min_zoom=10, max_zoom=12)
    cols = list(zip(*tiles)) if tiles else [[]] * 6
    pyramid = np_digest([cols[0], cols[1], cols[2], crc32s(cols[3]), cols[4], cols[5]])
    base = [r[5] for r in tiles if r[0] == 12]
    return {
        "info.headers": headers,
        "pipeline.checksums": checksums,
        "tiler.pyramid_write": pyramid,
        "tiles": len(tiles),
        "base_srcs_per_tile": float(np.mean(base)) if base else 0.0,
    }
