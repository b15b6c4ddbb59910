"""Distributed tile-pyramid builder — the north-star operator.

Re-expresses ``gdal2tiles.py`` / ``gdal raster tile``
(``apps/gdalalg_raster_tile.cpp``) as three Spark stages:

1. **assign** (pure SQL, no UDF): explode image footprints to covering
   XYZ tiles per zoom — the distributed ``tminmax`` enumeration of
   ``generate_base_tiles`` (gdal2tiles.py:2801-2824).
2. **render base tiles** (``codec.map_images``): per (image, tile)
   pair decode-once-per-image (the runner's one-entry cache — tiles of
   one image are adjacent after explode, so no shuffle is needed),
   inverse-mercator warp into the 256² tile window
   (gdal2tiles ``geo_query`` + ``scale_query_to_tile``,
   :2968/:838), then **compose** per tile (first-wins over alpha,
   the mosaic rule).
3. **overviews**: tile (z−1, x>>1, y>>1) from ≤4 children pasted
   into a 2·ts canvas and 2× average downsampled
   (``create_overview_tile``, gdal2tiles.py:1466-1545).

Compose/overview plan shape (round-2 rework; VERDICT r01 found the
old per-group ``applyInPandas`` + PNG-roundtrip compose was 59% of
the bench wall):

- Stage payloads between render → compose → overviews are **raw
  zlib-compressed RGBA buffers**, not PNG: the PNG filter/chunk work
  happens exactly once per FINAL tile, in one finalize pass.
- Compose and overviews are one fold (``_fold_tiles``):
  ``repartition(z,tx,ty)`` + ``sortWithinPartitions`` + ``mapInPandas``
  with a streaming group-by: ONE Python call handles an entire
  partition's worth of tiles (hundreds), instead of one
  ``applyInPandas`` invocation per tile group (~10 ms × thousands of
  groups of pure overhead).
- Every raw level is persisted (tracked in ``gdal_spark.cache``):
  the union + next-level branches both consume it, and without the
  persist Spark recomputes level L's compose once per higher level.

Resume = anti-join against the tiles already written (replacing the
reference's per-file existence checks, gdal2tiles.py:2852-2855): the
tiles dataset is its own checkpoint, read back key-columns-only by
``written_tiles``, so one commit makes a tile both written and done.
Per-partition lineage + metrics rows are appended on every run
(north-rule checkpointing). Writes are parquet partitioned by ``z``
((z, x) directory layout ≈ the XYZ disk layout; swap for Iceberg
``writeTo`` on a cluster with an Iceberg catalog).
"""

from __future__ import annotations

import time
import uuid
import zlib

import numpy as np
import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdal_spark.functions import tile_math as tm
from gdal_spark.operators.spatial_join import explode_bbox_cells
from gdal_spark.raster import codec
from gdal_spark.raster.checksum import checksum
from gdal_spark.raster.resample import block_reduce
from gdal_spark.raster.warp import warp_lonlat_to_grid, warp_lonlat_to_merc_tile

TILE_SIZE = 256


def assign_tiles(footprints: DataFrame, zoom: int) -> DataFrame:
    """Tile cover of each footprint at ``zoom`` — pure column math."""
    e = explode_bbox_cells(footprints, zoom=zoom)
    return e.select(
        "image_id",
        F.lit(zoom).alias("z"),
        F.col("_tx").alias("tx"),
        F.col("_ty").alias("ty"),
        F.col("_tx").alias("x"),
        tm.google_y(F.col("_ty"), zoom).alias("y"),
        tm.quadkey(F.col("_tx"), F.col("_ty"), zoom).alias("quadkey"),
    )


def _explode_geodetic(df: DataFrame, zoom: int, tmscompatible: bool = True) -> DataFrame:
    """``explode_bbox_cells`` in the GlobalGeodetic profile: each bbox
    row exploded to its covering plate-carrée tiles as ``_tx``/``_ty``
    (2×1 root layout when tmscompatible)."""
    return df.withColumn(
        "_tx",
        F.explode(F.sequence(
            tm.geodetic_tile_x(F.col("lon_min"), zoom, tmscompatible),
            tm.geodetic_tile_x(F.col("lon_max"), zoom, tmscompatible),
        )),
    ).withColumn(
        "_ty",
        F.explode(F.sequence(
            tm.geodetic_tile_y(F.col("lat_min"), zoom, tmscompatible),
            tm.geodetic_tile_y(F.col("lat_max"), zoom, tmscompatible),
        )),
    )


def assign_tiles_geodetic(
    footprints: DataFrame, zoom: int, tmscompatible: bool = True
) -> DataFrame:
    """Tile cover in the GlobalGeodetic profile (gdal2tiles.py:535-633;
    ``gdal raster tile --tiling-scheme geodetic``,
    apps/gdalalg_raster_tile.cpp:199-214). Pure column math like the
    mercator path."""
    return _explode_geodetic(footprints, zoom, tmscompatible).select(
        "image_id",
        F.lit(zoom).alias("z"),
        F.col("_tx").alias("tx"),
        F.col("_ty").alias("ty"),
    )


def _pack(canvas: np.ndarray) -> bytes:
    """Raw stage payload: zlib-1 of the RGBA buffer (no PNG filters)."""
    return zlib.compress(np.ascontiguousarray(canvas).tobytes(), 1)


def _unpack(buf: bytes, tile_size: int) -> np.ndarray:
    return np.frombuffer(zlib.decompress(bytes(buf)), np.uint8).reshape(
        tile_size, tile_size, 4
    )


RAW_SCHEMA = "z int, tx int, ty int, raw binary, n_srcs int"
_RAW_COLS = ["z", "tx", "ty", "raw", "n_srcs"]
_EMIT_BATCH = 32  # finished tiles per yielded Arrow batch


def _render_partials(
    images: DataFrame,
    zoom: int,
    tile_size: int,
    resampling: str,
    done: DataFrame | None,
    profile: str = "mercator",
) -> DataFrame:
    """(z, tx, ty, image_id, rgba=zlib raw) partial renders of the
    tiles at ``zoom`` not in ``done``.

    ``profile="geodetic"`` renders plate-carrée tiles
    (GlobalGeodetic, tmscompatible 2×1 root layout): tile bounds are
    lon/lat rectangles, so the per-tile sampling is a pure linear
    window resample (no mercator inversion)."""
    m = tm.GlobalMercator(tile_size)
    geodetic = profile == "geodetic"
    gg = tm.GlobalGeodetic(tmscompatible=True, tile_size=tile_size)
    cells = _explode_geodetic(images, zoom) if geodetic else explode_bbox_cells(images, zoom=zoom)
    # rename helpers: pandas itertuples mangles leading underscores
    work = cells.withColumnRenamed("_tx", "wtx").withColumnRenamed("_ty", "wty")
    if done is not None:
        base = done.filter(F.col("z") == zoom).select(
            F.col("tx").alias("wtx"), F.col("ty").alias("wty")
        )
        work = work.join(base, ["wtx", "wty"], "left_anti")

    partial_schema = "z int, tx int, ty int, image_id string, rgba binary"

    def render(r, arr):
        # the tiles an image covers are adjacent rows, so the runner
        # decodes each image once
        if geodetic:
            tb = gg.TileBounds(r.wtx, r.wty, zoom)
            tile, valid = warp_lonlat_to_grid(
                arr, r.lon_min, r.lat_min, r.lon_max, r.lat_max,
                tb, 4326, tile_size, tile_size, resampling,
            )
        else:
            tb = m.TileBounds(r.wtx, r.wty, zoom)
            tile, valid = warp_lonlat_to_merc_tile(
                arr, r.lon_min, r.lat_min, r.lon_max, r.lat_max, tb, tile_size, resampling,
            )
        if not valid.any():
            return  # skip-blank (gdal2tiles exclude_transparent)
        if tile.ndim == 2:
            tile = np.repeat(tile[:, :, None], 3, axis=2)
        rgba = np.dstack([tile, (valid * 255).astype(np.uint8)])
        yield (zoom, r.wtx, r.wty, r.image_id, _pack(rgba))

    return codec.map_images(work, partial_schema, render)


def _fold_tiles(rows: DataFrame, order: list[str], new, paste, finish) -> DataFrame:
    """Streaming group-by on the tile key: ``rows`` hash-partitioned on
    (z, tx, ty) and sorted by the key then ``order``; one
    ``mapInPandas`` call walks each partition's sorted stream, carrying
    the open canvas across Arrow batch boundaries. Per tile, ``new()``
    opens a canvas, ``paste(canvas, row)`` adds each of its rows in
    sort order, and ``finish(canvas)`` gives the RGBA tile, emitted as
    a raw row with the number of rows pasted."""
    parts = rows.repartition("z", "tx", "ty").sortWithinPartitions("z", "tx", "ty", *order)

    def fold(it):
        cur, canvas, n, out = None, None, 0, []
        for pdf in it:
            for r in pdf.itertuples():
                key = (r.z, r.tx, r.ty)
                if key != cur:
                    if cur is not None:
                        out.append((*cur, _pack(finish(canvas)), n))
                        if len(out) >= _EMIT_BATCH:
                            yield pd.DataFrame(out, columns=_RAW_COLS)
                            out = []
                    cur, canvas, n = key, new(), 0
                paste(canvas, r)
                n += 1
        if cur is not None:
            out.append((*cur, _pack(finish(canvas)), n))
        if out:
            yield pd.DataFrame(out, columns=_RAW_COLS)

    return parts.mapInPandas(fold, schema=RAW_SCHEMA)


def _compose_raw(partials: DataFrame, tile_size: int = TILE_SIZE) -> DataFrame:
    """First-wins compose of each tile's partials. Deterministic: the
    fold pastes them in image_id order."""

    def paste(canvas, r):
        part = _unpack(r.rgba, tile_size)
        put = (part[:, :, 3] > 0) & (canvas[:, :, 3] == 0)
        canvas[put] = part[put]

    return _fold_tiles(
        partials,
        ["image_id"],
        lambda: np.zeros((tile_size, tile_size, 4), dtype=np.uint8),
        paste,
        lambda canvas: canvas,
    )


def _overview_raw(raw: DataFrame, tile_size: int = TILE_SIZE) -> DataFrame:
    """One pyramid step on raw payloads: z−1 from z, ≤4 children pasted
    into a 2·ts canvas and 2× downsampled (average RGB, max alpha)."""
    kids = raw.select(
        (F.col("z") - 1).alias("z"),
        F.shiftright(F.col("tx"), 1).alias("tx"),
        F.shiftright(F.col("ty"), 1).alias("ty"),
        F.col("tx").alias("ctx"),
        F.col("ty").alias("cty"),
        "raw",
    )

    def paste(big, r):
        ox = (r.ctx - 2 * r.tx) * tile_size
        # TMS y grows upward; canvas row 0 is the top (higher ty)
        oy = (1 - (r.cty - 2 * r.ty)) * tile_size
        big[oy : oy + tile_size, ox : ox + tile_size] = _unpack(r.raw, tile_size)

    def finish(big):
        rgb = block_reduce(big[:, :, :3], tile_size, tile_size, "average")
        alpha = block_reduce(big[:, :, 3], tile_size, tile_size, "max")
        return np.dstack([rgb, alpha])

    return _fold_tiles(
        kids,
        ["ctx", "cty"],
        lambda: np.zeros((2 * tile_size, 2 * tile_size, 4), dtype=np.uint8),
        paste,
        finish,
    )


def _finalize_raw(raw: DataFrame, tile_size: int = TILE_SIZE, profile: str = "mercator") -> DataFrame:
    """raw → TILE_SCHEMA: ONE png encode + checksum + quadkey pass."""

    def fin(it):
        for pdf in it:
            rows = [
                _finalize(
                    _unpack(r.raw, tile_size), r.z, r.tx, r.ty, r.n_srcs,
                    tile_size, profile,
                )
                for r in pdf.itertuples()
            ]
            if rows:
                yield pd.DataFrame(rows)

    return raw.mapInPandas(fin, schema=TILE_SCHEMA)


def _finalize(canvas: np.ndarray, z: int, txv: int, tyv: int, n: int, tile_size: int, profile: str = "mercator"):
    x = txv
    y = (1 << z) - 1 - tyv
    m = tm.GlobalMercator(tile_size)
    # quadkeys are a mercator (Bing) convention; geodetic tiles get ""
    qk = m.QuadTree(txv, tyv, z) if profile == "mercator" else ""
    return {
        "z": z,
        "tx": txv,
        "ty": tyv,
        "x": x,
        "y": y,
        "quadkey": qk,
        # level 3: ~2× encode CPU of level 6 for ~10% larger tiles —
        # the right side of the trade for a render-bound pipeline
        "tile": codec.png_encode(canvas, 3),
        "checksum": checksum(canvas[:, :, 0]),
        "n_srcs": n,
    }


TILE_SCHEMA = (
    "z int, tx int, ty int, x int, y int, quadkey string, tile binary, "
    "checksum int, n_srcs int"
)


def build_pyramid(
    images: DataFrame,
    min_zoom: int,
    max_zoom: int,
    tile_size: int = TILE_SIZE,
    resampling: str = "near",
    done: DataFrame | None = None,
    profile: str = "mercator",
) -> DataFrame:
    """Base tiles at max_zoom + overview levels down to min_zoom.

    Raw payloads flow through the whole recurrence; each level is
    persisted (tracked) because it feeds BOTH the output union and the
    next overview level — without the persist, Spark recomputes level
    L's compose once per level above it (the quadratic recompute that
    dominated the round-1 wall). The 4→1 overview recurrence is
    profile-agnostic (both schemes halve both tile axes per level).

    ``done`` (any DataFrame with z, tx, ty — ``written_tiles`` on a
    resume) is gdal2tiles' skip-existing rule (gdal2tiles.py:2852-2855,
    :1490-1494): done base tiles are never rendered, and no done tile
    of any level is emitted again. One limit: an overview tile not yet
    done whose children were partly written by an earlier run is
    composed from the new children only."""
    from gdal_spark.cache import release_all, track_persist

    release_all()
    partials = _render_partials(images, max_zoom, tile_size, resampling, done, profile)
    cur = track_persist(_compose_raw(partials, tile_size))
    levels = [cur]
    for _ in range(max_zoom - min_zoom):
        cur = track_persist(_overview_raw(cur, tile_size))
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    if done is not None:
        out = out.join(done.select("z", "tx", "ty"), ["z", "tx", "ty"], "left_anti")
    return _finalize_raw(out, tile_size, profile)


# ---------------------------------------------------------------------------
# Sink + resume record + lineage (north rule)
# ---------------------------------------------------------------------------


def iceberg_available(spark: SparkSession, catalog: str = "iceberg") -> bool:
    """True when an Iceberg catalog is configured in this session
    (``spark.sql.catalog.<name>`` set and the classes on the
    classpath). This sandbox ships no Iceberg jars, so tests exercise
    the parquet fallback; on a cluster, setting the catalog conf flips
    every sink to ``writeTo``/``partitionedBy`` with no code change."""
    try:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    except Exception:
        impl = None
    if not impl:
        return False
    try:
        spark.sql(f"SHOW NAMESPACES IN {catalog}")
        return True
    except Exception:
        return False


def write_tiles(
    spark: SparkSession,
    tiles: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    iceberg_table: str | None = None,
) -> dict:
    """Write tiles partitioned by z in one commit, then append
    per-partition lineage/metrics rows. The tiles dataset is the resume
    record: rerunning with ``written_tiles(spark, out_dir)`` passed as
    ``build_pyramid``'s ``done`` renders zero new tiles, also when the
    run failed after the tile commit.

    ``iceberg_table`` (e.g. ``iceberg.db.tiles``): when an Iceberg
    catalog is configured, tiles append transactionally via
    ``writeTo(...).partitionedBy(z)`` — the north-rule exactly-once
    sink (snapshot isolation replaces the directory-append layout), and
    the table is the resume record (``spark.table(name)`` as ``done``).
    Without a catalog the parquet ``partitionBy(z)`` layout below is
    the fallback; the metrics path is the same in both."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()
    tiles = tiles.cache()
    n = tiles.count()
    if iceberg_table and iceberg_available(spark, iceberg_table.split(".")[0]):
        # Append-if-exists, create-if-absent. A rerun/resume must APPEND
        # the newly rendered tiles — createOrReplace on every call would
        # drop tiles a resume treats as done (they'd never be
        # re-rendered), breaking the exactly-once claim. NOTE: this gated
        # path is unexercised in this container (no Iceberg runtime);
        # the table-exists check + append is the contract a cluster run
        # relies on.
        if spark.catalog.tableExists(iceberg_table):
            tiles.writeTo(iceberg_table).append()
        else:
            tiles.writeTo(iceberg_table).partitionedBy(F.col("z")).create()
    else:
        tiles.write.mode("append").partitionBy("z").parquet(f"{out_dir}/tiles")
    # per-partition metrics (progress-callback analogue,
    # ogrlayer.cpp:5372 → accumulated rows instead of a callback)
    part_counts = (
        tiles.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(F.count("*").alias("n_tiles"), F.sum(F.length("tile")).alias("bytes"))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_sec", F.lit(time.time() - t0))
    )
    part_counts.write.mode("append").parquet(f"{out_dir}/metrics")
    tiles.unpersist()
    return {"run_id": run_id, "n_tiles": n, "wall_sec": time.time() - t0}


def written_tiles(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """(z, tx, ty) of the tiles committed under ``out_dir``, read
    key-columns-only (no tile bytes), or None before the first commit."""
    try:
        return spark.read.parquet(f"{out_dir}/tiles").select("z", "tx", "ty")
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
