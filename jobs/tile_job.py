"""Production tile-pyramid job — the spark-submit entry point.

North-rule launch shape (BASELINE.json): the engine ships as a plain
Python package and launches on a multi-executor cluster via::

    zip -r gdal_spark.zip gdal_spark
    spark-submit --py-files gdal_spark.zip jobs/tile_job.py \
        --images /data/images_table --out s3://bucket/tiles \
        --min-zoom 4 --max-zoom 12 --resume

On the sandbox (no cluster) the same file runs under ``python`` with
``--sf-dir`` pointing at the synthetic testdata; the job plan is
identical — only the master URL and I/O paths change.

Resume semantics: ``--resume`` anti-joins the (z, tx, ty) keys of the
tiles already under ``--out`` (``gdal2tiles.py:2852`` file-existence
checks → one distributed anti-join); per-partition lineage + metrics
append on every run. Rerunning a completed job renders zero tiles
(idempotent), also after a run that failed past its tile commit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# `python jobs/tile_job.py` puts jobs/ first on sys.path; under
# spark-submit --py-files the zip provides the package instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--images", help="path of the image table (parquet/Iceberg)")
    p.add_argument("--sf-dir", help="synthetic testdata dir (sandbox mode)")
    p.add_argument("--out", required=True, help="output dataset root")
    p.add_argument("--min-zoom", type=int, default=4)
    p.add_argument("--max-zoom", type=int, default=8)
    p.add_argument("--resampling", default="near")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--subset", default=None, help="SQL filter on footprints (sandbox)")
    p.add_argument(
        "--mbtiles",
        default=None,
        help="also ship the finished pyramid as one MBTiles file "
        "(single-file terminal hop; the cluster store stays --out)",
    )
    p.add_argument(
        "--pmtiles",
        default=None,
        help="also ship the finished pyramid as one PMTiles v3 archive "
        "(cloud-optimized: one ranged read per tile; terminal hop)",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from gdal_spark.raster import tiler
    from gdal_spark.session import get_spark

    preexisting = SparkSession.getActiveSession() is not None
    spark = get_spark("gdal-spark-tile-job")
    if args.sf_dir:
        from gdal_spark.sources import synth

        images = synth.images(spark, args.sf_dir, where=args.subset)
    elif args.images:
        images = spark.read.parquet(args.images)
    else:
        p.error("one of --images / --sf-dir is required")

    pyramid = tiler.build_pyramid(
        images,
        min_zoom=args.min_zoom,
        max_zoom=args.max_zoom,
        resampling=args.resampling,
        done=tiler.written_tiles(spark, args.out) if args.resume else None,
    )
    stats = tiler.write_tiles(spark, pyramid, args.out)
    if args.mbtiles:
        from gdal_spark.raster.mbtiles import write_mbtiles

        tiles = spark.read.parquet(f"{args.out}/tiles")
        stats["mbtiles"] = write_mbtiles(tiles, args.mbtiles)
    if args.pmtiles:
        from gdal_spark.sources.pmtiles import write_pmtiles

        tiles = spark.read.parquet(f"{args.out}/tiles")
        stats["pmtiles"] = write_pmtiles(tiles, args.pmtiles, tile_type="png")
    print(json.dumps(stats))
    if not preexisting:  # don't tear down a caller's session (tests)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
