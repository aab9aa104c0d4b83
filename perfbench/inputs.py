"""Seeded benchmark inputs, built with the engine's fixture rules and
stored as parquet so every timed run starts from a table scan.

The seed picks two things and nothing else:

- the id range of every fixture table (images, zones, sites), so each
  seed sees a different set of footprints and polygons;
- the placement of the four hotspots that receive 20% of the images
  (the skew rule of ``tools/scaling_bench.py``).

Seed 0 reproduces the ``BENCH/BASELINE.md`` corpus exactly when built
at ``FULL`` size: ids from 0, the scaling bench's four city hotspots.
"""

from __future__ import annotations

import dataclasses
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED0_HOTSPOTS = ((-73.9, 40.7), (2.35, 48.85), (139.7, 35.7), (151.2, -33.9))
# id ranges repeat after this many seeds; keeps every id below 2^31 so
# the fixture LCG stays inside exact bigint arithmetic
SEED_RANGES = 1000
# kNN query sites are kept away from the poles; see ``sites``
SITE_LAT_MAX = 70.0


@dataclasses.dataclass(frozen=True)
class Sizes:
    images: int  # skewed footprint-only images (join_tile)
    zones: int  # polygon zones joined against the images
    sites: int  # id range of the kNN query points (the table keeps those within SITE_LAT_MAX)
    raster_zones: int  # zones burned by rasterize_tile_add
    overlay_zones: int  # zones overlaid with themselves
    payload_images: int  # id range of images with encoded pixel bytes (python_kernels)


# What one benchmark run builds, sized so a workload pass takes a few
# seconds at local[4]. Zone counts are multiples of 140 and payload
# images of 15 so every seed's id range holds the same mix of zone
# shapes (fid % 4, % 7, % 10) and image sizes and formats (i % 5, % 3).
BENCH = Sizes(images=16_384, zones=9_800, sites=250, raster_zones=28,
              overlay_zones=980, payload_images=15)
# the BENCH/BASELINE.md corpus (seed-0 self-test)
FULL = Sizes(images=2_097_152, zones=10_000, sites=15_000, raster_zones=1_000,
             overlay_zones=10_000, payload_images=300)


def hotspots(seed: int) -> tuple[tuple[float, float], ...]:
    if seed == 0:
        return SEED0_HOTSPOTS
    rng = random.Random(seed)
    return tuple(
        (round(rng.uniform(-170.0, 170.0), 2), round(rng.uniform(-60.0, 60.0), 2))
        for _ in range(4)
    )


def id_base(seed: int, n: int) -> int:
    return (seed % SEED_RANGES) * n


def skewed_images(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """Images ``id_base .. id_base+n-1`` with the engine's georef rule,
    then every 5th image moved near one of the seed's four hotspots
    (same jitter as the scaling bench)."""
    from gdal_spark.fixtures import georef
    from gdal_spark.tiles import tilemath as tm

    base = id_base(seed, n)
    hot_pts = hotspots(seed)
    ids = spark.range(base, base + n).withColumnRenamed("id", "i")
    img = georef.with_image_geo(ids, "i").drop("caption")
    i = F.col("i")
    hot = (i % 5) == 0
    slot = ((i / 5).cast("long") % 4).cast("int") + 1
    hlon = F.element_at(F.array(*[F.lit(h[0]) for h in hot_pts]), slot)
    hlat = F.element_at(F.array(*[F.lit(h[1]) for h in hot_pts]), slot)
    jitter = ((i % 997).cast("double") - 498.0) * 1e-5
    img = img.withColumn("lon_c", F.when(hot, hlon + jitter).otherwise(F.col("lon_c")))
    img = img.withColumn("lat_c", F.when(hot, hlat + jitter).otherwise(F.col("lat_c")))
    cx = tm.merc_x(F.col("lon_c"))
    cy = tm.merc_y(F.col("lat_c"))
    half_w = F.col("w").cast("double") * F.lit(georef.RES0 / 2.0)
    half_h = F.col("h").cast("double") * F.lit(georef.RES0 / 2.0)
    return (
        img.withColumn("cx", cx)
        .withColumn("cy", cy)
        .withColumn("xmin", cx - half_w)
        .withColumn("xmax", cx + half_w)
        .withColumn("ymin", cy - half_h)
        .withColumn("ymax", cy + half_h)
    )


def zones(spark: SparkSession, seed: int, n: int, size_for_base: int) -> DataFrame:
    from gdal_spark.fixtures.zones import build_zones

    base = id_base(seed, size_for_base)
    ids = spark.range(base, base + n).withColumnRenamed("id", "fid")
    return build_zones(spark, ids_df=ids)


def sites(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """Sites ``id_base .. id_base+n-1`` that lie within ``SITE_LAT_MAX``
    degrees of the equator (about 5 in 6 of them).

    ``knn_join`` drops every query whose first-pass 3x3 cell ring holds
    no point (``test_knn_query_with_empty_first_ring`` reproduces it).
    At the benchmark's size the auto index zoom is 6, and near the poles
    a ring holds about 5 points on average, so about one seed in ten had
    such a site. Within 70 degrees a ring holds about 20, and the chance
    of an empty one is below 1e-8 per site."""
    from gdal_spark.fixtures.sites import build_sites

    base = id_base(seed, n)
    ids = spark.range(base, base + n).withColumnRenamed("id", "i")
    return (build_sites(spark, ids_df=ids).select("i", "site_id", "slon", "slat")
            .where(F.abs(F.col("slat")) <= SITE_LAT_MAX))


def payload_images(spark: SparkSession, seed: int, n: int) -> DataFrame:
    """Skewed footprints joined with encoded PNG/JPEG/TIFF payloads
    (format by the fixture cycle ``i % 3``). The 512x512 size of the
    ``i % 5`` cycle is left out: one such JPEG costs more to decode than
    the rest of a cycle together."""
    from gdal_spark.fixtures.images import build_images

    geo = skewed_images(spark, seed, n).where(F.col("i") % 5 != 4)
    ids = geo.select("i")
    payload = build_images(spark, ids_df=ids).select("i", "bytes")
    return geo.join(payload, "i")


def payload_count(sizes: Sizes) -> int:
    return sizes.payload_images - sizes.payload_images // 5


def write(df: DataFrame, path: str) -> str:
    df.write.mode("overwrite").parquet(path)
    return path


def build(spark: SparkSession, tables: tuple[str, ...], seed: int, sizes: Sizes,
          out_dir: str) -> dict[str, str]:
    """Write the named tables for ``seed`` under ``out_dir``; returns
    table name -> parquet path."""
    makers = {
        "images": lambda: skewed_images(spark, seed, sizes.images),
        "zones": lambda: zones(spark, seed, sizes.zones, sizes.zones),
        "poly_zones": lambda: zones(
            spark, seed, max(sizes.raster_zones, sizes.overlay_zones), sizes.zones),
        "sites": lambda: sites(spark, seed, sizes.sites),
        "payload_images": lambda: payload_images(spark, seed, sizes.payload_images),
    }
    return {t: write(makers[t](), os.path.join(out_dir, f"{t}.parquet")) for t in tables}
