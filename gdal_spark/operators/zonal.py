"""Zonal statistics and point queries against a raster surface.

- zonal_stats: the reference composes this from rasterize + masked
  per-zone accumulation (SURVEY.md §2.5 "Zonal-style stats"); here the
  zone's scanline runs (exact llrasterize.cpp semantics) drive a
  closed-form accumulation over the surface f(x, y) -- per-zone
  count/sum/min/max/mean over the zone's burned pixels.
- interpolate_at_point: GDALRasterInterpolateAtPoint semantics
  (gcore/gdalrasterband.cpp:9998, alg/gdal_interpolateatpoint.cpp:415):
  world coord -> fractional pixel via inverse geotransform, then
  nearest or bilinear sample; used layer-wide as a point×image join
  (gdallocationinfo as a DataFrame op).

The demo surface is the engine's synthetic gradient
f(x, y) = (x + y) % 256 on the global WebMercator pixel grid --
SQL-expressible, so both operators get value-level oracles. Swapping
`surface` for decoded tile payloads turns these into the production
ops with identical shapes.

Scale: zonal runs are a narrow pass over polygons (runs never leave
the task); point queries are a cell equi-join against the images
table -- the same candidate shape as the PIP join.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.operators.rasterize import _pixel_rings
from gdal_spark.raster.rasterize import clip_runs, fill_polygon_runs
from gdal_spark.tiles import tilemath as tm

ZONAL_SCHEMA = T.StructType(
    [
        T.StructField("fid", T.LongType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("vsum", T.LongType()),
        T.StructField("vmin", T.LongType()),
        T.StructField("vmax", T.LongType()),
        T.StructField("mean_e2", T.LongType()),
    ]
)


def zonal_stats(zones: DataFrame, z: int) -> DataFrame:
    """Per-zone stats of f(x,y) = (x+y) % 256 over the zone's
    pixel-center footprint at zoom z (scanline-exact)."""
    n = tm.TILE_SIZE * (1 << z)

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for fid, wkb in zip(pdf["fid"], pdf["geometry"]):
                rings = _pixel_rings(bytes(wkb), z)
                cnt = 0
                vsum = 0
                vmin, vmax = None, None
                for y, xa, xb in clip_runs(fill_polygon_runs(rings, n), n).tolist():
                    xs = np.arange(xa, xb, dtype=np.int64)
                    vals = (xs + y) % 256
                    cnt += len(xs)
                    vsum += int(vals.sum())
                    lo, hi = int(vals.min()), int(vals.max())
                    vmin = lo if vmin is None else min(vmin, lo)
                    vmax = hi if vmax is None else max(vmax, hi)
                recs.append(
                    {
                        "fid": int(fid),
                        "n_px": cnt,
                        "vsum": vsum,
                        "vmin": vmin if vmin is not None else -1,
                        "vmax": vmax if vmax is not None else -1,
                        "mean_e2": (100 * vsum) // cnt if cnt else -1,
                    }
                )
            yield pd.DataFrame(recs, columns=[f.name for f in ZONAL_SCHEMA])

    return zones.select("fid", "geometry").mapInPandas(stats, ZONAL_SCHEMA)


def interpolate_at_points(
    sites: DataFrame,
    images: DataFrame,
    z0: int,
    method: str = "bilinear",
    site_lon: str = "slon",
    site_lat: str = "slat",
) -> DataFrame:
    """Value of each image's synthetic surface at each site's world
    coordinate, for (site, image) pairs where the point falls inside
    the image footprint. Pure Column math (inverse geotransform +
    kernel weights) — scales as an equi-join on the index cell.

    nearest: v = f(floor(px), floor(py))
    bilinear: GDAL 4-sample (iSrc = floor(p - 0.5), frac weights,
    edge-clamped) on f(x,y,band0) = (x + y + i) % 256, output
    floor(v * 100).
    """
    res0 = tm.resolution(z0)
    smx = tm.merc_x(F.col(site_lon))
    smy = tm.merc_y(F.col(site_lat))
    # candidate pairing via the images' index cell — same shape as pip
    from gdal_spark.operators.spatial_join import DEFAULT_INDEX_ZOOM, with_point_cell

    pts = with_point_cell(sites, site_lon, site_lat, DEFAULT_INDEX_ZOOM).select(
        "site_id", site_lon, site_lat, "cell"
    )
    from gdal_spark.operators.spatial_join import with_bbox_cells

    # image footprints in mercator -> degree bbox for cell explode
    imgs = images.select(
        "i", "image_id", "w", "h", "xmin", "ymax",
        tm.inv_merc_lon(F.col("xmin")).alias("dxmin"),
        tm.inv_merc_lat(F.col("ymin")).alias("dymin"),
        tm.inv_merc_lon(F.col("xmax")).alias("dxmax"),
        tm.inv_merc_lat(F.col("ymax")).alias("dymax"),
    )
    imgs = with_bbox_cells(imgs, "dxmin", "dymin", "dxmax", "dymax", DEFAULT_INDEX_ZOOM)
    cand = pts.join(imgs, "cell")
    px = (smx - F.col("xmin")) / F.lit(res0)
    py = (F.col("ymax") - smy) / F.lit(res0)
    cand = cand.withColumn("_px", px).withColumn("_py", py).where(
        (F.col("_px") >= 0) & (F.col("_px") < F.col("w"))
        & (F.col("_py") >= 0) & (F.col("_py") < F.col("h"))
    )
    if method == "nearest":
        val = (
            F.floor("_px").cast("long") + F.floor("_py").cast("long") + F.col("i")
        ) % 256
        return cand.select(
            "site_id", "image_id", (val * 100).cast("long").alias("v_e2")
        )
    # bilinear 4-sample with edge clamp (gdal_interpolateatpoint.cpp)
    ix = F.floor(F.col("_px") - 0.5)
    iy = F.floor(F.col("_py") - 0.5)
    fx = F.col("_px") - 0.5 - ix
    fy = F.col("_py") - 0.5 - iy

    def fval(dx: int, dy: int):
        cx = F.greatest(F.lit(0), F.least(F.col("w") - 1, ix + F.lit(dx))).cast("long")
        cy = F.greatest(F.lit(0), F.least(F.col("h") - 1, iy + F.lit(dy))).cast("long")
        return ((cx + cy + F.col("i")) % 256).cast("double")

    v = (
        fval(0, 0) * (1 - fx) * (1 - fy)
        + fval(1, 0) * fx * (1 - fy)
        + fval(0, 1) * (1 - fx) * fy
        + fval(1, 1) * fx * fy
    )
    return cand.select(
        "site_id", "image_id", F.floor(v * 100).cast("long").alias("v_e2")
    )
