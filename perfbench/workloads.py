"""The benchmark workloads.

Each workload names the parquet tables it needs, builds its reference
once per seed, and returns its operations: one call into one layer,
an action that brings the result to the driver, and a check of that
result against the reference. An operation fails if it raises or if
its check does.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs, reference as ref

TILE_Z = 12
RASTER_Z = 8
KNN_K = 5
KNN_SAMPLE = 64


def spark_digest(df: DataFrame, cols: list) -> tuple[int, int, int]:
    """Spark twin of ``reference.digest_columns``, reduced on the driver."""
    h = F.lit(0).cast("long")
    for c in cols:
        h = F.pmod(h * F.lit(ref.MULT) + F.pmod(c.cast("long"), F.lit(ref.P)), F.lit(ref.P))
    row = df.select(h.alias("_h")).agg(
        F.count(F.lit(1)), F.sum("_h"), F.sum(F.pmod(F.col("_h") * F.col("_h"), F.lit(ref.P)))
    ).collect()[0]
    return int(row[0]), int(row[1] or 0), int(row[2] or 0)


def image_int(col: str = "image_id"):
    return F.substring(F.col(col), 5, 12).cast("long")


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise AssertionError(what)


@dataclasses.dataclass
class Op:
    layer: str
    run: Callable[[], object]
    check: Callable[[object], None]


@dataclasses.dataclass
class Context:
    spark: SparkSession
    seed: int
    sizes: inputs.Sizes
    paths: dict[str, str]
    work_dir: str
    ref: dict

    def table(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.paths[name])


class Workload:
    name = ""
    tables: tuple[str, ...] = ()

    def input_rows(self, sizes: inputs.Sizes) -> int:
        return sizes.images

    def reference(self, spark: SparkSession, paths: dict[str, str], seed: int,
                  sizes: inputs.Sizes) -> dict:
        raise NotImplementedError

    def ops(self, ctx: Context) -> list[Op]:
        raise NotImplementedError


# ---------------------------------------------------------------------------

class JoinTile(Workload):
    """pip_join -> assign_tiles + tile_counts -> knn_join over skewed
    footprint-only images, then the tile-commit path: a ResumableWriter
    commits tile counts for half of the images, resumes over all of
    them, and the committed table is read back through the catalog."""

    name = "join_tile"
    tables = ("images", "zones", "sites")
    KEYS = ["tile_z", "tile_x", "tile_y"]

    def reference(self, spark, paths, seed, sizes):
        tx, ty, n = ref.tile_counts(paths["images"], TILE_Z)
        half = ref.tile_counts(paths["images"], TILE_Z, ref.HALF_SELECT)
        site_ids = ref.connect().execute(
            f"SELECT i FROM {ref.parquet_glob(paths['sites'])} ORDER BY i").fetchnumpy()["i"]
        step = max(1, len(site_ids) // KNN_SAMPLE)
        return {
            "pip": ref.pip_pairs(paths["images"], paths["zones"]),
            "tiles": ref.digest_columns(tx, ty, n),
            "keys": ref.digest_columns(tx, ty),
            "half_rows": len(half[0]),
            "knn": ref.knn_sample(paths["images"], paths["sites"],
                                  site_ids[::step][:KNN_SAMPLE].tolist(), KNN_K),
            "knn_rows": len(site_ids) * KNN_K,
        }

    def ops(self, ctx):
        from gdal_spark.catalog import ParquetCatalog
        from gdal_spark.operators.knn import knn_join
        from gdal_spark.operators.scale import ResumableWriter
        from gdal_spark.operators.spatial_join import pip_join
        from gdal_spark.operators.tiling import assign_tiles, tile_counts

        images, zones, sites = (ctx.table(t) for t in self.tables)
        sample = set(ctx.ref["knn"])
        out_dir = os.path.join(ctx.work_dir, "commit")
        shutil.rmtree(out_dir, ignore_errors=True)
        writer = ResumableWriter(ctx.spark, out_dir, self.KEYS)
        n_tiles, half_rows = ctx.ref["keys"][0], ctx.ref["half_rows"]

        def pip():
            pairs = pip_join(images, zones)
            return spark_digest(pairs, [image_int(), F.col("fid")])

        def tiles():
            counts = tile_counts(assign_tiles(images, TILE_Z))
            return spark_digest(counts, [F.col("tile_x"), F.col("tile_y"), F.col("n_images")])

        def knn():
            out = knn_join(sites, images, KNN_K, n_points_hint=ctx.sizes.images)
            rows = out.select(F.substring("site_id", 6, 12).cast("long").alias("si"), "rank",
                              image_int().alias("ii"), "dist_m").collect()
            return len(rows), [r for r in rows if r["si"] in sample]

        def check_knn(res):
            n, rows = res
            expect(n == ctx.ref["knn_rows"], f"knn rows {n} != {ctx.ref['knn_rows']}")
            by_site: dict[int, list] = {}
            for r in rows:
                by_site.setdefault(r["si"], []).append(r)
            expect(set(by_site) == set(ctx.ref["knn"]), "knn sampled sites differ")
            for si, (top, dist_of) in ctx.ref["knn"].items():
                got = sorted(by_site[si], key=lambda r: r["rank"])
                expect([r["rank"] for r in got] == list(range(1, KNN_K + 1)), f"site {si} ranks")
                for r, d in zip(got, top):
                    tol = 1e-6 * max(1.0, d)
                    expect(abs(r["dist_m"] - d) <= tol, f"site {si} rank {r['rank']} distance")
                    expect(abs(dist_of.get(r["ii"], -1.0) - r["dist_m"]) <= tol,
                           f"site {si} neighbour {r['ii']}")

        def commit(df):
            return lambda: writer.run(tile_counts(assign_tiles(df, TILE_Z)))["rows"]

        def read():
            table = ParquetCatalog(ctx.spark, out_dir).read(".")
            return spark_digest(table, [F.col("tile_x"), F.col("tile_y")])

        return [
            Op("spatial_join", pip,
               lambda d: expect(d == ctx.ref["pip"], f"pip {d} != {ctx.ref['pip']}")),
            Op("tiling", tiles,
               lambda d: expect(d == ctx.ref["tiles"], f"tiles {d} != {ctx.ref['tiles']}")),
            Op("knn", knn, check_knn),
            Op("scale", commit(images.where(F.expr(ref.HALF_SELECT))),
               lambda r: expect(r == half_rows, f"cold commit rows {r} != {half_rows}")),
            Op("scale", commit(images),
               lambda r: expect(r == n_tiles - half_rows,
                                f"resume rows {r} != {n_tiles - half_rows}")),
            Op("catalog", read,
               lambda d: expect(d == ctx.ref["keys"], f"committed keys {d} != {ctx.ref['keys']}")),
        ]


class PythonKernels(Workload):
    """Arrow-batched Python kernels with small shuffles:
    rasterize_tile_add at z=8 and a zones x zones overlay_join (geometry),
    then render_tiles(decode_payload=True) and multimodal.image_stats over
    PNG/JPEG/TIFF payload images on the skew rule (codec decode, warp,
    composite)."""

    name = "python_kernels"
    tables = ("poly_zones", "payload_images")

    def input_rows(self, sizes):
        return sizes.overlay_zones + inputs.payload_count(sizes)

    def bounds(self, seed, sizes) -> tuple[int, int]:
        base = inputs.id_base(seed, sizes.zones)
        return base + sizes.raster_zones, base + sizes.overlay_zones

    def reference(self, spark, paths, seed, sizes):
        from gdal_spark.fixtures import georef

        r_hi, o_hi = self.bounds(seed, sizes)
        cols = "i, image_id, w, h, fmt, xmin, xmax, ymin, ymax, bytes"
        df = ref.connect().execute(
            f"SELECT {cols} FROM {ref.parquet_glob(paths['payload_images'])}").df()
        images = df.to_dict("records")
        pixels = ref.reference_pixels(spark._jvm, images)
        tiles = ref.render_tiles(images, pixels, TILE_Z, georef.RES0)
        return {
            "raster": ref.rasterize_tiles(paths["poly_zones"], r_hi, RASTER_Z),
            "overlay": ref.overlay_pairs(paths["poly_zones"], o_hi),
            "tiles": tiles, "tile_rows": ref.render_rows(tiles),
            "stats": ref.image_stats(images, pixels),
            "lossy_ids": {im["image_id"] for im in images if im["fmt"] == "jpeg"},
            "lossy_i": {int(im["i"]) for im in images if im["fmt"] == "jpeg"},
            "mpix": sum(im["w"] * im["h"] for im in images) / 1e6,
        }

    def ops(self, ctx):
        import numpy as np

        from gdal_spark import multimodal
        from gdal_spark.operators.overlay import overlay_join
        from gdal_spark.operators.rasterize import rasterize_tile_add
        from gdal_spark.operators.render import render_tiles

        zones, images = (ctx.table(t) for t in self.tables)
        r_hi, o_hi = self.bounds(ctx.seed, ctx.sizes)

        def raster():
            rows = rasterize_tile_add(zones.where(F.col("fid") < r_hi), RASTER_Z).collect()
            return {(r["tile_x"], r["tile_y"]): r["burn_sum"] for r in rows}

        def overlay():
            oz = zones.where(F.col("fid") < o_hi)
            return {(r[0], r[1]): tuple(r[2:]) for r in overlay_join(oz, oz).collect()}

        def check_overlay(got):
            want = ctx.ref["overlay"]
            expect(set(got) == set(want), f"overlay pairs {len(got)} != {len(want)}")
            # the areas are floor(area * 1e4); numpy and DuckDB's libm may
            # land on either side of a floor boundary
            bad = [k for k in want if max(abs(a - b) for a, b in zip(got[k], want[k])) > 1]
            expect(not bad, f"overlay areas differ for {len(bad)} pairs")

        def render():
            out = render_tiles(images, TILE_Z, decode_payload=True, with_data=True)
            return out.where(F.col("n_px") > 0).collect()

        def check_render(rows):
            want = ctx.ref["tile_rows"]
            got = {(r["tile_x"], r["tile_y"], r["band"]): r for r in rows}
            expect(set(got) == set(want), f"render rows {len(got)} != {len(want)}")
            lossy_ids = np.array(sorted(ctx.ref["lossy_i"]), dtype=np.int64)
            sq_err: dict[int, list[float]] = {}
            for (tx, ty), (bands, owner) in ctx.ref["tiles"].items():
                keys = [(tx, ty, b) for b in range(3)]
                for key in keys:
                    expect(got[key]["n_px"] == want[key][1], f"tile {key} covered pixels")
                lossy = np.isin(owner, lossy_ids)
                if not lossy.any():
                    for key in keys:
                        expect(got[key]["checksum"] == want[key][0], f"tile {key} checksum")
                    continue
                px = np.stack([np.frombuffer(got[k]["data"], dtype=np.uint8).reshape(256, 256)
                               for k in keys]).astype(np.float64)
                exact = (owner >= 0) & ~lossy
                expect((px[:, exact] == bands[:, exact]).all(), f"tile {(tx, ty)} lossless pixels")
                for i in np.unique(owner[lossy]):
                    sel = owner == i
                    acc = sq_err.setdefault(int(i), [0.0, 0])
                    acc[0] += float(((px[:, sel] - bands[:, sel]) ** 2).sum())
                    acc[1] += 3 * int(sel.sum())
            # BASELINE's lossy rule per decoded image: PSNR >= 40 dB
            # against the reference decode, over the image's pixels as
            # they appear in the output tiles
            for i, (err, n) in sq_err.items():
                db = 99.0 if err == 0 else 10.0 * np.log10(255.0 ** 2 * n / err)
                expect(db >= 40.0, f"JPEG image {i} PSNR {db:.1f} dB < 40")

        def stats():
            return multimodal.image_stats(images).collect()

        def check_stats(rows):
            want = ctx.ref["stats"]
            got = {(r["image_id"], r["band"]): r for r in rows}
            expect(set(got) == set(want), f"stats rows {len(got)} != {len(want)}")
            for key, (mean_e2, vmin, vmax, checksum) in want.items():
                r = got[key]
                if key[0] in ctx.ref["lossy_ids"]:
                    # PSNR >= 40 dB against the reference decode bounds
                    # the RMSE, and so the mean error, by 2.55 grey levels
                    expect(abs(r["mean_e2"] - mean_e2) <= 255, f"{key} JPEG mean")
                else:
                    expect((r["mean_e2"], r["vmin"], r["vmax"], r["checksum"])
                           == (mean_e2, vmin, vmax, checksum), f"{key} stats")

        return [
            Op("rasterize", raster,
               lambda got: expect(got == ctx.ref["raster"], "rasterize tiles differ")),
            Op("overlay", overlay, check_overlay),
            Op("render", render, check_render),
            Op("multimodal", stats, check_stats),
        ]


WORKLOADS = {w.name: w for w in (JoinTile(), PythonKernels())}
