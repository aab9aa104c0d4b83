"""Warp/resample kernel + tile render tests (gdalwarpkernel.cpp,
overview.cpp semantics)."""

import numpy as np
import pytest

from gdal_spark.fixtures import georef
from gdal_spark.raster import resample as rs
from gdal_spark.raster.checksum import gdal_checksum
from gdal_spark.tiles import tilemath as tm


def test_nearest_identity():
    # same-resolution aligned grid: dst pixel k center -> src coord
    # k + 0.5 -> floor = k (identity copy)
    src = np.arange(64, dtype=np.uint8).reshape(8, 8)
    dfx, dfy = np.meshgrid(np.arange(8) + 0.5, np.arange(8) + 0.5)
    vals, mask = rs.sample_nearest(src, dfx, dfy)
    assert mask.all()
    assert (vals == src).all()


def test_nearest_out_of_bounds_masked():
    src = np.ones((4, 4), dtype=np.uint8)
    dfx = np.array([[-0.2, 1.0, 4.2]])
    dfy = np.array([[1.0, -0.5, 1.0]])
    _, mask = rs.sample_nearest(src, dfx, dfy)
    assert mask.tolist() == [[False, False, False]]


def test_bilinear_center_exact():
    # at a source pixel center (i+0.5) bilinear returns that pixel
    src = np.arange(16, dtype=np.float64).reshape(4, 4)
    dfx = np.array([[2.5]])
    dfy = np.array([[1.5]])
    vals, mask = rs.sample_bilinear(src, dfx, dfy)
    assert mask.all()
    assert vals[0, 0] == src[1, 2]


def test_bilinear_midpoint_average():
    src = np.array([[0.0, 10.0], [20.0, 30.0]])
    vals, _ = rs.sample_bilinear(src, np.array([[1.0]]), np.array([[1.0]]))
    assert vals[0, 0] == 15.0


def test_bilinear_edge_renormalizes():
    src = np.array([[4.0, 8.0]])
    # dfy = 0.2 -> row -1 missing, weight renormalizes to row 0 only
    vals, mask = rs.sample_bilinear(src, np.array([[1.0]]), np.array([[0.2]]))
    assert mask.all()
    assert abs(vals[0, 0] - 6.0) < 1e-12


def test_average_2x2_round_half_up():
    block = np.array(
        [[0, 1, 2, 2], [0, 0, 2, 3], [255, 255, 0, 0], [255, 254, 0, 1]],
        dtype=np.uint8,
    )
    out = rs.average_2x2(block)
    # means: 0.25 -> 0 (floor(0.75)); 2.25 -> 2; 254.75 -> 255; 0.25 -> 0
    assert out.tolist() == [[0, 2], [255, 0]]


def test_round_to_byte_matches_gdal_cast():
    v = np.array([-3.0, -0.4, 0.49, 0.5, 254.5, 255.7])
    assert rs.round_to_byte(v).tolist() == [0, 0, 0, 1, 255, 255]


def test_render_tile_against_bruteforce(spark):
    """Distributed render == per-pixel brute force for one image."""
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import render_tiles

    images = build_images(spark, n=3, with_payload=False)
    out = render_tiles(images, 12, with_data=True).where(F.col("n_px") > 0)
    rows = out.collect()
    assert rows
    geo = {r["i"]: r.asDict() for r in images.collect()}
    res0 = georef.RES0
    res_z = tm.resolution(12)
    # verify every returned tile against a direct numpy warp
    by_tile: dict = {}
    for r in rows:
        by_tile.setdefault((r["tile_x"], r["tile_y"], r["band"]), r)
    for (tx, ty, band), r in by_tile.items():
        buf = np.zeros((256, 256), dtype=np.uint8)
        for i, g in sorted(geo.items()):
            src = georef.np_image_pixels(i, g["w"], g["h"])[:, :, band]
            dfx, dfy = rs.inverse_grid(
                tx, ty, 12, g["xmin"], g["ymax"], res0, tm.ORIGIN, res_z
            )
            vals, mask = rs.sample_nearest(src, dfx, dfy)
            buf[mask] = vals[mask]
        assert gdal_checksum(buf) == r["checksum"]
        got = np.frombuffer(r["data"], dtype=np.uint8).reshape(256, 256)
        assert (got == buf).all()


def test_cubic_kernel_properties():
    # partition of unity at any phase; exact at source centers
    for t in (0.0, 0.2, 0.5, 0.9):
        w = rs.cubic_kernel(np.array([t + 1, t, t - 1, t - 2]))
        assert abs(w.sum() - 1.0) < 1e-12
    src = np.arange(36, dtype=np.float64).reshape(6, 6)
    dfx = np.array([[3.5]])
    dfy = np.array([[2.5]])
    vals, mask = rs.sample_cubic(src, dfx, dfy)
    assert mask.all()
    assert abs(vals[0, 0] - src[2, 3]) < 1e-9


def test_cubic_linear_surface_exact():
    # Catmull-Rom reproduces linear ramps exactly (away from edges)
    src = np.add.outer(np.arange(10.0), np.arange(10.0) * 2)
    dfx = np.array([[4.3, 5.7], [3.1, 6.9]])
    dfy = np.array([[4.8, 3.2], [5.5, 2.6]])
    vals, _ = rs.sample_cubic(src, dfx, dfy)
    # value at continuous (x, y): row + 2*col with centers at k+0.5
    expect = (dfy - 0.5) + 2 * (dfx - 0.5)
    assert np.allclose(vals, expect, atol=1e-9)


def test_average_window_counts():
    src = np.full((8, 8), 10.0)
    src[0, 0] = 50.0
    x0 = np.array([[0.0]]); x1 = np.array([[2.0]])
    y0 = np.array([[0.0]]); y1 = np.array([[2.0]])
    vals, mask = rs.sample_average(src, x0, x1, y0, y1)
    assert mask.all()
    assert vals[0, 0] == (50 + 10 + 10 + 10) / 4.0
    # off-edge window: only in-bounds centers counted
    vals2, _ = rs.sample_average(src, np.array([[-1.0]]), np.array([[1.0]]),
                                 np.array([[0.0]]), np.array([[2.0]]))
    assert vals2[0, 0] == (50 + 10) / 2.0


def test_build_pyramid_levels(tmp_path, spark):
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import build_pyramid, overview_tiles, render_tiles

    images = build_images(spark, n=2, with_payload=False)
    out = str(tmp_path / "pyr")
    levels = build_pyramid(images, 12, 10, out_dir=out)
    assert set(levels) == {10, 11, 12}
    # level z-1 equals a directly derived overview of level z
    direct = {
        (r["tile_x"], r["tile_y"], r["band"]): r["checksum"]
        for r in overview_tiles(levels[12], with_data=False).collect()
    }
    stored = {
        (r["tile_x"], r["tile_y"], r["band"]): r["checksum"]
        for r in levels[11].select("tile_x", "tile_y", "band", "checksum").collect()
    }
    assert direct == stored
    # resume: second build writes zero new rows at every level
    from gdal_spark.operators.scale import ResumableWriter

    w = ResumableWriter(spark, f"{out}/z=12", keys=["tile_x", "tile_y", "band"])
    base = render_tiles(images, 12, with_data=True).where(F.col("n_px") > 0).drop("n_px")
    assert w.run(base)["rows"] == 0


def test_encode_png_tiles(spark):
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import encode_png_tiles, render_tiles
    from gdal_spark.raster.png import decode_png

    images = build_images(spark, n=1, with_payload=False)
    rendered = render_tiles(images, 12, with_data=True).where(F.col("n_px") > 0)
    out = encode_png_tiles(rendered, 12).collect()
    assert out
    r = out[0]
    assert r["path"] == f"12/{r['tile_x']}/{r['tile_y']}.png"
    arr = decode_png(bytes(r["png"]))
    assert arr.shape == (256, 256, 3)
    # encoded payload decodes back to the rendered band planes
    band0 = {
        b["band"]: np.frombuffer(b["data"], dtype=np.uint8).reshape(256, 256)
        for b in rendered.where(
            (F.col("tile_x") == r["tile_x"]) & (F.col("tile_y") == r["tile_y"])
        ).collect()
    }
    assert (arr[:, :, 0] == band0[0]).all()
    assert (arr[:, :, 2] == band0[2]).all()


def test_rms_and_mode_overviews():
    block = np.array(
        [[3, 4, 7, 7], [0, 0, 7, 2], [9, 9, 1, 1], [9, 5, 1, 2]], dtype=np.uint8
    )
    rms = rs.rms_2x2(block)
    # quad (0,0)=[3,4,0,0]: sqrt(25/4)=2.5 -> 3; (0,1)=[7,7,7,2]: sqrt(37.75) -> 6
    # (1,0)=[9,9,9,5]: sqrt(67) ~ 8.19 -> 8
    assert rms[0, 0] == 3 and rms[0, 1] == 6 and rms[1, 0] == 8
    mode = rs.mode_2x2(block)
    assert mode[0, 0] == 0          # 0 appears twice
    assert mode[0, 1] == 7          # 7 appears 3x
    assert mode[1, 0] == 9          # 9 appears 3x
    assert mode[1, 1] == 1          # 1 appears 2x beats 2


def test_average_nodata_excluded():
    src = np.array([[10.0, 0.0], [30.0, 40.0]])
    x0 = np.array([[0.0]]); x1 = np.array([[2.0]])
    y0 = np.array([[0.0]]); y1 = np.array([[2.0]])
    vals, mask = rs.sample_average(src, x0, x1, y0, y1, nodata=0.0)
    assert mask.all()
    assert vals[0, 0] == (10 + 30 + 40) / 3.0
    # all-nodata window -> unmasked
    allnd = np.zeros((4, 4))
    _, m2 = rs.sample_average(allnd, x0, x1, y0, y1, nodata=0.0)
    assert not m2[0, 0]


def test_render_decoded_matches_formula(spark):
    """decode -> warp -> composite must equal the synthetic-formula
    path checksum-for-checksum on lossless payloads (PNG/TIFF), and
    agree on coverage for JPEG (pixels lossy, mask identical)."""
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import render_tiles

    ids = spark.range(30).withColumnRenamed("id", "i")
    lossless = ids.where(F.col("i") % 3 != 1)
    imgs = build_images(spark, ids_df=lossless, with_payload=True)
    dec = {
        (r["tile_x"], r["tile_y"], r["band"]): (r["checksum"], r["n_px"])
        for r in render_tiles(imgs, 12, decode_payload=True).collect()
    }
    ref = {
        (r["tile_x"], r["tile_y"], r["band"]): (r["checksum"], r["n_px"])
        for r in render_tiles(imgs, 12).collect()
    }
    assert dec == ref and len(dec) > 0


def test_lanczos_integer_centers_identity():
    """Lanczos is interpolating: at exact pixel centers (dfSrc =
    k + 0.5) the kernel hits sinc zeros and reproduces the source."""
    src = (np.arange(64, dtype=np.float64).reshape(8, 8) * 3.7) % 251
    gy, gx = np.mgrid[0:8, 0:8]
    vals, mask = rs.sample_lanczos(src, gx + 0.5, gy + 0.5)
    assert mask.all()
    assert np.allclose(vals, src, atol=1e-9)


def test_cubicspline_partitions_unity():
    """B-spline weights sum to 1: constant input -> constant output
    (it is smoothing, NOT interpolating, so no identity test)."""
    src = np.full((8, 8), 77.0)
    rng = np.random.default_rng(5)
    dfx = rng.uniform(2.0, 6.0, (16,))
    dfy = rng.uniform(2.0, 6.0, (16,))
    vals, mask = rs.sample_cubicspline(src, dfx, dfy)
    assert mask.all()
    assert np.allclose(vals, 77.0, atol=1e-9)


def test_kernel_shapes_match_reference_formulas():
    # CubicSplineKernel(0) = (8 - 4*1)/6 = 2/3; (1) = (27-4*8+6*1)/6=1/6
    assert abs(rs.cubic_bspline_kernel(np.array([0.0]))[0] - 2 / 3) < 1e-12
    assert abs(rs.cubic_bspline_kernel(np.array([1.0]))[0] - 1 / 6) < 1e-12
    assert rs.cubic_bspline_kernel(np.array([2.1]))[0] == 0.0
    # Lanczos: L(0)=1, L(k)=0 for integer k != 0, L(|x|>=3)=0
    assert rs.lanczos_kernel(np.array([0.0]))[0] == 1.0
    assert abs(rs.lanczos_kernel(np.array([1.0]))[0]) < 1e-12
    assert abs(rs.lanczos_kernel(np.array([2.0]))[0]) < 1e-12
    assert rs.lanczos_kernel(np.array([3.0]))[0] == 0.0


def _exchanges(df):
    """(nodeName, output column names) of every Exchange in the
    physical plan (the AQE initial plan when AQE is on)."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    found, todo = [], [plan]
    while todo:
        node = todo.pop()
        if "Exchange" in node.nodeName():
            out = node.output()
            found.append((node.nodeName(),
                          [out.apply(k).name() for k in range(out.size())]))
        kids = node.children()
        todo.extend(kids.apply(k) for k in range(kids.size()))
    return found


def test_decoded_render_plan_has_one_exchange_without_payload(spark, tmp_path):
    """Sources decode and warp before the shuffle: the plan over a
    payload table holds ONE Exchange and the encoded `bytes` column
    never crosses it."""
    from gdal_spark.fixtures.images import build_images
    from gdal_spark.operators.render import render_tiles

    ids = spark.range(6).withColumnRenamed("id", "i")
    path = str(tmp_path / "payload")
    build_images(spark, ids_df=ids, with_payload=True).write.parquet(path)
    imgs = spark.read.parquet(path)
    assert "bytes" in imgs.columns
    exchanges = _exchanges(render_tiles(imgs, 12, decode_payload=True))
    assert len(exchanges) == 1, exchanges
    assert "bytes" not in exchanges[0][1]


def _overlap_images(spark):
    """Four overlapping sources straddling the corner of z12 tile
    (1000, 1500) at fractional-pixel offsets, so each spans 2-4 tiles."""
    res0 = georef.RES0
    span = tm.resolution(12) * 256
    bx, by = -tm.ORIGIN + 1000 * span, tm.ORIGIN - 1500 * span
    rows = []
    for i, (w, h, dx, dy) in enumerate(
        [(257, 100, -130.3, 40.6), (100, 257, -60.7, 150.2),
         (64, 64, -20.5, 20.5), (200, 180, -170.9, 99.1)]
    ):
        xmin, ymax = bx + dx * res0, by + dy * res0
        rows.append((i, w, h, xmin, ymax - h * res0, xmin + w * res0, ymax))
    return spark.createDataFrame(
        rows, "i long, w int, h int, xmin double, ymin double, xmax double, ymax double"
    )


def _numpy_composite(geo, tx, ty, z, resampling, ascending):
    """Local numpy reference: warp every source into the tile in
    composite order, last writer wins."""
    res0, res_z = georef.RES0, tm.resolution(z)
    buf = np.zeros((256, 256, 3), dtype=np.uint8)
    covered = np.zeros((256, 256), dtype=bool)
    span = res_z * 256
    tile_x0, tile_y1 = -tm.ORIGIN + tx * span, tm.ORIGIN - ty * span
    margin = 4 * res0  # wider than the largest kernel radius (lanczos: 3)
    for g in sorted(geo, key=lambda g: g["i"], reverse=not ascending):
        if (g["xmax"] + margin < tile_x0 or g["xmin"] - margin > tile_x0 + span
                or g["ymin"] - margin > tile_y1 or g["ymax"] + margin < tile_y1 - span):
            continue
        src = georef.np_image_pixels(g["i"], g["w"], g["h"])
        if resampling == "average":
            px = np.arange(256, dtype=np.float64)
            x0 = np.broadcast_to(
                ((-tm.ORIGIN + (tx * 256 + px) * res_z - g["xmin"]) / res0)[None, :], (256, 256))
            y0 = np.broadcast_to(
                ((g["ymax"] - (tm.ORIGIN - (ty * 256 + px) * res_z)) / res0)[:, None], (256, 256))
            vals, mask = rs.sample_average(src, x0, x0 + res_z / res0, y0, y0 + res_z / res0)
        else:
            dfx, dfy = rs.inverse_grid(tx, ty, z, g["xmin"], g["ymax"], res0, tm.ORIGIN, res_z)
            sample = {"near": rs.sample_nearest, "bilinear": rs.sample_bilinear,
                      "cubic": rs.sample_cubic, "cubicspline": rs.sample_cubicspline,
                      "lanczos": rs.sample_lanczos}[resampling]
            vals, mask = sample(src, dfx, dfy)
        if resampling != "near":
            vals = rs.round_to_byte(vals)
        buf[mask] = vals[mask]
        covered |= mask
    return buf, int(covered.sum())



@pytest.mark.parametrize(
    "resampling,ascending",
    [("near", True), ("near", False), ("bilinear", True), ("cubic", True),
     ("cubicspline", True), ("lanczos", False), ("average", True)],
)
def test_overlapping_multi_tile_render_matches_numpy(spark, resampling, ascending):
    from gdal_spark.operators.render import render_tiles

    images = _overlap_images(spark)
    geo = [r.asDict() for r in images.collect()]
    rows = render_tiles(images, 12, resampling=resampling, with_data=True,
                        ascending=ascending).collect()
    got = {(r["tile_x"], r["tile_y"], r["band"]): r for r in rows}
    tiles = {(tx, ty) for tx, ty, _ in got}
    assert {(999, 1499), (1000, 1499), (999, 1500), (1000, 1500)} <= tiles
    want_nonempty = set()
    for tx in range(998, 1002):
        for ty in range(1498, 1502):
            buf, n_px = _numpy_composite(geo, tx, ty, 12, resampling, ascending)
            if n_px:
                want_nonempty.add((tx, ty))
            if (tx, ty) not in tiles:
                continue
            for b in range(3):
                r = got[(tx, ty, b)]
                assert r["n_px"] == n_px
                assert r["checksum"] == gdal_checksum(buf[:, :, b])
                assert r["data"] == buf[:, :, b].tobytes()
    assert want_nonempty <= tiles
