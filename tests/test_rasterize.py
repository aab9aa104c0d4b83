"""gdal_rasterize semantics tests (alg/llrasterize.cpp:58-209,
alg/gdalrasterize.cpp:779-817)."""

import numpy as np
import pytest

from gdal_spark.geo.geom import points_in_polygon
from gdal_spark.raster.rasterize import (
    all_touched_mask,
    burn_rings,
    fill_polygon_runs,
    rasterize_polygon,
)


def _mask_from_runs(rings, h, w):
    m = np.zeros((h, w), dtype=bool)
    for y, xa, xb in fill_polygon_runs(rings, h):
        m[y, max(xa, 0):min(xb, w)] = True
    return m


def test_unit_square_centers():
    # square [2.0, 6.0) x [1.0, 5.0): pixel burned iff center inside
    ring = np.array([[2.0, 1.0], [6.0, 1.0], [6.0, 5.0], [2.0, 5.0], [2.0, 1.0]])
    m = _mask_from_runs([ring], 8, 8)
    assert m.sum() == 16
    assert m[1:5, 2:6].all()


def test_half_pixel_offsets():
    # square [2.4, 5.4) x [1.6, 4.6): centers inside are x in {3,4},
    # y in {2,3,4}; scanline rule floor(x+0.5) must reproduce exactly:
    # xs = floor(2.4+0.5) = 2?? -> no: intersections at x=2.4 and 5.4;
    # xs=floor(2.9)=2, xe=floor(5.9)=5 -> x 2..4; y rows where
    # y+0.5 in [1.6, 4.6) -> y in {2, 3, 4} (1.5<1.6 excluded, 4.5<4.6 in)
    ring = np.array([[2.4, 1.6], [5.4, 1.6], [5.4, 4.6], [2.4, 4.6], [2.4, 1.6]])
    m = _mask_from_runs([ring], 8, 8)
    ys, xs = np.nonzero(m)
    assert set(ys) == {2, 3, 4}
    assert set(xs) == {2, 3, 4}


def test_triangle_matches_center_inside_rule():
    # for non-degenerate polygons the scanline fill == center-in test
    rng = np.random.default_rng(7)
    for _ in range(10):
        k = int(rng.integers(3, 8))
        ang = np.sort(rng.uniform(0, 2 * np.pi, k))
        cx, cy = rng.uniform(10, 22, 2)
        r = rng.uniform(3, 9)
        ring = np.column_stack(
            [cx + r * np.cos(ang), cy + r * np.sin(ang)]
        )
        ring = np.vstack([ring, ring[:1]])
        m = _mask_from_runs([ring], 32, 32)
        yy, xx = np.mgrid[0:32, 0:32]
        centers = points_in_polygon(
            (xx + 0.5).ravel(), (yy + 0.5).ravel(), [ring]
        ).reshape(32, 32)
        assert (m == centers).all()


def test_hole_subtracts():
    outer = np.array([[1.0, 1.0], [15.0, 1.0], [15.0, 15.0], [1.0, 15.0], [1.0, 1.0]])
    hole = np.array([[5.0, 5.0], [5.0, 11.0], [11.0, 11.0], [11.0, 5.0], [5.0, 5.0]])
    m_outer = _mask_from_runs([outer], 16, 16)
    m_both = _mask_from_runs([outer, hole], 16, 16)
    assert m_both.sum() == m_outer.sum() - 36
    assert not m_both[7, 7]


def test_merge_alg_add_vs_replace():
    tri = [np.array([[0.0, 0.0], [8.0, 0.0], [0.0, 8.0], [0.0, 0.0]])]
    out = np.zeros((8, 8))
    burn_rings(out, tri, 5.0, merge_alg="replace")
    burn_rings(out, tri, 5.0, merge_alg="replace")
    assert out.max() == 5.0
    burn_rings(out, tri, 5.0, merge_alg="add")
    assert out.max() == 10.0


def test_all_touched_superset():
    tri = [np.array([[1.2, 1.7], [10.8, 2.3], [5.5, 9.9], [1.2, 1.7]])]
    fill = rasterize_polygon(tri, 12, 12) > 0
    at = rasterize_polygon(tri, 12, 12, all_touched=True) > 0
    assert (at | fill == at).all()
    assert at.sum() > fill.sum()
    edge = all_touched_mask(tri, 12, 12)
    # every vertex pixel is touched
    for vx, vy in [(1, 1), (10, 2), (5, 9)]:
        assert edge[vy, vx]


def test_distributed_counts_match_local(spark):
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.zones import build_zones, zone_rings
    from gdal_spark.operators.rasterize import (
        _pixel_rings,
        rasterize_burn_counts,
    )
    from gdal_spark.geo.wkb import wkb_polygon

    zones = build_zones(spark, n=20)
    got = {
        r["fid"]: r["burned_px"]
        for r in rasterize_burn_counts(zones, 5).collect()
    }
    n = 256 * (1 << 5)
    for fid in range(20):
        rings = _pixel_rings(wkb_polygon(zone_rings(fid)), 5)
        runs = fill_polygon_runs(rings, n)
        want = sum(min(xb, n) - max(xa, 0) for _, xa, xb in runs)
        assert got[fid] == want


def test_tile_checksum_consistency(spark):
    """Per-tile REPLACE burn: burned_px summed over tiles must equal
    the union coverage of all zones (pixel counted once per tile)."""
    from pyspark.sql import functions as F

    from gdal_spark.fixtures.zones import build_zones
    from gdal_spark.operators.rasterize import rasterize_tiles

    zones = build_zones(spark, n=12)
    out = rasterize_tiles(zones, 4, value_col="eas_id").where(F.col("burned_px") > 0)
    rows = out.collect()
    assert rows
    assert all(0 <= r["checksum"] <= 0xFFFF for r in rows)


def test_fill_polygon_runs_y_window_equals_full_scan():
    """The windowed fill is the full fill restricted to [y0, y1)."""
    import numpy as np

    from gdal_spark.raster.rasterize import fill_polygon_runs

    ring = np.array(
        [[3.2, 1.1], [40.7, 5.3], [35.1, 44.9], [10.0, 30.2], [3.2, 1.1]]
    )
    full = fill_polygon_runs([ring], 64)
    for y0, y1 in [(0, 64), (8, 16), (20, 21), (50, 60)]:
        win = fill_polygon_runs([ring], 64, y0, y1)
        want = full[(full[:, 0] >= y0) & (full[:, 0] < y1)]
        assert win.dtype == want.dtype and np.array_equal(win, want)


def test_cutline_tile_mask_matches_global_fill():
    """Per-tile windowed mask == the global fill clipped to the tile,
    including a polygon far larger than one tile."""
    import numpy as np

    from gdal_spark.operators.rasterize import TILE, cutline_tile_mask
    from gdal_spark.raster.rasterize import fill_polygon_runs

    z = 2  # 4x4 tiles, n = 1024
    n = TILE * (1 << z)
    big = np.array(
        [[100.0, 50.0], [900.0, 120.0], [800.0, 1000.0], [60.0, 700.0],
         [100.0, 50.0]]
    )
    want_global = np.zeros((n, n), dtype=bool)
    for y, xa, xb in fill_polygon_runs([big], n):
        want_global[y, max(xa, 0) : min(xb, n)] = True
    for tx, ty in [(0, 0), (1, 1), (2, 3), (3, 0)]:
        got = cutline_tile_mask([[big]], tx, ty, z)
        want = want_global[
            ty * TILE : (ty + 1) * TILE, tx * TILE : (tx + 1) * TILE
        ]
        assert np.array_equal(got, want)


def test_cutline_tile_mask_union_and_hole():
    """Two features union; a hole ring (even-odd parity) punches out."""
    import numpy as np

    from gdal_spark.operators.rasterize import cutline_tile_mask

    outer = np.array(
        [[10.0, 10.0], [120.0, 10.0], [120.0, 120.0], [10.0, 120.0],
         [10.0, 10.0]]
    )
    hole = np.array(
        [[40.0, 40.0], [80.0, 40.0], [80.0, 80.0], [40.0, 80.0],
         [40.0, 40.0]]
    )
    other = np.array(
        [[60.0, 60.0], [70.0, 60.0], [70.0, 70.0], [60.0, 70.0],
         [60.0, 60.0]]
    )
    with_hole = cutline_tile_mask([[outer, hole]], 0, 0, 0)
    assert with_hole[20, 20] and not with_hole[60, 60]
    unioned = cutline_tile_mask([[outer, hole], [other]], 0, 0, 0)
    assert unioned[65, 65] and not unioned[45, 45]
