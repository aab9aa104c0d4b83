"""Differential test of the array-at-a-time scanline fill
(raster/rasterize.fill_polygon_runs) against the per-scanline loop it
replaced, kept here as a test-only reference (alg/llrasterize.cpp:58-209
rule: dy = y + 0.5, half-open edge test, floor(x + 0.5), even-odd
pairing, bottom-horizontal merge)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from gdal_spark.raster.rasterize import fill_polygon_runs


def reference_fill(rings, height, y_min=None, y_max=None):
    """The per-scanline loop, verbatim: a list of (y, xa, xb) runs."""
    ys = np.concatenate([r[:, 1] for r in rings])
    miny = max(int(ys.min()), 0)
    maxy = min(int(ys.max()), height - 1)
    if y_min is not None:
        miny = max(miny, y_min)
    if y_max is not None:
        maxy = min(maxy, y_max - 1)
    runs = []
    for y in range(miny, maxy + 1):
        dy = y + 0.5
        xs = []
        horiz = []
        for ring in rings:
            x1 = ring[:-1, 0]
            y1 = ring[:-1, 1]
            x2 = ring[1:, 0]
            y2 = ring[1:, 1]
            lo = np.minimum(y1, y2)
            hi = np.maximum(y1, y2)
            sel = (dy >= lo) & (dy < hi)
            if sel.any():
                ex1 = np.where(y1[sel] < y2[sel], x1[sel], x2[sel])
                ey1 = lo[sel]
                ex2 = np.where(y1[sel] < y2[sel], x2[sel], x1[sel])
                ey2 = hi[sel]
                xint = (dy - ey1) * (ex2 - ex1) / (ey2 - ey1) + ex1
                xs.extend(np.floor(xint + 0.5).astype(np.int64).tolist())
            hsel = (y1 == dy) & (y2 == dy) & (x1 > x2)
            if hsel.any():
                ha = np.floor(x2[hsel] + 0.5).astype(np.int64)
                hb = np.floor(x1[hsel] + 0.5).astype(np.int64)
                horiz.extend(
                    (xa, xb) for xa, xb in zip(ha.tolist(), hb.tolist()) if xb > xa
                )
        xs.sort()
        row_runs = []
        for i in range(0, len(xs) - 1, 2):
            if xs[i + 1] > xs[i]:
                row_runs.append((xs[i], xs[i + 1]))
        for xa, xb in horiz:
            cur = [(xa, xb)]
            for ra, rb in row_runs:
                nxt = []
                for ca, cb in cur:
                    if rb <= ca or ra >= cb:
                        nxt.append((ca, cb))
                    else:
                        if ca < ra:
                            nxt.append((ca, ra))
                        if rb < cb:
                            nxt.append((rb, cb))
                cur = nxt
            row_runs.extend(cur)
        runs.extend((y, xa, xb) for xa, xb in row_runs)
    return runs


def assert_same_runs(rings, height, y_min=None, y_max=None):
    got = fill_polygon_runs(rings, height, y_min, y_max)
    want = np.array(sorted(reference_fill(rings, height, y_min, y_max)),
                    dtype=np.int64).reshape(-1, 3)
    assert got.dtype == np.int64 and got.shape == want.shape
    assert np.array_equal(got, want)


def _closed(pts):
    pts = np.asarray(pts, dtype=np.float64)
    return np.vstack([pts, pts[:1]])


def _star(rng, cx, cy, r, k):
    ang = np.sort(rng.uniform(0, 2 * np.pi, k))
    rad = rng.uniform(0.3 * r, r, k)
    return np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])


def _snap(pts, rng, mode):
    """Push coordinates onto the rule's boundaries: pixel edges,
    pixel centres (y + 0.5) or a quarter grid."""
    if mode == "center_y":
        pts[:, 1] = np.floor(pts[:, 1]) + 0.5
    elif mode == "quarter":
        pts = np.round(pts * 4) / 4
    elif mode == "integer":
        pts = np.round(pts)
    elif mode == "mixed":
        pick = rng.random(len(pts)) < 0.5
        pts[pick, 1] = np.floor(pts[pick, 1]) + 0.5
    return pts


SNAPS = st.sampled_from(["none", "center_y", "quarter", "integer", "mixed"])


@given(st.integers(0, 2**32 - 1), SNAPS, st.integers(0, 3), st.booleans())
@settings(max_examples=150, deadline=None)
def test_multi_ring_polygons_with_holes(seed, snap, n_holes, reverse):
    rng = np.random.default_rng(seed)
    cx, cy = rng.uniform(8, 40, 2)
    r = rng.uniform(4, 24)
    rings = [_closed(_snap(_star(rng, cx, cy, r, int(rng.integers(3, 12))), rng, snap))]
    for _ in range(n_holes):
        hx, hy = cx + rng.uniform(-r, r) / 3, cy + rng.uniform(-r, r) / 3
        hole = _snap(_star(rng, hx, hy, r / 4, int(rng.integers(3, 7))), rng, snap)
        rings.append(_closed(hole[::-1] if reverse else hole))
    # a second, possibly overlapping part exercises even-odd across rings
    if rng.random() < 0.3:
        rings.append(_closed(_snap(_star(rng, cx + r, cy, r / 2, 5), rng, snap)))
    assert_same_runs(rings, 64)


@given(st.integers(0, 2**32 - 1), st.integers(2, 30), st.booleans())
@settings(max_examples=100, deadline=None)
def test_horizontal_edges_at_pixel_centres(seed, k, clockwise):
    """Staircase and rectangle rings whose horizontal edges sit at
    y + 0.5, walked in both orientations (bottom horizontals burn,
    top ones are skipped)."""
    rng = np.random.default_rng(seed)
    y0 = int(rng.integers(0, 20)) + 0.5
    y1 = y0 + int(rng.integers(0, 10))
    xa, xb = sorted(rng.uniform(0, 40, 2).round(1))
    steps = [[xa, y0]]
    x = xa
    for _ in range(int(rng.integers(1, 4))):
        x2 = x + rng.uniform(0.5, 6)
        yy = np.floor(rng.uniform(y0, y1 + 5)) + 0.5
        steps += [[x2, steps[-1][1]], [x2, yy]]
        x = x2
    steps += [[max(x, xb) + 1, steps[-1][1]], [max(x, xb) + 1, y1 + 3], [xa, y1 + 3]]
    ring = np.array(steps)
    if clockwise:
        ring = ring[::-1]
    rect = np.array([[xa, y0], [xb, y0], [xb, y1], [xa, y1]])
    if not clockwise:
        rect = rect[::-1]
    assert_same_runs([_closed(ring)], 48)
    assert_same_runs([_closed(rect)], 48)
    assert_same_runs([_closed(ring), _closed(rect)], 48)


@given(st.integers(0, 2**32 - 1), st.booleans())
@settings(max_examples=60, deadline=None)
def test_zero_height_rings(seed, centred):
    rng = np.random.default_rng(seed)
    yy = float(rng.integers(0, 30)) + (0.5 if centred else float(rng.uniform(0, 1)))
    xs = rng.uniform(0, 40, int(rng.integers(2, 6)))
    flat = np.column_stack([xs, np.full(len(xs), yy)])
    assert_same_runs([_closed(flat)], 32)
    outer = _closed([[0.0, 0.0], [40.0, 0.0], [40.0, 31.0], [0.0, 31.0]])
    assert_same_runs([outer, _closed(flat)], 32)


@given(st.integers(0, 2**32 - 1), st.integers(-5, 70), st.integers(-5, 70), SNAPS)
@settings(max_examples=100, deadline=None)
def test_y_window(seed, a, b, snap):
    rng = np.random.default_rng(seed)
    rings = [_closed(_snap(_star(rng, 30, 30, 28, 9), rng, snap)),
             _closed(_snap(_star(rng, 30, 30, 8, 5), rng, snap))]
    assert_same_runs(rings, 64, min(a, b), max(a, b))
    assert_same_runs(rings, 64, a, None)
    assert_same_runs(rings, 64, None, b)


def test_rings_outside_the_grid():
    below = _closed([[1.0, -9.0], [5.0, -9.0], [5.0, -2.0]])
    above = _closed([[1.0, 40.0], [5.0, 40.0], [5.0, 50.0]])
    straddle = _closed([[-5.0, -5.0], [50.0, -3.0], [30.0, 45.0]])
    for rings in ([below], [above], [straddle], [below, straddle]):
        assert_same_runs(rings, 32)


def test_zone_rings_fixture_z5_to_z10():
    from gdal_spark.fixtures.zones import zone_rings
    from gdal_spark.geo.wkb import wkb_polygon
    from gdal_spark.operators.rasterize import _pixel_rings

    for z in range(5, 11):
        n = 256 * (1 << z)
        for fid in range(0, 400, 7):
            assert_same_runs(_pixel_rings(wkb_polygon(zone_rings(fid)), z), n)
