"""Vector -> raster burn-in (gdal_rasterize semantics), pure numpy.

Re-derives the reference's exact scanline polygon-fill rule
(alg/llrasterize.cpp:58-209, GDALdllImageFilledPolygon):

- a pixel is burned iff its CENTER falls inside the polygon;
- per scanline row y the test height is dy = y + 0.5;
- an edge (dy1 < dy2 after orienting) contributes an intersection
  when dy1 <= dy < dy2 (half-open => each vertex counted once);
- intersection x is rounded as floor(x + 0.5);
- sorted intersections pair up even-odd; each pair [xa, xb) burns
  pixels xa .. xb-1 inclusive (holes fall out of even-odd pairing);
- horizontal BOTTOM segments are filled separately, TOP horizontal
  segments are skipped (llrasterize.cpp:155-186).

ALL_TOUCHED additionally burns every pixel any edge passes through
(alg/gdalrasterize.cpp:779, llrasterize.cpp GDALdllImageLineAllTouched):
implemented as a supercover line walk over the edge segments.

MERGE_ALG: REPLACE overwrites, ADD accumulates
(alg/gdalrasterize.cpp:800-817).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "fill_polygon_runs",
    "clip_runs",
    "expand_ranges",
    "runs_mask",
    "rasterize_polygon",
    "burn_rings",
    "all_touched_mask",
]


def fill_polygon_runs(
    rings: list[np.ndarray],
    height: int,
    y_min: int | None = None,
    y_max: int | None = None,
) -> np.ndarray:
    """Scanline-fill a polygon given rings in PIXEL coordinates.

    Returns burn runs as an (n, 3) int64 array of (y, x_start,
    x_end_exclusive) rows sorted by (y, x_start), with the exact
    reference rounding (llrasterize.cpp:109,193: floor(intersect+0.5),
    fill polyInts[i] .. polyInts[i+1]-1). Runs of one polygon are
    disjoint. x runs are NOT clipped here; the caller clips to its
    buffer (see clip_runs). y is clipped to [0, height), and
    optionally to the window [y_min, y_max) — callers rasterizing one
    tile of a world-spanning polygon restrict the scan to their own
    rows instead of walking the full y extent.

    All (edge, scanline) crossings are found in one array pass: each
    edge expands to its candidate scanlines, the half-open test
    dy1 <= dy < dy2 keeps the real crossings, and a (y, x) sort pairs
    even and odd ranks within each scanline.
    """
    ys = np.concatenate([r[:, 1] for r in rings])
    miny = max(int(ys.min()), 0)
    maxy = min(int(ys.max()), height - 1)
    if y_min is not None:
        miny = max(miny, y_min)
    if y_max is not None:
        maxy = min(maxy, y_max - 1)
    if maxy < miny:
        return np.empty((0, 3), dtype=np.int64)
    x1 = np.concatenate([r[:-1, 0] for r in rings]).astype(np.float64)
    y1 = np.concatenate([r[:-1, 1] for r in rings]).astype(np.float64)
    x2 = np.concatenate([r[1:, 0] for r in rings]).astype(np.float64)
    y2 = np.concatenate([r[1:, 1] for r in rings]).astype(np.float64)
    lo = np.minimum(y1, y2)
    hi = np.maximum(y1, y2)
    # orient each edge so dy1 < dy2; half-open [dy1, dy2)
    up = y1 < y2
    ex1 = np.where(up, x1, x2)
    ex2 = np.where(up, x2, x1)

    # candidate scanlines per edge: every y with lo <= y + 0.5 < hi
    # lies in [floor(lo) - 1, floor(hi)]; the exact test below decides
    first = np.clip(np.floor(lo) - 1, miny, maxy + 1).astype(np.int64)
    last = np.clip(np.floor(hi), miny - 1, maxy).astype(np.int64)
    edge, y = expand_ranges(first, np.maximum(last - first + 1, 0))
    dy = y + 0.5
    sel = (dy >= lo[edge]) & (dy < hi[edge])
    edge, y, dy = edge[sel], y[sel], dy[sel]
    ey1, ey2, sx1, sx2 = lo[edge], hi[edge], ex1[edge], ex2[edge]
    xint = (dy - ey1) * (sx2 - sx1) / (ey2 - ey1) + sx1
    x = np.floor(xint + 0.5).astype(np.int64)

    # even-odd pairing: ranks 2k and 2k+1 of each scanline's sorted xs
    order = np.lexsort((x, y))
    y, x = y[order], x[order]
    new_row = np.ones(len(y), dtype=bool)
    new_row[1:] = y[1:] != y[:-1]
    starts = np.flatnonzero(new_row)
    rank = np.arange(len(y)) - np.repeat(starts, np.diff(np.r_[starts, len(y)]))
    left = np.flatnonzero(rank % 2 == 0)
    left = left[left + 1 < len(y)]
    left = left[y[left + 1] == y[left]]
    left = left[x[left + 1] > x[left]]
    runs = np.column_stack([y[left], x[left], x[left + 1]])

    # bottom-horizontal segments exactly at pixel-center height
    # (llrasterize.cpp:155-186): an edge with y1 == y2 == dy and
    # x1 > x2 (ring order) burns floor(x2+0.5)..floor(x1+0.5)-1;
    # top horizontals (x1 < x2) are skipped — the regular even-odd
    # pass already covers them.
    hy = np.floor(y1 - 0.5)
    hsel = (y1 == y2) & (x1 > x2) & (hy + 0.5 == y1) & (hy >= miny) & (hy <= maxy)
    if hsel.any():
        runs = _merge_horizontals(
            runs, hy[hsel].astype(np.int64),
            np.floor(x2[hsel] + 0.5).astype(np.int64),
            np.floor(x1[hsel] + 0.5).astype(np.int64),
        )
    return runs


def expand_ranges(first: np.ndarray, count: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Flatten the integer ranges first[i] .. first[i] + count[i] - 1:
    returns (i, value) arrays, ranges in order."""
    owner = np.repeat(np.arange(len(first)), count)
    value = np.repeat(first - np.cumsum(count) + count, count) + np.arange(len(owner))
    return owner, value


def _merge_horizontals(
    runs: np.ndarray, hy: np.ndarray, ha: np.ndarray, hb: np.ndarray
) -> np.ndarray:
    """Add the bottom-horizontal runs (hy, ha, hb), in ring order, to
    the even-odd runs of their scanlines, avoiding double-burn of
    pixels already produced (the bAvoidBurningSamePoints polyInts2
    merge, llrasterize.cpp:210+) so callers can treat runs as disjoint
    per polygon (safe under MERGE_ALG=ADD). Only the scanlines that
    have a horizontal edge are touched."""
    rows = set(hy.tolist())
    keep = ~np.isin(runs[:, 0], list(rows))
    merged = [runs[keep]]
    for row in sorted(rows):
        row_runs = [(xa, xb) for _, xa, xb in runs[runs[:, 0] == row].tolist()]
        for xa, xb in zip(ha[hy == row].tolist(), hb[hy == row].tolist()):
            if xb <= xa:
                continue
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
        if row_runs:
            merged.append(np.array([(row, xa, xb) for xa, xb in row_runs], dtype=np.int64))
    out = np.concatenate(merged).astype(np.int64, copy=False)
    return out[np.lexsort((out[:, 1], out[:, 0]))]


def clip_runs(runs: np.ndarray, width: int, height: int | None = None) -> np.ndarray:
    """Clip (y, xa, xb) runs to x in [0, width) and y in [0, height)
    (height defaults to width), dropping runs left empty."""
    height = width if height is None else height
    xa = np.maximum(runs[:, 1], 0)
    xb = np.minimum(runs[:, 2], width)
    keep = (runs[:, 0] >= 0) & (runs[:, 0] < height) & (xb > xa)
    return np.column_stack([runs[keep, 0], xa[keep], xb[keep]])


def runs_mask(runs: np.ndarray, height: int, width: int) -> np.ndarray:
    """Boolean (height, width) mask of disjoint runs (clipped first)."""
    runs = clip_runs(runs, width, height)
    edges = np.zeros((height, width + 1), dtype=np.int32)
    np.add.at(edges, (runs[:, 0], runs[:, 1]), 1)
    np.add.at(edges, (runs[:, 0], runs[:, 2]), -1)
    return np.cumsum(edges[:, :width], axis=1) > 0


def burn_rings(
    out: np.ndarray,
    rings: list[np.ndarray],
    burn_value: float,
    merge_alg: str = "replace",
    all_touched: bool = False,
) -> int:
    """Burn one polygon into `out` (shape (H, W)); rings already in
    pixel coordinates of `out`. Returns burned-pixel count."""
    h, w = out.shape
    mask = runs_mask(fill_polygon_runs(rings, h), h, w)
    if all_touched:
        mask |= all_touched_mask(rings, h, w)
    if merge_alg == "add":
        out[mask] += burn_value
    else:
        out[mask] = burn_value
    return int(mask.sum())


def rasterize_polygon(
    rings: list[np.ndarray],
    width: int,
    height: int,
    burn_value: float = 1.0,
    merge_alg: str = "replace",
    all_touched: bool = False,
    dtype=np.float64,
) -> np.ndarray:
    out = np.zeros((height, width), dtype=dtype)
    burn_rings(out, rings, burn_value, merge_alg, all_touched)
    return out


def all_touched_mask(rings: list[np.ndarray], height: int, width: int) -> np.ndarray:
    """Pixels any ring edge passes through (supercover traversal --
    the ALL_TOUCHED contract of GDALdllImageLineAllTouched)."""
    mask = np.zeros((height, width), dtype=bool)

    def mark(px: float, py: float) -> None:
        ix, iy = int(np.floor(px)), int(np.floor(py))
        if 0 <= ix < width and 0 <= iy < height:
            mask[iy, ix] = True

    for ring in rings:
        for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
            n = int(max(abs(x1 - x0), abs(y1 - y0)) * 2) + 1
            ts = np.linspace(0.0, 1.0, n + 1)
            for t in ts:
                mark(x0 + t * (x1 - x0), y0 + t * (y1 - y0))
    return mask
