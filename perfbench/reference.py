"""Independent references for every checked benchmark output.

Nothing here calls the engine code that the benchmark times. The join,
tile, rasterize and overlay references are the DuckDB twins behind
``oracle_sql()`` (the SQL builders in ``__spark_entry__`` and the
``sql_*`` helpers of ``georef``/``tilemath``/``rasterize``), pointed at
the benchmark's parquet. kNN is brute-force distances in numpy.
Render and image statistics are computed in numpy from each payload
image's reference pixels, warped by the nearest rule: the fixture
formula ``value(x, y, c) = (x + y + i + phase_c) % 256`` for the
lossless formats, and for JPEG the payload bytes as the JVM's own
decoder (``javax.imageio``, IJG libjpeg) decodes them. JPEG is lossy
at encode time, so decoded-pixel parity is judged against a reference
decode of the same bytes, not against the pixels before encoding.

Large results are compared through an order-free digest: the row
count plus two sums of a polynomial hash of the row's integer columns
modulo a prime. ``digest_columns`` (numpy) and
``workloads.spark_digest`` (Spark) compute the same numbers.
"""

from __future__ import annotations

import math

import numpy as np

P = 2_147_483_647  # 2^31 - 1
MULT = 1_000_003
PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)
PHASES = (0, 85, 170)
EARTH_RADIUS = 6378137.0
ORIGIN = math.pi * EARTH_RADIUS
HALF_SELECT = "((i * 40503) % 65536) < 32768"  # images in the first commit run


def digest_columns(*cols) -> tuple[int, int, int]:
    """(count, sum h, sum h^2 mod P) of h = fold(h * MULT + c) mod P."""
    cols = [np.asarray(c, dtype=np.int64) for c in cols]
    n = len(cols[0]) if cols else 0
    h = np.zeros(n, dtype=np.int64)
    for c in cols:
        h = (h * MULT + c % P) % P
    return n, int(h.sum()), int(((h * h) % P).sum())


def parquet_glob(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def connect():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


# ---------------------------------------------------------------------------
# join_tile: PIP pairs, tile counts, committed keys, kNN
# ---------------------------------------------------------------------------

def pip_pairs(images: str, zones: str) -> tuple[int, int, int]:
    """Digest of (i, fid) point-in-polygon pairs: the ``_o_pip_join``
    twin with its image CTE replaced by the benchmark's parquet."""
    import __spark_entry__ as entry
    from gdal_spark.fixtures import georef

    zn = georef.sql_zones_cte("fid", f"(SELECT fid FROM {parquet_glob(zones)})")
    sql = f"""
WITH img AS (SELECT i, lon_c, lat_c FROM {parquet_glob(images)}),
zn AS ({zn}),
outer_edges AS ({entry._zone_edges_cte('r')}),
hole_edges AS ({entry._zone_edges_cte('hole_r')}),
cand AS (
  SELECT i.i, i.lon_c, i.lat_c, z.fid, z.has_hole
  FROM img i JOIN zn z
    ON i.lon_c BETWEEN z.lon0 - z.r AND z.lon0 + z.r
   AND i.lat_c BETWEEN z.lat0 - z.r AND z.lat0 + z.r
),
in_outer AS (
  SELECT c.i, c.fid, c.has_hole, c.lon_c, c.lat_c
  FROM cand c JOIN outer_edges e ON e.fid = c.fid
  GROUP BY c.i, c.fid, c.has_hole, c.lon_c, c.lat_c
  HAVING min((e.x2 - e.x1) * (c.lat_c - e.y1) - (e.y2 - e.y1) * (c.lon_c - e.x1)) >= 0
),
in_hole AS (
  SELECT c.i, c.fid
  FROM in_outer c JOIN hole_edges e ON e.fid = c.fid
  WHERE c.has_hole
  GROUP BY c.i, c.fid
  HAVING min((e.x2 - e.x1) * (c.lat_c - e.y1) - (e.y2 - e.y1) * (c.lon_c - e.x1)) >= 0
)
SELECT o.i, o.fid FROM in_outer o
ANTI JOIN in_hole h ON h.i = o.i AND h.fid = o.fid
"""
    r = connect().execute(sql).fetchnumpy()
    return digest_columns(r["i"], r["fid"])


def tile_counts(images: str, z: int, where: str = "TRUE") -> tuple[np.ndarray, ...]:
    """(tile_x, tile_y, n_images) arrays: the ``_o_tile_assign`` range
    expansion (GetTileIndices with the 1e-3 inward snap) grouped per
    tile."""
    from gdal_spark.tiles import tilemath as tm

    sql = f"""
WITH t AS (
  SELECT {tm.sql_tile_x('xmin', z)} AS min_tx, {tm.sql_tile_x('xmax', z)} AS max_tx,
         {tm.sql_tile_y('ymax', z)} AS min_ty, {tm.sql_tile_y('ymin', z)} AS max_ty
  FROM {parquet_glob(images)} WHERE {where}
)
SELECT t.min_tx + gx.dx AS tile_x, t.min_ty + gy.dy AS tile_y, count(*) AS n
FROM t, range(0, 8) AS gx(dx), range(0, 8) AS gy(dy)
WHERE t.min_tx + gx.dx <= t.max_tx AND t.min_ty + gy.dy <= t.max_ty
GROUP BY 1, 2
"""
    r = connect().execute(sql).fetchnumpy()
    return r["tile_x"], r["tile_y"], r["n"]


def _merc(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    x = EARTH_RADIUS * np.radians(lon)
    y = EARTH_RADIUS * np.log(np.tan(math.pi / 4.0 + np.radians(lat) / 2.0))
    return x, y


def knn_sample(images: str, sites: str, site_ids: list[int], k: int) -> dict:
    """Brute-force kNN for the sampled sites: site i -> (k nearest
    distances ascending, {image i: distance} for every image no farther
    than the k-th nearest, with a 1e-6 relative margin for ties)."""
    con = connect()
    img = con.execute(f"SELECT i, lon_c, lat_c FROM {parquet_glob(images)}").fetchnumpy()
    ids = ",".join(map(str, site_ids))
    st = con.execute(
        f"SELECT i, slon, slat FROM {parquet_glob(sites)} WHERE i IN ({ids})").fetchnumpy()
    px, py = _merc(img["lon_c"], img["lat_c"])
    out = {}
    for si, lon, lat in zip(st["i"], st["slon"], st["slat"]):
        qx, qy = _merc(np.array([lon]), np.array([lat]))
        d = np.sqrt((qx - px) ** 2 + (qy - py) ** 2)
        top = d[np.lexsort((img["i"], d))[:k]]
        near = d <= top[-1] * (1.0 + 1e-6) + 1e-6
        out[int(si)] = (top, dict(zip(img["i"][near].tolist(), d[near].tolist())))
    return out


# ---------------------------------------------------------------------------
# python_kernels: rasterize and overlay
# ---------------------------------------------------------------------------

def _zone_views(con, zones: str, fid_hi: int) -> None:
    src = f"(SELECT fid FROM {parquet_glob(zones)} WHERE fid < {fid_hi})"
    con.execute(f"CREATE OR REPLACE VIEW supplier AS SELECT fid AS s_suppkey FROM {src}")
    con.execute(f"CREATE OR REPLACE VIEW part AS SELECT fid AS p_partkey FROM {src}")


def rasterize_tiles(zones: str, fid_hi: int, z: int) -> dict[tuple[int, int], int]:
    """(tile_x, tile_y) -> burn_sum: the ``_o_rasterize_tile_add``
    scanline-run twin at zoom z."""
    import __spark_entry__ as entry

    nt = 1 << z
    sql = f"""{entry._rast_ctes(z)},
contrib AS (
  SELECT fid, y, xs, xe, 1 AS sgn FROM oruns
  UNION ALL
  SELECT fid, y, xs, xe, -1 AS sgn FROM hruns
),
parts AS (
  SELECT cast(t.tx as int) AS tile_x, cast(c.y // 256 as int) AS tile_y,
         c.sgn * (least(c.xe, (t.tx + 1) * 256) - greatest(c.xs, t.tx * 256)) AS px
  FROM contrib c JOIN range(0, {nt}) AS t(tx)
    ON t.tx >= c.xs // 256 AND t.tx <= (c.xe - 1) // 256
  WHERE c.xe > c.xs
)
SELECT tile_x, tile_y, cast(sum(px) as bigint) AS burn_sum
FROM parts GROUP BY 1, 2 HAVING sum(px) > 0
"""
    con = connect()
    _zone_views(con, zones, fid_hi)
    return {(int(x), int(y)): int(b) for x, y, b in con.execute(sql).fetchall()}


def overlay_pairs(zones: str, fid_hi: int) -> dict[tuple[int, int], tuple[int, ...]]:
    """(fid_a, fid_b) -> the five area measures * 1e4: the
    ``_o_overlay`` convex-clip twin, both layers the same zones."""
    import __spark_entry__ as entry

    con = connect()
    _zone_views(con, zones, fid_hi)
    return {
        (int(r[0]), int(r[1])): tuple(int(v) for v in r[2:])
        for r in con.execute(entry._o_overlay()).fetchall()
    }


# ---------------------------------------------------------------------------
# python_kernels: render and image statistics
# ---------------------------------------------------------------------------

def _tile_index(v: float, z: int) -> int:
    return int(max(0, min((1 << z) - 1, math.floor(v + 1e-3))))


def _pixel_checksum(vals: np.ndarray) -> int:
    """GDAL's checksum of one band: sum of value mod primes[pixel % 11]."""
    idx = np.arange(vals.size, dtype=np.int64).reshape(vals.shape)
    return int((vals.astype(np.int64) % PRIMES[idx % 11]).sum()) & 0xFFFF


def formula_pixels(i: int, w: int, h: int) -> np.ndarray:
    """[h, w, 3] uint8 pixels of fixture image ``i`` before encoding."""
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    return np.stack([(x + y + i + p) % 256 for p in PHASES], axis=2).astype(np.uint8)


def jvm_decode_jpeg(jvm, data: bytes) -> np.ndarray:
    """[h, w, 3] uint8 RGB of a JFIF stream decoded by ``javax.imageio``."""
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.ByteArrayInputStream(bytearray(data)))
    if img is None or img.getType() != jvm.java.awt.image.BufferedImage.TYPE_3BYTE_BGR:
        raise ValueError("javax.imageio did not decode the JPEG to 3-byte BGR")
    h, w = img.getHeight(), img.getWidth()
    bgr = np.frombuffer(bytes(img.getRaster().getDataBuffer().getData()), dtype=np.uint8)
    return bgr.reshape(h, w, 3)[:, :, ::-1].copy()


def reference_pixels(jvm, images: list[dict]) -> dict[int, np.ndarray]:
    """image i -> [h, w, 3] reference pixels: the formula for lossless
    payloads, the JVM's decode of the bytes for JPEG."""
    out = {}
    for im in images:
        i = int(im["i"])
        if im["fmt"] == "jpeg":
            px = jvm_decode_jpeg(jvm, im["bytes"])
            if px.shape != (im["h"], im["w"], 3):
                raise ValueError(f"JPEG image {i} decodes to {px.shape}")
            out[i] = px
        else:
            out[i] = formula_pixels(i, im["w"], im["h"])
    return out


def render_tiles(images: list[dict], pixels: dict[int, np.ndarray], z: int,
                 res0: float) -> dict:
    """(tile_x, tile_y) -> (bands [3, 256, 256] uint8, owner [256, 256])
    for the nearest-warp, last-writer-wins (ascending i) composite of the
    reference pixels; owner is the winning image id, -1 where uncovered."""
    res_z = 2.0 * ORIGIN / 256.0 / (1 << z)
    span = 256.0 * res_z
    px = np.arange(256, dtype=np.float64)
    tiles: dict[tuple[int, int], list[dict]] = {}
    for im in images:
        for tx in range(_tile_index((im["xmin"] + ORIGIN) / span, z),
                        _tile_index((im["xmax"] + ORIGIN) / span, z) + 1):
            for ty in range(_tile_index((ORIGIN - im["ymax"]) / span, z),
                            _tile_index((ORIGIN - im["ymin"]) / span, z) + 1):
                tiles.setdefault((tx, ty), []).append(im)
    out = {}
    for (tx, ty), ims in tiles.items():
        bands = np.zeros((3, 256, 256), dtype=np.uint8)
        owner = np.full((256, 256), -1, dtype=np.int64)
        wx = -ORIGIN + (tx * 256 + px + 0.5) * res_z
        wy = ORIGIN - (ty * 256 + px + 0.5) * res_z
        for im in sorted(ims, key=lambda r: r["i"]):
            ix = np.floor((wx - im["xmin"]) / res0).astype(np.int64)[None, :]
            iy = np.floor((im["ymax"] - wy) / res0).astype(np.int64)[:, None]
            m = (ix >= 0) & (ix < im["w"]) & (iy >= 0) & (iy < im["h"])
            src = pixels[int(im["i"])][np.clip(iy, 0, im["h"] - 1), np.clip(ix, 0, im["w"] - 1)]
            bands = np.where(m[None], np.moveaxis(src, 2, 0), bands)
            owner = np.where(m, im["i"], owner)
        if (owner >= 0).any():
            out[(tx, ty)] = (bands, owner)
    return out


def render_rows(tiles: dict) -> dict[tuple[int, int, int], tuple[int, int]]:
    """(tile_x, tile_y, band) -> (GDAL checksum, covered pixels)."""
    return {
        (tx, ty, b): (_pixel_checksum(bands[b]), int((owner >= 0).sum()))
        for (tx, ty), (bands, owner) in tiles.items()
        for b in range(3)
    }


def image_stats(images: list[dict], pixels: dict[int, np.ndarray]
                ) -> dict[tuple[str, int], tuple[int, int, int, int]]:
    """(image_id, band) -> (mean_e2, vmin, vmax, checksum) of the
    reference pixels (for lossless payloads the ``_o_image_stats``
    closed form)."""
    out = {}
    for im in images:
        arr = pixels[int(im["i"])].astype(np.int64)
        for b in range(3):
            v = arr[:, :, b]
            out[(im["image_id"], b)] = (
                int(100 * v.sum() // v.size), int(v.min()), int(v.max()),
                _pixel_checksum(v),
            )
    return out
