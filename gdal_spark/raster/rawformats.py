"""Small raw-format codecs, batch 2 (round 5): PNM, KRO, GTX, SNODAS.

Each re-derives one reference raw driver byte-for-byte:

- PNM (frmts/raw/pnmdataset.cpp): binary P5 (gray) / P6 (RGB) only —
  no ascii, no pbm (Identify, :122-143).  maxval < 256 -> Byte,
  else UInt16 **big-endian** (:234-237); header tokens allow
  ``#`` comments (:168-206); GDAL writes ``P{5,6}\\n<w> <h>\\n<max>\\n``
  (:384-388).
- KRO (frmts/raw/krodataset.cpp, spec at autopano.net): ``KRO\\x01``
  magic then w, h, depth, ncomp as big-endian int32; depth 8/16/32 ->
  Byte / UInt16 BE / Float32 BE, pixel-interleaved (:82-121).
- GTX (frmts/raw/gtxdataset.cpp, NOAA vertical datum shift grids):
  40-byte big-endian header (ymin, xmin, dy, dx as f64; nrows, ncols
  as i32, :232-250), data float32 BE (legacy f64 auto-detected from
  file size, :288-292) stored SOUTH-UP (the band reads with negative
  line pitch from the last row, :301-306); the geotransform shifts
  the pixel-CENTER origin to corners (:258-263).
- SNODAS (frmts/raw/snodasdataset.cpp, NOHRSC): ``.hdr`` text of
  ``key: value`` lines (Identify pins the "Format version: NOHRSC
  GIS/RS raster file v1.1" first line, :229-236), separate data file
  of int16 **big-endian** (:89), geotransform from min/max axis
  coordinates divided by rows/cols (:455-463), "No data value" key.
"""

from __future__ import annotations

import math
import struct

import numpy as np

__all__ = [
    "encode_pnm", "decode_pnm",
    "encode_kro", "decode_kro",
    "encode_gtx", "decode_gtx",
    "encode_snodas", "decode_snodas",
    "encode_sigdem", "decode_sigdem",
    "encode_ngsgeoid", "decode_ngsgeoid",
    "encode_jdem", "decode_jdem",
    "encode_ace2", "decode_ace2",
]


# --- PNM --------------------------------------------------------------------

def encode_pnm(arr: np.ndarray) -> bytes:
    """(h, w) or (h, w, 3) uint8/uint16 -> binary P5/P6 bytes (the
    header layout PNMDataset::Create writes)."""
    if arr.ndim == 2:
        magic, nc = b"P5", 1
    elif arr.ndim == 3 and arr.shape[2] == 3:
        magic, nc = b"P6", 3
    else:
        raise ValueError("pnm: gray (h,w) or RGB (h,w,3) only")
    if arr.dtype == np.uint8:
        maxval, payload = 255, arr.tobytes()
    elif arr.dtype == np.uint16:
        maxval, payload = 65535, arr.astype(">u2").tobytes()
    else:
        raise ValueError("pnm: uint8/uint16 only")
    h, w = arr.shape[:2]
    del nc
    return magic + b"\n%d %d\n%d\n" % (w, h, maxval) + payload


def decode_pnm(data: bytes) -> np.ndarray:
    if len(data) < 10 or data[0:1] != b"P" or data[1:2] not in (b"5", b"6"):
        raise ValueError("pnm: not a binary P5/P6 stream")
    nc = 3 if data[1:2] == b"6" else 1
    # token scan with '#' comment skip, mirroring the reference's walk
    toks: list[int] = []
    i = 2
    cur = b""
    while i < len(data) and len(toks) < 3:
        c = data[i : i + 1]
        if c == b"#":
            while i < len(data) - 1 and data[i] not in (10, 13):
                i += 1
        elif c.isspace():
            if cur:
                toks.append(int(cur))
                cur = b""
        else:
            cur += c
        i += 1
    if len(toks) != 3:
        raise ValueError("pnm: truncated header")
    w, h, maxval = toks
    if w < 1 or h < 1 or maxval < 1:
        raise ValueError("pnm: bad header values")
    dt = np.uint8 if maxval < 256 else np.dtype(">u2")
    out = np.frombuffer(data, dtype=dt, offset=i,
                        count=w * h * nc)
    out = out.astype(np.uint8 if maxval < 256 else np.uint16)
    return out.reshape(h, w) if nc == 1 else out.reshape(h, w, 3)


# --- KRO --------------------------------------------------------------------

_KRO_DT = {8: np.uint8, 16: np.dtype(">u2"), 32: np.dtype(">f4")}


def encode_kro(arr: np.ndarray) -> bytes:
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    if arr.dtype == np.uint8:
        depth = 8
    elif arr.dtype == np.uint16:
        depth = 16
    elif arr.dtype == np.float32:
        depth = 32
    else:
        raise ValueError("kro: uint8/uint16/float32 only")
    payload = arr.astype(_KRO_DT[depth]).tobytes()
    return b"KRO\x01" + struct.pack(">iiii", w, h, depth, nc) + payload


def decode_kro(data: bytes) -> np.ndarray:
    if data[:4] != b"KRO\x01":
        raise ValueError("kro: bad magic")
    w, h, depth, nc = struct.unpack_from(">iiii", data, 4)
    if depth not in _KRO_DT:
        raise ValueError(f"kro: unhandled depth {depth}")
    if w < 1 or h < 1 or nc < 1:
        raise ValueError("kro: bad dimensions")
    out = np.frombuffer(data, dtype=_KRO_DT[depth], offset=20,
                        count=w * h * nc).reshape(h, w, nc)
    native = {8: np.uint8, 16: np.uint16, 32: np.float32}[depth]
    return np.ascontiguousarray(out).astype(native)


# --- GTX --------------------------------------------------------------------

def encode_gtx(arr: np.ndarray, ymin: float, xmin: float,
               dy: float, dx: float) -> bytes:
    """(h, w) float32 grid, TOP-DOWN in memory, (ymin, xmin) = center
    of the SW corner cell; file stores rows south-first per the
    format."""
    if arr.ndim != 2 or arr.dtype != np.float32:
        raise ValueError("gtx: float32 (h, w) only")
    h, w = arr.shape
    head = struct.pack(">ddddii", ymin, xmin, dy, dx, h, w)
    return head + arr[::-1].astype(">f4").tobytes()


def decode_gtx(data: bytes) -> tuple[np.ndarray, tuple]:
    """-> (top-down float array, GDAL geotransform with the reference's
    half-pixel corner shift)."""
    if len(data) < 40:
        raise ValueError("gtx: truncated header")
    ymin, xmin, dy, dx, h, w = struct.unpack_from(">ddddii", data, 0)
    if h < 1 or w < 1:
        raise ValueError("gtx: bad dimensions")
    n = w * h
    if len(data) - 40 == 8 * n:
        vals = np.frombuffer(data, dtype=">f8", offset=40, count=n)
        vals = vals.astype(np.float64)
    elif len(data) - 40 >= 4 * n:
        vals = np.frombuffer(data, dtype=">f4", offset=40, count=n)
        vals = vals.astype(np.float32)
    else:
        raise ValueError("gtx: payload shorter than header promises")
    arr = vals.reshape(h, w)[::-1].copy()  # south-up file -> top-down
    gt = (xmin - dx * 0.5, dx, 0.0,
          ymin + dy * (h - 1) + dy * 0.5, 0.0, -dy)
    return arr, gt


# --- SNODAS -----------------------------------------------------------------

_SNODAS_MAGIC = "Format version: NOHRSC GIS/RS raster file v1.1"


def encode_snodas(arr: np.ndarray, minx: float, miny: float,
                  maxx: float, maxy: float, nodata: int = -9999,
                  description: str = "Snow water equivalent"
                  ) -> tuple[bytes, bytes]:
    """(h, w) int16 -> (dat bytes, hdr text bytes)."""
    if arr.ndim != 2 or arr.dtype != np.int16:
        raise ValueError("snodas: int16 (h, w) only")
    h, w = arr.shape
    hdr = "\n".join(
        [
            _SNODAS_MAGIC,
            f"Description: {description}",
            "Data units: Meters",
            f"Number of columns: {w}",
            f"Number of rows: {h}",
            f"No data value: {nodata}",
            f"Minimum x-axis coordinate: {minx!r}",
            f"Maximum x-axis coordinate: {maxx!r}",
            f"Minimum y-axis coordinate: {miny!r}",
            f"Maximum y-axis coordinate: {maxy!r}",
        ]
    ) + "\n"
    return arr.astype(">i2").tobytes(), hdr.encode("ascii")


def decode_snodas(dat: bytes, hdr: bytes
                  ) -> tuple[np.ndarray, tuple, float | None]:
    """-> (int16 array, geotransform, nodata)."""
    lines = hdr.decode("ascii", "replace").splitlines()
    if not lines or not lines[0].strip().lower().startswith(
            _SNODAS_MAGIC.lower()):
        raise ValueError("snodas: missing NOHRSC v1.1 format line")
    kv = {}
    for ln in lines:
        key, sep, val = ln.partition(":")
        if sep:
            kv[key.strip()] = val.strip()
    try:
        w = int(kv["Number of columns"])
        h = int(kv["Number of rows"])
    except KeyError as exc:
        raise ValueError(f"snodas: missing header key {exc}") from exc
    arr = np.frombuffer(dat, dtype=">i2", count=w * h).reshape(h, w)
    gt = None
    if all(k in kv for k in ("Minimum x-axis coordinate",
                             "Maximum x-axis coordinate",
                             "Minimum y-axis coordinate",
                             "Maximum y-axis coordinate")):
        minx = float(kv["Minimum x-axis coordinate"])
        maxx = float(kv["Maximum x-axis coordinate"])
        miny = float(kv["Minimum y-axis coordinate"])
        maxy = float(kv["Maximum y-axis coordinate"])
        gt = (minx, (maxx - minx) / w, 0.0, maxy, 0.0, -(maxy - miny) / h)
    nodata = (float(kv["No data value"])
              if "No data value" in kv else None)
    return arr.astype(np.int16), gt, nodata


# --- SIGDEM -------------------------------------------------------------------

_SIGDEM_NODATA = -0x80000000


def encode_sigdem(arr: np.ndarray, min_x: float, max_y: float,
                  x_dim: float = 1.0, y_dim: float = 1.0,
                  scale_z: float = 1000.0, offset_z: float = 0.0,
                  crs_id: int = 4326) -> bytes:
    """(h, w) float grid -> SIGDEM bytes (frmts/sigdem/sigdemdataset:
    132-byte BIG-endian header "SIGDEM" + version/csid +
    offset/scale triplets + min/max + dims (Header::Write :464-488);
    data int32 BE, value = round((z - offsetZ) * scaleFactorZ),
    NO_DATA = 0x80000000 (:51); NaN cells write NO_DATA)."""
    if arr.ndim != 2:
        raise ValueError("sigdem: (h, w) only")
    h, w = arr.shape
    a = np.asarray(arr, dtype=np.float64)
    finite = np.isfinite(a)
    raw = np.where(
        finite,
        np.floor((a - offset_z) * scale_z + 0.5), _SIGDEM_NODATA
    ).astype(np.int64)
    if (np.abs(raw[finite]) >= 2**31).any():
        raise ValueError("sigdem: scaled values overflow int32")
    zmin = float(a[finite].min()) if finite.any() else 0.0
    zmax = float(a[finite].max()) if finite.any() else 0.0
    head = b"SIGDEM"
    head += struct.pack(">hi", 1, crs_id)
    head += struct.pack(">dddddd", 0.0, 1000.0, 0.0, 1000.0,
                        offset_z, scale_z)
    head += struct.pack(">dddddd", min_x, max_y - h * y_dim, zmin,
                        min_x + w * x_dim, max_y, zmax)
    head += struct.pack(">iidd", w, h, x_dim, y_dim)
    return head + raw.astype(">i4").tobytes()


def decode_sigdem(data: bytes):
    """-> (float64 array with NaN nodata, geotransform, crs_id)."""
    if data[:6] != b"SIGDEM":
        raise ValueError("sigdem: bad magic")
    _ver, crs_id = struct.unpack_from(">hi", data, 6)
    (_ox, _sx, _oy, _sy, off_z, scale_z) = struct.unpack_from(
        ">dddddd", data, 12)
    (min_x, _min_y, _min_z, _max_x, max_y, _max_z) = struct.unpack_from(
        ">dddddd", data, 60)
    w, h, x_dim, y_dim = struct.unpack_from(">iidd", data, 108)
    if w < 1 or h < 1:
        raise ValueError("sigdem: bad dimensions")
    raw = np.frombuffer(data, dtype=">i4", offset=132,
                        count=w * h).astype(np.int64).reshape(h, w)
    inv = 1.0 / scale_z if scale_z else 0.0
    out = np.where(raw == _SIGDEM_NODATA, np.nan,
                   raw * inv + off_z)
    gt = (min_x, x_dim, 0.0, max_y, 0.0, -y_dim)
    return out, gt, crs_id


# --- NGSGEOID -----------------------------------------------------------------

def encode_ngsgeoid(arr: np.ndarray, slat: float, wlon: float,
                    dlat: float, dlon: float,
                    little_endian: bool = True) -> bytes:
    """(h, w) float32 TOP-DOWN -> NOAA .bin geoid bytes
    (frmts/ngsgeoid: 44-byte header SLAT/WLON/DLAT/DLON f64 +
    NLAT/NLON/IKIND=1 i32, endianness self-identified by IKIND;
    float32 rows stored SOUTH-first, :100-103)."""
    if arr.ndim != 2 or arr.dtype != np.float32:
        raise ValueError("ngsgeoid: float32 (h, w) only")
    h, w = arr.shape
    e = "<" if little_endian else ">"
    head = struct.pack(f"{e}ddddiii", slat, wlon, dlat, dlon, h, w, 1)
    return head + arr[::-1].astype(f"{e}f4").tobytes()


def decode_ngsgeoid(data: bytes):
    """-> (float32 TOP-DOWN array, geotransform with the reference's
    half-cell corner shift, ngsgeoiddataset.cpp:272-277)."""
    if len(data) < 44:
        raise ValueError("ngsgeoid: truncated header")
    for e in ("<", ">"):
        (ikind,) = struct.unpack_from(f"{e}i", data, 40)
        if ikind == 1:
            break
    else:
        raise ValueError("ngsgeoid: IKIND marker not found")
    slat, wlon, dlat, dlon, nlat, nlon, _ik = struct.unpack_from(
        f"{e}ddddiii", data, 0)
    if nlat <= 0 or nlon <= 0 or dlat <= 1e-15 or dlon <= 1e-15:
        raise ValueError("ngsgeoid: bad header values")
    arr = np.frombuffer(data, dtype=f"{e}f4", offset=44,
                        count=nlat * nlon).reshape(nlat, nlon)
    gt = (wlon - dlon / 2, dlon, 0.0,
          slat + nlat * dlat - dlat / 2, 0.0, -dlat)
    return arr[::-1].astype(np.float32), gt


# --- JDEM ---------------------------------------------------------------------

def _jdem_angle_str(deg: float) -> str:
    """degrees -> packed dddmmss 7-char field (first-quadrant only);
    half seconds snap up, floor(x + 0.5), like the raw_fleet3 oracle."""
    total = int(math.floor(deg * 3600 + 0.5))
    d, rem = divmod(total, 3600)
    m, s = divmod(rem, 60)
    return f"{d * 10000 + m * 100 + s:07d}"


def _jdem_angle(field: bytes) -> float:
    n = int(field[:7])
    return n // 10000 + (n // 100) % 100 / 60.0 + (n % 100) / 3600.0


def encode_jdem(arr: np.ndarray, ll_lat: float, ll_lon: float,
                ur_lat: float, ur_lon: float) -> bytes:
    """(h, w) elevations in meters (0.1 m resolution) -> JDEM bytes
    (frmts/jdem/jdemdataset.cpp: 1011-byte text header with
    YYYYMMDD-ish dates at 11/15/19 and dddmmss extent angles at
    29/36/43/50, width/height 3-char fields at 23/26; one text record
    per row: row number 1-based at +6 (3 chars), 5-char 0.1-m values
    from +9, record length w*5 + 9 + 2 (:112))."""
    if arr.ndim != 2:
        raise ValueError("jdem: (h, w) only")
    h, w = arr.shape
    if not (1 <= w <= 999 and 1 <= h <= 999):
        raise ValueError("jdem: dimensions are 3-char fields (1..999)")
    head = bytearray(b" " * 1011)
    head[0:6] = b"000001"
    for off in (11, 15, 19):
        head[off : off + 4] = b"2026"
    head[23:26] = b"%03d" % w
    head[26:29] = b"%03d" % h
    head[29:36] = _jdem_angle_str(ll_lat).encode()
    head[36:43] = _jdem_angle_str(ll_lon).encode()
    head[43:50] = _jdem_angle_str(ur_lat).encode()
    head[50:57] = _jdem_angle_str(ur_lon).encode()
    vals = np.floor(np.asarray(arr, dtype=np.float64) * 10 + 0.5)
    if (vals < 0).any() or (vals > 99999).any():
        raise ValueError("jdem: values out of the 5-char 0.1-m field")
    out = bytearray(head)
    for y in range(h):
        rec = bytearray(b" " * (w * 5 + 9 + 2))
        rec[0:6] = b"000001"
        rec[6:9] = b"%03d" % (y + 1)
        for x in range(w):
            rec[9 + 5 * x : 14 + 5 * x] = b"%05d" % int(vals[y, x])
        rec[-2:] = b"\r\n"
        out += rec
    return bytes(out)


def decode_jdem(data: bytes):
    """-> (float32 meters, geotransform) — row-number cross-checked
    like the reference's IReadBlock (:74)."""
    if len(data) < 1011:
        raise ValueError("jdem: truncated header")
    head = data[:1011]
    if head[11:13] not in (b"19", b"20"):
        raise ValueError("jdem: header date fields missing")
    w = int(head[23:26])
    h = int(head[26:29])
    ll_lat = _jdem_angle(head[29:36])
    ll_lon = _jdem_angle(head[36:43])
    ur_lat = _jdem_angle(head[43:50])
    ur_lon = _jdem_angle(head[50:57])
    rec = w * 5 + 9 + 2
    out = np.empty((h, w), dtype=np.float32)
    for y in range(h):
        row = data[1011 + rec * y : 1011 + rec * (y + 1)]
        if len(row) < rec - 2:
            raise ValueError("jdem: truncated record")
        if int(row[6:9]) != y + 1:
            raise ValueError(f"jdem: record {y} carries wrong row id")
        txt = row[9 : 9 + 5 * w]
        out[y] = np.frombuffer(txt, dtype="S5", count=w).astype(
            np.int64) * np.float32(0.1)
    gt = (ll_lon, (ur_lon - ll_lon) / w, 0.0,
          ur_lat, 0.0, -(ur_lat - ll_lat) / h)
    return out, gt


# --- ACE2 ---------------------------------------------------------------------

_ACE2_SIZES = {"_5M": 180, "_30S": 1800, "_9S": 6000, "_3S": 18000}


def encode_ace2(arr: np.ndarray) -> bytes:
    """(n, n) float32 (heights) or int16 (CONF/QUALITY/SOURCE
    companions) -> raw little-endian ACE2 payload (the format is
    headerless; georef lives in the FILENAME)."""
    if arr.ndim != 2 or arr.shape[0] != arr.shape[1]:
        raise ValueError("ace2: square (n, n) only")
    if arr.dtype == np.float32:
        return arr.astype("<f4").tobytes()
    if arr.dtype == np.int16:
        return arr.astype("<i2").tobytes()
    raise ValueError("ace2: float32 or int16 only")


def decode_ace2(data: bytes, basename: str):
    """-> (array, geotransform).  ``basename`` like ``30S120W_5M``:
    SW corner from chars 0-2 / 3-6 (ace2dataset.cpp:219-242), dtype
    int16 for _CONF_/_QUALITY_/_SOURCE_ else float32 (:244-249),
    grid size from the _5M/_30S/_9S/_3S token (:253-296), origin =
    (swLon, swLat + n*pixel) (:324-329)."""
    if len(basename) < 7:
        raise ValueError("ace2: basename too short")
    lat = int(basename[0:2])
    ns = basename[2].upper()
    lon = int(basename[3:6])
    ew = basename[6].upper()
    if ns not in "NS" or ew not in "EW":
        raise ValueError("ace2: bad hemisphere letters")
    if ns == "S":
        lat = -lat
    if ew == "W":
        lon = -lon
    int16 = any(t in basename for t in ("_CONF_", "_QUALITY_",
                                        "_SOURCE_"))
    dt = np.dtype("<i2") if int16 else np.dtype("<f4")
    n = None
    for tok, size in _ACE2_SIZES.items():
        if tok in basename:
            n = size
    if n is None:
        n = int((len(data) // dt.itemsize) ** 0.5)
    if len(data) != n * n * dt.itemsize:
        raise ValueError("ace2: size does not match the grid token")
    arr = np.frombuffer(data, dtype=dt).reshape(n, n)
    arr = arr.astype(np.int16 if int16 else np.float32)
    px = {180: 5.0 / 60, 1800: 30.0 / 3600, 6000: 9.0 / 3600,
          18000: 3.0 / 3600}[n]
    gt = (float(lon), px, 0.0, lat + n * px, 0.0, -px)
    return arr, gt
