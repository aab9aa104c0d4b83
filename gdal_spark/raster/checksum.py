"""Bit-exact reimplementation of GDAL's 16-bit image checksum.

Semantics from alg/gdalchecksum.cpp:48-175 (re-derived, not copied):

    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    checksum = ( sum over pixels in row-major order of
                 int(value) %C primes[(y * W + x) % 11] ) & 0xFFFF

where %C is C truncated modulo (sign of dividend) and int(value) for
floating data is GDALCopyWords' float->Int32: v += 0.5; clamp to
[-2147483647, 2147483647]; floor; NaN/inf -> INT_MIN.

This is the golden-output primitive used by virtually every autotest
assertion — our pixel-parity gate.
"""

from __future__ import annotations

import numpy as np

_PRIMES = np.array([7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43], dtype=np.int64)


def _int_from_double(vals: np.ndarray) -> np.ndarray:
    out = np.empty(vals.shape, dtype=np.int64)
    finite = np.isfinite(vals)
    v = vals + 0.5
    out[~finite] = np.iinfo(np.int32).min
    low = finite & (v < -2147483647.0)
    high = finite & (v > 2147483647.0)
    mid = finite & ~low & ~high
    out[low] = -2147483647
    out[high] = 2147483647
    out[mid] = np.floor(v[mid]).astype(np.int64)
    return out


def gdal_checksum(band: np.ndarray) -> int:
    """Checksum of one 2-D band (any dtype), full-window semantics."""
    band = np.asarray(band)
    h, w = band.shape
    if band.dtype.kind == "f":
        ints = _int_from_double(band.astype(np.float64))
    else:
        ints = band.astype(np.int64)
    primes = _PRIMES[(np.arange(h * w, dtype=np.int64)) % 11].reshape(h, w)
    # C truncated modulo: sign follows the dividend
    mods = np.where(ints >= 0, ints % primes, -((-ints) % primes))
    return int(mods.sum()) & 0xFFFF


def gdal_checksum_image(arr: np.ndarray) -> list[int]:
    """Per-band checksums of an (h, w[, c]) array."""
    if arr.ndim == 2:
        return [gdal_checksum(arr)]
    return [gdal_checksum(arr[:, :, b]) for b in range(arr.shape[2])]


def band_checksum_rows(outs: dict, **extra) -> list[dict]:
    """One {fmt, band, checksum} row per band of every {fmt: decoded
    array} entry (a 2-D array is one band), each with `extra` merged
    in — the rows of the pixel-rule codec roundtrip queries."""
    return [
        {"fmt": fmt, "band": b, "checksum": c, **extra}
        for fmt, out in outs.items()
        for b, c in enumerate(gdal_checksum_image(out))
    ]
