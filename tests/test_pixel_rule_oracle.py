"""Differential check of the shared pixel-rule oracle builder: the
DuckDB checksums of _o_variant_checksums (the SQL twin every codec
roundtrip oracle builds on) against numpy's gdal_checksum of the same
pixel rule."""

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from gdal_spark.fixtures.georef import H_CYCLE, W_CYCLE, np_image_pixels
from gdal_spark.raster.checksum import gdal_checksum

# residue 29 picks 512x512, 257x100 and 256x256 images at sf0.001
RESIDUE = 29
# (fmt, nb, mult, shift): all three bands, band 0 shifted, band 0
# scaled and shifted
VARIANTS = [("rgb", 3, 1, 0), ("shifted", 1, 1, 37), ("scaled", 1, 257, 5)]


def test_variant_checksums_match_numpy():
    orders = f"{entry.SF001}/orders.parquet"
    keys = pd.read_parquet(orders, columns=["o_orderkey"])["o_orderkey"]
    ids = [int(i) for i in keys if i % entry.PALETTED_MOD == RESIDUE]
    assert len(ids) >= 3

    want = set()
    for i in ids:
        w, h = W_CYCLE[i % len(W_CYCLE)], H_CYCLE[i % len(H_CYCLE)]
        px = np_image_pixels(i, w, h).astype(np.int64)
        for fmt, nb, mult, shift in VARIANTS:
            for b in range(nb):
                want.add((f"img_{i:012d}", fmt, b,
                          gdal_checksum(px[:, :, b] * mult + shift)))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders}')")
    got = con.execute(
        entry._o_variant_checksums(RESIDUE, VARIANTS)).fetchall()
    assert len(got) == len(want) == 5 * len(ids)
    assert set(got) == want
