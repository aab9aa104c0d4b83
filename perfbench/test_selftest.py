"""Self-tests of the benchmark.

Run from the root of a checkout:

    python -m pytest perfbench -q

``test_seed0_baseline_corpus`` builds the ``BENCH/BASELINE.md`` corpus
(seed 0 at full size: 2,097,152 skewed images, 10,000 zones) and takes
a few minutes on a 4-core host.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from perfbench import harness, inputs
from perfbench.workloads import WORKLOADS, Context

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASELINE_PAIRS = 2_173_948
BASELINE_TILES = 5_789_310
# the full-size corpus needs more heap than a benchmark run; the first
# test to start Spark fixes it for the process
DRIVER_MEMORY = "4g"


def test_benchmark_json_lists_what_the_harness_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"] for m in spec["end_to_end"]} == set(harness.END_TO_END_UNITS)
    for m in spec["end_to_end"]:
        assert m["unit"] == harness.END_TO_END_UNITS[m["name"]]
    layer = {f"{k}.{n}": v for k, names in harness.LAYER_METRICS.items() for n, v in names.items()}
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == layer


def test_digest_twins_agree():
    from pyspark.sql import functions as F

    from perfbench import reference as ref
    from perfbench.workloads import spark_digest

    work = os.path.join(ROOT, harness.WORK_DIR, "selftest-digest")
    spark = harness.start_session(2, work, DRIVER_MEMORY)
    try:
        df = spark.createDataFrame([(1, -5), (2**40, 7), (3, 2**31 + 9)], "a long, b long")
        assert spark_digest(df, [F.col("a"), F.col("b")]) == ref.digest_columns(
            [1, 2**40, 3], [-5, 7, 2**31 + 9])
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


@pytest.mark.xfail(strict=True, reason="knn_join drops a query whose first-pass 3x3 "
                   "cell ring holds no point; the benchmark keeps its sites away from "
                   "the poles (inputs.SITE_LAT_MAX) until this is fixed")
def test_knn_query_with_empty_first_ring():
    from gdal_spark.operators.knn import knn_join

    work = os.path.join(ROOT, harness.WORK_DIR, "selftest-knn")
    spark = harness.start_session(2, work, DRIVER_MEMORY)
    try:
        points = spark.createDataFrame(
            [(f"img_{j}", 10.0 + j, 0.5) for j in range(4)],
            "image_id string, lon_c double, lat_c double")
        sites = spark.createDataFrame(
            [("site_near", 11.0, 0.0), ("site_far", 0.0, 84.9)],
            "site_id string, slon double, slat double")
        rows = knn_join(sites, points, 2, index_zoom=6).collect()
        assert sorted((r["site_id"], r["rank"]) for r in rows) == [
            ("site_far", 1), ("site_far", 2), ("site_near", 1), ("site_near", 2)]
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)


def test_seed0_baseline_corpus():
    """join_tile at seed 0, full size: the BENCH/BASELINE.md invariant
    (2,173,948 PIP pairs, 5,789,310 tiles), every operation checked
    against its reference, and the two commit runs together committing
    the same 5,789,310 tile keys."""
    wl = WORKLOADS["join_tile"]
    sizes = inputs.FULL
    work = os.path.join(ROOT, harness.WORK_DIR, "selftest-seed0")
    shutil.rmtree(work, ignore_errors=True)
    spark = harness.start_session(len(os.sched_getaffinity(0)), work, DRIVER_MEMORY)
    try:
        paths = inputs.build(spark, wl.tables, 0, sizes, work)
        refd = wl.reference(spark, paths, 0, sizes)
        assert refd["pip"][0] == BASELINE_PAIRS
        assert refd["tiles"][0] == BASELINE_TILES
        ctx = Context(spark, 0, sizes, paths, work, refd)
        results = {}
        for n, op in enumerate(wl.ops(ctx)):
            results[n, op.layer] = out = op.run()
            op.check(out)
        assert results[0, "spatial_join"][0] == BASELINE_PAIRS
        assert results[1, "tiling"][0] == BASELINE_TILES
        assert results[3, "scale"] + results[4, "scale"] == BASELINE_TILES
        assert results[5, "catalog"][0] == BASELINE_TILES
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
