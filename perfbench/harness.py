"""One benchmark run: set up, warm up, measure, check, report.

A run is one process at ``local[nproc]``. It launches the Spark JVM
once, then sets up ``SETUPS`` times (session start, input build to
parquet, one checked warm-up pass) and reports the median as
``setup_s``; the reference is computed once, outside that time. It
then repeats the workload pass until ``--seconds`` have passed (at
least ``MIN_PASSES`` times), clearing Spark's cache before each pass,
and reports medians.

With ``--trace 1`` the passes alternate between untraced and traced;
the traced ones give the per-layer metrics and the ratio of the two
medians gives ``bench.trace_overhead``.

Everything the run writes stays under the working directory: inputs
and Spark scratch in ``.perfbench_work/`` (removed at exit), and a
JSON record of the run (host, samples, spans) in
``.perfbench_results/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import sys
import time

from perfbench import inputs, reference as ref
from perfbench.observe import ProcTree, Tracer, host_probe, host_record, persistent_rdds
from perfbench.workloads import WORKLOADS, Context

SETUPS = 2
MIN_PASSES = 3
WORK_DIR = ".perfbench_work"
RESULTS_DIR = ".perfbench_results"
DRIVER_MEMORY = "1g"

# per-layer metrics: layer -> metric -> (unit, better). A layer the
# workload does not call reports 0.
LAYER_METRICS = {
    "spatial_join": {"wall_s": ("s", "lower"), "task_s": ("s", "lower"),
                     "shuffle_bytes": ("B", "lower"), "fetch_wait_s": ("s", "lower"),
                     "task_skew": ("ratio", "lower"), "cand_rows": ("count", "lower"),
                     "hit_ratio": ("ratio", "higher"), "nlj_nodes": ("count", "lower")},
    "tiling": {"wall_s": ("s", "lower"), "task_s": ("s", "lower"),
               "shuffle_bytes": ("B", "lower"), "spill_bytes": ("B", "lower"),
               "fanout": ("ratio", "lower"), "nlj_nodes": ("count", "lower")},
    "knn": {"wall_s": ("s", "lower"), "task_s": ("s", "lower"), "jobs": ("count", "lower"),
            "cand_rows": ("count", "lower"), "nlj_nodes": ("count", "lower"),
            "cached_bytes_left": ("B", "lower")},
    "rasterize": {"wall_s": ("s", "lower"), "py_run_s": ("s", "lower"),
                  "py_init_s": ("s", "lower"), "py_rows_out": ("count", "lower"),
                  "rows_per_tile": ("ratio", "lower"), "nlj_nodes": ("count", "lower")},
    "overlay": {"wall_s": ("s", "lower"), "py_run_s": ("s", "lower"),
                "cand_pairs": ("count", "lower"), "hit_ratio": ("ratio", "higher"),
                "shuffle_bytes": ("B", "lower"), "nlj_nodes": ("count", "lower")},
    "render": {"wall_s": ("s", "lower"), "py_run_s": ("s", "lower"),
               "py_init_s": ("s", "lower"), "py_bytes_in": ("B", "lower"),
               "shuffle_bytes": ("B", "lower"), "decodes_per_image": ("ratio", "lower"),
               "nlj_nodes": ("count", "lower")},
    "multimodal": {"wall_s": ("s", "lower"), "py_run_s": ("s", "lower"),
                   "mpix_per_s": ("Mpx/s", "higher"), "nlj_nodes": ("count", "lower")},
    "codecs": {"png_ms_per_mpix": ("ms/Mpx", "lower"), "jpeg_ms_per_mpix": ("ms/Mpx", "lower"),
               "tiff_ms_per_mpix": ("ms/Mpx", "lower")},
    "scale": {"cold_wall_s": ("s", "lower"), "resume_wall_s": ("s", "lower"),
              "rows_written": ("count", "lower"), "rows_skipped": ("count", "higher"),
              "bytes_written": ("B", "lower"), "files_written": ("count", "lower"),
              "job_commit_s": ("s", "lower"), "nlj_nodes": ("count", "lower")},
    "catalog": {"read_s": ("s", "lower")},
    "session": {"jvm_s": ("s", "lower"), "start_s": ("s", "lower")},
    "fixtures": {"build_s": ("s", "lower")},
    "bench": {"warmup_s": ("s", "lower"), "reference_s": ("s", "lower"),
              "trace_overhead": ("ratio", "lower")},
}
END_TO_END_UNITS = {"wall_s": "s", "rows_per_s": "1/s", "cpu_s": "s", "peak_rss_mb": "MB",
                    "setup_s": "s"}


def unit_of(metric: str) -> str:
    if metric in END_TO_END_UNITS:
        return END_TO_END_UNITS[metric]
    layer, name = metric.split(".", 1)
    return LAYER_METRICS[layer][name][0]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# session lifecycle
# ---------------------------------------------------------------------------

def session_conf(work: str, driver_memory: str = DRIVER_MEMORY) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return {
        "spark.driver.memory": driver_memory,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def launch_jvm(work: str) -> None:
    """Start the Spark JVM with its launch-time settings, no context yet."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized(conf=SparkConf().setAll(session_conf(work).items()))


def start_session(nproc: int, work: str, driver_memory: str = DRIVER_MEMORY):
    from gdal_spark.session import get_spark

    # 2 x cores shuffle partitions, as bench.py and tools/scaling_bench.py run
    spark = get_spark("perfbench", master=f"local[{nproc}]", shuffle_partitions=2 * nproc,
                      extra_conf=session_conf(work, driver_memory))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_everything(tree: ProcTree) -> None:
    """Stop Spark and its JVM, then wait for every descendant."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in tree.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------------------
# one pass
# ---------------------------------------------------------------------------

def rows_of(result) -> int:
    """Rows an operation produced: a count, the first field of a digest
    or of a (count, sample) pair, or a collection's length."""
    if isinstance(result, int):
        return result
    if isinstance(result, tuple):
        return result[0]
    return len(result)


def run_pass(wl, ctx: Context, tracer: Tracer, tree: ProcTree, trace: int = 0) -> dict:
    spark = ctx.spark
    spark.catalog.clearCache()
    left = persistent_rdds(spark)
    if left:
        raise RuntimeError(f"{left} RDDs still cached after clearCache()")
    cpu0 = tree.cpu_s()
    t0 = time.perf_counter()
    failures, spans_before = [], len(tracer.spans)
    ops = wl.ops(ctx)
    for op in ops:
        with tracer.span(op.layer, trace) as rec:
            try:
                result = op.run()
                op.check(result)
            except Exception as exc:  # a failed operation is counted, not fatal
                failures.append(f"{op.layer}: {type(exc).__name__}: {str(exc)[:300]}")
            else:
                rec["out_rows"] = rows_of(result)
            if tracer.enabled:
                rec["cached_bytes_left"] = tracer.cached_bytes()
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "cpu_s": tree.cpu_s() - cpu0, "ops": len(ops),
            "failures": failures, "traced": tracer.enabled,
            "spans": tracer.spans[spans_before:]}


# ---------------------------------------------------------------------------
# per-layer metrics from the traced passes
# ---------------------------------------------------------------------------

def layer_metrics(wl, traced: list[dict], untraced: list[dict], setups: list[dict],
                  reference_s: float, refd: dict, sizes, codec_ms: dict) -> dict:
    med = statistics.median

    def per_pass(layer: str, key: str, pick=None) -> float:
        vals = []
        for p in traced:
            spans = [s for s in p["spans"] if s["layer"] == layer]
            if pick is not None:
                spans = spans[pick:pick + 1]
            vals.append(sum(float(s.get(key, 0)) for s in spans))
        return med(vals) if vals else 0.0

    def ratio(a: float, b: float) -> float:
        return a / b if b else 0.0

    m = {f"{layer}.{name}": 0.0 for layer, names in LAYER_METRICS.items() for name in names}
    for layer in ("spatial_join", "tiling", "knn", "rasterize", "overlay", "render",
                  "multimodal"):
        for name in LAYER_METRICS[layer]:
            m[f"{layer}.{name}"] = per_pass(layer, name)
    m["spatial_join.hit_ratio"] = ratio(per_pass("spatial_join", "out_rows"),
                                        per_pass("spatial_join", "cand_rows"))
    m["tiling.fanout"] = ratio(per_pass("tiling", "generate_rows"), sizes.images)
    m["rasterize.rows_per_tile"] = ratio(per_pass("rasterize", "py_rows_out"),
                                         per_pass("rasterize", "out_rows"))
    m["overlay.cand_pairs"] = per_pass("overlay", "cand_rows")
    m["overlay.hit_ratio"] = ratio(per_pass("overlay", "out_rows"), m["overlay.cand_pairs"])
    m["render.decodes_per_image"] = ratio(per_pass("render", "shuffle_records"),
                                          inputs.payload_count(sizes))
    m["multimodal.mpix_per_s"] = ratio(refd.get("mpix", 0.0), m["multimodal.wall_s"])
    for fmt, ms in codec_ms.items():
        m[f"codecs.{fmt}_ms_per_mpix"] = ms
    if "keys" in refd:
        m["scale.cold_wall_s"] = per_pass("scale", "wall_s", pick=0)
        m["scale.resume_wall_s"] = per_pass("scale", "wall_s", pick=1)
        for name in ("rows_written", "bytes_written", "files_written", "job_commit_s",
                     "nlj_nodes"):
            m[f"scale.{name}"] = per_pass("scale", name)
        m["scale.rows_skipped"] = refd["keys"][0] - per_pass("scale", "rows_written", pick=1)
        m["catalog.read_s"] = per_pass("catalog", "wall_s")
    m["session.start_s"] = med(s["session_s"] for s in setups)
    m["fixtures.build_s"] = med(s["build_s"] for s in setups)
    m["bench.warmup_s"] = med(s["warmup_s"] for s in setups)
    m["bench.reference_s"] = reference_s
    m["bench.trace_overhead"] = ratio(med(p["wall_s"] for p in traced),
                                      med(p["wall_s"] for p in untraced))
    return m


def codec_timings(payload_path: str) -> dict[str, float]:
    """ms per megapixel of ``decode_image`` on each format's payloads."""
    from gdal_spark.raster.codecs import decode_image

    rows = ref.connect().execute(
        f"SELECT fmt, w, h, bytes FROM {ref.parquet_glob(payload_path)} ORDER BY i").fetchall()
    out = {}
    for fmt in ("png", "jpeg", "tiff"):
        sample = [(bytes(b), w * h) for f, w, h, b in rows if f == fmt]
        if not sample:
            continue
        reps, mpix, t0 = 0, 0.0, time.perf_counter()
        while reps < 3 or time.perf_counter() - t0 < 0.3:
            for data, px in sample:
                decode_image(data, fmt)
                mpix += px / 1e6
            reps += 1
        out[fmt] = (time.perf_counter() - t0) * 1e3 / mpix
    return out


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def run(args, root: str, work: str, tree: ProcTree) -> dict:
    wl = WORKLOADS[args.workload]
    sizes = inputs.BENCH
    nproc = len(os.sched_getaffinity(0))
    setups, checked, failures = [], 0, []
    refd, reference_s, spark, ctx = None, 0.0, None, None

    t0 = time.perf_counter()
    launch_jvm(work)
    jvm_s = time.perf_counter() - t0
    for k in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(nproc, work)
        t1 = time.perf_counter()
        in_dir = os.path.join(work, f"inputs{k}")
        paths = inputs.build(spark, wl.tables, args.seed, sizes, in_dir)
        t2 = time.perf_counter()
        if refd is None:
            refd = wl.reference(spark, paths, args.seed, sizes)
            reference_s = time.perf_counter() - t2
        ctx = Context(spark, args.seed, sizes, paths, work, refd)
        t3 = time.perf_counter()
        warm = run_pass(wl, ctx, Tracer(spark, False), tree)
        t4 = time.perf_counter()
        checked += warm["ops"]
        failures += warm["failures"]
        setups.append({"session_s": t1 - t0, "build_s": t2 - t1, "warmup_s": t4 - t3,
                       "setup_s": (t2 - t0) + (t4 - t3)})
        if k:
            shutil.rmtree(os.path.join(work, f"inputs{k - 1}"), ignore_errors=True)

    host = host_record(spark, nproc)
    tracer = Tracer(spark, False)
    untraced, traced = [], []
    t_end = time.perf_counter() + args.seconds
    while True:
        tracer.enabled = bool(args.trace) and len(untraced) > len(traced)
        p = run_pass(wl, ctx, tracer, tree, len(untraced) + len(traced))
        (traced if tracer.enabled else untraced).append(p)
        checked += p["ops"]
        failures += p["failures"]
        n = min(len(untraced), len(traced)) if args.trace else len(untraced)
        if time.perf_counter() >= t_end and n >= MIN_PASSES:
            break
    peak_rss = tree.peak_rss_bytes()
    host["host_probe_end_iters_per_s"] = host_probe()

    med = statistics.median
    wall = med(p["wall_s"] for p in untraced)
    if args.trace:
        codec_ms = codec_timings(paths["payload_images"]) if "payload_images" in paths else {}
        values = layer_metrics(wl, traced, untraced, setups, reference_s, refd, sizes, codec_ms)
        values["session.jvm_s"] = jvm_s
    else:
        values = {
            "wall_s": wall,
            "rows_per_s": wl.input_rows(sizes) / wall,
            "cpu_s": med(p["cpu_s"] for p in untraced),
            "peak_rss_mb": peak_rss / 2**20,
            "setup_s": med(s["setup_s"] for s in setups),
        }
    metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    result = {"correct": not failures, "attempted": checked, "failed": len(failures),
              "metrics": metrics}

    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "sizes": dataclasses.asdict(sizes),
        "host": host, "setups": setups, "reference_s": reference_s,
        "passes": [{k: p[k] for k in ("wall_s", "cpu_s", "traced")} for p in untraced + traced],
        "failures": failures, "result": result,
        "spans": [s for p in traced for s in p["spans"]],
    }
    out_dir = os.path.join(root, RESULTS_DIR)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(f"host: {json.dumps(host)}", file=sys.stderr)
    for f in failures[:20]:
        print(f"FAILED {f}", file=sys.stderr)
    return result


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    tree = ProcTree()
    try:
        result = run(args, root, work, tree)
    finally:
        stop_everything(tree)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0
