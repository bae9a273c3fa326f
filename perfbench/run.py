"""End-to-end fuse benchmark: documents in, corrected documents and tiles out.

Usage (from the repository root)::

    python3 perfbench/run.py --workload large_images --seed 1 --seconds 10 --trace 0

One process runs the workload on ``local[nproc]`` in a closed loop
(one caller, one pipeline at a time).  It generates seeded inputs, writes
them to parquet, sets up three times (session start and input load; the
first also launches the JVM), warms up with one untimed iteration on the
workload's first image, then times iterations until ``--seconds`` of
iteration time have passed, two at least.  Every iteration's output is
checked.  With ``--trace 1`` traced and untraced iterations alternate; the
traced ones give the per-layer numbers.  The last stdout line is the JSON result; the line
before it records the host, the inputs and the raw samples.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 3
RESUMES = 3
# The largest live set is the cached fused frame (~50 MB), so 1 GiB of heap
# is ample; the heap is fixed and pre-touched so that peak RSS does not
# depend on when the JVM chose to grow it.
DRIVER_MEMORY = "1g"

END_TO_END = {"setup_s": "s", "tiles_per_s": "1/s", "core_s_per_ktile": "s",
              "peak_rss_mb": "MB", "resume_s": "s"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def host_record() -> dict:
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2 ** 20
    return {"nproc": nproc, "master": f"local[{nproc}]", "mem_total_gb": round(mem_gb, 1),
            "driver_memory": DRIVER_MEMORY}


def start_spark(host: dict, work: str):
    from homonim_spark.session import get_spark
    spark = get_spark(app_name="perfbench", master=host["master"], extra_conf={
        "spark.driver.memory": host["driver_memory"],
        # keep the JVM's temp and perf-data files inside the work directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                         f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait until every process the
    session started has ended."""
    from pyspark import SparkContext
    from perfbench.trace import process_tree
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()   # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    # Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import homonim_spark  # noqa: F401  -- fail before any output without the engine

    from perfbench import inputs as inputs_mod
    from perfbench import trace, workloads as wl

    if args.workload not in inputs_mod.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(inputs_mod.WORKLOADS)}")
    w = inputs_mod.WORKLOADS[args.workload]
    host = host_record()
    host["before"] = trace.host_snapshot()
    work = os.path.join(ROOT, ".perfbench", f"{w.name}-{args.seed}-{os.getpid()}")
    wl.clear(work)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    out = os.path.join(work, "out")
    pid = os.getpid()

    t0 = time.perf_counter()
    inp = inputs_mod.write_inputs(w, args.seed, os.path.join(work, "inputs"))
    gen_s = time.perf_counter() - t0
    # the warm-up runs on the workload's first image: the same jobs, plans
    # and Python workers as the full input, in less time
    w_warm = dataclasses.replace(w, n_images=1)
    inp_warm = inputs_mod.write_inputs(w_warm, args.seed, os.path.join(work, "warmup"))

    attempted, failed, errors, check_s = 0, 0, [], []

    def iteration(spark, tracer, w=w, inp=inp):
        """One timed end-to-end iteration, then its (untimed) check.
        Returns (iteration s, [resume s], tree CPU s) or None on failure."""
        nonlocal attempted, failed
        it = attempted   # seeds the check's chunk sample
        attempted += 1
        wl.clear(out)
        try:
            c0 = trace.tree_cpu_s(pid)
            rss.active = True
            t0 = time.perf_counter()
            if w.staged:
                wl.run_staged(spark, w, inp, out, tracer)
            else:
                wl.run_fuse_documents(spark, w, inp, out, tracer)
            dt = time.perf_counter() - t0
            c1 = trace.tree_cpu_s(pid)
            resumes, rows = [], []
            for k in range(RESUMES):
                t1 = time.perf_counter()
                if w.staged:   # only the first resume is traced
                    rows.append(wl.resume_staged(spark, w, inp, out,
                                                 tracer if k == 0 else untraced))
                else:
                    rows.append(wl.readback_fuse_documents(spark, out))
                resumes.append(time.perf_counter() - t1)
            rss.active = False
            t2 = time.perf_counter()
            errs = (wl.check_staged(w, inp, args.seed, out, it, rows) if w.staged
                    else wl.check_fuse_documents(w, inp, args.seed, out, it))
            check_s.append(time.perf_counter() - t2)
        except Exception:  # a raising run counts as failed; keep measuring
            rss.active = False
            errs = [traceback.format_exc(limit=3)]
        if errs:
            failed += 1
            errors.extend(errs[:3])
            print(f"iteration {it} failed: {errs[:3]}", file=sys.stderr)
            return None
        return dt, resumes, c1 - c0

    setups, get_spark_s, trace_read_s = [], [], []
    spark = None
    untraced = trace.Tracer(None, False)
    samples = {"untraced": [], "traced": []}
    layer_samples = []
    with trace.PeakRss(pid) as rss:
        rss.active = False
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = start_spark(host, work)
            get_spark_s.append(time.perf_counter() - t0)
            for path in (inp.docs_path, inp.tiles_path):
                spark.read.parquet(path).count()
            setups.append(time.perf_counter() - t0)
        warmup = [iteration(spark, untraced, w_warm, inp_warm)]
        if args.trace:
            # traced and untraced iterations are compared: the first
            # full-size iteration is slower than the rest, so neither gets it
            warmup.append(iteration(spark, untraced))
        rss.peak = 0.0
        reader = trace.StageReader(spark) if args.trace else None
        # at least two iterations, so that the median never rests on the
        # first one alone and a traced run always has both kinds
        timed, it = 0.0, 0
        while timed < args.seconds or it < 2:
            traced = bool(args.trace) and it % 2 == 1
            tracer = trace.Tracer(spark, True) if traced else untraced
            t0 = time.perf_counter()
            r = iteration(spark, tracer)
            if r is not None:
                samples["traced" if traced else "untraced"].append(r)
                timed += r[0]
                if traced:
                    t1 = time.perf_counter()
                    lm = wl.layer_metrics(tracer.take(), reader,
                                          r[0] + r[1][0] if w.staged else r[0])
                    trace_read_s.append(time.perf_counter() - t1)
                    lm["lineage.checkpoint_mb"] = wl.dir_mb(f"{out}/run") if w.staged else 0.0
                    layer_samples.append(lm)
            else:
                timed += time.perf_counter() - t0
            it += 1
        peak_rss, host["peak_rss_by_process_mb"] = rss.peak, rss.at_peak
    t0 = time.perf_counter()
    stop_spark(spark)
    host["stop_s"] = time.perf_counter() - t0
    host["after"] = trace.host_snapshot()
    host["steal_delta_ticks"] = host["after"]["steal_ticks"] - host["before"]["steal_ticks"]

    ok = samples["untraced"]
    tiles_per_s = [w.n_src_tiles / s[0] for s in ok]
    metrics = {}
    if not args.trace and ok:
        metrics = {
            "setup_s": statistics.median(setups),
            "tiles_per_s": statistics.median(tiles_per_s),
            "core_s_per_ktile": sum(s[2] for s in ok) / (len(ok) * w.n_src_tiles / 1000),
            "peak_rss_mb": peak_rss,
            "resume_s": statistics.median(t for s in ok for t in s[1]),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    elif args.trace and layer_samples and ok:
        metrics = per_layer(w, args.seed, layer_samples, samples, get_spark_s)

    record = {"workload": w.name, "seed": args.seed, "host": host,
              "inputs": {"digest": inp.digest, "documents": inp.n_docs, "tiles": inp.n_tiles,
                         "src_tiles": w.n_src_tiles, "chunks": w.n_chunks, "gen_s": gen_s},
              "setup_s": setups, "session.get_spark_s": get_spark_s, "warmup": warmup,
              "iterations": {k: [list(s) for s in v] for k, v in samples.items()},
              "tiles_per_s_samples": len(tiles_per_s), "check_s": check_s,
              "trace_read_s": trace_read_s,
              "errors": errors[:5]}
    wl.clear(work)
    os.rmdir(work)
    print(json.dumps(record))
    correct = failed == 0 and bool(metrics)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def per_layer(w, seed, layer_samples, samples, get_spark_s) -> dict:
    """Medians of the traced iterations' layer numbers, plus the kernel and
    codec timed single-threaded outside Spark and the trace overhead."""
    import numpy as np
    from homonim_spark.tiles import decode_tile, encode_tile
    from perfbench.checks import chunk_canvases, fit_apply_chunk, kernel_params
    from perfbench.inputs import CHUNK, image_arrays

    med = {k: statistics.median(s[k] for s in layer_samples) for k in layer_samples[0]}
    # kernel: fit + apply of one chunk, single-threaded, outside Spark
    ref, src = image_arrays(w, seed, 0)
    c = min(1, -(-w.cells // CHUNK) - 1)
    canvases = chunk_canvases(ref, src, c, c)
    params = kernel_params(w)
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        fit_apply_chunk(*canvases, params)
        times.append(time.perf_counter() - t0)
    kernel_ms = statistics.median(times) * 1e3
    group_s = med["fuse.fuse_blocks_routed.task_s"]
    passes = med["fuse.fuse_blocks_routed.passes"]
    med["kernel.fit_apply_ms_per_chunk"] = kernel_ms
    med["kernel.share_of_group"] = (kernel_ms * w.n_chunks * passes / 1e3 / group_s
                                    if group_s else 0.0)
    tile = np.random.default_rng(seed).random((256, 256), dtype=np.float32)[:128, :128]
    batches = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(200):
            decode_tile(encode_tile(tile), 128, 128)
        batches.append((time.perf_counter() - t0) / 200)
    med["tiles.codec_us_per_tile"] = statistics.median(batches) * 1e6
    med["session.get_spark_s"] = statistics.median(get_spark_s)
    tps = {k: statistics.median(w.n_src_tiles / s[0] for s in v) for k, v in samples.items()}
    med["trace.overhead_frac"] = 1.0 - tps["traced"] / tps["untraced"]
    return {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(med.items())}


def layer_unit(name: str) -> str:
    if name.endswith("_s") or ".stage_wall_s." in name:
        return "s"
    for suffix, unit in (("_mb", "MB"), ("rows", "count"), ("rows_out", "count"),
                         ("passes", "count"), ("_ms_per_chunk", "ms"), ("_us_per_tile", "us")):
        if name.endswith(suffix):
            return unit
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
