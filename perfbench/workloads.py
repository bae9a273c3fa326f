"""One end-to-end iteration per workload, its output checks, and the
attribution of a traced iteration's stages to engine layers."""

from __future__ import annotations

import os
import shutil
from typing import Dict, List

from homonim_spark import pipelines
from homonim_spark.enums import ProcCrs
from homonim_spark.lineage import StageRunner
from homonim_spark.operators.fuse import fuse_documents, infer_fuse_config
from homonim_spark.operators.sink import write_corrected

from perfbench import checks
from perfbench.inputs import CHUNK, KERNEL, Inputs, Workload
from perfbench.trace import Tracer

GROUP = "fuse.fuse_blocks_routed"
ROUTE = "fuse.route_tiles"
REFERENCED = "fuse.referenced_tiles"
DOCS = "fuse.reassemble_documents"
SINK = "sink"
STAGES = ("ingest", "fuse", "sink", "stats")


def run_fuse_documents(spark, w: Workload, inp: Inputs, out: str, tracer: Tracer) -> None:
    """Documents in, corrected tiles + params + corrected documents out,
    driven as ``cli.py fuse`` does (the fused frame is cached before the
    writes).  Traced, the cached frame is materialised by a count of its
    own, so the group stage's first pass is separated from the sink."""
    docs = spark.read.parquet(inp.docs_path)
    tiles = spark.read.parquet(inp.tiles_path)
    with tracer.span("fuse.infer_fuse_config"):
        cfg = infer_fuse_config(tiles, checks.kernel_params(w), ProcCrs.auto, chunk=CHUNK)
    scale_h = (cfg.src_scale + cfg.ref_scale - 1) // cfg.ref_scale \
        if cfg.proc_crs == ProcCrs.ref else 1
    with tracer.span("fuse.fuse_documents"):
        corrected_docs, fused = fuse_documents(
            docs, tiles, model=w.model, kernel_shape=KERNEL, find_r2=w.find_r2,
            chunk=CHUNK, cfg=cfg)
    fused.cache()
    try:
        if tracer.enabled:
            with tracer.span(GROUP):
                fused.count()
        with tracer.span(SINK, python_layer=SINK):
            write_corrected(fused, f"{out}/corrected", dtype="float32", scale_h=scale_h)
        with tracer.span(SINK):
            fused.drop("corr").write.mode("overwrite").parquet(f"{out}/params")
        with tracer.span(DOCS, python_layer=GROUP):
            corrected_docs.write.mode("overwrite").parquet(f"{out}/documents")
    finally:
        fused.unpersist()


def readback_fuse_documents(spark, out: str) -> Dict[str, int]:
    return {t: spark.read.parquet(f"{out}/{t}").count()
            for t in ("corrected", "params", "documents")}


def check_fuse_documents(w: Workload, inp: Inputs, seed: int, out: str, it: int) -> List[str]:
    errors = checks.check_count(f"{out}/corrected", w.n_src_tiles, "corrected tiles")
    errors += checks.check_documents(inp, f"{out}/documents", f"{out}/corrected")
    errors += checks.replay_chunks(w, seed, checks.sample_chunks(w, seed * 1000 + it, 2),
                                   f"{out}/params", f"{out}/corrected", "data",
                                   ref_prefix=checks.CORR)
    return errors


def _traced_runner(tracer: Tracer) -> type:
    """A StageRunner that runs every stage in its own span."""
    python_layer = {"fuse": GROUP, "sink": SINK}

    class TracedStageRunner(StageRunner):
        def run(self, stage, config, build):
            with tracer.span(f"lineage.{stage}", python_layer.get(stage)):
                return super().run(stage, config, build)

    return TracedStageRunner


def _staged(spark, w: Workload, docs, tiles, run_dir: str) -> dict:
    return pipelines.staged_fuse_pipeline(
        spark, docs, tiles, run_dir, model=w.model, kernel_shape=KERNEL,
        find_r2=w.find_r2, chunk=CHUNK)


def run_staged(spark, w: Workload, inp: Inputs, out: str, tracer: Tracer) -> None:
    """Fresh staged run into an empty run directory (timed by the caller),
    with each StageRunner stage in its own span when traced."""
    docs = spark.read.parquet(inp.docs_path)
    tiles = spark.read.parquet(inp.tiles_path)
    if tracer.enabled:
        # staged_fuse_pipeline builds its runner from this module global
        pipelines.StageRunner = _traced_runner(tracer)
    try:
        _staged(spark, w, docs, tiles, f"{out}/run")
    finally:
        pipelines.StageRunner = StageRunner


def resume_staged(spark, w: Workload, inp: Inputs, out: str, tracer: Tracer) -> Dict[str, int]:
    """The same call over the completed run directory, then every stage's
    output read back."""
    docs = spark.read.parquet(inp.docs_path)
    tiles = spark.read.parquet(inp.tiles_path)
    with tracer.span("lineage.resume"):
        res = _staged(spark, w, docs, tiles, f"{out}/run")
    with tracer.span("lineage.resume_read"):
        return {s: res[s].count() for s in STAGES}


def manifest_rows(out: str) -> Dict[str, int]:
    import json
    rows = {}
    for s in STAGES:
        with open(f"{out}/run/{s}/_MANIFEST.json") as fh:
            rows[s] = json.load(fh)["n_rows"]
    return rows


def check_staged(w: Workload, inp: Inputs, seed: int, out: str, it: int,
                 resumed: List[Dict[str, int]]) -> List[str]:
    run = f"{out}/run"
    errors = checks.check_count(f"{run}/sink/data", w.n_src_tiles, "corrected tiles")
    fresh = manifest_rows(out)
    errors += [f"resumed stage rows {r} != fresh {fresh}" for r in resumed if r != fresh]
    errors += checks.replay_chunks(w, seed, checks.sample_chunks(w, seed * 1000 + it, 2),
                                   f"{run}/fuse/data", f"{run}/sink/data", "data")
    return errors


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs) / 2 ** 20


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


# ---------------------------------------------------------------------------
# layer attribution of a traced iteration
# ---------------------------------------------------------------------------

def stage_layer(stage: dict, span: dict) -> str:
    """The engine layer a completed stage belongs to.

    Python UDF stages belong to the span's ``python_layer``.  Inside spans
    that run the fuse plan, the routing map stages (explode to chunks, the
    per-image chunk-extent aggregate) belong to ``route_tiles`` -- the
    tiles scan and semi-join filter are pipelined into that stage -- and
    the documents-side build of the semi-join belongs to
    ``referenced_tiles``.  Everything else belongs to the span's layer."""
    scopes, ops = set(stage["scopes"]), " ".join(stage["ops"])
    if "MapInPandas" in scopes:
        return span["python_layer"]
    if "explode(concat(" in ops or "_cR" in ops:
        return ROUTE
    if "posexplode" in ops and "BroadcastExchange" in scopes:
        return REFERENCED
    return span["layer"]


def layer_metrics(spans: List[dict], reader, wall_s: float) -> Dict[str, float]:
    """Per-layer numbers of one traced iteration from its spans' stages."""
    agg: Dict[str, Dict[str, float]] = {}
    passes, routed, referenced = 0, None, 0
    arrow_in = arrow_out = 0.0

    def add(layer, key, v):
        agg.setdefault(layer, {}).setdefault(key, 0.0)
        agg[layer][key] += v

    exec_of = reader.exec_of_jobs()
    for span in spans:
        stages, nodes = reader.span_data(span["group"], exec_of)
        add(span["python_layer"], "python_cpu_s", span["python_cpu_s"])
        add(span["layer"], "wall_s", span["t1"] - span["t0"])
        for st in stages:
            layer = stage_layer(st, span)
            for k in ("run_s", "cpu_s", "shuffle_write_bytes", "output_bytes", "spill_bytes"):
                add(layer, k, st[k])
            # a pass reads the payload shuffle; stages that only read the
            # cached fused frame show the same scopes but read no shuffle
            if layer == GROUP and "MapInPandas" in st["scopes"] and st["shuffle_read_bytes"]:
                passes += 1
            if layer == ROUTE and (routed is None or st["shuffle_write_bytes"] > routed["shuffle_write_bytes"]):
                routed = st
        for name, desc, m in nodes:
            if name == "BroadcastHashJoin" and "LeftSemi" in desc:
                referenced = max(referenced, int(m.get("number of output rows", 0)))
            if name == "MapInPandas" and "stream_chunks" in desc:
                arrow_in += m.get("data sent to Python workers", 0.0)
                arrow_out += m.get("data returned from Python workers", 0.0)

    def get(layer, key):
        return agg.get(layer, {}).get(key, 0.0)

    mb = 2 ** 20
    rows_out = routed["shuffle_write_records"] if routed else 0
    out = {
        "fuse.infer_fuse_config.task_s": get("fuse.infer_fuse_config", "run_s"),
        f"{REFERENCED}.task_s": get(REFERENCED, "run_s"),
        f"{REFERENCED}.rows": referenced,
        f"{ROUTE}.task_s": get(ROUTE, "run_s"),
        f"{ROUTE}.rows_out": rows_out,
        f"{ROUTE}.dup_ratio": rows_out / referenced if referenced else 0.0,
        f"{ROUTE}.shuffle_write_mb": routed["shuffle_write_bytes"] / mb if routed else 0.0,
        f"{GROUP}.passes": passes,
        f"{GROUP}.task_s": get(GROUP, "run_s"),
        f"{GROUP}.jvm_cpu_s": get(GROUP, "cpu_s"),
        f"{GROUP}.python_cpu_s": get(GROUP, "python_cpu_s"),
        f"{GROUP}.arrow_in_mb": arrow_in / mb,
        f"{GROUP}.arrow_out_mb": arrow_out / mb,
        f"{GROUP}.spill_mb": get(GROUP, "spill_bytes") / mb,
        f"{DOCS}.task_s": get(DOCS, "run_s"),
        f"{DOCS}.shuffle_mb": get(DOCS, "shuffle_write_bytes") / mb,
        "sink.task_s": get(SINK, "run_s") + get("lineage.sink", "run_s"),
        "sink.bytes_written_mb": (get(SINK, "output_bytes") + get("lineage.sink", "output_bytes")) / mb,
    }
    for s in STAGES:
        out[f"lineage.stage_wall_s.{s}"] = get(f"lineage.{s}", "wall_s")
    out["lineage.resume_read_s"] = get("lineage.resume_read", "wall_s")
    out["trace.coverage"] = sum(s["t1"] - s["t0"] for s in spans) / wall_s
    return out
