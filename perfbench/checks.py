"""Output checks, read straight from the written parquet with pyarrow.

Each check returns a list of failure messages (empty = pass).  The chunk
replay follows ``tests/test_chunk_oracle.py``: it assembles a chunk canvas
with its halo in numpy from the generated images and calls the same kernel
functions the group stage calls, so the engine's routing, canvas assembly,
parameter upsampling and sink conversion must reproduce it exactly.
"""

from __future__ import annotations

from typing import Dict, List, Tuple

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from homonim_spark.kernel import ops
from homonim_spark.kernel.models import KernelModelParams, apply_model, fit_model, overlap_for_kernel
from homonim_spark.tiles import decode_tile

from perfbench.inputs import CHUNK, FACTOR, KERNEL, TILE, Inputs, Workload, image_arrays, image_id

CORR = "corr://"


def read(path: str, columns=None, filter=None):
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns, filter=filter)


def kernel_params(w: Workload) -> KernelModelParams:
    return KernelModelParams(model=w.model, kernel_shape=KERNEL, find_r2=w.find_r2)


def chunk_canvases(ref: np.ndarray, src: np.ndarray, rc: int, cc: int):
    """Halo-padded (ref, src) canvases of image-local chunk (rc, cc)."""
    oh, ow = overlap_for_kernel(KERNEL)
    span = CHUNK * TILE
    ph, pw = span + 2 * oh, span + 2 * ow
    ref_c = np.full((ph, pw), np.nan, np.float32)
    src_c = np.full((ph * FACTOR, pw * FACTOR), np.nan, np.float32)
    g0r, g0c = rc * span - oh, cc * span - ow
    for img, canvas, f in ((ref, ref_c, 1), (src, src_c, FACTOR)):
        H, W = img.shape
        r0, c0 = g0r * f, g0c * f
        i0r, i1r = max(0, r0), min(H, r0 + ph * f)
        i0c, i1c = max(0, c0), min(W, c0 + pw * f)
        canvas[i0r - r0:i1r - r0, i0c - c0:i1c - c0] = img[i0r:i1r, i0c:i1c]
    return ref_c, src_c


def fit_apply_chunk(ref_c: np.ndarray, src_c: np.ndarray, params: KernelModelParams):
    """Kernel work of one chunk as the group stage does it for proc_crs=ref
    with a finer source: downsample, fit, upsample params, apply.  Returns
    (param interior on the proc grid, corrected src interior)."""
    oh, ow = overlap_for_kernel(KERNEL)
    span, f = CHUNK * TILE, FACTOR
    src_proc = ops.downsample_average(src_c, (f, f))
    param = fit_model(src_proc, ref_c, params)
    pint = param[:, oh:oh + span, ow:ow + span]
    up = ops.param_upsampler(params.param_interp)
    fsl = (slice(oh * f, (oh + span) * f), slice(ow * f, (ow + span) * f))
    param_us = np.stack([up(param[0], (f, f))[fsl], up(param[1], (f, f))[fsl]])
    src_int = src_c[oh * f:(oh + span) * f, ow * f:(ow + span) * f]
    param_us[:, np.isnan(src_int)] = np.nan
    return pint, apply_model(src_int, param_us)


def sample_chunks(w: Workload, seed: int, k: int) -> List[Tuple[int, int, int]]:
    """Seeded sample of (image, chunk row, chunk col)."""
    rng = np.random.default_rng([seed, 3])
    per_side = -(-w.cells // CHUNK)
    n = w.n_images * per_side * per_side
    picks = rng.choice(n, size=min(k, n), replace=False)
    return [(int(p) // (per_side * per_side), int(p) % (per_side * per_side) // per_side,
             int(p) % per_side) for p in picks]


def replay_chunks(w: Workload, seed: int, chunks, params_path: str, corr_path: str,
                  corr_col: str, ref_prefix: str = "") -> List[str]:
    """Compare the engine's gain, offset and corrected tiles of ``chunks``
    with the numpy replay.  ``params_path`` holds gain/offset per cell,
    ``corr_path`` the corrected src tiles in column ``corr_col``."""
    errors = []
    params = kernel_params(w)
    for i, rc, cc in chunks:
        ref, src = image_arrays(w, seed, i)
        pint, corr = fit_apply_chunk(*chunk_canvases(ref, src, rc, cc), params)
        want = {}
        for lr in range(CHUNK):
            for lc in range(CHUNK):
                r, c = rc * CHUNK + lr, cc * CHUNK + lc
                if r < w.cells and c < w.cells:
                    want[f"{ref_prefix}tile://{image_id(i)}/src/0/{r}/{c}"] = (lr, lc)
        refs = list(want)
        prow = read(params_path, ["media_ref", "gain", "offset"],
                    pc.field("media_ref").isin(refs)).to_pylist()
        crow = read(corr_path, ["media_ref", corr_col],
                    pc.field("media_ref").isin(refs)).to_pylist()
        if len(prow) != len(refs) or len(crow) != len(refs):
            errors.append(f"chunk {i}/{rc}/{cc}: {len(prow)} param and {len(crow)} "
                          f"corrected rows for {len(refs)} cells")
            continue
        T, S = TILE, TILE * FACTOR
        for p in prow:
            lr, lc = want[p["media_ref"]]
            for k, name in ((0, "gain"), (1, "offset")):
                exp = pint[k, lr * T:(lr + 1) * T, lc * T:(lc + 1) * T]
                if not np.array_equal(decode_tile(p[name], T, T), exp, equal_nan=True):
                    errors.append(f"{name} differs from replay at {p['media_ref']}")
        for p in crow:
            lr, lc = want[p["media_ref"]]
            exp = corr[lr * S:(lr + 1) * S, lc * S:(lc + 1) * S]
            if not np.array_equal(decode_tile(p[corr_col], S, S), exp, equal_nan=True):
                errors.append(f"corrected tile differs from replay at {p['media_ref']}")
    return errors


def check_documents(inp: Inputs, docs_path: str, corrected_path: str) -> List[str]:
    """Span sequences survive per doc_id; every re-pointed span resolves to
    exactly one corrected payload."""
    errors = []
    got = {r["doc_id"]: r["spans"] for r in read(docs_path).to_pylist()}
    if set(got) != set(inp.documents):
        errors.append(f"corrected documents: {len(got)} doc_ids, expected {len(inp.documents)}")
    repointed = []
    for doc_id, want in inp.documents.items():
        spans = got.get(doc_id)
        if spans is None:
            continue
        if [(s["kind"], s["text"]) for s in spans] != [(k, t) for k, t, _ in want]:
            errors.append(f"{doc_id}: span kind/text/order differs")
            continue
        for s, (_, _, mref) in zip(spans, want):
            exp = CORR + mref if "/src/" in mref else mref
            if s["media_ref"] != exp:
                errors.append(f"{doc_id}: span media_ref {s['media_ref']!r}, expected {exp!r}")
            if s["media_ref"].startswith(CORR):
                repointed.append(s["media_ref"])
    payload = read(corrected_path, ["media_ref"]).column("media_ref").to_pylist()
    counts: Dict[str, int] = {}
    for m in payload:
        counts[m] = counts.get(m, 0) + 1
    bad = [m for m in repointed if counts.get(m) != 1]
    if bad:
        errors.append(f"{len(bad)} re-pointed spans do not resolve to exactly one payload, e.g. {bad[0]}")
    return errors


def check_count(path: str, expected: int, what: str) -> List[str]:
    n = ds.dataset(path, format="parquet", partitioning="hive").count_rows()
    return [] if n == expected else [f"{what}: {n} rows, expected {expected}"]
