"""Seeded workload inputs: documents + tile payloads, written to parquet.

Every image gets its own gain, offset and reference noise from the seed,
so the seed changes pixel content as well as document text.  Inputs are
built in numpy in the benchmark process and written with pyarrow, so generation costs
no Spark job; the timed runs scan the parquet back.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from homonim_spark import datagen, grid

#: ref tile px, src/ref resolution factor, cells per chunk side, kernel
TILE = 64
FACTOR = 2
CHUNK = 4
KERNEL = (5, 5)
BAND = 0


@dataclass(frozen=True)
class Workload:
    name: str
    n_images: int
    cells: int            # cells per image side
    model: str
    find_r2: bool
    staged: bool          # run through pipelines.staged_fuse_pipeline

    @property
    def n_src_tiles(self) -> int:
        return self.n_images * self.cells * self.cells

    @property
    def n_chunks(self) -> int:
        per_side = -(-self.cells // CHUNK)
        return self.n_images * per_side * per_side


WORKLOADS: Dict[str, Workload] = {w.name: w for w in (
    # BASELINE.json's config end to end; one chunk per image, so halo
    # routing is idle and per-group and Python-boundary costs dominate
    Workload("small_images", 64, 4, "gain-blk-offset", False, False),
    # the same path on 16x16-cell images: halo routing duplicates border
    # tiles (routed rows / used tiles = 1.89), so routing changes show here
    Workload("large_images", 2, 16, "gain-blk-offset", False, False),
    # every stage checkpoints to parquet and a resume reads it back; the
    # gain-offset + R2 kernel costs more per chunk; single-chunk images
    Workload("staged_resume", 16, 4, "gain-offset", True, True),
)}


def image_origin(w: Workload, i: int) -> Tuple[int, int]:
    """Upper-left cell of image ``i``: chunk-aligned, images never touch."""
    pitch = 2 * w.cells + CHUNK - (w.cells % CHUNK)
    per_row = 64
    return pitch * (i // per_row), pitch * (i % per_row)


def image_arrays(w: Workload, seed: int, i: int) -> Tuple[np.ndarray, np.ndarray]:
    """(ref, src) float32 arrays of image ``i`` (NaN borders as datagen)."""
    rng = np.random.default_rng([seed, i, 1])
    gain = float(rng.uniform(0.6, 1.6))
    offset = float(rng.uniform(-8.0, 8.0))
    spec = datagen.RasterFixtureSpec(
        pair_id=image_id(i), cells=(w.cells, w.cells), tile=TILE,
        factor=FACTOR, true_gain=gain, true_offset=offset,
        origin=image_origin(w, i))
    ref, src = datagen.make_pair_arrays(spec, BAND)
    ref = ref + rng.normal(0.0, 1.0, ref.shape).astype(np.float32)
    return ref.astype(np.float32), src


def image_id(i: int) -> str:
    return f"img{i:05d}"


_WORDS = datagen._TEXT_WORDS


def _document(w: Workload, seed: int, i: int, cr: int) -> Tuple[str, List[dict]]:
    rng = np.random.default_rng([seed, i, cr, 2])
    pid = image_id(i)
    spans: List[dict] = []

    def text():
        n = int(rng.integers(3, 9))
        words = " ".join(_WORDS[int(k)] for k in rng.integers(0, len(_WORDS), n))
        spans.append({"kind": "text", "text": words, "media_ref": "",
                      "offset": len(spans)})

    text()
    for cc in range(w.cells):
        for role in ("ref", "src"):
            spans.append({"kind": "media", "text": "",
                          "media_ref": datagen.media_ref_str(pid, role, BAND, cr, cc),
                          "offset": len(spans)})
        if rng.random() < 0.5:
            text()
    text()
    return f"doc-{pid}-r{cr:04d}", spans


_SPAN = pa.struct([("kind", pa.string()), ("text", pa.string()),
                   ("media_ref", pa.string()), ("offset", pa.int32())])
DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN))])
TILE_SCHEMA = pa.schema([
    ("media_ref", pa.string()), ("image_id", pa.string()), ("role", pa.string()),
    ("band", pa.int32()), ("cell_id", pa.int64()), ("row", pa.int32()),
    ("col", pa.int32()), ("h", pa.int32()), ("w", pa.int32()),
    ("transform", pa.list_(pa.float64())), ("data", pa.binary()),
])


@dataclass
class Inputs:
    docs_path: str
    tiles_path: str
    documents: Dict[str, List[Tuple[str, str, str]]]   # doc_id -> [(kind, text, media_ref)]
    n_docs: int
    n_tiles: int
    digest: str


def write_inputs(w: Workload, seed: int, out_dir: str) -> Inputs:
    """Generate the workload's tables into ``out_dir`` (one parquet file
    per image batch) and return their paths, the expected span sequences
    and a digest over every generated value."""
    docs_dir, tiles_dir = os.path.join(out_dir, "documents"), os.path.join(out_dir, "tiles")
    os.makedirs(docs_dir)
    os.makedirs(tiles_dir)
    h = hashlib.sha256()
    documents: Dict[str, List[Tuple[str, str, str]]] = {}
    res_px = grid.cell_size(datagen.FIXTURE_RES)
    per_file = max(1, 256 // (w.cells * w.cells))
    n_tiles = 0
    for f0 in range(0, w.n_images, per_file):
        cols = {f.name: [] for f in TILE_SCHEMA}
        doc_ids, doc_spans = [], []
        for i in range(f0, min(w.n_images, f0 + per_file)):
            ref, src = image_arrays(w, seed, i)
            r0, c0 = image_origin(w, i)
            for cr in range(w.cells):
                for cc in range(w.cells):
                    for role, img, t in (("ref", ref, TILE), ("src", src, TILE * FACTOR)):
                        tile = np.ascontiguousarray(img[cr * t:(cr + 1) * t, cc * t:(cc + 1) * t])
                        px = res_px / t
                        cols["media_ref"].append(datagen.media_ref_str(image_id(i), role, BAND, cr, cc))
                        cols["image_id"].append(image_id(i))
                        cols["role"].append(role)
                        cols["band"].append(BAND)
                        cols["cell_id"].append(grid.cell_id(datagen.FIXTURE_RES, r0 + cr, c0 + cc))
                        cols["row"].append(r0 + cr)
                        cols["col"].append(c0 + cc)
                        cols["h"].append(t)
                        cols["w"].append(t)
                        cols["transform"].append([px, 0.0, (c0 + cc) * res_px,
                                                  0.0, px, (r0 + cr) * res_px])
                        cols["data"].append(tile.astype("<f4").tobytes())
                        h.update(cols["media_ref"][-1].encode())
                        h.update(cols["data"][-1])
                doc_id, spans = _document(w, seed, i, cr)
                doc_ids.append(doc_id)
                doc_spans.append(spans)
                documents[doc_id] = [(s["kind"], s["text"], s["media_ref"]) for s in spans]
                h.update(repr((doc_id, documents[doc_id])).encode())
        n_tiles += len(cols["data"])
        name = f"part-{f0:05d}.parquet"
        pq.write_table(pa.table(cols, schema=TILE_SCHEMA), os.path.join(tiles_dir, name))
        pq.write_table(pa.table({"doc_id": doc_ids, "spans": doc_spans}, schema=DOC_SCHEMA),
                       os.path.join(docs_dir, name))
    return Inputs(docs_dir, tiles_dir, documents, len(documents), n_tiles, h.hexdigest()[:16])
