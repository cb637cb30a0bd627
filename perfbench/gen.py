"""Seeded benchmark inputs, generated on the driver and cached on disk.

The engine only ever sees the parquet tables written here. Each input is a
pure function of ``(kind, seed)``; the cache key carries both plus
``INPUT_VERSION``, so a change to the generators below must bump it.

* ``corpus`` -- contract-shaped image table ``(image_id, bytes, w, h, fmt,
  caption, phash)``. The seed sets the image-id offset; footprints are a
  pure function of the id (``datagen.footprint_from_ids``), so the seed
  moves the sample while the river/border skew keeps its shape. Next to
  it, ``points`` holds the footprints ``(pt_id, lon, lat)`` of the same
  images (``pt_id`` = image index), for the distance join and the exact
  thinning.
* ``s2`` -- ``datagen.generate_s2_timeseries`` over a seeded bbox inside
  KAZA plus the categorical ``landcover_cells`` raster. The bbox is a
  window of level-8 cells (the raster's class blocks) holding exactly
  ``S2_CLASSES`` distinct classes, so every seed fits the same number of
  per-class models over the same number of cells.

Every input also stores its truth (what a correct engine must return),
computed here on the driver without Spark.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from kaza_lcms_spark import datagen
from kaza_lcms_spark.kernels import codec, geom, grid, rand

INPUT_VERSION = 3

# stated sizes (recorded in every result). A job's time here is set by the
# number of Spark jobs it submits more than by these sizes: with the phash
# kNN in it, the corpus job took 16.6 s at 10k images and 13-15 s at 2k on a
# 4-core host
CORPUS_IMAGES = 2_000
KNN_LEVEL = 7               # level-7 cells: ~2.8 x 1.4 degrees
# rows: at 2k images the two largest (river/border) cells hold 177-280 rows
# on seeds 1-299 and the third at most 190, so two cells take the hot tier
# on 288 of those seeds (one or three on the rest), and ~22 stay cold
KNN_SALT_THRESHOLD = 180
S2_LEVEL = 12
S2_DATES = 12
S2_WINDOW = (2, 1)          # level-8 cells (lon, lat) per s2 bbox
S2_CLASSES = 2
# the thinning fixpoint takes 2 rounds on 57 of seeds 1-60 at this radius
# (3 on the rest); at 0.015 degrees it took 2, 3 or 4, a second per round
THIN_RADIUS = 0.005         # degrees

_PIX_SEED = 777_001
_SIZES = np.array([16, 32, 64])


def id_offset(seed: int) -> int:
    """Image-id offset for a seed: ids stay within the 12-digit id space."""
    return int(rand.hash_u64(np.array([seed]), 4242)[0] % np.uint64(90_000)) * 1_000_000


def pixels(idx: np.ndarray, size: int) -> np.ndarray:
    """(n, size, size) uint8 images: a smooth gradient plus a 4x4 block
    texture, so RLE runs stay long as in real land-cover tiles."""
    a = (rand.uniform(idx, _PIX_SEED) * 4.0 - 2.0)[:, None, None]
    b = (rand.uniform(idx, _PIX_SEED + 1) * 4.0 - 2.0)[:, None, None]
    c = (rand.uniform(idx, _PIX_SEED + 2) * 255.0)[:, None, None]
    yy, xx = np.mgrid[0:size, 0:size].astype(np.int64)
    blk = rand.hash_u64(idx[:, None, None] * 4096 + (yy // 4) * 64 + xx // 4,
                        _PIX_SEED + 3) % np.uint64(32)
    img = a * xx + b * yy + c + blk.astype(np.float64) * 2.0
    return np.clip(img, 0, 255).astype(np.uint8)


def _corpus(n: int, seed: int, out: str) -> dict:
    idx = id_offset(seed) + np.arange(n, dtype=np.int64)
    size = _SIZES[np.minimum((rand.uniform(idx, _PIX_SEED + 4) * 3).astype(int), 2)]
    u_fmt = rand.uniform(idx, _PIX_SEED + 5)
    fmt = np.where(u_fmt < 0.70, "raw", np.where(u_fmt < 0.90, "rle", "quant"))
    lc = rand.hash_u64(idx, _PIX_SEED + 6) % np.uint64(len(datagen.LC_WORDS))
    fw = rand.hash_u64(idx, _PIX_SEED + 7) % np.uint64(len(datagen.FEAT_WORDS))
    caption = [f"{datagen.LC_WORDS[a]} near {datagen.FEAT_WORDS[b]} tile {i}"
               for a, b, i in zip(lc, fw, idx)]
    blobs: list = [None] * n
    phash = np.zeros(n, dtype=np.int64)
    for s in _SIZES:
        sel = np.flatnonzero(size == s)
        px = pixels(idx[sel], int(s))
        phash[sel] = codec.phash64_batch(px)
        for j, k in enumerate(sel):
            blobs[k] = codec.encode(px[j], str(fmt[k]))
    table = pa.table({
        "image_id": pa.array([f"img_{i:012d}" for i in idx], pa.string()),
        "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array(size.astype(np.int32), pa.int32()),
        "h": pa.array(size.astype(np.int32), pa.int32()),
        "fmt": pa.array(fmt, pa.string()),
        "caption": pa.array(caption, pa.string()),
        "phash": pa.array(phash, pa.int64()),
    })
    pq.write_table(table, os.path.join(out, "images.parquet"), row_group_size=4096)

    # truth: tile assignment by brute force over the AOI polygons
    lon, lat = datagen.footprint_from_ids(idx)
    aoi = datagen.generate_aoi_polygons()
    index = geom.PolygonIndex(aoi["unit_id"].to_numpy(),
                              [np.asarray(r) for r in aoi["ring_xs"].to_pylist()],
                              [np.asarray(r) for r in aoi["ring_ys"].to_pylist()])
    _, units = index.probe(lon, lat)
    u, c = np.unique(units, return_counts=True)
    # truth: decode -> phash of every image (the lossy fmt re-hashes its
    # decoded pixels), folded by xor; pixel sum for the mean check
    decoded, _ = codec.decode_batch(blobs)
    xor = 0
    px_mean_sum = 0.0
    for s in _SIZES:
        sel = [i for i in range(n) if decoded[i].shape[0] == s]
        stack = np.stack([decoded[i] for i in sel])
        xor ^= int(np.bitwise_xor.reduce(codec.phash64_batch(stack)))
        px_mean_sum += float(stack.mean(axis=(1, 2), dtype=np.float64).sum())
    cells = grid.encode(lon, lat, KNN_LEVEL)
    cu, cc = np.unique(cells, return_counts=True)
    hot = cc > KNN_SALT_THRESHOLD
    return _points(idx, lon, lat, out) | {
        "images": n, "id_offset": int(idx[0]),
        "unit_counts": {int(a): int(b) for a, b in zip(u, c)},
        "images_assigned": int(len(units)),
        "decode_phash_xor": xor, "decode_mean_sum": px_mean_sum,
        "knn_level": KNN_LEVEL, "knn_salt_threshold": KNN_SALT_THRESHOLD,
        "knn_cells": int(len(cu)), "knn_hot_cells": int(hot.sum()),
        "knn_hot_rows": int(cc[hot].sum()),
        "knn_hot_cell_ids": [int(x) for x in cu[hot]],
        "knn_max_cell_rows": int(cc.max()),
        "bytes_total": int(sum(len(b) for b in blobs)),
        "pixels_total": int((size.astype(np.int64) ** 2).sum()),
    }


def _s2_window(seed: int, lc: pa.Table) -> tuple[float, float, float, float]:
    """A seeded bbox of S2_WINDOW level-8 cells, fully inside KAZA and
    holding exactly S2_CLASSES distinct land-cover classes."""
    step_x, step_y = 360.0 / 256, 180.0 / 256
    ix0 = int(np.ceil((datagen.LON0 + 180.0) / step_x))
    ix1 = int(np.floor((datagen.LON1 + 180.0) / step_x)) - S2_WINDOW[0]
    iy0 = int(np.ceil((datagen.LAT0 + 90.0) / step_y))
    iy1 = int(np.floor((datagen.LAT1 + 90.0) / step_y)) - S2_WINDOW[1]
    parent8 = grid.parent(lc["cell_id"].to_numpy(), 8)
    cls = dict(zip(parent8.tolist(), lc["LANDCOVER"].to_numpy().tolist()))
    cands = []
    for ix in range(ix0, ix1 + 1):
        for iy in range(iy0, iy1 + 1):
            ks = {cls.get(int(grid.encode_ixiy(np.array([ix + dx]), np.array([iy + dy]), 8)[0]))
                  for dx in range(S2_WINDOW[0]) for dy in range(S2_WINDOW[1])}
            if None not in ks and len(ks) == S2_CLASSES:
                cands.append((ix, iy))
    ix, iy = cands[int(rand.hash_u64(np.array([seed]), 4343)[0] % np.uint64(len(cands)))]
    # a 1e-9 inset keeps the cover on exactly the window's cells
    x0, y0 = ix * step_x - 180.0 + 1e-9, iy * step_y - 90.0 + 1e-9
    return (x0, y0, x0 + S2_WINDOW[0] * step_x - 2e-9, y0 + S2_WINDOW[1] * step_y - 2e-9)


def _s2(seed: int, out: str) -> dict:
    lc = datagen.generate_landcover_cells(12)
    bbox = _s2_window(seed, lc)
    ts = datagen.generate_s2_timeseries(level=S2_LEVEL, n_dates=S2_DATES, bbox=bbox)
    pq.write_table(ts, os.path.join(out, "s2_timeseries.parquet"))
    pq.write_table(lc, os.path.join(out, "landcover_cells.parquet"))
    cells = np.unique(ts["cell_id"].to_numpy())
    p12 = grid.parent(cells, 12)
    lab = dict(zip(lc["cell_id"].to_numpy().tolist(), lc["LANDCOVER"].to_numpy().tolist()))
    classes = sorted({lab[int(c)] for c in p12})
    return {"observations": ts.num_rows, "s2_cells": int(len(cells)),
            "s2_bbox": list(bbox), "s2_classes": classes,
            "landcover_cells": lc.num_rows}


def greedy_thin(ids: np.ndarray, lon: np.ndarray, lat: np.ndarray, r: float) -> np.ndarray:
    """Sequential keep-lowest-id greedy thinning (the reference semantics):
    a point is kept iff no already-kept point lies within ``r``."""
    order = np.argsort(ids, kind="stable")
    gx = np.floor(lon / r).astype(np.int64)
    gy = np.floor(lat / r).astype(np.int64)
    grid_kept: dict = {}
    kept = []
    r2 = r * r
    for i in order:
        x, y, cx, cy = lon[i], lat[i], gx[i], gy[i]
        hit = False
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                for j in grid_kept.get((cx + dx, cy + dy), ()):
                    if (lon[j] - x) ** 2 + (lat[j] - y) ** 2 <= r2:
                        hit = True
                        break
                if hit:
                    break
            if hit:
                break
        if not hit:
            kept.append(i)
            grid_kept.setdefault((cx, cy), []).append(i)
    return np.sort(ids[kept])


def _points(idx: np.ndarray, lon: np.ndarray, lat: np.ndarray, out: str) -> dict:
    pq.write_table(pa.table({"pt_id": idx, "lon": lon, "lat": lat}),
                   os.path.join(out, "points.parquet"))
    # truth: pairs within radius (grid buckets of radius size) and the
    # sequential greedy kept set
    gx = np.floor(lon / THIN_RADIUS).astype(np.int64)
    gy = np.floor(lat / THIN_RADIUS).astype(np.int64)
    buckets: dict = {}
    for i, key in enumerate(zip(gx.tolist(), gy.tolist())):
        buckets.setdefault(key, []).append(i)
    n_pairs = 0
    for (cx, cy), members in buckets.items():
        a = np.array(members)
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                other = buckets.get((cx + dx, cy + dy))
                if other is None:
                    continue
                b = np.array(other)
                d2 = (lon[a, None] - lon[None, b]) ** 2 + (lat[a, None] - lat[None, b]) ** 2
                n_pairs += int(((d2 <= THIN_RADIUS ** 2) & (idx[a, None] < idx[None, b])).sum())
    kept = greedy_thin(idx, lon, lat, THIN_RADIUS)
    np.save(os.path.join(out, "kept.npy"), kept)
    return {"points": len(idx), "radius_deg": THIN_RADIUS,
            "distance_pairs": n_pairs, "thin_kept": int(len(kept))}


_KINDS = {
    "corpus": ("corpus", lambda seed, out: _corpus(CORPUS_IMAGES, seed, out)),
    "landcover_annual": ("s2", _s2),
}


def ensure(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return ``(input_dir, info)`` for a workload and seed, generating the
    inputs on first use. ``info`` holds the stated sizes and the truth."""
    kind, make = _KINDS[workload]
    out = os.path.join(cache_root, f"v{INPUT_VERSION}_{kind}_s{seed}")
    stamp = os.path.join(out, "_DONE.json")
    if not os.path.exists(stamp):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        info = make(seed, out)
        with open(stamp + ".tmp", "w") as f:
            json.dump(info, f)
        os.replace(stamp + ".tmp", stamp)
    with open(stamp) as f:
        return out, json.load(f)
