"""Single-threaded driver timings of the engine's numpy kernels at fixed
batch sizes, with the bytes each kernel moves per item computed from its
input and output arrays (no hardware counters on a CPU run)."""

from __future__ import annotations

import statistics
import time

import numpy as np

from kaza_lcms_spark import datagen
from kaza_lcms_spark.kernels import codec, grid
from kaza_lcms_spark.operators import spatial_join as SJ

import gen

BATCH_POINTS = 4096     # rows per Arrow batch in the engine's kernels
BATCH_IMAGES = 512
MIN_SECONDS = 0.15


def _per_item_ns(fn, n_items: int) -> float:
    """Median ns per item over repeats of ``fn`` (at least MIN_SECONDS)."""
    fn()
    times = []
    t_end = time.perf_counter() + MIN_SECONDS
    while time.perf_counter() < t_end or len(times) < 5:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_items * 1e9


def run(seed: int) -> dict:
    idx = gen.id_offset(seed) + np.arange(BATCH_POINTS, dtype=np.int64)
    lon, lat = datagen.footprint_from_ids(idx)
    index = SJ.load_polygon_index_from_fixture()
    out = {
        # ids in (8 B) -> lon, lat out (16 B)
        "datagen.footprint_ns_per_pt": _per_item_ns(lambda: datagen.footprint_from_ids(idx),
                                                    BATCH_POINTS),
        "datagen.footprint_bytes_per_pt": 24.0,
        # lon, lat in (16 B) -> cell out (8 B)
        "kernels.grid.encode_ns_per_pt": _per_item_ns(lambda: grid.encode(lon, lat, 14),
                                                      BATCH_POINTS),
        "kernels.grid.encode_bytes_per_pt": 24.0,
        # lon, lat in (16 B) -> point index + unit id out (16 B)
        "kernels.geom.probe_ns_per_pt": _per_item_ns(lambda: index.probe(lon, lat),
                                                     BATCH_POINTS),
        "kernels.geom.probe_bytes_per_pt": 32.0,
    }
    # one Arrow-like binary batch of encoded images: data buffer + offsets
    img_idx = idx[:BATCH_IMAGES]
    sizes = np.array([16, 32, 64])[img_idx % 3]
    fmts = np.array(["raw", "raw", "rle", "quant"])[img_idx % 4]
    blobs = [codec.encode(gen.pixels(img_idx[i:i + 1], int(sizes[i]))[0], str(fmts[i]))
             for i in range(BATCH_IMAGES)]
    data = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    off = np.concatenate([[0], np.cumsum([len(b) for b in blobs])]).astype(np.int64)
    n_px = int((sizes.astype(np.int64) ** 2).sum())
    out["kernels.codec.decode_ns_per_px"] = _per_item_ns(
        lambda: codec.decode_batch_views(data, off), n_px)
    # encoded bytes read + decoded pixel bytes written, per pixel
    out["kernels.codec.bytes_per_px"] = (len(data) + n_px) / n_px
    return out
