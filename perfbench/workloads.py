"""The benchmark's workloads: one closed-loop iteration each, its output
check, and the per-layer metrics read from its traced iterations.

An iteration is a sequence of calls into the engine's public functions,
each wrapped in a span; it ends when the output is on the driver. The
output check runs after the clock stops. Every iteration works on fresh
DataFrames (and a fresh catalog root), so nothing is reused between them
except what the engine itself caches.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from kaza_lcms_spark import datagen
from kaza_lcms_spark import workflow as W
from kaza_lcms_spark.kernels import grid
from kaza_lcms_spark.ml import primitives as P
from kaza_lcms_spark.operators import composite_pipeline as CP
from kaza_lcms_spark.operators import knn as KNN
from kaza_lcms_spark.operators import sampling as S
from kaza_lcms_spark.operators import spatial_join as SJ
from kaza_lcms_spark.sources import images as IMG
from kaza_lcms_spark.sources.catalog import Catalog

import gen
import spans as SP

KNN_K = 5
LC_N_PER_CLASS = 100      # jobs/landcover_job.py defaults
LC_N_TREES = 20
LC_ACC_FLOOR = 0.80


class CheckFailed(Exception):
    """The engine returned a wrong output."""


def _expect(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Workload:
    name = ""

    def __init__(self, spark, input_dir: str, info: dict, work_dir: str, tracer):
        self.spark = spark
        self.input_dir = input_dir
        self.info = info
        self.work_dir = work_dir
        self.tr = tracer
        self.n_iter = 0

    def items(self) -> int:
        """Input items one iteration processes (for ``items_per_s``)."""
        raise NotImplementedError

    def iteration(self):
        raise NotImplementedError

    def check(self, out) -> None:
        raise NotImplementedError

    def remember(self, out) -> None:
        """Keep what ``layers`` needs from a checked output."""

    def cleanup(self, out) -> None:
        pass

    def probes(self) -> dict:
        """Layer probes run once after the traced iterations (trace mode)."""
        return {}

    def layers(self, iters: list[list[SP.Span]]) -> dict:
        """Per-layer metrics from the traced iterations' spans."""
        return {}

    def _catalog_root(self) -> str:
        self.n_iter += 1
        return os.path.join(self.work_dir, f"catalog_{self.n_iter}")


def _by_name(iters, name: str) -> list[list[SP.Span]]:
    return [[s for s in it if s.name == name] for it in iters]


def _span_med(iters, name: str) -> float:
    return SP.median([sum(s.dur for s in group) for group in _by_name(iters, name) if group])


def _per_iter(iters, name: str, fn) -> float:
    """Median over iterations of ``fn(spans named name in one iteration)``."""
    return SP.median([fn(group) for group in _by_name(iters, name) if group])


def _committed(cat: Catalog, table: str) -> tuple[int, int]:
    """(rows, bytes) of the committed files of a catalog table."""
    rows = sum(l.n_rows for l in cat.lineage(table))
    size = sum(os.path.getsize(f) for l in cat.lineage(table) for f in l.files)
    return rows, size


# ------------------------------------------------------------------ corpus

_FNV0, _FNV_PRIME, _M64 = 0xCBF29CE484222325, 0x100000001B3, (1 << 64) - 1


def _splitmix64(z: int) -> int:
    z = (z + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


def simhash_ref(caption: str) -> int:
    """Scalar caption SimHash: FNV-1a per space-separated token ->
    splitmix64 -> signed bit votes -> sign bits, as a signed int64."""
    votes = [0] * 64
    for tok in caption.split(" "):
        h = _FNV0
        for b in tok.encode("utf-8"):
            h = ((h ^ b) * _FNV_PRIME) & _M64
        c = _splitmix64(h)
        for j in range(64):
            votes[j] += 1 if (c >> j) & 1 else -1
    sig = sum(1 << j for j in range(64) if votes[j] > 0)
    return sig - (1 << 64) if sig >= 1 << 63 else sig


def knn_ref(ids: np.ndarray, h: np.ndarray, k: int) -> pd.DataFrame:
    """Brute-force per-cell Hamming top-k, ties by (distance, neighbour id)."""
    x = h.astype(np.uint64)
    d = np.zeros((len(ids), len(ids)), dtype=np.int64)
    xor = x[:, None] ^ x[None, :]
    for shift in range(0, 64, 8):
        d += np.array([bin(v).count("1") for v in range(256)])[
            ((xor >> np.uint64(shift)) & np.uint64(255)).astype(np.int64)]
    np.fill_diagonal(d, 65)
    kk = min(k, len(ids) - 1)
    rows = []
    for i in range(len(ids)):
        order = np.lexsort((ids, d[i]))[:kk]
        rows += [(ids[i], ids[j], int(d[i, j])) for j in order]
    return pd.DataFrame(rows, columns=["image_id", "neighbor_id", "hamming"])


class Corpus(Workload):
    """The image-corpus job, in two parts over one contract-shaped table.

    Ingest (jobs/tile_assign_job.py): fused footprint -> cell -> PIP
    assignment, catalog sink partitioned by unit, read back, zonal counts.
    The sink's write path holds most of the time; the scan prunes to
    image_id, so nothing is decoded.

    Read-only passes: full decode, and the exact greedy thinning over the
    same images' footprint points (its distance self-join with halo
    replication, then per-round fixpoint jobs).

    Three calls run once per traced run, as probes, timed and checked
    there: the phash kNN per cell, at a cell level where two river/border
    cells exceed the salting threshold on most seeds and the rest stay
    cold; the caption kNN, the same tiers behind a SimHash UDF; and the
    standalone distance self-join with its pair count, which the thinning
    already runs inside. In every job the kNN would not leave room for
    three jobs and three set-ups in a run.
    """
    name = "corpus"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.kept = np.load(os.path.join(self.input_dir, "kept.npy"))

    def items(self) -> int:
        return self.info["images"]

    def iteration(self):
        tr, spark = self.tr, self.spark
        root = self._catalog_root()
        with tr.span("sources.read"):
            imgs = spark.read.parquet(os.path.join(self.input_dir, "images.parquet"))
            idx = SJ.load_polygon_index_from_fixture()
        with tr.span("spatial_join.assign"):
            assigned = SJ.assign_images_fused(spark, imgs, idx)
        cat = Catalog(root)
        with tr.span("catalog.write"):
            res = cat.write_partitioned(spark, assigned, "tiles", "unit_id",
                                        partitions_per_commit=4)
        with tr.span("catalog.read"):
            zonal = SJ.zonal_stats(cat.read_table(spark, "tiles")).collect()
        with tr.span("images.decode"):
            dec = IMG.decode_stats(imgs).agg(
                F.count(F.lit(1)).alias("n"), F.bit_xor("phash_check").alias("x"),
                F.sum("mean_px").alias("m")).collect()[0]
        with tr.span("sources.read"):
            pts = spark.read.parquet(os.path.join(self.input_dir, "points.parquet"))
        stats: dict = {}
        with tr.span("spatial_join.thin"):
            kept = SJ.thin_points_exact(pts, gen.THIN_RADIUS, stats=stats).toPandas()
        return {"root": root, "cat": cat, "res": res,
                "zonal": {int(r["unit_id"]): int(r["n"]) for r in zonal}, "dec": dec,
                "kept": np.sort(kept["pid"].to_numpy()), "rounds": stats["rounds"]}

    def check(self, out) -> None:
        truth = {int(k): v for k, v in self.info["unit_counts"].items()}
        _expect(out["zonal"] == truth, "per-unit counts differ from brute-force PIP")
        rows, size = _committed(out["cat"], "tiles")
        _expect(rows == self.info["images_assigned"], f"committed {rows} rows")
        _expect(out["res"]["written"] == len(truth), "partitions written")
        out["bytes"] = size
        dec = out["dec"]
        _expect(dec["n"] == self.info["images"], f"decoded {dec['n']} images")
        _expect(int(dec["x"]) == self.info["decode_phash_xor"], "decoded phash xor")
        _expect(abs(dec["m"] - self.info["decode_mean_sum"]) < 1e-6 * self.info["images"],
                "decoded pixel means")
        _expect(np.array_equal(out["kept"], self.kept), "kept set differs from sequential greedy")

    def cleanup(self, out) -> None:
        shutil.rmtree(out["root"], ignore_errors=True)

    def remember(self, out) -> None:
        self.last_res, self.last_bytes, self.rounds = out["res"], out["bytes"], out["rounds"]

    def _knn_checked(self) -> tuple[pd.DataFrame, int]:
        """The images of the checked cells (every hot cell and two seeded
        cold ones) with their cell, and the kNN's exact output row count."""
        t = pq.read_table(os.path.join(self.input_dir, "images.parquet"),
                          columns=["image_id", "phash", "caption"]).to_pandas()
        idx = t["image_id"].str.slice(4).astype(np.int64).to_numpy()
        lon, lat = datagen.footprint_from_ids(idx)
        t["cell"] = grid.encode(lon, lat, gen.KNN_LEVEL)
        hot = self.info["knn_hot_cell_ids"]
        cold = sorted(set(t["cell"].tolist()) - set(hot))
        pick = np.random.default_rng(self.info["id_offset"]).choice(len(cold), 2, replace=False)
        sizes = t["cell"].value_counts().to_numpy()
        return (t[t["cell"].isin(hot + [cold[i] for i in pick])],
                int((sizes * np.minimum(KNN_K, sizes - 1)).sum()))

    def _check_knn(self, col: str, got: pd.DataFrame, checked: pd.DataFrame,
                   n_rows: int) -> None:
        _expect(len(got) == n_rows, f"{col} kNN returned {len(got)} rows, want {n_rows}")
        want = _canon(pd.concat([knn_ref(g["image_id"].to_numpy(), g[col].to_numpy(), KNN_K)
                                 for _, g in checked.groupby("cell")]))
        got = _canon(got[got["image_id"].isin(set(checked["image_id"]))])
        _expect(got.equals(want), f"{col} kNN differs from brute force")

    def probes(self) -> dict:
        spark, tr = self.spark, self.tr
        checked, n_rows = self._knn_checked()
        imgs = spark.read.parquet(os.path.join(self.input_dir, "images.parquet"))
        with tr.span("knn.phash") as s_ph:
            pts = SJ.with_cell(SJ.with_footprint(imgs.select("image_id", "phash")),
                               level=gen.KNN_LEVEL)
            ph = KNN.knn_per_cell(pts, k=KNN_K, salt_threshold=gen.KNN_SALT_THRESHOLD)
        with tr.span("knn.phash.collect") as s_phc:
            ph = ph.toPandas()
        self._check_knn("phash", ph, checked, n_rows)
        with tr.span("knn.caption") as s_cap:
            pts = SJ.with_cell(SJ.with_footprint(imgs.select("image_id", "caption")),
                               level=gen.KNN_LEVEL)
            cap = KNN.caption_knn_per_cell(pts, k=KNN_K, salt_threshold=gen.KNN_SALT_THRESHOLD)
            cap = cap.toPandas()
        checked = checked.assign(cap_hash=[simhash_ref(c) for c in checked["caption"]])
        self._check_knn("cap_hash", cap, checked, n_rows)
        pts = spark.read.parquet(os.path.join(self.input_dir, "points.parquet"))
        with tr.span("spatial_join.distance") as s_dist:
            n_pairs = SJ.distance_join(pts, gen.THIN_RADIUS).count()
        _expect(n_pairs == self.info["distance_pairs"],
                f"{n_pairs} pairs within radius, want {self.info['distance_pairs']}")
        return {"phash": [s_ph, s_phc], "caption": s_cap, "distance": s_dist}

    def layers(self, iters) -> dict:
        rows = self.info["images_assigned"]
        w = "catalog.write"
        p = self.probe_spans
        knn = p["phash"]
        # the kNN call collects its routing histogram (one row per cell over
        # the salting threshold), then the hot cells' items for the
        # broadcast tier: the engine's own hot-tier routing, seen from its
        # SQL executions
        results = knn[0].result_rows()
        hot_cells = results[0] if results else 0.0
        _expect(hot_cells >= 1, "no cell took the kNN hot tier")
        _expect(hot_cells == self.info["knn_hot_cells"],
                f"{hot_cells:g} cells took the kNN hot tier, "
                f"{self.info['knn_hot_cells']} exceed the salting threshold")
        # the radius filter runs inside the cell join, whose candidate pairs
        # no plan metric counts; count the halo rows the replicator emits
        dist = p["distance"]
        halo = SP.node_sum([dist], SP.OUT_ROWS, kinds=("MapInPandas",))
        return {
            "catalog.write_s": _span_med(iters, w),
            "catalog.read_s": _span_med(iters, "catalog.read"),
            "catalog.jobs": _per_iter(iters, w, SP.job_count),
            "catalog.commits": float(self.last_res["snapshots"]),
            "catalog.bytes_per_row": self.last_bytes / rows,
            "catalog.input_rows_per_row":
                _per_iter(iters, w, lambda g: SP.stage_sum(g, "input_records")) / rows,
            # the fused assign kernel is lazy: it runs inside the sink's jobs
            "spatial_join.assign.py_total_s":
                _per_iter(iters, w, lambda g: SP.node_sum(g, SP.PY_TOTAL, python=True)),
            "spatial_join.assign.py_init_s":
                _per_iter(iters, w, lambda g: SP.node_sum(g, SP.PY_INIT, python=True)),
            "spatial_join.assign.py_sent_mb":
                _per_iter(iters, w, lambda g: SP.node_sum(g, SP.PY_SENT, python=True)) / 1e6,
            "spatial_join.assign.rows_in":
                _per_iter(iters, w, lambda g: SP.node_sum(g, SP.OUT_ROWS, kinds=("Scan",))),
            "spatial_join.assign.rows_out":
                _per_iter(iters, w, lambda g: SP.node_sum(g, SP.OUT_ROWS, python=True)),
            "images.decode_s": _span_med(iters, "images.decode"),
            "images.py_sent_mb": _per_iter(
                iters, "images.decode", lambda g: SP.node_sum(g, SP.PY_SENT, python=True)) / 1e6,
            "knn.phash_s": sum(s.dur for s in knn),
            "knn.caption_s": p["caption"].dur,
            "knn.jobs": float(SP.job_count(knn)),
            "knn.hot_cells": hot_cells,
            "knn.hot_rows": sum(results[1:]),
            # rows the kNN call itself pulls to the driver (routing
            # histogram, hot-cell items), not the collected output
            "knn.driver_rows": knn[0].driver_rows,
            "knn.shuffle_mb": SP.stage_sum(knn, "shuffle_write_bytes") / 1e6,
            "knn.py_total_s": SP.node_sum(knn, SP.PY_TOTAL, python=True),
            "knn.py_init_s": SP.node_sum(knn, SP.PY_INIT, python=True),
            "knn.task_skew": SP.task_skew(knn),
            "knn.sort_peak_mb": SP.node_max(knn, "peak memory", ("Sort",)) / 1e6,
            "spatial_join.distance_s": dist.dur,
            "spatial_join.distance_useful_frac":
                self.info["distance_pairs"] / halo if halo else 0.0,
            "spatial_join.thin_s": _span_med(iters, "spatial_join.thin"),
            "spatial_join.thin_rounds": float(self.rounds),
            "spatial_join.thin_jobs_per_round":
                _per_iter(iters, "spatial_join.thin", SP.job_count) / max(self.rounds, 1),
        }


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    return (df[["image_id", "neighbor_id", "hamming"]].astype(
        {"image_id": str, "neighbor_id": str, "hamming": np.int64})
        .sort_values(["image_id", "hamming", "neighbor_id"]).reset_index(drop=True))


# -------------------------------------------------------- landcover_annual

def _labeled(ts, lc):
    """jobs/landcover_job.py stage 01: composite features, labelled from the
    categorical raster via the level-12 parent cell."""
    comp = CP.build_composite(ts, harmonic_band=["nir", "swir1"])

    @F.pandas_udf(LongType())
    def parent12(cell: pd.Series) -> pd.Series:
        return pd.Series(grid.parent(cell.to_numpy(), 12))

    labeled = (comp.withColumn("p12", parent12(F.col("cell_id")))
               .join(lc.select(F.col("cell_id").alias("p12"), "LANDCOVER"), "p12")
               .drop("p12").dropna())
    feature_cols = ([c for c in labeled.columns
                     if c.startswith(("p10_", "p25_", "p50_", "p75_", "p90_"))]
                    + [c for c in labeled.columns if c.startswith(("amplitude", "phase"))])
    return comp, labeled, feature_cols


class LandcoverAnnual(Workload):
    """jobs/landcover_job.py's stage sequence, in process: composite ->
    stratified sample -> per-class RF fits -> argmax map -> catalog sink,
    read back. The job's scoring (AREA2 area estimates and stratified
    accuracy, the confusion-matrix accuracy) runs once per traced run, on
    the last job's map, as probes: in every job it would add about 6 s to
    a 10 s job."""
    name = "landcover_annual"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.n_labeled = None

    def items(self) -> int:
        return self.info["observations"]

    def iteration(self):
        tr, spark = self.tr, self.spark
        root = self._catalog_root()
        with tr.span("sources.read"):
            ts = spark.read.parquet(os.path.join(self.input_dir, "s2_timeseries.parquet"))
            lc = spark.read.parquet(os.path.join(self.input_dir, "landcover_cells.parquet"))
        with tr.span("composite.build"):
            comp, labeled, feature_cols = _labeled(ts, lc)
        with tr.span("sampling.topk"):
            sampled = S.stratified_topk(labeled, "LANDCOVER", "cell_id", LC_N_PER_CLASS)
            train, test = S.train_test_split(sampled, "cell_id", 0.8)
            train = train.cache()
            test = test.cache()
        with tr.span("primitives.fit"):
            wide, cls = P.primitives_wide(train, labeled, feature_cols, n_trees=LC_N_TREES)
        with tr.span("primitives.assemble"):
            landcover = P.assemble_max_prob_wide(wide, cls).cache()
        cat = Catalog(root)
        with tr.span("catalog.write"):
            res = cat.write_partitioned(spark, landcover, "landcover", "LANDCOVER",
                                        partitions_per_commit=4)
        with tr.span("catalog.read"):
            n = cat.read_table(spark, "landcover").count()
            cat.vacuum("landcover")
        return {"root": root, "cat": cat, "res": res, "rows": n, "classes": cls,
                "comp": comp, "labeled": labeled, "wide": wide,
                "frames": (train, test, landcover)}

    def check(self, out) -> None:
        if self.n_labeled is None:
            self.n_labeled = out["labeled"].count()
        _expect(out["rows"] == self.n_labeled,
                f"committed {out['rows']} rows, labelled cells {self.n_labeled}")
        _expect(sorted(out["classes"]) == self.info["s2_classes"], "fitted classes")
        _expect(out["res"]["written"] == len(self.info["s2_classes"]), "partitions written")
        _, out["bytes"] = _committed(out["cat"], "landcover")

    def cleanup(self, out) -> None:
        for f in out["frames"]:
            f.unpersist()
        shutil.rmtree(out["root"], ignore_errors=True)

    def remember(self, out) -> None:
        self.last = out

    def probes(self) -> dict:
        """The composite, the top-k sample and the map inference are lazy in
        the job (they run inside the fit and sink actions); time each alone
        on the last job's frames, forcing every column through the no-op
        sink."""
        tr, last = self.tr, self.last
        with tr.span("probe.composite") as s_comp:
            last["comp"].write.format("noop").mode("overwrite").save()
        labeled = last["labeled"].cache()
        n_lab = labeled.count()
        with tr.span("probe.topk") as s_topk:
            n_kept = S.stratified_topk(labeled, "LANDCOVER", "cell_id", LC_N_PER_CLASS).count()
        with tr.span("probe.infer") as s_inf:
            P.assemble_max_prob_wide(last["wide"], last["classes"]) \
                .write.format("noop").mode("overwrite").save()
        labeled.unpersist()
        # the job's scoring, on the last job's map and test sample, cached
        # again as they were in the job
        _, test, landcover = last["frames"]
        test, landcover = test.cache(), landcover.cache()
        test.count(), landcover.count()
        with tr.span("probe.score") as s_score:
            est, acc = W.score_area(landcover, test)
            p_hat = [r["p_hat"] for r in est.orderBy("class").collect()]
            overall = acc.select("overall_acc").first()[0]
        with tr.span("probe.accuracy") as s_acc:
            _, overall_cm = W.score_accuracy(landcover, test)
        test.unpersist(), landcover.unpersist()
        _expect(abs(sum(p_hat) - 1.0) < 1e-9, f"AREA2 p_hat sums to {sum(p_hat)}")
        _expect(overall >= LC_ACC_FLOOR, f"AREA2 overall accuracy {overall:.3f}")
        _expect(overall_cm >= LC_ACC_FLOOR, f"05accuracy overall accuracy {overall_cm:.3f}")
        return {"composite": s_comp, "topk": s_topk, "infer": s_inf, "score": s_score,
                "accuracy": s_acc, "kept_frac": n_kept / n_lab}

    def layers(self, iters) -> dict:
        p = self.probe_spans
        c = [p["composite"]]
        return {
            "composite.build_s": p["composite"].dur,
            "composite.shuffle_mb": SP.stage_sum(c, "shuffle_write_bytes") / 1e6,
            "composite.spill_mb": SP.stage_sum(c, "spill_bytes") / 1e6,
            # the percentile aggregate (object hash-agg) reports no peak
            # memory of its own; take the busiest stage's execution peak
            "composite.agg_peak_mb": max([st["peak_bytes"] for st in c[0].stages] or [0]) / 1e6,
            "composite.py_total_s": SP.node_sum(c, SP.PY_TOTAL, python=True),
            "composite.py_init_s": SP.node_sum(c, SP.PY_INIT, python=True),
            "sampling.topk_s": p["topk"].dur,
            "sampling.kept_frac": p["kept_frac"],
            "primitives.fit_s": _span_med(iters, "primitives.fit"),
            "primitives.jobs": _per_iter(iters, "primitives.fit", SP.job_count),
            "primitives.infer_s": p["infer"].dur,
            "catalog.write_s": _span_med(iters, "catalog.write"),
            "catalog.read_s": _span_med(iters, "catalog.read"),
            "catalog.jobs": _per_iter(iters, "catalog.write", SP.job_count),
            "catalog.commits": float(self.last["res"]["snapshots"]),
            "catalog.bytes_per_row": self.last["bytes"] / self.last["rows"],
            "catalog.input_rows_per_row": _per_iter(
                iters, "catalog.write",
                lambda g: SP.stage_sum(g, "input_records")) / self.last["rows"],
            "workflow.score_s": p["score"].dur,
            "workflow.jobs": float(SP.job_count([p["score"]])),
            "workflow.accuracy_s": p["accuracy"].dur,
        }


WORKLOADS = {w.name: w for w in (Corpus, LandcoverAnnual)}
