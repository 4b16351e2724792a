"""The three benchmark workloads: inputs, set-up, the timed call and its
output check.

Every workload runs at the paper's pixel shape (326x111 px, 7 river
sections); scenes and dates per scene are set per workload below. The
library sees only what ``synth.make_fixture`` generates from the seed.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd

from irivermetrics_spark import api, synth
from irivermetrics_spark.oracle import numpy_oracle
from irivermetrics_spark.plans import pipeline

W, H, SECTIONS = synth.FIXTURE_W, synth.FIXTURE_H, 7
KEYS = ["scene", "date", "section"]
# files every paper_exports call must leave in its outdir
EXPORT_FILES = (
    "irm_metrics.csv", "irm_Polygons.parquet", "irm_Lines.parquet", "irm_Points.parquet",
    "irm_Polygons.shp", "irm_Polygons.shx", "irm_Polygons.dbf",
    "irm_Lines.shp", "irm_Lines.shx", "irm_Lines.dbf",
    "irm_Points.shp", "irm_Points.shx", "irm_Points.dbf",
    "pixel_persistence.parquet", "Pixel_Persistence.tif",
)


def grid_of(fx) -> dict:
    return dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def dbf_records(path: str) -> int:
    """Record count from a dBASE header (uint32 at byte 4)."""
    with open(path, "rb") as f:
        return int.from_bytes(f.read(8)[4:8], "little")


def same_rows(got: pd.DataFrame, ref: pd.DataFrame) -> str | None:
    """Exact multiset row equality (what ``exceptAll`` returning 0 rows
    both ways tests), NaN equal to NaN. Returns a reason or None."""
    if list(got.columns) != list(ref.columns):
        return f"columns differ: {list(got.columns)} vs {list(ref.columns)}"
    if len(got) != len(ref):
        return f"{len(got)} rows vs {len(ref)} reference rows"
    a = got.sort_values(KEYS).reset_index(drop=True)
    b = ref.sort_values(KEYS).reset_index(drop=True)
    for c in a.columns:
        x, y = a[c].to_numpy(), b[c].to_numpy()
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            x, y = x.astype(np.float64), y.astype(np.float64)
            ok = (x == y) | (np.isnan(x) & np.isnan(y))
        else:
            ok = x.astype(str) == y.astype(str)
        if not ok.all():
            return f"column {c} differs in {int((~ok).sum())} rows"
    return None


def oracle_mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """Engine metrics against the numpy oracle's, at the tolerance of
    tests/test_full_fixture_e2e.py (Spark reorders float sums)."""
    if len(got) != len(exp):
        return f"{len(got)} rows vs {len(exp)} oracle rows"
    a = got.sort_values(KEYS).reset_index(drop=True)
    b = exp.sort_values(KEYS).reset_index(drop=True)
    for c in KEYS + ["npools"]:
        if a[c].astype(str).tolist() != b[c].astype(str).tolist():
            return f"{c} differs from the oracle"
    for c in b.columns.drop(KEYS + ["npools"]):
        if not np.allclose(a[c].to_numpy(np.float64), b[c].to_numpy(np.float64),
                           rtol=1e-9, atol=1e-12, equal_nan=True):
            return f"{c} differs from the oracle"
    return None


class CheckFailed(Exception):
    """An output of a call is missing or inconsistent."""


def check(wl, out, oracle: pd.DataFrame, first: pd.DataFrame | None) -> str | None:
    """The first call's metrics must match the oracle; every later call's
    must equal the first call's exactly. Returns a reason or None."""
    try:
        got = wl.metrics_of(out)
    except CheckFailed as e:
        return str(e)
    return oracle_mismatch(got, oracle) if first is None else same_rows(got, first)


class Workload:
    """One workload: ``materialize`` builds the input table in set-up,
    ``call`` is the timed public-API call, ``metrics_of`` reads the
    metrics table back from what the call returned."""

    name = ""
    shape = dict(w=W, h=H, n_sections=SECTIONS, n_scenes=1, n_dates=63)

    def __init__(self, work: str, seed: int, shape: dict | None = None):
        self.work, self.seed = work, seed
        self.shape = shape or self.shape
        self.fx = synth.make_fixture(seed=seed, **self.shape)
        self.grid = grid_of(self.fx)
        self.images = len(self.fx.images)

    def fresh(self, tag: str) -> str:
        return os.path.join(self.work, f"{tag}-{uuid.uuid4().hex[:8]}")

    def materialize(self, spark) -> None:
        raise NotImplementedError

    def call(self, spark):
        raise NotImplementedError

    def metrics_of(self, out) -> pd.DataFrame:
        """The metrics table a call produced."""
        return out

    def warm_up(self, spark) -> None:
        """One untimed call on this workload's own inputs: it starts the
        Python workers and compiles this plan's code. After a warm-up on
        a smaller separate fixture (same grid and seed, 3 dates) the
        first timed call ran 8.9-14 s against 7.5-8.3 s for the second,
        so a run's median depended on whether a second call fit."""
        self.call(spark)

    def mask_bytes_per_image(self, spark) -> float:
        """On-disk bytes per image of the module-1 mask table that
        ``api.waterdetect_batch`` writes for 8 scenes of 63 dates (the
        paper's time series) made from this seed. Bytes per image follow
        how cloudy and wet each scene is: over one scene they varied by
        a third from seed to seed."""
        fx = synth.make_fixture(seed=self.seed, **dict(self.shape, n_scenes=8, n_dates=63))
        path = self.fresh("mask-size")
        api.waterdetect_batch(spark, pipeline.images_df(spark, fx.images), grid=grid_of(fx),
                              reaches=fx.reaches, mask_path=path)
        return dir_bytes(path) / len(fx.images)

    def oracle(self, cache_dir: str) -> pd.DataFrame:
        """The numpy oracle's metrics for every scene of (seed, shape),
        computed once and kept in ``cache_dir``."""
        key = "-".join(f"{k}{v}" for k, v in sorted(self.shape.items()))
        path = os.path.join(cache_dir, f"{key}-seed{self.seed}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        parts = []
        for k in range(self.fx.n_scenes):
            m = numpy_oracle.run(self.fx, scene=k)["metrics"]
            m.insert(0, "scene", f"scene{k}")
            parts.append(m)
        exp = pd.concat(parts, ignore_index=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        exp.to_parquet(path + f".{os.getpid()}")
        os.replace(path + f".{os.getpid()}", path)
        return exp


def drop_frames(res) -> None:
    res["water_joined"].unpersist()
    res["kept"].unpersist()


class Flagship(Workload):
    """Module 1 + module 2 through ``pipeline.run`` with a mask sink."""

    name = "flagship"
    shape = dict(Workload.shape, n_scenes=1, n_dates=4)

    def materialize(self, spark) -> None:
        self.images_df = pipeline.images_df(spark, self.fx.images).repartition(4).persist()
        self.images_df.count()

    def call(self, spark):
        res = pipeline.run(spark, self.images_df, self.fx.reaches, self.grid,
                           mask_path=self.fresh("mask"))
        out = res["metrics"].toPandas()
        drop_frames(res)
        return out


class MasksToMetrics(Workload):
    """Module 2 alone, from the mask table module 1 wrote in set-up."""

    name = "masks_to_metrics"
    shape = Flagship.shape

    def materialize(self, spark) -> None:
        self.mask_path = self.fresh("mask")
        images = pipeline.images_df(spark, self.fx.images)
        api.waterdetect_batch(spark, images, grid=self.grid, reaches=self.fx.reaches,
                              mask_path=self.mask_path)

    def call(self, spark):
        res = api.calculate_metrics(spark, spark.read.parquet(self.mask_path), self.fx.reaches,
                                    self.grid)
        out = res["metrics"].toPandas()
        drop_frames(res)
        return out


class PaperExports(MasksToMetrics):
    """The reference notebook's call: metrics plus every vector and
    persistence export, on a single scene."""

    name = "paper_exports"
    shape = dict(Workload.shape, n_scenes=1, n_dates=6)

    def call(self, spark):
        outdir = self.fresh("exports")
        os.makedirs(outdir)
        res = api.calculate_metrics(spark, spark.read.parquet(self.mask_path), self.fx.reaches,
                                    self.grid, export_shp=True, export_PP=True, outdir=outdir)
        drop_frames(res)
        return outdir

    def metrics_of(self, outdir: str) -> pd.DataFrame:
        missing = [f for f in EXPORT_FILES if not os.path.exists(os.path.join(outdir, f))]
        if missing:
            raise CheckFailed(f"missing export files: {missing}")
        for layer in ("Polygons", "Lines", "Points"):
            n_shp = dbf_records(os.path.join(outdir, f"irm_{layer}.dbf"))
            n_pq = len(pd.read_parquet(os.path.join(outdir, f"irm_{layer}.parquet")))
            if n_shp != n_pq:
                raise CheckFailed(f"irm_{layer}: {n_shp} shapefile records vs {n_pq} parquet rows")
        got = pd.read_csv(os.path.join(outdir, "irm_metrics.csv"), index_col=0,
                          dtype={c: str for c in KEYS}, float_precision="round_trip")
        got["npools"] = got["npools"].astype("int32")
        return got


WORKLOADS = {w.name: w for w in (Flagship, MasksToMetrics, PaperExports)}
