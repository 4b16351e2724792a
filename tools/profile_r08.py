"""Per-stage profiling for the r8 optimization round (guide §1).

Times individual components of the bench queries with the noop sink so
we see where the wall-clock goes before changing anything. Not part of
the frozen bench contract — bench.py stays the official harness.

Usage: python tools/profile_r08.py [sf_dir] [what ...]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
WHAT = set(sys.argv[2:]) or {"relational", "flagship"}


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn):
    t0 = time.time()
    out = fn()
    dt = time.time() - t0
    print(f"  {label:55s} {dt:7.3f} s", flush=True)
    return out


def main():
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from irivermetrics_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("profile_r08", master=f"local[{cpus}]",
                      shuffle_partitions=max(8, int(cpus)))
    sc = spark.sparkContext

    # warm python workers + codegen once
    warm = spark.range(100000).withColumn("x", F.xxhash64("id"))
    noop(warm)
    import pandas as pd

    def _warm_fn(it):
        for pdf in it:
            yield pdf
    noop(spark.range(10000).repartition(32).mapInPandas(_warm_fn, "id long"))

    if "relational" in WHAT:
        print("== relational: plan-build vs execute ==", flush=True)
        qs = entrymod.queries()
        for name in ["j1_star", "a7_fold", "w2_topk", "j6_fill", "f6_validity"]:
            sc.setJobDescription(f"rel: {name}")
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            t_build = time.time() - t0
            t0 = time.time()
            noop(df)
            t_run1 = time.time() - t0
            t0 = time.time()
            df2 = qs[name](spark, SF_DIR)
            noop(df2)
            t_run2 = time.time() - t0
            print(f"  {name:20s} build {t_build:6.3f}  exec1 {t_run1:6.3f}  build+exec2 {t_run2:6.3f}", flush=True)

    if "flagship" in WHAT:
        import tempfile

        from irivermetrics_spark import synth
        from irivermetrics_spark.plans import pipeline
        print("== flagship stage split ==", flush=True)
        sf = 0.1
        n_scenes = max(1, int(round(320 * sf)))
        fx = timed("make_fixture", lambda: synth.make_fixture(
            w=326, h=111, n_dates=63, n_sections=7, n_scenes=n_scenes, seed=42))
        grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
        images = pipeline.images_df(spark, fx.images).repartition(32).persist()
        images.count()
        warm_fx = synth.make_fixture(w=326, h=111, n_dates=8, n_sections=7, n_scenes=1, seed=42)
        warm = pipeline.run(spark, pipeline.images_df(spark, warm_fx.images), warm_fx.reaches,
                            grid, mask_path=tempfile.mkdtemp(prefix="warm_"))
        warm["metrics"].count()

        for rep in range(2):
            t0 = time.time()
            sc.setJobDescription("flagship: pipeline.run() plan build")
            res = pipeline.run(spark, images, fx.reaches, grid,
                               mask_path=tempfile.mkdtemp(prefix="prof_mask_"))
            t_build = time.time() - t0
            t0 = time.time()
            sc.setJobDescription("flagship: metrics count")
            n = res["metrics"].count()
            t_run = time.time() - t0
            print(f"  rep{rep}: plan-build+maskwrite {t_build:6.3f}  metrics job {t_run:6.3f}  rows {n}", flush=True)
            res["water_joined"].unpersist()

        # decode-only timing
        from irivermetrics_spark.operators import decode
        import numpy as np
        rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in fx.reaches]
        sc.setJobDescription("flagship: decode only")
        pts = decode.decode_points(images, grid, res=9, corridor_rings=rings)
        timed("decode_points only (noop)", lambda: noop(pts))
        timed("decode_points only again (noop)", lambda: noop(pts))

    spark.stop()


if __name__ == "__main__":
    main()
