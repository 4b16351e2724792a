"""Dump .explain('formatted') for every bench query into plans/r08/.

Usage: python tools/dump_plans_r08.py <suffix: before|after> [query ...]
Writes plans/r08/<query>_<suffix>.txt. The flagship entry dumps the
metrics frame's plan (the frame bench counts) plus the observed
mask-write frame's plan.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r08")


def main() -> None:
    import __spark_entry__ as entrymod
    from irivermetrics_spark.session import get_spark

    suffix = sys.argv[1]
    only = set(sys.argv[2:])
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("plans_r08", master="local[4]", shuffle_partitions=8)

    qs = entrymod.queries()
    names = ["j1_star", "a7_fold", "w2_topk", "j6_fill", "f6_validity"]
    for name in names:
        if only and name not in only:
            continue
        df = qs[name](spark, SF_DIR)
        with open(os.path.join(OUT, f"{name}_{suffix}.txt"), "w") as f:
            f.write(df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        print(name, "done", flush=True)

    if not only or "flagship_pipeline" in only:
        import tempfile

        from irivermetrics_spark import synth
        from irivermetrics_spark.plans import pipeline

        fx = synth.make_fixture(w=326, h=111, n_dates=16, n_sections=7,
                                n_scenes=2, seed=42)
        grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
        images = pipeline.images_df(spark, fx.images)
        res = pipeline.run(spark, images, fx.reaches, grid,
                           mask_path=tempfile.mkdtemp(prefix="plan_mask_"))
        with open(os.path.join(OUT, f"flagship_pipeline_{suffix}.txt"), "w") as f:
            f.write("== decode/mask-write frame (the write job's plan) ==\n")
            import numpy as np

            from irivermetrics_spark.operators import decode as decode_op

            rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"]))
                     for r in fx.reaches]
            pts = decode_op.decode_points(images, grid, res=9,
                                          corridor_rings=rings)
            f.write(pts._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
            f.write("\n== metrics frame ==\n")
            f.write(res["metrics"]._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        print("flagship_pipeline done", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
