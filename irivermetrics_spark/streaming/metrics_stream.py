"""End-to-end streaming flagship slice: images stream in, per-day wet
areas stay batch-identical.

The temporal fill (J6) reads a scene's WHOLE kept-date axis — a late
scene can flip earlier dates' F6 verdicts and fill results — so the
slice is not expressible as a pure incremental aggregate. The
production shape is therefore the canonical two-layer pattern:

1. **ingest layer** (true streaming): checkpointed exactly-once decode
   of new image files into the append-only mask table — the expensive,
   embarrassingly-parallel 99 % of the work never reruns;
2. **serving layer** (per micro-batch): ``foreachBatch`` recomputes the
   cheap F6 -> fill -> wet-area slice over the accumulated mask table
   and atomically overwrites the result table. Each micro-batch's
   output equals the batch pipeline run on the same accumulated input
   BY CONSTRUCTION, and checkpointing makes restarts resume without
   reprocessing or double-counting (tests kill between batches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import pipeline
from . import ingest


def wet_area_slice(spark: SparkSession, points: DataFrame, reaches: list[dict],
                   grid: dict) -> tuple[DataFrame, dict]:
    """F6 -> fill -> per-(scene, day) wet area over a mask-point table.
    Returns (wet_area_df, pipeline_result) — the caller unpersists the
    result's cached frames after materializing (persisted_out pattern)."""
    res = pipeline.run(spark, None, reaches, grid, points=points)
    px_area_km2 = grid["ps"] ** 2 / 1e6
    out = (
        res["water_joined"].select("scene", "ds", "px", "py").distinct()
        .groupBy("scene", "ds")
        .agg(F.count("*").cast("long").alias("n_wet_px"))
        .withColumn("wet_area_km2", F.col("n_wet_px") * F.lit(px_area_km2))
    )
    return out, res


def start_flagship_stream(spark: SparkSession, images_path: str, mask_path: str,
                          out_path: str, checkpoint_path: str, reaches: list[dict],
                          grid: dict, res: int = 9, source: str = "images"):
    """input dir (stream) -> mask table (append, exactly-once) ->
    wet-area table (overwrite per micro-batch). Returns the query.

    ``source``: "images" (parquet image table, the default), "nc"
    (directory of classic NetCDF cubes — the reference's entry format)
    or "tif" (per-date YYYY-MM-DD.tif masks, the K1 export layout).
    All three produce the same mask-point schema through the shared
    emit_mask_rows contract, so the serving layer is source-agnostic."""
    import numpy as np

    from ..operators import decode as decode_op

    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]
    # corridor rings fused into the streaming decode so the mask table
    # carries the counted summary rows the fused F6 path needs
    if source == "images":
        points = decode_op.decode_points(
            spark.readStream.schema(ingest.IMAGE_SCHEMA).parquet(images_path),
            grid, res=res, corridor_rings=rings)
    elif source == "nc":
        points = ingest.stream_nc_decode(spark, images_path, grid, res=res,
                                         corridor_rings=rings)
    elif source == "tif":
        points = ingest.stream_tif_mask_decode(spark, images_path, grid, res=res,
                                               corridor_rings=rings)
    else:
        raise ValueError(f"unknown source {source!r} (images|nc|tif)")

    def process(batch_df, batch_id):
        # foreachBatch frames re-read the SOURCE per action — without a
        # persist the expensive decode kernel would run once for the
        # append and again for the scene list (r5 review)
        batch_df = batch_df.persist()
        # 1. append this batch's mask points (exactly-once: the stream
        #    checkpoint owns which source files entered which batch)
        batch_df.write.mode("append").partitionBy("date").parquet(mask_path)
        # 2. recompute the serving slice for AFFECTED SCENES ONLY — a
        #    late image can flip earlier dates' F6/fill results, but
        #    only within its own scene (the time axis is per-scene), so
        #    the recompute is O(batch's scenes), not O(history).
        #    Dynamic partition overwrite replaces exactly those scenes'
        #    output partitions; untouched scenes' results stand.
        scenes = [r["scene"] for r in batch_df.select("scene").distinct().collect()]
        acc = spark.read.parquet(mask_path).filter(F.col("scene").isin(scenes))
        wet, pres = wet_area_slice(spark, acc, reaches, grid)
        (wet.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("scene").parquet(out_path))
        pres["kept"].unpersist()
        pres["water_joined"].unpersist()
        batch_df.unpersist()

    return (
        points.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
