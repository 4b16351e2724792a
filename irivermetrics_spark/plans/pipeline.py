"""End-to-end flagship pipeline: image table -> intermittency metrics.

Spark-first restatement of the reference's calculate_metrics lifecycle
(src/irm_main.py:117-236):

  images --mapInPandas--> mask points (decode + NDWI + hex tiling)
         --broadcast cell join + refine--> corridor membership
         --groupBy(scene,date) + semi-join--> >= 70 % validity filter (F6)
         --applyInPandas(scene, fill_cell)--> temporal fill + binarize
         --broadcast cell join + refine--> per-section assignment (J1)
         --groupBy(scene,section,px,py)/(scene,section)--> persistence
         --applyInPandas(scene,section,date)--> per-pool morphology
         --hash aggregate + dimension right-join--> metrics fold (A7)
         --orderBy--> final table

Shuffle inventory (by design, data shrinks monotonically):
 1. nodata counts groupBy (tiny), 2. fill groupBy (scene, fill_cell),
 3. persistence groupBy, 4. morphology groupBy, 5. fold aggregate,
 6. final orderBy. Both spatial joins are broadcast — the point side
 never shuffles for them. At 10^12-image scale the same plan holds:
 the polygon/cover side stays O(polygons), fill cells partition the
 corridor uniformly, and AQE's skew-join/coalesce handles dense cells.

The intermediate mask-point table can be persisted (module-1 sink K1)
so module 2 reads parquet instead of re-decoding — mirroring the
reference's two-module split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import decode, fillop, metrics, morphology, zonal


class _LazyFrames(dict):
    """Result dict whose export entries build their (pure plan-side)
    DataFrames on first access. Fully dict-compatible: membership,
    iteration and len see the lazy keys; values()/items() force-build
    so callers that snapshot the dict still get every frame."""

    def __init__(self, **eager):
        super().__init__(eager)
        self._factories: dict = {}

    def add_factory(self, key, fn) -> None:
        self._factories[key] = fn

    def _build(self, key):
        if not dict.__contains__(self, key) and key in self._factories:
            self[key] = self._factories[key]()
        return dict.__getitem__(self, key)

    def __getitem__(self, key):
        return self._build(key)

    def get(self, key, default=None):
        try:
            return self._build(key)
        except KeyError:
            return default

    def __contains__(self, key):
        return dict.__contains__(self, key) or key in self._factories

    def _build_all(self):
        for k in list(self._factories):
            self._build(k)

    def keys(self):
        self._build_all()
        return dict.keys(self)

    def values(self):
        self._build_all()
        return dict.values(self)

    def items(self):
        self._build_all()
        return dict.items(self)

    def __iter__(self):
        self._build_all()
        return dict.__iter__(self)

    def __len__(self):
        self._build_all()
        return dict.__len__(self)


class LazyKeptMap(dict):
    """scene -> sorted ISO kept-date list, materialized on first read.

    The flagship plan no longer needs this map driver-side (the fill
    time axis is a distributed (t_idx, n_t) join against the kept
    dimension); tests and notebook callers reading
    ``result['kept_map']`` trigger a one-off collect of the small kept
    dimension, and callers that never read it pay nothing."""

    def __init__(self, kept_df: DataFrame):
        super().__init__()
        self._df = kept_df
        self._loaded = False

    def _load(self):
        if self._loaded:
            return
        self._loaded = True
        for r in self._df.collect():
            self.setdefault(r["scene"], []).append(r["date"].isoformat())
        for v in super().values():
            v.sort()

    def __getitem__(self, k):
        self._load()
        return super().__getitem__(k)

    def get(self, k, default=None):
        self._load()
        return super().get(k, default)

    def __contains__(self, k):
        self._load()
        return super().__contains__(k)

    def __len__(self):
        self._load()
        return super().__len__()

    def __iter__(self):
        self._load()
        return super().__iter__()

    def keys(self):
        self._load()
        return super().keys()

    def values(self):
        self._load()
        return super().values()

    def items(self):
        self._load()
        return super().items()

    def __eq__(self, other):
        self._load()
        return dict(self) == other

    def __ne__(self, other):
        return not self.__eq__(other)

    def __bool__(self):
        self._load()
        return super().__len__() > 0

    def __repr__(self):
        self._load()
        return dict.__repr__(self)

    __hash__ = None


def run(
    spark: SparkSession,
    images: DataFrame | None,
    reaches: list[dict],
    grid: dict,
    res: int = 9,
    fill_res: int = fillop.FILL_RES_DEFAULT,
    min_pool_size: int = 2,
    section_length: float = float("nan"),
    mask_path: str | None = None,
    checkpoint_dir: str | None = None,
    points: DataFrame | None = None,
    fill_nodata: bool = True,
    aoi: tuple[list, float] | None = None,
) -> dict[str, DataFrame]:
    """Returns the named intermediate + final DataFrames (all lazy except
    the small date-dimension collects).

    checkpoint_dir: enable per-stage lineage checkpointing (P8) — a
    rerun with the same dir resumes after the last completed stage.

    points: a pre-decoded mask-point table (the module-1 sink read
    back, e.g. from ``api.waterdetect_batch``) — module 2 then starts
    from points and never touches image bytes, mirroring the
    reference's two-module split (src/irm_main.py:117: calculate_metrics
    consumes da_wmask, not imagery). Every mask table carries per-image
    presence rows, so the (scene, date) dimension is complete even for
    all-dry images; when those rows lack in-corridor invalid COUNTS
    (module 1 ran without reaches) the >= 70 % validity filter falls
    back to the corridor-join formulation (one extra pass over nodata
    points only).

    aoi: (lines, buffer_m) — REQUIRED when ``points`` came from an
    AOI-clipped module-1 run and reference clip semantics matter:
    corridor pixels outside the buffer were clipped away (the reference
    turns them into nodata before validating), so they count as invalid
    in the F6 ratio via a constant per-date offset.
    """
    from . import lineage

    import numpy as np

    rings = [(np.asarray(r["ring_x"]), np.asarray(r["ring_y"])) for r in reaches]

    # corridor constants first: they are O(polygons) jobs memoized per
    # (reaches, grid, res[, aoi]) content and the decode-path stats
    # observation below needs corridor_total before the mask write runs
    corridor_cover = zonal.corridor_cover_df(spark, reaches, res)
    corridor_total = fillop.corridor_pixel_count(spark, corridor_cover, reaches, grid, res)
    if corridor_total == 0:
        # the F6 ratio divides by this; fail here, not deep in a Spark job
        x0, y1, ps = grid["gx0"], grid["gy0"], grid["ps"]
        raise ValueError(
            f"no reach covers a pixel of the grid (x {x0}..{x0 + grid['w'] * ps}, "
            f"y {y1 - grid['h'] * ps}..{y1}); check the reaches' CRS and extent")
    invalid_offset = 0
    if aoi is not None:
        # AOI-clipped masks: corridor pixels outside the module-1 buffer
        # were clipped away -> invalid (reference clips, THEN validates)
        corridor_in_aoi = fillop.corridor_pixel_count(spark, corridor_cover, reaches, grid, res, aoi=aoi)
        invalid_offset = corridor_total - corridor_in_aoi

    # per-row F6 predicate on fused summary rows — used by the stats
    # observation to piggyback the driver's two small decisions (date
    # prune list, broadcast gates) onto an action that already runs.
    # Exact kept-ness is a SUM of `cell` over a (scene, date)'s summary
    # rows; since decode emits exactly one summary row per image, the
    # per-row predicate equals the exact one, and with duplicate images
    # it yields a SUPERSET of kept dates (sum-kept => every row kept)
    # and an OVERESTIMATE of the kept row count — both safe directions
    # (prune list must not drop kept data; broadcast gate must not
    # broadcast an unbounded dim). The same float expression as
    # keep_dates_fused so no FP-edge divergence.
    # one SQL string (r6 py4j-floor sweep): integer literals keep the
    # bigint arithmetic + double division identical to the old Column
    # tree (Spark `/` is always double in both forms)
    _row_kept_sql = (
        f"value = {decode.SUMMARY_MARKER} AND cell >= 0 "
        f"AND ({int(corridor_total)} - (cell + {int(invalid_offset)})) "
        f"/ {int(corridor_total)} >= 0.7D"
    )
    obs = None

    if points is None:
        # S1 uniformity is asserted per image inside the decode kernel
        # (map-side) — no separate validate action barrier. The aoi clip
        # passes through so the fused invalid counts and the emitted
        # points agree with the constant invalid_offset below (ADVICE
        # r2: clipping only in the offset double-counted out-of-AOI
        # nodata and leaked out-of-AOI pixels downstream).
        points = decode.decode_points(images, grid, res=res, corridor_rings=rings, aoi=aoi)
        if checkpoint_dir:
            # module-1 sink (K1) as a lineage stage: decode runs once ever
            points = lineage.run_stage(spark, points, checkpoint_dir, "mask_points",
                                       partition_by=["date"])
        elif mask_path:
            # plain (unpartitioned) parquet: at local scale a per-date
            # dynamic-partition write costs more in small-file commits than
            # pruning saves; a cluster deployment with years of history
            # would partitionBy("date") here (see lineage path).
            # The kept-date stats ride the write job as an Observation —
            # the r4 serial-floor fix: no separate stats action remains
            # between the mask sink and the final metrics job.
            from pyspark.sql import Observation

            obs = Observation()
            observed = points.observe(
                obs,
                F.expr(f"collect_set(CASE WHEN {_row_kept_sql} THEN date END) AS d_kept"),
                F.expr(f"sum(CASE WHEN {_row_kept_sql} THEN 1 ELSE 0 END) AS n_kept"),
            )
            observed.write.mode("overwrite").parquet(mask_path)
            # read back with the schema we just wrote (all-nullable,
            # exactly what footer inference returns for this table):
            # skips the driver-side footer read on the critical path
            # between the write job and the metrics plan build
            # (measured 70-82 ms inferred vs 17-26 ms explicit)
            read_schema = T.StructType(
                [T.StructField(f.name, f.dataType, True) for f in points.schema])
            points = spark.read.schema(read_schema).parquet(mask_path)
        else:
            points = points.persist()

    # fused summary rows carry per-image in-corridor invalid counts;
    # real mask points are everything else (quarantine rows from a
    # decode_points(on_undecodable='quarantine') table are dropped —
    # an undecodable image contributes nothing to the metrics)
    summaries = points.filter(F.col("value") == decode.SUMMARY_MARKER)
    points = points.filter(~F.col("value").isin(decode.SUMMARY_MARKER,
                                                decode.QUARANTINE_MARKER))

    if images is not None:
        dates = decode.with_scene_date(images.select("image_id")).select("scene", "date").distinct()
    else:
        # points-only input: the date dimension comes from the mask table
        # (an all-nodata image has a summary row, so no date is lost)
        dates = points.select("scene", "date").unionByName(
            summaries.select("scene", "date")).distinct()

    # the decode path always fuses in-corridor invalid counts — only
    # probe when the caller handed us a points table, whose summary rows
    # may be presence-only (cell == -1). Mixed tables (counted AND
    # presence-only summaries unioned from different module-1 runs) are
    # rejected: the fused path would silently treat presence-only dates
    # as zero-invalid (ADVICE r2). The probe rides the same single
    # action as the kept stats (crossJoin of two tiny aggregates).
    has_counts = True
    probe_cols: list = []
    if images is None:
        probe_cols = [summaries.agg(
            F.sum(F.when(F.col("cell") >= 0, 1).otherwise(0)).alias("_n_counted"),
            F.sum(F.when(F.col("cell") < 0, 1).otherwise(0)).alias("_n_presence"),
        )]

    def _kept_of(counted: bool) -> DataFrame:
        if counted:
            return fillop.keep_dates_fused(summaries, dates, corridor_total,
                                           invalid_offset=invalid_offset)
        return fillop.keep_dates(points, dates, corridor_cover, reaches, grid, corridor_total,
                                 invalid_offset=invalid_offset)

    # the kept (scene, date) dimension stays DISTRIBUTED: the driver
    # needs only the distinct-date pruning list + a row-count bound
    # (r2 VERDICT: the old kept.collect() scene->dates map is GBs at
    # 10^6 scenes x years of dates). On the mask-write path those came
    # from the write job's Observation — zero extra actions; otherwise
    # one fused agg action (stats + counted-probe together).
    kept = _kept_of(True).persist()
    if obs is not None:
        ostats = obs.get
        kept_dates_all = sorted(d for d in (ostats["d_kept"] or []) if d is not None)
        n_kept_rows = int(ostats["n_kept"] or 0)
        # overlap (guide §2.6): the downstream fill/zonal/fold plan
        # build is ~0.4 s of driver-only py4j with the cluster idle;
        # materialize the persisted kept dimension on a daemon thread
        # meanwhile (a small scan of the just-written mask parquet +
        # one agg — exactly the job the metrics action would run
        # first). Only on this branch: without a mask sink, kept's
        # lineage still contains the full decode and a background
        # materialization would burn a decode for plan-only callers.
        # Errors are swallowed; the caller's action surfaces them.
        from pyspark import InheritableThread

        def _materialize_kept() -> None:
            try:
                kept.count()
            except Exception:
                pass

        InheritableThread(target=_materialize_kept, daemon=True).start()
    else:
        stats_df = kept.agg(
            F.collect_set("date").alias("d_all"),
            F.count("*").alias("n_rows"),
        )
        for p in probe_cols:
            stats_df = stats_df.crossJoin(p)
        stats = stats_df.collect()[0]
        if images is None:
            n_counted = int(stats["_n_counted"] or 0)
            n_presence = int(stats["_n_presence"] or 0)
            if n_counted and n_presence:
                raise ValueError(
                    "mixed mask table: both counted (cell >= 0) and presence-only "
                    "(cell == -1) summary rows present — re-run module 1 uniformly "
                    "(with or without reaches) or split the table per run"
                )
            # no summary rows at all (external hand-built table) also
            # falls back to the corridor-join formulation, like r4
            has_counts = n_counted > 0
            if not has_counts:
                # presence-only masks: re-derive kept via the corridor
                # join and rerun the (tiny) stats agg on the real kept
                kept.unpersist()
                kept = _kept_of(False).persist()
                stats = kept.agg(
                    F.collect_set("date").alias("d_all"),
                    F.count("*").alias("n_rows"),
                ).collect()[0]
        kept_dates_all = sorted(stats["d_all"])
        n_kept_rows = int(stats["n_rows"])

    # date-pruning prefilter ahead of the exact (scene, date) join: an
    # isin on the (small) distinct kept-date list pushes into the
    # parquet scan as row-group min/max pruning — the join alone can't
    # prune the mask-table scan (r1 serial-floor item). Skipped when
    # the date list is large enough to bloat the plan.
    if 0 < len(kept_dates_all) <= 1000:
        # one SQL string, not F.col.isin(list): isin builds one py4j
        # literal per element (~400 round trips for 63 dates — the
        # single largest plan-construction cost in the r6 profile);
        # the parsed IN-list pushes down identically
        in_list = ", ".join(f"DATE'{d}'" for d in kept_dates_all)
        points = points.filter(F.expr(f"date IN ({in_list})"))

    # scene-local time axis as data, not driver state: every kept
    # (scene, date) gets its ordinal t_idx + the scene's axis length
    # n_t; points carry two ints through the fill shuffle and the fill
    # kernel sizes its matrix from them. Broadcast: dimension-sized.
    kept_idx = kept.select(
        "scene", "date",
        F.date_format("date", "yyyy-MM-dd").alias("ds"),
        (F.row_number().over(Window.partitionBy("scene").orderBy("date")) - 1).alias("t_idx"),
        F.count("*").over(Window.partitionBy("scene")).alias("n_t"),
    )
    # broadcast only while the kept dimension is bounded (same 2M gate
    # as the fold dims): an unconditional hint would re-materialize the
    # whole (scene, date) dimension on the driver + every executor —
    # exactly the ceiling the de-drivering removed (ADVICE r3)
    kept_cols = kept_idx.select("scene", "date", "t_idx", "n_t")
    if n_kept_rows <= 2_000_000:
        kept_cols = F.broadcast(kept_cols)
    points_kept = points.join(kept_cols, ["scene", "date"])
    # the fill kernel attaches the res-`res` cell key in-kernel
    # (out_cell_res): the fill stage grouped on the finer fill_res key,
    # and re-keying via a separate hex_cell_udf stage paid a second
    # ArrowEvalPython round-trip of the whole water table (r8)
    water = fillop.filled_water(points_kept, kept_idx, reaches, grid, fill_res=fill_res,
                                fill_nodata=fill_nodata,
                                broadcast_kept=n_kept_rows <= 2_000_000,
                                out_cell_res=res)
    if checkpoint_dir:
        water = lineage.run_stage(spark, water, checkpoint_dir, "water_filled")

    cover = zonal.cover_df(spark, reaches, res)
    water_keyed = water
    # persisted: persistence, morphology and the exports all branch off
    # this subtree — without a persist Spark recomputes fill+join per branch
    water_joined = zonal.zonal_join(water_keyed, cover, reaches, grid).persist()

    # per-scene kept-date counts as a distributed dim (broadcast inside)
    nd_df = kept.groupBy("scene").agg(F.count("*").alias("n_kept"))
    pers = metrics.persistence(water_joined, nd_df, grid["ps"])
    pools = morphology.pool_rows(water_joined, reaches, grid, min_pool_size=min_pool_size)
    grid_df = metrics.dimension_grid(spark, kept, reaches)
    # broadcast the fold's dim sides only while the keyspace is bounded
    n_groups = n_kept_rows * max(len(reaches), 1)
    final = metrics.fold(pools, grid_df, pers, section_length=section_length,
                         broadcast_dims=n_groups <= 2_000_000)

    from ..operators import exports as exports_op

    # export plans build on first access: each is ~0.1 s of py4j
    # expression construction that a metrics-only caller (the common
    # path) never uses — part of the r5 serial-floor cut
    out = _LazyFrames(
        mask_points=points,
        kept=kept,
        water=water,
        water_joined=water_joined,
        persistence=pers,
        pools=pools,
        metrics=final,
        kept_map=LazyKeptMap(kept),
        corridor_total=corridor_total,
    )
    out.add_factory("polygons", lambda: exports_op.pool_polygons(
        water_joined, reaches, grid, min_pool_size))
    out.add_factory("lines", lambda: exports_op.pool_lines(pools, grid))
    out.add_factory("points", lambda: exports_op.line_points(out["lines"]))
    out.add_factory("persistence_px", lambda: metrics.pixel_persistence_px(water_joined, nd_df))
    return out


def images_df(spark: SparkSession, images_pdf) -> DataFrame:
    """Create the image table DataFrame with the contract schema.

    The Arrow conversion inside ``createDataFrame`` slices the pandas
    frame by ``maxRecordsPerBatch`` ONLY — Spark 4's byte-based
    ``maxBytesPerBatch`` does not govern this path — and at the
    session's 10000-row default a batch of ~200 KB image rows crosses
    the 2 GiB int32-offset limit of a (non-large) Arrow binary column.
    Observed as a silent AQE hang materializing the cached image table
    at the 384-scene scaling input (r8). Pin a byte-safe row count for
    this one wide-binary conversion; the session default stays 10000
    for narrow-row stages."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("image_id", T.StringType(), False),
            T.StructField("bytes", T.BinaryType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("h", T.IntegerType(), False),
            T.StructField("fmt", T.StringType(), False),
            T.StructField("caption", T.StringType(), False),
            T.StructField("phash", T.LongType(), False),
        ]
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "512")
    try:
        return spark.createDataFrame(images_pdf, schema)
    finally:
        spark.conf.set(key, old)
