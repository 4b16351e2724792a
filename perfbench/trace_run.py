"""Traced run: one untraced call, then the same work staged layer by
layer, each layer persisted and materialized inside a span under its own
Spark job group. Counts come from Spark's status stores, read by job
group after the work is done."""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

import workloads as wls
from harness import WORK, set_up, shutdown, tree_peak_rss
from irivermetrics_spark.operators import decode, exports, fillop, metrics, morphology, zonal

RES = 9
_UNITS = {"": 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


class Tracer:
    """Spans (id, name, parent, start, end) kept in memory. The Spark
    jobs started inside a span run under a job group named after it."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = dict(id=len(self.spans), name=name, parent=parent and parent["id"],
                   start=time.perf_counter(), end=None)
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["name"], parent["name"])

    def dur(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_time(self, rec: dict) -> float:
        kids = sum(s["end"] - s["start"] for s in self.spans if s["parent"] == rec["id"])
        return rec["end"] - rec["start"] - kids


def _iter(coll):
    it = coll.iterator()
    while it.hasNext():
        yield it.next()


def _metric_value(text: str) -> float:
    """A SQL-store metric string ("1,234", "64.2 MiB", or a
    "total (min, med, max ...)" block) as a number in bytes/seconds."""
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", text.splitlines()[-1] if "\n" in text else text)
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1) if m else 0.0


class Status:
    """Per-job-group totals from the stage store and the SQL store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        self.jobs = {}
        for j in _iter(store.jobsList(sc._jvm.java.util.ArrayList())):
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            self.jobs[j.jobId()] = dict(
                group=group, stages=[int(s) for s in _iter(j.stageIds())],
                start=j.submissionTime().get().getTime() / 1e3,
                end=j.completionTime().get().getTime() / 1e3)
        self.stages = {}
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        for s in _iter(store.stageList(sc._jvm.java.util.ArrayList(), False, False, empty,
                                       sc._jvm.java.util.ArrayList())):
            self.stages[s.stageId()] = dict(
                done=str(s.status()) == "COMPLETE", run_s=s.executorRunTime() / 1e3,
                cpu_s=s.executorCpuTime() / 1e9, shuffle_write_bytes=s.shuffleWriteBytes(),
                spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                gc_s=s.jvmGcTime() / 1e3, output_records=s.outputRecords())
        # SQL operator metrics, each accumulator credited to the first
        # execution that reports it (a cached subtree reappears under
        # every later scan of the cache)
        self.nodes: list[tuple[str, str, str, float]] = []
        sql = spark._jsparkSession.sharedState().statusStore()
        seen = set()
        execs = sorted(_iter(sql.executionsList()), key=lambda e: e.executionId())
        for e in execs:
            groups = {self.jobs[int(j)]["group"] for j in _iter(e.jobs().keys())
                      if int(j) in self.jobs}
            if len(groups) != 1:
                continue
            (group,) = groups
            values = sql.executionMetrics(e.executionId())
            for node in _iter(sql.planGraph(e.executionId()).allNodes()):
                for m in _iter(node.metrics()):
                    acc = m.accumulatorId()
                    if acc in seen or not values.contains(acc):
                        continue
                    seen.add(acc)
                    self.nodes.append((group, node.name(), m.name(),
                                       _metric_value(values.apply(acc))))

    def group_jobs(self, *groups: str) -> list[dict]:
        return [j for j in self.jobs.values() if j["group"] in groups]

    def stage_sum(self, key: str, *groups: str) -> float:
        ids = {s for j in self.group_jobs(*groups) for s in j["stages"]}
        return sum(self.stages[s][key] for s in ids if s in self.stages)

    def stage_count(self, *groups: str) -> int:
        ids = {s for j in self.group_jobs(*groups) for s in j["stages"]}
        return sum(1 for s in ids if self.stages.get(s, {}).get("done"))

    def node_sum(self, group: str, metric: str, node_pattern: str = "") -> float:
        return sum(v for g, n, m, v in self.nodes
                   if g == group and m == metric and re.search(node_pattern, n))

    def python_bytes(self, group: str) -> float:
        return (self.node_sum(group, "data sent to Python workers")
                + self.node_sum(group, "data returned from Python workers"))

    def python_nodes(self, group: str) -> int:
        return sum(1 for g, _, m, _ in self.nodes
                   if g == group and m == "data sent to Python workers")

    def busy_s(self, group: str) -> float:
        """Wall seconds during which at least one job of ``group`` ran."""
        busy, last = 0.0, float("-inf")
        for j in sorted(self.group_jobs(group), key=lambda j: j["start"]):
            busy += max(0.0, j["end"] - max(j["start"], last))
            last = max(last, j["end"])
        return busy


def staged_module2(spark, tr: Tracer, points, fx, grid) -> dict:
    """Module 2 from a mask-point table, one span per layer, in the order
    and with the arguments ``pipeline.run`` uses."""
    reaches = fx.reaches
    n = {}
    with tr.span("kept"):
        corridor = zonal.corridor_cover_df(spark, reaches, RES)
        total = fillop.corridor_pixel_count(spark, corridor, reaches, grid, RES)
        summaries = points.filter(F.col("value") == decode.SUMMARY_MARKER)
        pts = points.filter(~F.col("value").isin(decode.SUMMARY_MARKER, decode.QUARANTINE_MARKER))
        dates = pts.select("scene", "date").unionByName(
            summaries.select("scene", "date")).distinct().persist()
        n["dates_in"] = dates.count()
        kept = fillop.keep_dates_fused(summaries, dates, total).persist()
        n["dates_kept"] = kept.count()
    with tr.span("fill"):
        kept_idx = kept.select(
            "scene", "date", F.date_format("date", "yyyy-MM-dd").alias("ds"),
            (F.row_number().over(Window.partitionBy("scene").orderBy("date")) - 1).alias("t_idx"),
            F.count("*").over(Window.partitionBy("scene")).alias("n_t"))
        points_kept = pts.join(F.broadcast(kept_idx.select("scene", "date", "t_idx", "n_t")),
                               ["scene", "date"]).persist()
        n["fill_rows_in"] = points_kept.count()
        water = fillop.filled_water(points_kept, kept_idx, reaches, grid, out_cell_res=RES).persist()
        n["fill_rows_out"] = water.count()
    with tr.span("zonal"):
        wj = zonal.zonal_join(water, zonal.cover_df(spark, reaches, RES), reaches, grid).persist()
        n["zonal_rows_out"] = wj.count()
    with tr.span("persistence"):
        nd_df = kept.groupBy("scene").agg(F.count("*").alias("n_kept"))
        pers = metrics.persistence(wj, nd_df, grid["ps"]).persist()
        pers.count()
    with tr.span("morphology"):
        pools = morphology.pool_rows(wj, reaches, grid).persist()
        n["pools_out"] = pools.count()
        n["groups"] = pools.select("scene", "section", "ds").distinct().count()
    with tr.span("fold"):
        final = metrics.fold(pools, metrics.dimension_grid(spark, kept, reaches), pers).persist()
        n["fold_rows_out"] = final.count()
    return dict(counts=n, final=final, water_joined=wj, pools=pools, nd_df=nd_df)


def staged_exports(tr: Tracer, m2: dict, grid: dict, reaches: list, outdir: str) -> None:
    """Every writer ``api.calculate_metrics(export_shp=True,
    export_PP=True)`` runs, one span each, on the staged frames."""
    os.makedirs(outdir)
    with tr.span("exports.tables"):
        exports.write_metrics_csv(m2["final"], f"{outdir}/irm_metrics.csv")
        pp = metrics.pixel_persistence_px(m2["water_joined"], m2["nd_df"]).persist()
        exports.write_pixel_persistence(pp, f"{outdir}/pixel_persistence.parquet")
    with tr.span("exports.polygons"):
        polygons = exports.pool_polygons(m2["water_joined"], reaches, grid).persist()
        polygons.write.parquet(f"{outdir}/irm_Polygons.parquet")
    with tr.span("exports.lines"):
        lines = exports.pool_lines(m2["pools"], grid).persist()
        lines.write.parquet(f"{outdir}/irm_Lines.parquet")
    with tr.span("exports.points"):
        points = exports.line_points(lines).persist()
        points.write.parquet(f"{outdir}/irm_Points.parquet")
    with tr.span("exports.shapefile"):
        exports.write_vector_shapefiles(polygons, lines, points, outdir)
    with tr.span("exports.persistence_tif"):
        exports.write_persistence_geotiffs(pp, grid, outdir).collect()


def traced_run(args, cls, run_dir: str) -> dict:
    wl = cls(run_dir, args.seed)
    oracle = wl.oracle(os.path.join(WORK, "oracle"))
    spark, setup_steps = set_up(wl)
    try:
        return _traced(spark, wl, oracle, setup_steps[0], run_dir)
    finally:
        shutdown(spark)


def _traced(spark, wl, oracle, session_s: float, run_dir: str) -> dict:
    tr = Tracer(spark.sparkContext)

    with tr.span("call"):
        out = wl.call(spark)
    errors = [wls.check(wl, out, oracle, None)]

    decoded = isinstance(wl, wls.Flagship)
    exported = isinstance(wl, wls.PaperExports)
    mask_path = os.path.join(run_dir, "traced-mask")
    outdir = os.path.join(run_dir, "traced-exports")
    with tr.span("traced"):
        if decoded:
            rings = [(r["ring_x"], r["ring_y"]) for r in wl.fx.reaches]
            with tr.span("decode"):
                decode.decode_points(wl.images_df, wl.grid, res=RES, corridor_rings=rings) \
                    .write.format("noop").mode("overwrite").save()
            with tr.span("mask_sink"):
                decode.decode_points(wl.images_df, wl.grid, res=RES, corridor_rings=rings) \
                    .write.parquet(mask_path)
        else:
            mask_path = wl.mask_path
        m2 = staged_module2(spark, tr, spark.read.parquet(mask_path), wl.fx, wl.grid)
        if exported:
            staged_exports(tr, m2, wl.grid, wl.fx.reaches, outdir)
    if errors[0] is None:  # the staged tables must equal the untraced call's
        staged = outdir if exported else m2["final"].toPandas()
        errors.append(wls.check(wl, staged, None, wl.metrics_of(out)))

    st = Status(spark)
    n = m2["counts"]
    root = next(s for s in tr.spans if s["name"] == "traced")
    layers = [s for s in tr.spans if s["parent"] == root["id"]]
    export_groups = [s["name"] for s in layers if s["name"].startswith("exports.")]
    candidates = st.node_sum("zonal", "number of output rows", "BroadcastHashJoin")
    m = {
        "session.start_s": (session_s, "s"),
        "pipeline.driver_only_s": (tr.dur("call") - st.busy_s("call"), "s"),
        "pipeline.jobs": (len(st.group_jobs("call")), "count"),
        "pipeline.stages": (st.stage_count("call"), "count"),
        "pipeline.python_stages": (st.python_nodes("call"), "count"),
        "decode.s": (tr.dur("decode"), "s"),
        "decode.cpu_s": (st.stage_sum("cpu_s", "decode"), "s"),
        "decode.images": (st.node_sum("decode", "number of output rows", "InMemoryTableScan"),
                          "count"),
        "decode.points_out": (st.node_sum("decode", "number of output rows", "MapInArrow"),
                              "count"),
        "decode.python_bytes": (st.python_bytes("decode"), "B"),
        "mask_sink.s": (tr.dur("mask_sink") - tr.dur("decode"), "s"),
        "mask_sink.rows": (st.stage_sum("output_records", "mask_sink"), "count"),
        "mask_sink.bytes": (wls.dir_bytes(mask_path) if decoded else 0, "B"),
        "kept.s": (tr.dur("kept"), "s"),
        "kept.dates_in": (n["dates_in"], "count"),
        "kept.dates_kept": (n["dates_kept"], "count"),
        "fill.s": (tr.dur("fill"), "s"),
        "fill.rows_in": (n["fill_rows_in"], "count"),
        "fill.rows_out": (n["fill_rows_out"], "count"),
        "fill.shuffle_bytes": (st.stage_sum("shuffle_write_bytes", "fill"), "B"),
        "fill.python_bytes": (st.python_bytes("fill"), "B"),
        "zonal.s": (tr.dur("zonal"), "s"),
        "zonal.candidates": (candidates, "count"),
        "zonal.rows_out": (n["zonal_rows_out"], "count"),
        "zonal.hit_ratio": (n["zonal_rows_out"] / candidates if candidates else 0.0, "ratio"),
        "persistence.s": (tr.dur("persistence"), "s"),
        "persistence.shuffle_bytes": (st.stage_sum("shuffle_write_bytes", "persistence"), "B"),
        "morphology.s": (tr.dur("morphology"), "s"),
        "morphology.groups": (n["groups"], "count"),
        "morphology.pools_out": (n["pools_out"], "count"),
        "morphology.python_bytes": (st.python_bytes("morphology"), "B"),
        "fold.s": (tr.dur("fold"), "s"),
        "fold.rows_out": (n["fold_rows_out"], "count"),
        "exports.polygons_s": (tr.dur("exports.polygons"), "s"),
        "exports.lines_s": (tr.dur("exports.lines"), "s"),
        "exports.points_s": (tr.dur("exports.points"), "s"),
        "exports.shapefile_s": (tr.dur("exports.shapefile"), "s"),
        "exports.persistence_tif_s": (tr.dur("exports.persistence_tif"), "s"),
        "exports.tables_s": (tr.dur("exports.tables"), "s"),
        "exports.jobs": (len(st.group_jobs(*export_groups)), "count"),
        "exports.rows_out": (st.stage_sum("output_records", *export_groups), "count"),
        "exports.bytes_written": (wls.dir_bytes(outdir) if exported else 0, "B"),
        "spark.executor_run_s": (st.stage_sum("run_s", "call"), "s"),
        "spark.executor_cpu_s": (st.stage_sum("cpu_s", "call"), "s"),
        "spark.shuffle_write_bytes": (st.stage_sum("shuffle_write_bytes", "call"), "B"),
        "spark.spill_bytes": (st.stage_sum("spill_bytes", "call"), "B"),
        "spark.gc_s": (st.stage_sum("gc_s", "call"), "s"),
        "trace.call_s": (tr.dur("call"), "s"),
        "trace.wall_s": (tr.dur("traced"), "s"),
        "trace.overhead_s": (tr.dur("traced") - tr.dur("call"), "s"),
        "trace.layers_self_s": (sum(tr.self_time(s) for s in layers), "s"),
        "trace.unattributed_s": (tr.self_time(root), "s"),
    }
    rss = tree_peak_rss()
    m["memory.peak_rss_mb"] = (sum(rss.values()) / 2**20, "MB")
    errors = [e for e in errors if e]
    detail = dict(spans=tr.spans, errors=errors, shape=wl.shape,
                  peak_rss_mb_by_process={k: v / 2**20 for k, v in rss.items()},
                  self_s={s["name"]: tr.self_time(s) for s in layers})
    return dict(metrics=m, attempted=2, failed=len(errors), correct=not errors, detail=detail)
