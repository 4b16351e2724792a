"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship spatial pipeline (the engine's
reason to exist) on the deterministic synthetic image table — the
input-table contract says to synthesize the image+caption table at
small scale (BASELINE.json input_hint; no external data exists for
it). ``queries()`` exposes the paper's operators from SURVEY.md §2;
SQL-expressible ones carry a DuckDB oracle in ``oracle_sql()``
(identical aliases, rounded float aggregates so value hashes match
across engines); the geometry surfaces are rows-only and are verified
against numpy oracles in tests/.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_FIXTURE_CACHE: dict = {}


import weakref

_T_CACHE: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table as a LAZY DataFrame, memoized per (session, path).

    ``spark.read.parquet`` does a driver-side file listing + footer
    schema read on every call (~70-100 ms each over py4j); the bench
    re-reads the same handful of tables ~30x per run. The memo holds
    only the unevaluated plan — every action still computes from the
    parquet files (nothing is persisted or precomputed). Keyed weakly
    on the session object so a stopped session's plans drop with it
    (an id()-keyed dict could alias a recycled address)."""
    per_session = _T_CACHE.get(spark)
    if per_session is None:
        per_session = _T_CACHE[spark] = {}
    df = per_session.get((sf_dir, name))
    if df is None:
        df = per_session[(sf_dir, name)] = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return df


def _fixture():
    if "fx" not in _FIXTURE_CACHE:
        from irivermetrics_spark import synth

        _FIXTURE_CACHE["fx"] = synth.make_fixture(w=80, h=40, n_dates=10, n_sections=3, seed=42)
    return _FIXTURE_CACHE["fx"]


def _pipeline_result(spark: SparkSession):
    key = ("pipe", id(spark))
    if key not in _FIXTURE_CACHE:
        from irivermetrics_spark.plans import pipeline

        fx = _fixture()
        grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
        images = pipeline.images_df(spark, fx.images)
        _FIXTURE_CACHE[key] = pipeline.run(spark, images, fx.reaches, grid)
    return _FIXTURE_CACHE[key]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: image table -> per-(date, section) intermittency metrics."""
    return _pipeline_result(spark)["metrics"]


# --------------------------------------------------------------------------
# relational operator battery (oracle-checked against DuckDB)
# --------------------------------------------------------------------------

def _q_f1_clamp(spark, sf):  # F1 outlier clamp -> aggregate
    li = _t(spark, sf, "lineitem")
    clamped = F.when((F.col("l_quantity") > 0) & (F.col("l_quantity") < 30), F.col("l_quantity")).otherwise(F.lit(0.0))
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(F.sum(clamped), 4).alias("sum_clamped"), F.count("*").cast("bigint").alias("n_rows"))
    )


def _q_f4_range(spark, sf):  # F4 coordinate-range clip analog
    o = _t(spark, sf, "orders")
    return (
        o.filter((F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1997-01-01")
                 & (F.col("o_totalprice") > 1000) & (F.col("o_totalprice") < 200000))
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("n_orders"), F.round(F.sum("o_totalprice"), 4).alias("sum_price"))
    )


def _q_f5_anti(spark, sf):  # F5 all-nodata drop analog: anti join
    # customers with no HIGH-VALUE order — the >150k predicate keeps the
    # anti-join side non-empty at every sf (the plain "no orders at all"
    # version returned 0 rows at sf0.01: a vacuous check)
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 150000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_customers_no_big_orders"))
    )


def _q_f6_validity(spark, sf):  # F6 >=70% validity semi-join
    e = _t(spark, sf, "events")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    ratios = (
        e.select(day, "event_type")
        .groupBy("day")
        .agg((F.sum(F.when(F.col("event_type") != "error", 1).otherwise(0)) / F.count("*")).alias("ratio"),
             F.count("*").cast("bigint").alias("n_events"))
    )
    return ratios.filter(F.col("ratio") >= 0.7).select("day", F.round("ratio", 6).alias("valid_ratio"), "n_events")


def _q_f7_postfill(spark, sf):  # F7 post-fill >=95% validity drop
    # fill error rows from neighbors (same offsets as J6), then drop
    # days whose POST-fill valid ratio is below 0.95 — the reference's
    # second validity gate (src/utils/calc_metrics.py:592-611), which is
    # vacuous on binarized rasters but fires on partially-fillable data
    from pyspark.sql import Window

    from irivermetrics_spark.operators import fillop

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    good = F.when(F.col("event_type") != "error", F.col("value"))
    filled = F.when(
        F.col("event_type") == "error",
        F.coalesce(F.lead(good, 1).over(w), F.lead(good, 2).over(w),
                   F.lag(good, 1).over(w), F.lag(good, 2).over(w)),
    ).otherwise(F.col("value"))
    pts = e.select(F.date_format("ts", "yyyy-MM-dd").alias("ds"),
                   F.when(filled.isNull(), -1).otherwise(1).alias("value"))
    kept = fillop.drop_low_postfill(pts, keys=["ds"], threshold=0.95)
    return kept.select("ds", F.round("postfill_ratio", 6).alias("postfill_ratio"),
                       F.col("n_points").cast("bigint").alias("n_points"))


def _q_j1_star(spark, sf):  # J1 analog: broadcast-dim star join
    li = _t(spark, sf, "lineitem")
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.round(F.sum(rev), 2).alias("revenue"), F.count("*").cast("bigint").alias("n_items"))
    )


def _q_j3_left(spark, sf):  # J3 left attribute join incl. unmatched
    p = _t(spark, sf, "part")
    li = _t(spark, sf, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("qty"))
    return (
        p.join(per_part, p.p_partkey == per_part.l_partkey, "left")
        .groupBy("p_brand")
        .agg(F.round(F.sum(F.coalesce("qty", F.lit(0.0))), 4).alias("total_qty"),
             F.sum(F.when(F.col("qty").isNull(), 1).otherwise(0)).cast("bigint").alias("n_never_ordered"))
    )


def _q_j6_fill(spark, sf):  # J6/W1 temporal fill with [+1,+2,-1,-2]
    from pyspark.sql import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    good = F.when(F.col("event_type") != "error", F.col("value"))
    filled = F.when(
        F.col("event_type") == "error",
        F.coalesce(F.lead(good, 1).over(w), F.lead(good, 2).over(w),
                   F.lag(good, 1).over(w), F.lag(good, 2).over(w)),
    ).otherwise(F.col("value"))
    return (
        e.withColumn("filled", filled)
        .groupBy("user_id")
        .agg(F.round(F.sum(F.coalesce("filled", F.lit(0.0))), 4).alias("sum_filled"),
             F.sum(F.when(F.col("filled").isNull(), 1).otherwise(0)).cast("bigint").alias("n_unfillable"))
    )


def _q_a1_persistence(spark, sf):  # A1 pixel persistence analog
    e = _t(spark, sf, "events")
    return (
        e.groupBy("user_id")
        .agg(F.round(F.avg(F.when(F.col("event_type") == "click", 1.0).otherwise(0.0)), 6).alias("click_persistence"),
             F.count("*").cast("bigint").alias("n_events"))
    )


def _q_a2_cond_avg(spark, sf):  # A2 pp_mean analog: avg over threshold
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.avg(F.when(F.col("value") > 50, F.col("value"))), 6).alias("avg_above_50")
    )


def _q_a3_cond_sum(spark, sf):  # A3 ra_area analog: scaled conditional sum
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.coalesce(F.sum(F.when(F.col("value") > 90, F.col("value"))), F.lit(0.0)) * 1e-4, 6).alias("ra_sum")
    )


def _q_a4_ratio(spark, sf):  # A4 per-time valid ratio
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.round(F.sum(F.when(F.col("value").isNotNull() & (F.col("value") >= 0), 1).otherwise(0)) / F.count("*"), 6).alias("valid_ratio"))
    )


def _q_a7_fold(spark, sf):  # A7 weighted metric fold shapes
    li = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity")
    tax = F.col("l_tax")
    price = F.col("l_extendedprice")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.lit(0.25) * tax / F.sqrt(qty) * qty) / F.sum(qty), 6).alias("awmsi_like"),
        F.round(F.sum(qty * qty) / F.sum(qty), 6).alias("awmpa_like"),
        F.round(F.sum(price * qty) / F.sum(qty), 4).alias("awmpl_like"),
        F.round(F.count("*") / F.sum(qty), 6).alias("pf_like"),
        F.count("*").cast("bigint").alias("npools_like"),
    )


def _q_w2_topk(spark, sf):  # W2 top-k per group
    from pyspark.sql import Window

    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(F.col("o_custkey").cast("bigint").alias("custkey"),
                F.col("o_orderkey").cast("bigint").alias("orderkey"),
                F.col("rk").cast("bigint").alias("rk"))
    )


def _q_o2_rank(spark, sf):  # O2 sort/rank
    from pyspark.sql import Window

    s = _t(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"))
    return s.select(
        F.col("s_suppkey").cast("bigint").alias("suppkey"),
        F.col("s_nationkey").cast("bigint").alias("nationkey"),
        F.dense_rank().over(w).cast("bigint").alias("bal_rank"),
    )


def _q_u1_union(spark, sf):  # U1 union + distinct
    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_nationkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey", "c_nationkey")
    return (
        a.unionByName(b).distinct()
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_selected"))
    )


def _q_c1_date_regex(spark, sf):  # C1 date-from-filename
    o = _t(spark, sf, "orders")
    fname = F.concat(F.lit("scene_"), F.date_format("o_orderdate", "yyyy_MM_dd"), F.lit(".tif"))
    extracted = F.regexp_extract(fname, r"(\d{4}[-_]\d{2}[-_]\d{2})", 1)
    iso = F.regexp_replace(extracted, "_", "-")
    return (
        o.select(F.to_date(iso).alias("parsed"))
        .groupBy(F.date_format("parsed", "yyyy-MM").alias("month"))
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def _q_f9_having(spark, sf):  # F9 min-size filter on groups
    o = _t(spark, sf, "orders")
    per = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    return (
        per.filter(F.col("n") >= 5)
        .agg(F.count("*").cast("bigint").alias("n_heavy_customers"),
             F.sum("n").cast("bigint").alias("n_their_orders"))
    )


def _q_s1_uniform(spark, sf):  # S1 uniformity check shape
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy(F.year("l_shipdate").cast("bigint").alias("yr"))
        .agg(F.countDistinct(F.concat_ws("|", "l_returnflag", "l_linestatus")).cast("bigint").alias("n_flag_combos"))
    )


def _q_a9_stats(spark, sf):  # A9 mean/stddev
    c = _t(spark, sf, "customer")
    return c.groupBy("c_nationkey").agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        F.round(F.stddev_samp("c_acctbal"), 4).alias("sd_bal"),
    )


def _q_p13_salted_agg(spark, sf):  # P13 skew salting: two-phase == plain
    from irivermetrics_spark.functions.skew import salted_agg

    li = _t(spark, sf, "lineitem")
    out = salted_agg(
        li,
        keys=["l_returnflag"],
        entropy_cols=["l_orderkey", "l_linenumber"],
        aggs={
            "sum_qty": F.sum("l_quantity"),
            "n_rows": F.count("*"),
        },
        buckets=16,
    )
    return out.select(
        "l_returnflag",
        F.round("sum_qty", 4).alias("sum_qty"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )


# --------------------------------------------------------------------------
# engine / spatial operators (DuckDB-oracle-checked unless rows-only;
# the flagship-fixture variants are verified vs numpy oracles in tests/)
# --------------------------------------------------------------------------

def _q_flagship_metrics(spark, sf):
    return _pipeline_result(spark)["metrics"]


ZONAL_RINGS = {
    # two overlapping concave sections in planar meters (section -> ring)
    "A": ([200.0, 2800.0, 2100.0, 2500.0, 400.0, 900.0],
          [100.0, 300.0, 1500.0, 2400.0, 2200.0, 1200.0]),
    "B": ([1500.0, 3300.0, 3100.0, 1700.0],
          [200.0, 500.0, 2300.0, 2000.0]),
}


def _zonal_fixture():
    import numpy as np

    reaches = []
    for sec, (rx, ry) in ZONAL_RINGS.items():
        rx, ry = np.asarray(rx), np.asarray(ry)
        reaches.append(dict(section=sec, ring_x=rx, ring_y=ry,
                            xmin=float(rx.min()), xmax=float(rx.max()),
                            ymin=float(ry.min()), ymax=float(ry.max()),
                            area_m2=0.0))
    return reaches, dict(gx0=0.0, gy0=2670.0, ps=30.0, w=127, h=89)


def _q_zonal_join_rows(spark, sf):
    """J1 value-pin (r3 VERDICT next #1): a deterministic point set
    through the REAL zonal join — per-section hex cell cover
    (geometry.polygon_cover_hex), broadcast equi-join, full-cell
    pass-through, all_touched boundary refine (center-in-polygon OR
    Liang-Barsky square-touch, AND the reference's bbox clip rule,
    operators/zonal.py:118; reference semantics src/utils/
    calc_metrics.py:616-653) — vs a pure-SQL crossing-number +
    slab-clipping oracle over the same generated points and rings.
    The cover split is an internal optimization, so the oracle needs
    only the membership predicate: full cells imply center-inside,
    and a passing point's cell is always in the cover.
    (The flagship's own join rows stay numpy-parity pytested,
    tests/test_pipeline_parity.py.)"""
    import pandas as pd

    from irivermetrics_spark.functions import cellindex
    from irivermetrics_spark.operators import zonal

    reaches, grid = _zonal_fixture()
    ps, gx0, gy0 = grid["ps"], grid["gx0"], grid["gy0"]
    e = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    pts = e.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        (F.col("event_id") % 127).cast("int").alias("px"),
        ((F.col("event_id") * 31) % 89).cast("int").alias("py"),
    )

    def _cell(px, py):
        cx = gx0 + (px.to_numpy(dtype="float64") + 0.5) * ps
        cy = gy0 - (py.to_numpy(dtype="float64") + 0.5) * ps
        return pd.Series(cellindex.hex_cell(cx, cy, 9))

    pts = pts.withColumn("cell", F.pandas_udf(_cell, "long")("px", "py"))
    cover = zonal.cover_df(spark, reaches, 9)
    joined = zonal.zonal_join(pts, cover, reaches, grid)
    return joined.select("event_id", "px", "py", "section")


def _q_tile_assign_oracle(spark, sf):
    """Exact hex tile assignment, DuckDB-oracle-checked: the engine's
    from-scratch H3-style cell math (functions/cellindex.py: axial
    transform + cube rounding + int64 packing) re-derived in pure SQL.
    The north rule grades exact tile-assignment parity — this pins the
    cell index itself, not just row counts."""
    import pandas as pd

    from irivermetrics_spark.functions import cellindex

    e = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    pts = e.select(
        (F.col("value") * 131.07 + 17.3).alias("x"),
        (F.col("value") * 53.21 - 1000.9).alias("y"),
    )

    def _cell9(x, y):
        return pd.Series(cellindex.hex_cell(x.to_numpy(), y.to_numpy(), 9))

    cell9 = F.pandas_udf(_cell9, "long")

    return (
        pts.withColumn("cell", cell9("x", "y"))
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("n_points"),
             F.round(F.sum("x"), 4).alias("sum_x"))
    )


def _q_pip_oracle(spark, sf):
    """Exact ray-casting point-in-polygon re-derived as a points x
    edges SQL aggregate over a fixed concave ring: the crossing-number
    rule of functions/geometry.py:point_in_polygon (half-open
    (ya>py)!=(yb>py) edges, strict px<xint)."""
    import numpy as np
    import pandas as pd

    from irivermetrics_spark.functions import geometry

    e = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    pts = e.select(
        F.col("event_id"),
        (F.col("value") * 0.27).alias("x"),
        ((F.col("event_id") % 101) * 1.01).alias("y"),
    )
    rx, ry = np.asarray(PIP_RING_X), np.asarray(PIP_RING_Y)

    def _pip(x, y):
        return pd.Series(geometry.point_in_polygon(x.to_numpy(), y.to_numpy(), rx, ry))

    pip = F.pandas_udf(_pip, "boolean")
    return (
        pts.withColumn("inside", pip("x", "y"))
        .groupBy("inside")
        .agg(F.count("*").cast("bigint").alias("n_points"),
             F.round(F.sum("x"), 4).alias("sum_x"))
    )


# concave test ring of _q_pip_oracle (its oracle_sql edges spell it out)
PIP_RING_X = [0.3, 120.4, 60.1, 110.7, 5.2]
PIP_RING_Y = [0.7, 10.2, 55.3, 95.9, 80.1]


def _q_haversine_oracle(spark, sf):
    """Exact haversine + planar->lonlat bridge (C7) re-derived in SQL
    trigonometry; the knn_pools oracle re-ranks by the same SQL."""
    import pandas as pd

    from irivermetrics_spark.functions import geometry

    e = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    pts = e.select(
        (F.col("value") * 11.3).alias("x1"),
        ((F.col("event_id") % 211) * 13.7).alias("y1"),
        (F.col("value") * 5.9 + 1500.0).alias("x2"),
        ((F.col("event_id") % 173) * 23.1).alias("y2"),
    )

    def _hav(x1, y1, x2, y2):
        lon1, lat1 = geometry.planar_to_lonlat(x1.to_numpy(), y1.to_numpy())
        lon2, lat2 = geometry.planar_to_lonlat(x2.to_numpy(), y2.to_numpy())
        return pd.Series(geometry.haversine_m(lat1, lon1, lat2, lon2))

    hav = F.pandas_udf(_hav, "double")
    return pts.select(F.round(hav("x1", "y1", "x2", "y2"), 4).alias("dist_m")).agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(F.avg("dist_m"), 4).alias("avg_dist_m"),
        F.round(F.max("dist_m"), 4).alias("max_dist_m"),
        F.round(F.min("dist_m"), 4).alias("min_dist_m"),
    )


def _q_pathlen_oracle(spark, sf):
    """C6/C8: per-user ordered value series as an array column, path
    length = sum of |step| via JVM array lambdas (transform/aggregate)
    — the exports' euclidean path-length shape, DuckDB-oracle-checked."""
    e = _t(spark, sf, "events").filter(F.col("value").isNotNull())
    per = (
        e.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))).alias("s"))
        .withColumn("a", F.expr("transform(s, r -> r.value)"))
        .withColumn(
            "path_len",
            F.when(
                F.size("a") >= 2,  # sequence(0, -1) would run DESCENDING
                F.expr(
                    "aggregate(transform(sequence(0, size(a) - 2), i -> abs(a[i+1] - a[i])),"
                    " cast(0.0 as double), (acc, x) -> acc + x)"
                ),
            ).otherwise(F.lit(0.0)),
        )
    )
    return per.select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.size("a").cast("bigint").alias("n_points"),
        F.round("path_len", 4).alias("path_len"),
    )


def _q_pixel_persistence_px(spark, sf):
    """K2 per-pixel persistence (the reference's Pixel_Persistence.tif,
    src/irm_main.py:228-233), DuckDB-value-pinned on a deterministic
    generated wet-point set: pp = wet-date-count / n_kept_dates through
    the REAL operator (metrics.pixel_persistence_px — groupBy + n_dates
    broadcast dim join). The full image-pipeline variant stays parity-
    pytested (tests/test_pipeline_parity.py); n_kept=7 keeps every
    rounded 6-dp value away from cross-engine rounding boundaries
    (k/7 repeats 142857 — never ...5 exactly at the 6th place)."""
    from irivermetrics_spark.operators import metrics

    e = _t(spark, sf, "events")
    wet = e.select(
        F.lit("s").alias("scene"),
        F.concat(F.lit("sec"), (F.col("event_id") % 3).cast("string")).alias("section"),
        (F.col("event_id") % 23).cast("int").alias("px"),
        (F.col("event_id") % 19).cast("int").alias("py"),
        F.concat(F.lit("d"), (F.col("event_id") % 7).cast("string")).alias("ds"),
    ).distinct()
    pp = metrics.pixel_persistence_px(wet, {"s": 7})
    return pp.select(
        "scene", "section",
        F.col("px").cast("bigint").alias("px"),
        F.col("py").cast("bigint").alias("py"),
        F.col("wet").cast("bigint").alias("wet"),
        F.round("pp", 6).alias("pp"),
    )


def _q_knn_pools(spark, sf):
    """J7 kNN pools (k-ring candidate expansion + haversine re-rank),
    DuckDB-value-pinned on a deterministic generated centroid set: the
    point extent (~2.7 km) fits inside a ring_k=3 res-7 k-ring
    (3*sqrt(3)*1000 m), so the hex-bucketed candidate join provably
    covers the true top-k and the re-rank must equal the SQL brute
    cross-join ranking (haversine re-derived in SQL trig, same formula
    haversine_oracle pins). The real-pipeline pool variant stays
    brute-oracle pytested (tests/test_knn.py)."""
    from irivermetrics_spark.operators import knn

    e = _t(spark, sf, "events").filter(F.col("event_id") % 100 == 0)
    cents = e.select(
        F.lit("s").alias("scene"),
        F.lit("d").alias("ds"),
        F.lit("p").alias("section"),
        F.col("event_id").alias("label"),
        ((F.col("event_id") % 37) * 53.0).alias("x"),
        ((F.col("event_id") % 41) * 47.0).alias("y"),
    )
    out = knn.knn_pools(cents, k=3, res=7, ring_k=3, round_to=4)
    return out.select(
        "query_id", "neighbor_id",
        F.col("dist_m"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _geom_csv(col: str):
    """Serialize an array<double> geometry column to a deterministic
    comma-joined string (driver canonicalizer sorts/hashes columns and
    can't factorize python lists; the real API keeps array columns)."""
    return F.concat_ws(",", F.transform(col, lambda v: F.format_string("%.4f", v)))


def _q_export_vectors(spark, sf):
    """K4/M8/M10 vector sinks in one surface: polygons + centerlines +
    start/end/mid points unioned on a common (kind, scene, date,
    section, label, value, gx_csv, gy_csv) projection. Each shape
    family is numpy-parity pytested (tests/test_exports_spark.py); one
    entry keeps all three inside the driver's 50-entry check window."""
    res = _pipeline_result(spark)
    poly = res["polygons"].select(
        F.lit("polygon").alias("kind"), "scene",
        F.col("Date").alias("date"), F.col("Section").alias("section"),
        F.col("Type").alias("label"),
        F.round("area_m2", 4).alias("value"),
        _geom_csv("ring_x").alias("gx_csv"), _geom_csv("ring_y").alias("gy_csv"),
    )
    line = res["lines"].select(
        F.lit("line").alias("kind"), "scene", "date", "section",
        F.col("label").cast("string").alias("label"),
        F.round("length_km", 6).alias("value"),
        _geom_csv("line_x").alias("gx_csv"), _geom_csv("line_y").alias("gy_csv"),
    )
    pt = res["points"].select(
        F.lit("point").alias("kind"), "scene",
        F.col("Date").alias("date"), "section",
        F.concat_ws("/", F.col("line").cast("string"), "Type").alias("label"),
        F.round("x", 4).alias("value"),
        F.format_string("%.4f", "x").alias("gx_csv"),
        F.format_string("%.4f", "y").alias("gy_csv"),
    )
    return poly.unionByName(line).unionByName(pt)


def _q_dist_ccl(spark, sf):
    """Cross-tile distributed CCL (A5 web-scale path), DuckDB-value-
    pinned: an 8-connectivity component census over a deterministic
    generated point set (~40 % site density -> many components crossing
    the 8-px tile boundaries, so the tile-stitch + label-resolution
    machinery provably fires). The oracle recomputes components
    independently as a recursive-CTE min-label transitive closure;
    labels are compared canonically (min pixel key per component).
    The fixture-water variant stays pytest-covered (tests/test_distccl
    + the independent flood-fill oracle)."""
    from irivermetrics_spark.operators import distccl

    e = _t(spark, sf, "events")
    pts = (
        e.select(
            (F.col("event_id") % 41).cast("int").alias("px"),
            (F.floor(F.col("event_id") / 41) % 29).cast("int").alias("py"),
        )
        .distinct()
        .filter(((F.col("px") * 31 + F.col("py") * 17) * F.lit(2654435761)) % 97 < 38)
        .withColumn("scene", F.lit("s"))
        .withColumn("ds", F.lit("d"))
    )
    comp = distccl.label_components(pts, tile=8)
    return (
        comp.groupBy("component")
        .agg(
            F.min(F.col("px").cast("bigint") * 100000 + F.col("py")).alias("comp_id"),
            F.count("*").cast("bigint").alias("n_pixels"),
        )
        .select("comp_id", "n_pixels")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """At most 50 entries (the driver's CORRECTNESS gate checks the
    first 50). All 29 DuckDB-oracle-backed entries come first; the 2
    rows-only entries (flagship metrics and vector exports, with no SQL
    form, each numpy-parity pytested) close the list."""
    return {
        # ---- DuckDB-value-pinned (every key has an oracle_sql entry) ----
        "f1_clamp": _q_f1_clamp,
        "f4_range": _q_f4_range,
        "f5_anti": _q_f5_anti,
        "f6_validity": _q_f6_validity,
        "f7_postfill": _q_f7_postfill,
        "j1_star": _q_j1_star,
        "j3_left": _q_j3_left,
        "j6_fill": _q_j6_fill,
        "a1_persistence": _q_a1_persistence,
        "a2_cond_avg": _q_a2_cond_avg,
        "a3_cond_sum": _q_a3_cond_sum,
        "a4_ratio": _q_a4_ratio,
        "a7_fold": _q_a7_fold,
        "a9_stats": _q_a9_stats,
        "w2_topk": _q_w2_topk,
        "o2_rank": _q_o2_rank,
        "u1_union": _q_u1_union,
        "c1_date_regex": _q_c1_date_regex,
        "f9_having": _q_f9_having,
        "s1_uniform": _q_s1_uniform,
        "p13_salted_agg": _q_p13_salted_agg,
        "knn_pools": _q_knn_pools,
        "pixel_persistence_px": _q_pixel_persistence_px,
        "dist_ccl": _q_dist_ccl,
        "zonal_join_rows": _q_zonal_join_rows,
        "tile_assign_oracle": _q_tile_assign_oracle,
        "pip_oracle": _q_pip_oracle,
        "haversine_oracle": _q_haversine_oracle,
        "pathlen_oracle": _q_pathlen_oracle,
        # ---- rows-only (no SQL form; numpy-parity pytested) ----
        "flagship_metrics": _q_flagship_metrics,
        "export_vectors": _q_export_vectors,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "f1_clamp": """
            SELECT l_returnflag,
                   ROUND(SUM(CASE WHEN l_quantity > 0 AND l_quantity < 30 THEN l_quantity ELSE 0.0 END), 4) AS sum_clamped,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "f4_range": """
            SELECT o_orderpriority,
                   CAST(COUNT(*) AS BIGINT) AS n_orders,
                   ROUND(SUM(o_totalprice), 4) AS sum_price
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
              AND o_totalprice > 1000 AND o_totalprice < 200000
            GROUP BY o_orderpriority
        """,
        "f5_anti": """
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers_no_big_orders
            FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 150000)
            GROUP BY c_nationkey
        """,
        "f7_postfill": """
            WITH w AS (
              SELECT ts, event_type, value,
                     LEAD(CASE WHEN event_type <> 'error' THEN value END, 1) OVER win AS g1,
                     LEAD(CASE WHEN event_type <> 'error' THEN value END, 2) OVER win AS g2,
                     LAG(CASE WHEN event_type <> 'error' THEN value END, 1) OVER win AS g3,
                     LAG(CASE WHEN event_type <> 'error' THEN value END, 2) OVER win AS g4
              FROM events
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), f AS (
              SELECT strftime(ts, '%Y-%m-%d') AS ds,
                     CASE WHEN event_type = 'error' THEN COALESCE(g1, g2, g3, g4) ELSE value END AS filled
              FROM w
            ), per AS (
              SELECT ds,
                     SUM(CASE WHEN filled IS NOT NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS ratio,
                     CAST(COUNT(*) AS BIGINT) AS n_points
              FROM f GROUP BY ds
            )
            SELECT ds, ROUND(ratio, 6) AS postfill_ratio, n_points FROM per WHERE ratio >= 0.95
        """,
        "f6_validity": """
            WITH r AS (
              SELECT strftime(ts, '%Y-%m-%d') AS day,
                     SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) * 1.0 / COUNT(*) AS ratio,
                     CAST(COUNT(*) AS BIGINT) AS n_events
              FROM events GROUP BY 1
            )
            SELECT day, ROUND(ratio, 6) AS valid_ratio, n_events FROM r WHERE ratio >= 0.7
        """,
        "j1_star": """
            SELECT r_name, n_name,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   CAST(COUNT(*) AS BIGINT) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "j3_left": """
            WITH per_part AS (SELECT l_partkey, SUM(l_quantity) AS qty FROM lineitem GROUP BY l_partkey)
            SELECT p_brand,
                   ROUND(SUM(COALESCE(qty, 0.0)), 4) AS total_qty,
                   CAST(SUM(CASE WHEN qty IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_never_ordered
            FROM part LEFT JOIN per_part ON p_partkey = l_partkey
            GROUP BY p_brand
        """,
        "j6_fill": """
            WITH w AS (
              SELECT user_id, value, event_type,
                     LEAD(CASE WHEN event_type <> 'error' THEN value END, 1) OVER win AS g1,
                     LEAD(CASE WHEN event_type <> 'error' THEN value END, 2) OVER win AS g2,
                     LAG(CASE WHEN event_type <> 'error' THEN value END, 1) OVER win AS g3,
                     LAG(CASE WHEN event_type <> 'error' THEN value END, 2) OVER win AS g4
              FROM events
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), f AS (
              SELECT user_id,
                     CASE WHEN event_type = 'error' THEN COALESCE(g1, g2, g3, g4) ELSE value END AS filled
              FROM w
            )
            SELECT user_id,
                   ROUND(SUM(COALESCE(filled, 0.0)), 4) AS sum_filled,
                   CAST(SUM(CASE WHEN filled IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unfillable
            FROM f GROUP BY user_id
        """,
        "a1_persistence": """
            SELECT user_id,
                   ROUND(AVG(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END), 6) AS click_persistence,
                   CAST(COUNT(*) AS BIGINT) AS n_events
            FROM events GROUP BY user_id
        """,
        "a2_cond_avg": """
            SELECT event_type, ROUND(AVG(CASE WHEN value > 50 THEN value END), 6) AS avg_above_50
            FROM events GROUP BY event_type
        """,
        "a3_cond_sum": """
            SELECT event_type,
                   ROUND(COALESCE(SUM(CASE WHEN value > 90 THEN value END), 0.0) * 1e-4, 6) AS ra_sum
            FROM events GROUP BY event_type
        """,
        "a4_ratio": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   ROUND(SUM(CASE WHEN value IS NOT NULL AND value >= 0 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS valid_ratio
            FROM events GROUP BY 1
        """,
        "a7_fold": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(0.25 * l_tax / SQRT(l_quantity) * l_quantity) / SUM(l_quantity), 6) AS awmsi_like,
                   ROUND(SUM(l_quantity * l_quantity) / SUM(l_quantity), 6) AS awmpa_like,
                   ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS awmpl_like,
                   ROUND(COUNT(*) / SUM(l_quantity), 6) AS pf_like,
                   CAST(COUNT(*) AS BIGINT) AS npools_like
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "a9_stats": """
            SELECT c_nationkey,
                   ROUND(AVG(c_acctbal), 4) AS avg_bal,
                   ROUND(STDDEV_SAMP(c_acctbal), 4) AS sd_bal
            FROM customer GROUP BY c_nationkey
        """,
        "w2_topk": """
            SELECT CAST(o_custkey AS BIGINT) AS custkey,
                   CAST(o_orderkey AS BIGINT) AS orderkey,
                   CAST(rk AS BIGINT) AS rk
            FROM (
              SELECT o_custkey, o_orderkey,
                     ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
              FROM orders
            ) WHERE rk <= 3
        """,
        "o2_rank": """
            SELECT CAST(s_suppkey AS BIGINT) AS suppkey,
                   CAST(s_nationkey AS BIGINT) AS nationkey,
                   CAST(DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS BIGINT) AS bal_rank
            FROM supplier
        """,
        "u1_union": """
            WITH u AS (
              SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
              UNION
              SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 5000
            )
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_selected FROM u GROUP BY c_nationkey
        """,
        "c1_date_regex": """
            WITH s AS (
              SELECT 'scene_' || strftime(o_orderdate, '%Y_%m_%d') || '.tif' AS fname FROM orders
            ), p AS (
              SELECT CAST(strptime(REPLACE(regexp_extract(fname, '(\\d{4}[-_]\\d{2}[-_]\\d{2})', 1), '_', '-'), '%Y-%m-%d') AS DATE) AS parsed
              FROM s
            )
            SELECT strftime(parsed, '%Y-%m') AS month, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY 1
        """,
        "f9_having": """
            WITH per AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_heavy_customers,
                   CAST(SUM(n) AS BIGINT) AS n_their_orders
            FROM per
        """,
        "s1_uniform": """
            SELECT CAST(year(l_shipdate) AS BIGINT) AS yr,
                   CAST(COUNT(DISTINCT l_returnflag || '|' || l_linestatus) AS BIGINT) AS n_flag_combos
            FROM lineitem GROUP BY 1
        """,
        "p13_salted_agg": """
            SELECT l_returnflag,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM lineitem GROUP BY l_returnflag
        """,
        "tile_assign_oracle": """
            WITH pts AS (
              SELECT value * 131.07 + 17.3 AS x, value * 53.21 - 1000.9 AS y
              FROM events WHERE value IS NOT NULL
            ), ax AS (
              -- pointy-top axial coords at res 9 (edge = 1000 / 2^(9-7) = 250 m)
              SELECT x, y,
                     (sqrt(3.0)/3.0 * x - y/3.0) / 250.0 AS qf,
                     (2.0/3.0 * y) / 250.0 AS rf
              FROM pts
            ), rnd AS (
              SELECT x, qf, rf, -qf - rf AS sf2,
                     round(qf) AS q0, round(rf) AS r0, round(-qf - rf) AS s0
              FROM ax
            ), fx AS (
              SELECT x, q0, r0, s0,
                     abs(q0 - qf) AS dq, abs(r0 - rf) AS dr, abs(s0 - sf2) AS ds
              FROM rnd
            ), cube AS (
              -- cube rounding: fix the axis with the largest rounding error
              SELECT x,
                     CAST(CASE WHEN dq > dr AND dq > ds THEN -r0 - s0 ELSE q0 END AS BIGINT) AS q,
                     CAST(CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -q0 - s0 ELSE r0 END AS BIGINT) AS r
              FROM fx
            ), packed AS (
              -- (kind=0)<<61 | res<<56 | (q+2^26)<<28 | (r+2^26)
              SELECT x, CAST(9 AS BIGINT) * 72057594037927936
                       + (q + 67108864) * 268435456
                       + (r + 67108864) AS cell
              FROM cube
            )
            SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_points,
                   ROUND(SUM(x), 4) AS sum_x
            FROM packed GROUP BY cell
        """,
        "pip_oracle": """
            WITH pts AS (
              SELECT event_id, value * 0.27 AS x, (event_id % 101) * 1.01 AS y
              FROM events WHERE value IS NOT NULL
            ), edges(xa, ya, xb, yb) AS (
              VALUES (0.3, 0.7, 120.4, 10.2),
                     (120.4, 10.2, 60.1, 55.3),
                     (60.1, 55.3, 110.7, 95.9),
                     (110.7, 95.9, 5.2, 80.1),
                     (5.2, 80.1, 0.3, 0.7)
            ), hits AS (
              -- crossing-number rule, exactly the engine's half-open
              -- (ya>py)!=(yb>py) edges with strict px < xint
              SELECT p.event_id, p.x,
                     SUM(CASE WHEN ((e.ya > p.y) <> (e.yb > p.y))
                               AND p.x < e.xa + (p.y - e.ya) * (e.xb - e.xa) / (e.yb - e.ya)
                              THEN 1 ELSE 0 END) AS crossings
              FROM pts p CROSS JOIN edges e
              GROUP BY p.event_id, p.x
            )
            SELECT (crossings % 2 = 1) AS inside,
                   CAST(COUNT(*) AS BIGINT) AS n_points,
                   ROUND(SUM(x), 4) AS sum_x
            FROM hits GROUP BY 1
        """,
        "haversine_oracle": """
            WITH pts AS (
              SELECT value * 11.3 AS x1, (event_id % 211) * 13.7 AS y1,
                     value * 5.9 + 1500.0 AS x2, (event_id % 173) * 23.1 AS y2
              FROM events WHERE value IS NOT NULL
            ), ll AS (
              SELECT 120.0 + x1 / (((pi() * 6371008.8) / 180.0) * cos(-18.0 * (pi() / 180.0))) AS lon1,
                     -18.0 + y1 / ((pi() * 6371008.8) / 180.0) AS lat1,
                     120.0 + x2 / (((pi() * 6371008.8) / 180.0) * cos(-18.0 * (pi() / 180.0))) AS lon2,
                     -18.0 + y2 / ((pi() * 6371008.8) / 180.0) AS lat2
              FROM pts
            ), r AS (
              SELECT lat1 * (pi() / 180.0) AS la1, lon1 * (pi() / 180.0) AS lo1,
                     lat2 * (pi() / 180.0) AS la2, lon2 * (pi() / 180.0) AS lo2
              FROM ll
            ), d AS (
              SELECT ROUND(2.0 * 6371008.8 * asin(sqrt(LEAST(GREATEST(
                       sin((la2 - la1) / 2.0) * sin((la2 - la1) / 2.0)
                       + (cos(la1) * cos(la2)) * (sin((lo2 - lo1) / 2.0) * sin((lo2 - lo1) / 2.0)),
                     0.0), 1.0))), 4) AS dist_m
              FROM r
            )
            SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   ROUND(AVG(dist_m), 4) AS avg_dist_m,
                   ROUND(MAX(dist_m), 4) AS max_dist_m,
                   ROUND(MIN(dist_m), 4) AS min_dist_m
            FROM d
        """,
        "pathlen_oracle": """
            WITH per AS (
              SELECT user_id, list(value ORDER BY ts, event_id, value) AS a
              FROM events WHERE value IS NOT NULL GROUP BY user_id
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(len(a) AS BIGINT) AS n_points,
                   ROUND(COALESCE(list_sum(list_transform(range(1, len(a)), i -> abs(a[i+1] - a[i]))), 0.0), 4) AS path_len
            FROM per
        """,
        "knn_pools": """
            WITH pts AS (
              SELECT 'p/' || CAST(event_id AS VARCHAR) AS pool_id,
                     (event_id % 37) * 53.0 AS x, (event_id % 41) * 47.0 AS y
              FROM events WHERE event_id % 100 = 0
            ), ll AS (
              SELECT pool_id,
                     120.0 + x / (((pi() * 6371008.8) / 180.0) * cos(-18.0 * (pi() / 180.0))) AS lon,
                     -18.0 + y / ((pi() * 6371008.8) / 180.0) AS lat
              FROM pts
            ), r AS (
              SELECT pool_id, lat * (pi() / 180.0) AS la, lon * (pi() / 180.0) AS lo FROM ll
            ), d AS (
              SELECT a.pool_id AS query_id, b.pool_id AS neighbor_id,
                     ROUND(2.0 * 6371008.8 * asin(sqrt(LEAST(GREATEST(
                       sin((b.la - a.la) / 2.0) * sin((b.la - a.la) / 2.0)
                       + (cos(a.la) * cos(b.la)) * (sin((b.lo - a.lo) / 2.0) * sin((b.lo - a.lo) / 2.0)),
                     0.0), 1.0))), 4) AS dist_m
              FROM r a JOIN r b ON a.pool_id <> b.pool_id
            )
            SELECT query_id, neighbor_id, dist_m, CAST(rank AS BIGINT) AS rank FROM (
              SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist_m ASC, neighbor_id ASC) AS rank
              FROM d
            ) WHERE rank <= 3
        """,
        # J1 membership predicate in pure SQL: crossing-number PIP
        # (engine edge rule: half-open (ya>py)!=(yb>py), strict px<xint)
        # OR Liang-Barsky slab square-touch (half = ps/2 = 15), AND the
        # bbox clip — the same double-precision expression order as
        # functions/geometry.py, so booleans match bit-for-bit
        "zonal_join_rows": """
            WITH pts AS (
              SELECT CAST(event_id AS BIGINT) AS event_id,
                     CAST(event_id % 127 AS INT) AS px,
                     CAST((event_id * 31) % 89 AS INT) AS py
              FROM events WHERE value IS NOT NULL
            ), c AS (
              SELECT event_id, px, py,
                     0.0 + (px + 0.5) * 30.0 AS cx,
                     2670.0 - (py + 0.5) * 30.0 AS cy
              FROM pts
            ), edges(section, xa, ya, xb, yb) AS (VALUES
              ('A', 200.0, 100.0, 2800.0, 300.0),
              ('A', 2800.0, 300.0, 2100.0, 1500.0),
              ('A', 2100.0, 1500.0, 2500.0, 2400.0),
              ('A', 2500.0, 2400.0, 400.0, 2200.0),
              ('A', 400.0, 2200.0, 900.0, 1200.0),
              ('A', 900.0, 1200.0, 200.0, 100.0),
              ('B', 1500.0, 200.0, 3300.0, 500.0),
              ('B', 3300.0, 500.0, 3100.0, 2300.0),
              ('B', 3100.0, 2300.0, 1700.0, 2000.0),
              ('B', 1700.0, 2000.0, 1500.0, 200.0)
            ), t AS (
              SELECT c.event_id, c.px, c.py, c.cx, c.cy, e.section,
                SUM(CASE WHEN ((e.ya > c.cy) <> (e.yb > c.cy))
                          AND c.cx < e.xa + (c.cy - e.ya) * (e.xb - e.xa) / (e.yb - e.ya)
                         THEN 1 ELSE 0 END) AS crossings,
                BOOL_OR(
                  (CASE WHEN e.xb - e.xa = 0
                        THEN ((c.cx - 15.0) - e.xa <= 0 AND (c.cx + 15.0) - e.xa >= 0)
                        ELSE TRUE END)
                  AND (CASE WHEN e.yb - e.ya = 0
                        THEN ((c.cy - 15.0) - e.ya <= 0 AND (c.cy + 15.0) - e.ya >= 0)
                        ELSE TRUE END)
                  AND GREATEST(0.0,
                        CASE WHEN e.xb - e.xa = 0 THEN 0.0
                             ELSE LEAST(((c.cx - 15.0) - e.xa) / (e.xb - e.xa),
                                        ((c.cx + 15.0) - e.xa) / (e.xb - e.xa)) END,
                        CASE WHEN e.yb - e.ya = 0 THEN 0.0
                             ELSE LEAST(((c.cy - 15.0) - e.ya) / (e.yb - e.ya),
                                        ((c.cy + 15.0) - e.ya) / (e.yb - e.ya)) END)
                   <= LEAST(1.0,
                        CASE WHEN e.xb - e.xa = 0 THEN 1.0
                             ELSE GREATEST(((c.cx - 15.0) - e.xa) / (e.xb - e.xa),
                                           ((c.cx + 15.0) - e.xa) / (e.xb - e.xa)) END,
                        CASE WHEN e.yb - e.ya = 0 THEN 1.0
                             ELSE GREATEST(((c.cy - 15.0) - e.ya) / (e.yb - e.ya),
                                           ((c.cy + 15.0) - e.ya) / (e.yb - e.ya)) END)
                ) AS touched
              FROM c CROSS JOIN edges e
              GROUP BY 1, 2, 3, 4, 5, 6
            ), bbox(section, xmin, xmax, ymin, ymax) AS (VALUES
              ('A', 200.0, 2800.0, 100.0, 2400.0),
              ('B', 1500.0, 3300.0, 200.0, 2300.0)
            )
            SELECT t.event_id, t.px, t.py, t.section
            FROM t JOIN bbox b ON t.section = b.section
            WHERE ((t.crossings % 2) = 1)
               OR (t.touched AND t.cx >= b.xmin AND t.cx <= b.xmax
                             AND t.cy >= b.ymin AND t.cy <= b.ymax)
        """,
        "dist_ccl": """
            WITH RECURSIVE pts AS (
              SELECT DISTINCT (event_id % 41) AS px, ((event_id // 41) % 29) AS py
              FROM events
            ), keep AS (
              SELECT px, py, px * 100000 + py AS key FROM pts
              WHERE ((px * 31 + py * 17) * 2654435761) % 97 < 38
            ), edges AS (
              SELECT a.key AS ka, b.key AS kb
              FROM keep a JOIN keep b
                ON abs(a.px - b.px) <= 1 AND abs(a.py - b.py) <= 1
            ), lab(key, lbl) AS (
              -- min-label transitive closure: independent of the
              -- engine's tile-stitch union-find formulation
              SELECT key, key FROM keep
              UNION
              SELECT e.kb, l.lbl FROM lab l JOIN edges e ON e.ka = l.key
              WHERE l.lbl < e.kb
            ), comp AS (
              SELECT key, MIN(lbl) AS component FROM lab GROUP BY key
            )
            SELECT CAST(component AS BIGINT) AS comp_id,
                   CAST(COUNT(*) AS BIGINT) AS n_pixels
            FROM comp GROUP BY component
        """,
        "pixel_persistence_px": """
            WITH wet AS (
              SELECT DISTINCT 'sec' || CAST(event_id % 3 AS VARCHAR) AS section,
                     event_id % 23 AS px, event_id % 19 AS py, event_id % 7 AS d
              FROM events
            ), per AS (
              SELECT section, px, py, COUNT(*) AS wet FROM wet GROUP BY 1, 2, 3
            )
            SELECT 's' AS scene, section,
                   CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
                   CAST(wet AS BIGINT) AS wet,
                   ROUND(wet / 7.0, 6) AS pp
            FROM per
        """,
    }
