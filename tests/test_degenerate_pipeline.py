"""Degenerate pipeline inputs must produce empty-but-well-formed output
or fail fast with a clear error, not crash inside a Spark job: all dates
failing the validity gate, all-dry scenes, and reaches off the grid."""

import numpy as np
import pytest

from irivermetrics_spark import codecs, synth
from irivermetrics_spark.plans import pipeline


def _encode_all(fx, masks):
    rng = np.random.default_rng(7)
    pdf = fx.images.copy()
    for i in range(len(pdf)):
        bands = synth.bands_for_mask(masks[i], rng)
        pdf.loc[pdf.index[i], "bytes"] = codecs.encode_image(bands)
        pdf.loc[pdf.index[i], "phash"] = codecs.phash64(bands)
    return pdf


def test_all_dates_fail_validity(spark):
    """Every date fully cloudy -> kept set empty -> empty (schema-stable)
    metrics, no crash anywhere in the plan."""
    fx = synth.make_fixture(w=40, h=20, n_dates=3, n_sections=2, seed=5)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    masks = np.full((len(fx.dates), fx.h, fx.w), -1, dtype=np.int8)  # all nodata
    images = pipeline.images_df(spark, _encode_all(fx, masks))
    res = pipeline.run(spark, images, fx.reaches, grid)
    assert res["kept_map"] == {}
    m = res["metrics"].toPandas()
    assert len(m) == 0
    assert "npools" in m.columns  # schema survives empty input
    assert res["polygons"].count() == 0
    assert res["persistence_px"].count() == 0


def test_all_dry_scene_produces_zero_branch(spark):
    """Valid but dry everywhere -> every date kept, every metric row is
    the reference's zero branch."""
    fx = synth.make_fixture(w=40, h=20, n_dates=3, n_sections=2, seed=6)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    masks = np.zeros((len(fx.dates), fx.h, fx.w), dtype=np.int8)  # all dry, all valid
    images = pipeline.images_df(spark, _encode_all(fx, masks))
    res = pipeline.run(spark, images, fx.reaches, grid)
    assert len(res["kept_map"]["scene0"]) == len(fx.dates)
    m = res["metrics"].toPandas()
    assert len(m) == len(fx.dates) * len(fx.reaches)
    assert (m.npools == 0).all() and (m.wet_area_km2 == 0).all()
    assert (m.AWMSI == 0).all()


def _off_grid(reaches, dx):
    return [dict(r, ring_x=np.asarray(r["ring_x"]) + dx,
                 xmin=r["xmin"] + dx, xmax=r["xmax"] + dx) for r in reaches]


@pytest.mark.parametrize("case", ["off_grid_sink", "off_grid", "no_reaches"])
def test_reaches_covering_no_pixel_fail_fast(spark, tmp_path, case):
    """Reaches that cover no grid pixel raise a ValueError naming the
    grid extent before any decode or write job, instead of a
    DIVIDE_BY_ZERO from inside the F6 ratio."""
    fx = synth.make_fixture(w=40, h=20, n_dates=3, n_sections=2, seed=5)
    grid = dict(gx0=fx.gx0, gy0=fx.gy0, ps=fx.pixel_size, w=fx.w, h=fx.h)
    reaches = [] if case == "no_reaches" else _off_grid(fx.reaches, 10 * fx.w * fx.pixel_size)
    mask_path = str(tmp_path / "masks") if case == "off_grid_sink" else None
    images = pipeline.images_df(spark, fx.images)
    with pytest.raises(ValueError, match="no reach covers a pixel of the grid"):
        pipeline.run(spark, images, reaches, grid, mask_path=mask_path)
    assert not (tmp_path / "masks").exists()
