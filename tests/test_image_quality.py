"""Image quality signals (multimodal.with_image_quality): independent
numpy re-derivation per metric, Spark single-Python-stage plan, the
quarantine contract, and the signals actually ordering sharp vs flat
and dark vs bright content."""

import math

import numpy as np
import pandas as pd
import pytest

from irivermetrics_spark import codecs
from irivermetrics_offpaper.operators import multimodal

PEAK = float(codecs.REFLECTANCE_MAX)


def _img(kind, h=24, w=32):
    if kind == "checker":
        y, x = np.indices((h, w))
        a = ((x + y) % 2) * PEAK
    elif kind == "flat":
        a = np.full((h, w), 0.5 * PEAK)
    elif kind == "gradient":
        a = np.tile(np.linspace(0, PEAK, w), (h, 1))
    elif kind == "dark":
        a = np.full((h, w), 0.005 * PEAK)
    elif kind == "bright":
        a = np.full((h, w), 0.995 * PEAK)
    return np.stack([a, a, a]).astype(np.uint16)


def _expected(arr):
    # independent re-derivation: loops + explicit formulas, no slicing
    luma = arr.astype(np.float64).mean(axis=0) / PEAK
    h, w = luma.shape
    laps = []
    for i in range(1, h - 1):
        for j in range(1, w - 1):
            laps.append(4 * luma[i, j] - luma[i - 1, j] - luma[i + 1, j]
                        - luma[i, j - 1] - luma[i, j + 1])
    laps = np.asarray(laps)
    hist = [0] * 64
    for v in luma.ravel():
        hist[min(63, max(0, int(v * 64.0)))] += 1
    ent = -sum(c / luma.size * math.log2(c / luma.size) for c in hist if c)
    # border: per-edge runs of rows/cols equal to that edge's corner value
    def _run(seq2d):
        v, n = seq2d[0][0], 0
        for line in seq2d:
            if all(x == v for x in line):
                n += 1
            else:
                break
        return n

    rows = luma.tolist()
    cols = luma.T.tolist()
    top = _run(rows)
    bot = _run(rows[::-1]) if top < h else 0
    left = _run(cols)
    right = _run(cols[::-1]) if left < w else 0
    ih, iw = max(h - top - bot, 0), max(w - left - right, 0)
    return dict(
        sharpness=float(np.mean((laps - laps.mean()) ** 2)) if len(laps) else 0.0,
        luma_mean=float(luma.mean()), luma_std=float(luma.std()),
        frac_dark=float(np.mean(luma < 0.02)),
        frac_bright=float(np.mean(luma > 0.98)),
        entropy=float(ent),
        border_frac=(h * w - ih * iw) / (h * w))


@pytest.mark.parametrize("kind", ["checker", "flat", "gradient", "dark", "bright"])
def test_quality_metrics_numpy_parity(kind):
    arr = _img(kind)
    got = multimodal.image_quality_metrics(arr)
    want = _expected(arr)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, rel=1e-12, abs=1e-12), (kind, k)


def test_border_frac_letterbox():
    h, w = 20, 30
    a = np.zeros((h, w))
    a[4:-4, :] = 0.6 * PEAK  # 4-row black bars top and bottom
    m = multimodal.image_quality_metrics(np.stack([a] * 3).astype(np.uint16))
    assert m["border_frac"] == pytest.approx(8 * w / (h * w))
    assert multimodal.image_quality_metrics(_img("flat"))["border_frac"] == 1.0
    # content in every edge row/col -> no border beyond chance
    assert multimodal.image_quality_metrics(_img("checker"))["border_frac"] == 0.0


def test_quality_orderings():
    m = {k: multimodal.image_quality_metrics(_img(k))
         for k in ("checker", "flat", "gradient", "dark", "bright")}
    assert m["checker"]["sharpness"] > m["gradient"]["sharpness"] > m["flat"]["sharpness"]
    assert m["flat"]["sharpness"] == 0.0 and m["flat"]["entropy"] == 0.0
    assert m["dark"]["frac_dark"] == 1.0 and m["dark"]["frac_bright"] == 0.0
    assert m["bright"]["frac_bright"] == 1.0 and m["bright"]["frac_dark"] == 0.0
    assert m["gradient"]["entropy"] > m["checker"]["entropy"]  # 64 bins vs 2


def test_quality_8bit_peak_default():
    rgb = (np.indices((3, 8, 8)).sum(0) % 256).astype(np.uint8)
    got = multimodal.image_quality_metrics(rgb)
    assert 0.0 <= got["frac_dark"] < 1.0 and got["entropy"] > 0  # peak=255 branch


def test_with_image_quality_spark(spark):
    rows = [(k, codecs.encode_image(_img(k), "raw16"), "raw16")
            for k in ("checker", "flat", "dark")]
    rows.append(("bad", b"not an image", "raw16"))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"]))

    with pytest.raises(Exception):
        multimodal.with_image_quality(df).collect()

    got = {r["image_id"]: r for r in
           multimodal.with_image_quality(df, on_error="quarantine").collect()}
    assert len(got) == 4 and got["bad"]["error"] and got["bad"]["sharpness"] is None
    for k in ("checker", "flat", "dark"):
        want = _expected(_img(k))
        assert got[k]["error"] is None
        for field, v in want.items():
            assert got[k][field] == pytest.approx(v, rel=1e-12, abs=1e-12), (k, field)

    plan = multimodal.with_image_quality(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1 and "Exchange" not in plan
