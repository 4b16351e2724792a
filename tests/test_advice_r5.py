"""Round-5 ADVICE fixes: loud failure / gating edges.

1. classic NetCDF uint8 > 127 raises (NC_BYTE is signed) instead of
   silently wrapping negative — mirrors the int64/NC_INT guard.
2. a zero-row first record variable no longer masks a record-count
   disagreement with a later record variable.
3. exact_jaccard's broadcast fast path gates on ESTIMATED BYTES
   (doc count x text length), not a fixed doc count, and names
   unknown pair ids instead of an executor KeyError.
4. decode_image's float-TIFF reflectance heuristic warns when it
   fires and obeys an explicit reflectance_scale flag.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from irivermetrics_spark import codecs
from irivermetrics_spark.kernels import geotiff, netcdf
from irivermetrics_offpaper.operators import dedup


def test_netcdf_uint8_overflow_raises():
    dims = {"y": 2, "x": 2}
    ok = {"v": (("y", "x"), {}, np.array([[1, 127], [0, 5]], dtype=np.uint8))}
    buf = netcdf.write_netcdf3(dims, ok)
    back = netcdf.read_netcdf3(buf)
    np.testing.assert_array_equal(back["vars"]["v"]["data"], ok["v"][2].astype(np.int8))
    bad = {"v": (("y", "x"), {}, np.array([[1, 200], [0, 5]], dtype=np.uint8))}
    with pytest.raises(ValueError, match="NC_BYTE"):
        netcdf.write_netcdf3(dims, bad)


def test_netcdf_zero_row_record_var_does_not_mask_disagreement():
    dims = {"t": 0, "x": 2}
    variables = {
        "empty": (("t", "x"), {}, np.zeros((0, 2), dtype=np.int32)),
        "full": (("t", "x"), {}, np.ones((3, 2), dtype=np.int32)),
    }
    with pytest.raises(ValueError, match="disagree"):
        netcdf.write_netcdf3(dims, variables)


def test_exact_jaccard_byte_gate_and_missing_id(spark, monkeypatch):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["the quick brown fox jumps", "the quick brown fox jumped",
                 "a completely different document body"],
    }))
    pairs = spark.createDataFrame(pd.DataFrame({
        "id_a": [1], "id_b": [2], "est_jaccard": [0.9]}))
    fast = dedup.exact_jaccard_pairs(docs, pairs).toPandas()
    # shrink the byte budget so these 3 short docs exceed it -> the
    # distributed array_intersect fallback must produce equal values
    monkeypatch.setattr(dedup, "BROADCAST_BUDGET_BYTES", 1)
    slow = dedup.exact_jaccard_pairs(docs, pairs).toPandas()
    monkeypatch.undo()
    assert fast["jaccard"].tolist() == pytest.approx(slow["jaccard"].tolist())

    ghost = spark.createDataFrame(pd.DataFrame({
        "id_a": [1], "id_b": [99], "est_jaccard": [0.9]}))
    with pytest.raises(Exception, match="99.*absent|absent.*99"):
        dedup.exact_jaccard_pairs(docs, ghost).toPandas()


def test_decode_image_reflectance_flag_and_warning():
    grid = dict(gx0=0.0, gy0=0.0, ps=10.0)
    refl = (np.arange(12, dtype=np.float32).reshape(1, 3, 4)) / 20.0  # max 0.55
    buf = geotiff.write_geotiff(refl, grid)
    with pytest.warns(UserWarning, match="reflectance"):
        scaled = codecs.decode_image(buf)
    assert scaled.max() == 5500  # 0.55 * 10000
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error")
        raw = codecs.decode_image(buf, reflectance_scale=False)
    assert raw.max() == 0  # small floats truncate toward 0, NOT rescaled
    forced = codecs.decode_image(buf, reflectance_scale=True)
    np.testing.assert_array_equal(forced, scaled)
