"""Pins a known defect as a strict expected failure: the reference
notebook's export call crashes on multi-scene input.

For a (scene, section, date) group with no polygon left,
``exports.pool_polygons`` returns ``{col: []}`` float64 columns, which
Arrow cannot convert to the ``array<double>`` ring columns of its schema
(``ArrowNotImplementedError: NumPyConverter doesn't implement <list<...:
double>> conversion``). Seed 42 at 4 scenes x 63 dates reaches such a
group (4 x 8 does not); the single-scene ``paper_exports`` workload does
not. When the defect is fixed this test XPASSes and fails, so the fix
must also remove the marker.

    python3 -m pytest perfbench/test_export_defect.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from pyspark.errors import PythonException  # noqa: E402

import harness  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    session = harness.start_session()
    yield session
    harness.shutdown(session)


@pytest.mark.xfail(strict=True, raises=PythonException,
                   reason="exports.pool_polygons: empty group -> float64 list columns")
def test_multi_scene_exports_crash(spark, tmp_path):
    shape = dict(workloads.PaperExports.shape, n_scenes=4, n_dates=63)
    wl = workloads.PaperExports(str(tmp_path), 42, shape)
    wl.materialize(spark)
    try:
        wl.call(spark)
    except PythonException as e:
        assert "NumPyConverter doesn't implement" in str(e), str(e)[:2000]
        raise
