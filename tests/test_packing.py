"""Sequence packing (operators/packing.py): pack validity (no doc
lost, budgets respected), determinism across partitionings/seeds,
fill-ratio quality vs the theoretical bound, and oversize flagging."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from irivermetrics_offpaper.operators import packing


@pytest.fixture(scope="module")
def docs_pdf():
    rng = np.random.default_rng(5)
    n = 400
    toks = rng.integers(20, 900, n)
    toks[::97] = 1500  # a few oversize docs (> seq_len=1024)
    return pd.DataFrame({"doc_id": [f"d{i:04d}" for i in range(n)],
                         "n_tokens": toks})


def test_pack_validity_and_quality(spark, docs_pdf):
    df = spark.createDataFrame(docs_pdf)
    out = packing.pack_sequences(df, seq_len=1024, n_buckets=8).toPandas()

    # total partition of the corpus, token counts preserved
    assert sorted(out.doc_id) == sorted(docs_pdf.doc_id)
    merged = out.merge(docs_pdf, on="doc_id", suffixes=("", "_want"))
    assert (merged.n_tokens == merged.n_tokens_want).all()

    # every pack's total is the sum of its members; within budget
    # unless it is a single oversize doc
    g = out.groupby("pack_id")
    assert (g.n_tokens.sum() == g.pack_total.first()).all()
    assert (g.size() == g.pack_docs.first()).all()
    over = out[out.oversize]
    assert len(over) == len(docs_pdf[docs_pdf.n_tokens > 1024])
    assert (over.pack_docs == 1).all()  # oversize docs pack alone
    ok = out[~out.oversize]
    assert (ok.groupby("pack_id").pack_total.first() <= 1024).all()

    # FFD quality: total packs within 1.3x of the fractional lower bound
    fits = docs_pdf[docs_pdf.n_tokens <= 1024]
    lower = np.ceil(fits.n_tokens.sum() / 1024) + (docs_pdf.n_tokens > 1024).sum()
    assert out.pack_id.nunique() <= 1.3 * lower


def test_pack_determinism(spark, docs_pdf):
    df = spark.createDataFrame(docs_pdf)
    a = packing.pack_sequences(df, 1024, n_buckets=8).toPandas()
    b = packing.pack_sequences(spark.createDataFrame(docs_pdf).repartition(13),
                               1024, n_buckets=8).toPandas()
    key = a.sort_values("doc_id").reset_index(drop=True)
    other = b.sort_values("doc_id").reset_index(drop=True)
    assert key.equals(other)
    # a different seed re-buckets
    c = packing.pack_sequences(df, 1024, n_buckets=8, seed=3).toPandas()
    assert set(zip(c.doc_id, c.pack_id)) != set(zip(a.doc_id, a.pack_id))

    with pytest.raises(ValueError):
        packing.pack_sequences(df, 0)


def test_pack_single_shuffle_plan(spark, docs_pdf):
    df = spark.createDataFrame(docs_pdf)
    plan = packing.pack_sequences(df, 1024)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1 and "FlatMapGroupsInPandas" in plan


def test_pack_null_tokens_named_error(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a", "b"], "n_tokens": [100, None]}))
    with pytest.raises(Exception, match="null n_tokens.*doc_id.*b"):
        packing.pack_sequences(df, 1024, n_buckets=1).collect()
