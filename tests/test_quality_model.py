"""Model-based quality classifier (operators/quality_model.py):
separates a synthetic clean-vs-spam corpus, agrees with a pure-numpy
reimplementation of the same full-batch GD, is deterministic, and
keeps featurization JVM-side."""
import numpy as np
import pandas as pd
import pytest

from irivermetrics_offpaper.operators import quality_model as qm

CLEAN_WORDS = ["research", "method", "result", "figure", "analysis",
               "model", "data", "section", "study", "evidence"]
SPAM_WORDS = ["win", "free", "click", "casino", "pills", "offer",
              "viagra", "prize", "subscribe", "deal"]


def _corpus(n_per_class=60, seed=0):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_per_class):
        rows.append(dict(doc_id=f"c{i}", label=1, text=" ".join(
            rng.choice(CLEAN_WORDS, size=12))))
        rows.append(dict(doc_id=f"s{i}", label=0, text=" ".join(
            rng.choice(SPAM_WORDS, size=12))))
    return pd.DataFrame(rows)


@pytest.fixture(scope="module")
def corpus():
    return _corpus()


def test_classifier_separates_and_scores(spark, corpus):
    docs = spark.createDataFrame(corpus)
    model = qm.train_quality_classifier(docs, "label", n_features=1 << 12,
                                        epochs=60, lr=10.0, grad_partitions=4)
    assert model["losses"][-1] < model["losses"][0] * 0.3, "loss must fall"
    assert all(b <= a + 1e-9 for a, b in zip(model["losses"], model["losses"][1:]))
    scored = qm.score_quality(docs, model).toPandas()
    clean = scored[scored.label == 1]["quality_prob"]
    spam = scored[scored.label == 0]["quality_prob"]
    # disjoint vocabularies: near-perfect separation expected
    assert clean.min() > 0.5 > spam.max()
    assert (clean.mean() - spam.mean()) > 0.5
    # passthrough columns survive scoring
    assert set(scored.columns) == {"doc_id", "label", "text", "quality_prob"}


def test_matches_numpy_reference(spark, corpus):
    """One epoch of the Spark trainer equals a dense numpy
    reimplementation of the same math on the same hashed features."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(corpus)
    D = 1 << 10
    model = qm.train_quality_classifier(docs, "label", n_features=D,
                                        epochs=1, lr=2.0, l2=0.0,
                                        grad_partitions=2)
    # rebuild the features with the SAME jvm hash, then replay GD
    feat = qm.featurize(docs, n_features=D).select("label", "__fidx").collect()
    grad, gb, n = np.zeros(D), 0.0, 0
    for r in feat:
        idx = np.asarray(r["__fidx"], dtype=np.int64)
        if idx.size == 0:
            continue
        inv = 1.0 / idx.size
        p = 0.5  # sigmoid(0) at w=0
        err = p - float(r["label"])
        np.add.at(grad, idx, err * inv)
        gb += err
        n += 1
    w_ref = -2.0 * grad / n
    b_ref = -2.0 * gb / n
    assert np.allclose(model["w"], w_ref, rtol=0, atol=1e-12)
    assert model["b"] == pytest.approx(b_ref, abs=1e-12)


def test_deterministic_across_partitionings(spark, corpus):
    docs = spark.createDataFrame(corpus)
    m1 = qm.train_quality_classifier(docs, "label", n_features=1 << 10,
                                     epochs=3, grad_partitions=2)
    m2 = qm.train_quality_classifier(spark.createDataFrame(corpus).repartition(7),
                                     "label", n_features=1 << 10,
                                     epochs=3, grad_partitions=5)
    assert np.allclose(m1["w"], m2["w"], rtol=0, atol=1e-12)
    assert m1["b"] == pytest.approx(m2["b"], abs=1e-12)


def test_featurize_is_jvm_side(spark, corpus):
    docs = spark.createDataFrame(corpus)
    plan = (qm.featurize(docs)._jdf.queryExecution()
            .executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_empty_and_degenerate(spark):
    docs = spark.createDataFrame(pd.DataFrame(
        dict(doc_id=["a"], label=[1], text=[""])))
    with pytest.raises(ValueError, match="at least one token"):
        qm.train_quality_classifier(docs, "label", n_features=64, epochs=1)
    model = dict(w=np.zeros(64), b=0.0, n_features=64, seed=0)
    scored = qm.score_quality(docs, model).toPandas()
    assert scored.quality_prob.iloc[0] == pytest.approx(0.5)


def test_null_text_and_label_rows_skip(spark):
    docs = spark.createDataFrame(pd.DataFrame(dict(
        doc_id=["a", "b", "c", "d"],
        label=pd.array([1, 0, None, 1], dtype="Int64"),
        text=pd.array(["good words here", "bad words here", "x", None],
                      dtype="string"))))
    model = qm.train_quality_classifier(docs, "label", n_features=256,
                                        epochs=2, grad_partitions=2)
    scored = qm.score_quality(docs, model).toPandas().set_index("doc_id")
    assert np.isnan(scored.loc["d"].quality_prob)
    assert np.isfinite(scored.loc["a"].quality_prob)
