"""CCNet-style char-trigram perplexity filter: DuckDB cross-engine
parity on the trained model AND the per-doc scores, plan purity, and
the filter actually separating fluent text from gibberish."""

import math

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from irivermetrics_offpaper.operators import textops

# ASCII-whitespace corpus: the Spark normalizer is (?U)\s+ (Unicode)
# while RE2's \s is ASCII-only, so the cross-engine pin keeps to ASCII
# whitespace; unicode docs are covered by the qualitative test below
TRAIN = [
    ("t1", "the quick brown fox jumps over the lazy dog"),
    ("t2", "the rain in spain stays mainly on the plain"),
    ("t3", "a stitch in time saves nine and the early bird catches the worm"),
    ("t4", "all   work and no play\nmakes jack a dull boy"),
    ("t5", "to be or not to be that is the question"),
]
SCORE = TRAIN + [
    ("s1", "the early rain over the plain"),
    ("s2", "zxqj vwkp qqqy jjjx zzzv wwwq"),  # gibberish: mostly OOV
    ("s3", "ab"),                              # too short: null score
    ("s4", ""),
]


@pytest.fixture(scope="module")
def fitted(spark):
    train = spark.createDataFrame(pd.DataFrame(TRAIN, columns=["doc_id", "text"]))
    model, oov_logp, log_denom = textops.train_char_lm(train)
    model = model.persist()
    docs = spark.createDataFrame(pd.DataFrame(SCORE, columns=["doc_id", "text"]))
    scored = {r["doc_id"]: r for r in
              textops.with_perplexity(docs, model, oov_logp).collect()}
    yield model, oov_logp, scored
    model.unpersist()


def _duck_scores():
    con = duckdb.connect()
    con.register("train_docs", pd.DataFrame(TRAIN, columns=["doc_id", "text"]))
    con.register("score_docs", pd.DataFrame(SCORE, columns=["doc_id", "text"]))
    con.sql(r"""
        create view tg as
        with norm as (select doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') t
                      from train_docs)
        select substr(t, i::int, 3) gram
        from norm, unnest(range(1, greatest(length(t)-2, 0) + 1)) u(i)""")
    total, v = con.sql(
        "select count(*)::double, count(distinct gram)::double from tg").fetchone()
    log_denom = math.log(total + 0.5 * (v + 1))
    oov = math.log(0.5) - log_denom
    rows = con.sql(f"""
        with counts as (select gram, count(*) c from tg group by gram),
        model as (select gram, ln(c + 0.5) - {log_denom} logp from counts),
        norm as (select doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') t
                 from score_docs),
        grams as (select doc_id, substr(t, i::int, 3) gram
                  from norm, unnest(range(1, greatest(length(t)-2, 0) + 1)) u(i))
        select doc_id, round(avg(coalesce(logp, {oov})), 6) avg_logp
        from grams left join model using (gram) group by doc_id""").df()
    return {r.doc_id: r.avg_logp for r in rows.itertuples()}, oov


def test_perplexity_matches_duckdb(fitted):
    model, oov_logp, scored = fitted
    want, duck_oov = _duck_scores()
    assert abs(oov_logp - duck_oov) < 1e-12
    for doc_id, avg in want.items():
        assert scored[doc_id]["avg_logp"] == pytest.approx(avg, abs=1e-6), doc_id
        assert scored[doc_id]["perplexity"] == pytest.approx(
            round(math.exp(-avg), 6), rel=1e-6), doc_id
    for short in ("s3", "s4"):
        assert scored[short]["avg_logp"] is None and scored[short]["perplexity"] is None


def test_perplexity_separates_gibberish(fitted):
    _, _, scored = fitted
    # in-domain text scores far lower perplexity than OOV gibberish
    assert scored["s1"]["perplexity"] < scored["s2"]["perplexity"] / 2
    # training docs score best of all
    assert max(scored[d]["perplexity"] for d, _ in TRAIN) < scored["s2"]["perplexity"]


def test_perplexity_plan_is_jvm_only(spark, fitted):
    model, oov_logp, _ = fitted
    docs = spark.createDataFrame(pd.DataFrame(SCORE, columns=["doc_id", "text"]))
    out = textops.with_perplexity(docs, model, oov_logp)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the model side of the scoring join is broadcast
    assert "BroadcastHashJoin" in plan
