"""Gopher-style repetition quality signals (Rae et al. 2021 A1.1):
duplicate-line fraction and top-n-gram fraction, both pure JVM
higher-order functions — cross-checked against plain-Python oracles
on adversarial documents."""

from collections import Counter

import pandas as pd
import pytest

from irivermetrics_offpaper.operators import textops


def _py_dup_line_frac(text: str) -> float:
    lines = [l.strip() for l in text.split("\n") if l.strip()]
    if len(lines) <= 1:
        return 0.0
    return 1.0 - len(set(lines)) / len(lines)


def _py_top_ngram_frac(text: str, n: int) -> float:
    words = [w for w in text.lower().split() if w]
    grams = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
    if not grams:
        return 0.0
    return Counter(grams).most_common(1)[0][1] / len(grams)


DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "menu\nhome\nabout\nmenu\ncontact\nmenu\nhome",       # heavy dup lines
    "buy now buy now buy now buy now limited offer",      # templated bigrams
    "a",                                                  # single word
    "",                                                   # empty
    "one\n\n\none\n  one  \ntwo",                         # whitespace lines
    "x y x y x y x y x y x y",                            # alternating
    "unique words only appear once in this entire doc",
    "a\r\na",                                             # CRLF dup (r5 review)
    "menu\r\nhome\r\nmenu\r\nmenu",                     # CRLF boilerplate
    "\t\n\t\nreal content here",                         # tab-only lines
    "buy\u00a0now buy\u00a0now buy\u00a0now and more words here",  # nbsp joins
]


def test_repetition_signals_match_python_oracle(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS}))
    out = textops.with_repetition_signals(df).toPandas().sort_values("doc_id")
    for _, row in out.iterrows():
        t = DOCS[int(row["doc_id"])]
        assert row["dup_line_frac"] == pytest.approx(_py_dup_line_frac(t), abs=1e-6), t
        assert row["top_bigram_frac"] == pytest.approx(_py_top_ngram_frac(t, 2), abs=1e-6), t


def test_repetition_filters_boilerplate(spark):
    """The Gopher thresholds separate the templated docs from prose."""
    df = spark.createDataFrame(pd.DataFrame({"doc_id": range(len(DOCS)), "text": DOCS}))
    out = textops.with_repetition_signals(df).toPandas().set_index("doc_id")
    assert out.loc[1, "dup_line_frac"] > 0.3      # menu page
    assert out.loc[2, "top_bigram_frac"] > 0.2    # "buy now" spam
    assert out.loc[0, "dup_line_frac"] == 0.0     # prose
    assert out.loc[7, "top_bigram_frac"] <= 0.2   # unique words


def test_unigram_and_plan_stays_jvm(spark):
    df = spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": ["a a a b"]}))
    uni = df.select(textops.top_ngram_fraction(textops.F.col("text"), 1).alias("f")).collect()
    assert uni[0]["f"] == pytest.approx(0.75)
    plan = textops.with_repetition_signals(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan  # pure JVM
