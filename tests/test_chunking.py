"""Context-window document chunking (textops.chunk_documents):
pure-Python reference parity, coverage/overlap invariants, plan shape."""
import re

import pandas as pd
import pytest

from irivermetrics_offpaper.operators import textops


def _ref(text, max_tokens, overlap):
    words = [w for w in re.split(r"\s+", text, flags=re.UNICODE) if w]
    if not words:
        return []
    step = max_tokens - overlap
    n = len(words)
    last = -(-max(n - max_tokens, 0) // step) * step
    out = []
    for i, s in enumerate(range(0, last + 1, step)):
        w = words[s:s + max_tokens]
        out.append((i, " ".join(w), len(w)))
    return out


CORPUS = {
    1: " ".join(f"t{i}" for i in range(10)),
    2: "short doc",
    3: "exactly four tokens here",
    4: "",
    5: "   \t  ",
    6: " ".join(f"w{i}" for i in range(13)),
}


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": list(CORPUS), "text": list(CORPUS.values()),
                      "lang": ["en"] * len(CORPUS)}))


@pytest.mark.parametrize("max_tokens,overlap", [(4, 0), (4, 1), (5, 2), (1, 0)])
def test_matches_reference(spark, docs, max_tokens, overlap):
    got = (textops.chunk_documents(docs, max_tokens, overlap)
           .orderBy("doc_id", "chunk_idx").collect())
    want = {k: _ref(t, max_tokens, overlap) for k, t in CORPUS.items()}
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.chunk_text, r.chunk_tokens))
    assert by_doc == {k: v for k, v in want.items() if v}
    # empty/whitespace docs yield nothing
    assert 4 not in by_doc and 5 not in by_doc


def test_coverage_and_overlap_invariants(spark, docs):
    got = (textops.chunk_documents(docs, 4, 1)
           .where("doc_id = 6").orderBy("chunk_idx").collect())
    words = CORPUS[6].split()
    # reassembling chunks (dropping the overlap) restores the doc
    rebuilt = got[0].chunk_text.split()
    for r in got[1:]:
        rebuilt += r.chunk_text.split()[1:]  # drop the 1-token overlap
    assert rebuilt == words
    # all but the last chunk are full-size
    assert all(r.chunk_tokens == 4 for r in got[:-1])
    assert 1 <= got[-1].chunk_tokens <= 4
    # other columns pass through
    assert all(r.lang == "en" for r in got)


def test_plan_is_narrow(spark, docs):
    plan = (textops.chunk_documents(docs, 8, 2)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_bad_args(spark, docs):
    with pytest.raises(ValueError):
        textops.chunk_documents(docs, 0)
    with pytest.raises(ValueError):
        textops.chunk_documents(docs, 4, 4)
    with pytest.raises(ValueError):
        textops.chunk_documents(docs, 4, -1)
