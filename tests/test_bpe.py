"""BPE tokenizer: train determinism, round-trip, hand-computed merge
pins, and Spark-vs-independent-reference encode parity."""

import re
from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from irivermetrics_offpaper.operators import bpe


# ---------------------------------------------------------------------------
# Independent naive reference encoder (deliberately NOT the package's
# implementation: recomputes pair ranks by brute scan, applies one
# occurrence at a time, derives the vocab by string substitution).
def _ref_encode(text: str, model: dict) -> list[int]:
    ranks = {tuple(p): i for i, p in enumerate(model["merges"])}
    out = []
    for word in re.findall(model["pattern"], text):
        sym = list(word.encode("utf-8"))
        while True:
            cand = [(ranks[p], i) for i, p in enumerate(zip(sym, sym[1:]))
                    if p in ranks]
            if not cand:
                break
            r, _ = min(cand)
            a, b = model["merges"][r]
            # merge ALL occurrences of this pair, leftmost first
            i = 0
            while i < len(sym) - 1:
                if sym[i] == a and sym[i + 1] == b:
                    sym[i:i + 2] = [256 + r]
                i += 1
        out.extend(sym)
    return out


ADVERSARIAL = [
    "",
    " ",
    "   \t\n  ",
    "hello world",
    "ababababab",
    "aaa",  # overlapping-run merge order
    "the the the and and of",
    "digits 123 456 mix3d",
    "punct!!! ...---",
    "café naïve über",  # 2-byte utf-8
    "日本語のテキスト",  # CJK, 3-byte
    "emoji \U0001f600\U0001f600 pair",  # 4-byte
    "combining é accent",
    "tab\tsep\nnewline\r\nCRLF",
    "zero​width",
    "a" * 300,
]


def _tiny_corpus_df(spark):
    rows = [(i, t) for i, t in enumerate(ADVERSARIAL * 3)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_train_deterministic(spark):
    df = _tiny_corpus_df(spark)
    m1 = bpe.train_bpe(df, vocab_size=300)
    m2 = bpe.train_bpe(df, vocab_size=300)
    assert m1["merges"] == m2["merges"]
    assert len(m1["merges"]) <= 44
    assert m1["vocab_size"] == 256 + len(m1["merges"])


def test_hand_computed_merges(spark):
    # corpus of "ab"*n words: pair (a,b) dominates, then (ab,ab)
    rows = [(i, "ab" * ((i % 9) + 1)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    m = bpe.train_bpe(df, vocab_size=258)
    assert m["merges"] == [(97, 98), (256, 256)]
    # encode: "ab"*n -> [257]*(n//2) + [256]*(n%2)
    for n in range(1, 12):
        ids = bpe.encode_text("ab" * n, m)
        assert ids == [257] * (n // 2) + [256] * (n % 2)
    # vocab derivation
    v = bpe.vocab_bytes(m)
    assert v[256] == b"ab" and v[257] == b"abab"


def test_roundtrip_adversarial(spark):
    m = bpe.train_bpe(_tiny_corpus_df(spark), vocab_size=320)
    for t in ADVERSARIAL:
        assert bpe.decode_ids(bpe.encode_text(t, m), m) == t


def test_word_count_matches_local(spark):
    df = _tiny_corpus_df(spark)
    table = bpe._count_words(df, "text", 10_000)
    local = Counter()
    for t in ADVERSARIAL * 3:
        local.update(re.findall(bpe.BPE_PRETOKEN_PATTERN, t))
    assert dict(table) == dict(local)


def test_spark_encode_matches_reference(spark):
    m = bpe.train_bpe(_tiny_corpus_df(spark), vocab_size=300)
    rows = [(i, t) for i, t in enumerate(ADVERSARIAL)] + [(99, None)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in
           bpe.with_bpe_tokens(df, m).collect()}
    for i, t in enumerate(ADVERSARIAL):
        exp = _ref_encode(t, m)
        assert list(got[i]["bpe_ids"]) == exp, f"doc {i}: {t!r}"
        assert got[i]["bpe_n_tokens"] == len(exp)
    assert got[99]["bpe_ids"] is None and got[99]["bpe_n_tokens"] is None


def test_with_ids_false_and_json_roundtrip(spark):
    df = _tiny_corpus_df(spark)
    m = bpe.train_bpe(df, vocab_size=280)
    out = bpe.with_bpe_tokens(df.limit(5), m, with_ids=False)
    assert "bpe_ids" not in out.columns
    assert out.where("text = '' and bpe_n_tokens <> 0").count() == 0
    m2 = bpe.bpe_from_json(bpe.bpe_to_json(m))
    assert m2["merges"] == m["merges"]
    assert bpe.encode_text("hello world", m2) == bpe.encode_text("hello world", m)


def test_vocab_size_validation(spark):
    df = _tiny_corpus_df(spark)
    with pytest.raises(ValueError):
        bpe.train_bpe(df, vocab_size=256)


@settings(max_examples=60, deadline=None)
@given(st.text(min_size=0, max_size=120))
def test_roundtrip_property(text):
    # model trained once on the adversarial corpus, cached per session
    m = _MODEL_CACHE.get("m")
    if m is None:
        pytest.skip("spark model not trained yet")
    assert bpe.decode_ids(bpe.encode_text(text, m), m) == text


_MODEL_CACHE = {}


@pytest.fixture(autouse=True, scope="module")
def _train_property_model(spark):
    _MODEL_CACHE["m"] = bpe.train_bpe(_tiny_corpus_df(spark), vocab_size=300)
    yield
