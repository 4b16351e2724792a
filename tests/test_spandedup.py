"""Exact duplicated-span removal + decontamination (operators/spandedup).

Pinned against deliberately naive scalar references: duplicated windows
found by grouping the actual token tuples (no hashing — a rolling-hash
collision or vectorization bug fails here), removal semantics replayed
token-by-token.
"""

import numpy as np
import pandas as pd
import pytest

from irivermetrics_offpaper.operators import spandedup

WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
         "hotel", "india", "juliet", "kilo", "lima"]


def _corpus(seed=11, n_docs=24, n_tokens=40, planted=3, k=6):
    """Random word docs + planted shared spans (same k+2-token run
    inserted into several docs) + one full duplicate doc."""
    rng = np.random.default_rng(seed)
    docs = {}
    for i in range(n_docs):
        docs[f"d{i:02d}"] = [WORDS[j] for j in rng.integers(0, len(WORDS), n_tokens)]
    span = [WORDS[j] for j in rng.integers(0, len(WORDS), k + 2)]
    for i in range(planted):
        at = int(rng.integers(0, n_tokens - k - 2))
        did = f"d{2 * i:02d}"
        docs[did] = docs[did][:at] + span + docs[did][at + k + 2:]
    docs["d00_copy"] = list(docs["d00"])  # whole-doc duplicate
    return docs


def _ref_windows(docs, k):
    by_win = {}
    for did in docs:
        toks = docs[did]
        for p in range(len(toks) - k + 1):
            by_win.setdefault(tuple(toks[p : p + k]), []).append((did, p))
    return by_win


def _ref_dup_rows(docs, k, min_count=2):
    rows = set()
    for win, occ in _ref_windows(docs, k).items():
        if len(occ) >= min_count:
            keeper = min(occ)
            for did, p in occ:
                rows.add((did, p, len(occ), (did, p) == keeper))
    return rows


def _ref_removed(docs, k, min_count=2):
    cut = {did: set() for did in docs}
    for win, occ in _ref_windows(docs, k).items():
        if len(occ) >= min_count:
            keeper = min(occ)
            for did, p in occ:
                if (did, p) != keeper:
                    cut[did].update(range(p, p + k))
    out = {}
    for did, toks in docs.items():
        kept = [t for i, t in enumerate(toks) if i not in cut[did]]
        out[did] = (" ".join(kept), len(cut[did]))
    return out


def _df(spark, docs):
    return spark.createDataFrame(pd.DataFrame(
        [dict(doc_id=d, text=" ".join(t)) for d, t in sorted(docs.items())]))


K = 6


def test_duplicate_span_windows_vs_token_tuple_reference(spark):
    docs = _corpus(k=K)
    got = {(r.doc_id, r.pos, r.n_occurrences, r.keep)
           for r in spandedup.duplicate_span_windows(_df(spark, docs), K).collect()}
    assert got == _ref_dup_rows(docs, K)
    assert got, "corpus must actually contain duplicated spans"
    # exactly one keeper per span group
    by_hash = {}
    for r in spandedup.duplicate_span_windows(_df(spark, docs), K).collect():
        by_hash.setdefault((r.h1, r.h2), []).append(r.keep)
    assert all(sum(v) == 1 for v in by_hash.values())


def test_remove_duplicate_spans_vs_scalar_reference(spark):
    docs = _corpus(k=K)
    out = spandedup.remove_duplicate_spans(_df(spark, docs), K).collect()
    want = _ref_removed(docs, K)
    assert len(out) == len(docs)
    for r in out:
        wtext, wcut = want[r.doc_id]
        assert r.text == wtext, r.doc_id
        assert r.n_tokens_removed == wcut, r.doc_id
    # the full-duplicate doc loses everything, its original is intact
    by = {r.doc_id: r for r in out}
    assert by["d00_copy"].text == "" or by["d00_copy"].n_tokens_removed > 0
    assert by["d00"].text == " ".join(docs["d00"])


def test_short_docs_and_unicode_whitespace(spark):
    docs = {"tiny": ["one", "two"], "exact": ["a"] * K, "exact2": ["a"] * K}
    got = {(r.doc_id, r.pos) for r in
           spandedup.duplicate_span_windows(_df(spark, docs), K).collect()}
    assert got == {("exact", 0), ("exact2", 0)}  # tiny emits no windows
    # tab/newline runs tokenize like spaces; NBSP is NOT a separator
    df = _df(spark, {"w1": ["x\ty", "a\nb"], "w2": ["p q"]})
    wins = spandedup.span_windows(df, 2).collect()
    n = {r.doc_id: r.n_tokens for r in wins}
    assert n == {"w1": 4}  # w2 is one NBSP-joined token -> no window


def test_contaminated_ids_both_join_paths(spark):
    docs = _corpus(k=K)
    bench = {"b0": docs["d00"][5 : 5 + K + 3],  # overlaps d00 (and its copy)
             "b1": ["zulu"] * (K + 1)}          # matches nothing
    want = {did for did, toks in docs.items()
            for p in range(len(toks) - K + 1)
            if tuple(toks[p : p + K]) in _ref_windows(bench, K)}
    assert want, "benchmark must overlap the corpus"
    for bc in (True, False):
        got = spandedup.contaminated_ids(
            _df(spark, docs), _df(spark, bench), k=K, broadcast_keys=bc)
        assert {r.doc_id for r in got.collect()} == want


def test_contamination_counts_match_reference(spark):
    docs = _corpus(k=K)
    bench = {"b0": docs["d02"][0 : K + 4]}
    ref = _ref_windows(bench, K)
    want = {}
    for did, toks in docs.items():
        c = sum(1 for p in range(len(toks) - K + 1)
                if tuple(toks[p : p + K]) in ref)
        if c:
            want[did] = c
    got = {r.doc_id: r.n_contaminated_windows
           for r in spandedup.contaminated_ids(
               _df(spark, docs), _df(spark, bench), k=K).collect()}
    assert got == want


def test_window_hash_no_positional_aliasing():
    # 'ab c' vs 'a bc': same chars, different token split -> different
    # window hashes (token pre-hash + never-zero offset prevent the
    # classic concat aliasing)
    h_ab_c = spandedup._window_hashes(
        spandedup._token_hashes(["ab", "c"]), 2, spandedup._B1)
    h_a_bc = spandedup._window_hashes(
        spandedup._token_hashes(["a", "bc"]), 2, spandedup._B1)
    assert h_ab_c[0] != h_a_bc[0]
    with pytest.raises(ValueError):
        spandedup.span_windows(None, 0)
