"""Within-video static-frame pruning (multimodal.prune_static_frames):
keep-chain semantics vs a sequential numpy reference, first-frame
guarantee, and the plan shape (single Exchange on video_id)."""

import numpy as np
import pandas as pd
import pytest

from irivermetrics_spark import codecs
from irivermetrics_offpaper.operators import multimodal


def _video(frames):
    return multimodal.encode_video(np.stack(frames).astype(np.uint16))


def _scene(seed, h=32, w=32):
    r = np.random.default_rng(seed)
    base = r.integers(0, 2, (h // 8, w // 8)) * 18000
    return np.kron(base, np.ones((8, 8)))[None].repeat(3, axis=0)


@pytest.fixture(scope="module")
def pruned(spark):
    # video A: scene1 x3 (with tiny noise), scene2 x2, scene1 again x2
    a_frames = []
    for seed, reps in ((1, 3), (2, 2), (1, 2)):
        s = _scene(seed)
        for r in range(reps):
            f = s.copy()
            f[:, r, r] += 5  # sub-threshold jitter
            a_frames.append(f)
    # video B: every frame a new scene
    b_frames = [_scene(10 + i) for i in range(4)]
    df = spark.createDataFrame(pd.DataFrame(
        [("A", _video(a_frames), "irm"), ("B", _video(b_frames), "irm")],
        columns=["video_id", "bytes", "fmt"]))
    out = multimodal.prune_static_frames(df, every_k=1, max_hamming=2)
    return {v: g.sort_values("frame_idx") for v, g in out.toPandas().groupby("video_id")}


def test_keep_chain_semantics(pruned):
    a = pruned["A"]
    # scene changes at frames 0 (first), 3 (scene2), 5 (back to scene1)
    assert a.frame_idx.tolist() == [0, 3, 5]
    assert pd.isna(a.hamming_prev.iloc[0])
    assert (a.hamming_prev.iloc[1:] > 2).all()
    b = pruned["B"]
    assert b.frame_idx.tolist() == [0, 1, 2, 3]  # all distinct scenes kept


def test_kept_frames_decode_to_source(pruned):
    a = pruned["A"]
    arr = codecs.decode_image(bytes(a.iloc[1]["bytes"]))
    want = _scene(2).copy()
    want[:, 0, 0] += 5
    assert np.array_equal(arr, want.astype(np.uint16))


def test_prune_matches_sequential_reference(spark):
    rng = np.random.default_rng(3)
    frames = [_scene(int(rng.integers(0, 4))) for _ in range(12)]
    df = spark.createDataFrame(pd.DataFrame(
        [("v", _video(frames), "irm")], columns=["video_id", "bytes", "fmt"]))
    got = multimodal.prune_static_frames(df, max_hamming=2).toPandas() \
        .sort_values("frame_idx")

    # independent reference: same chain, straight python over the frames
    phs = [codecs.phash64(f.astype(np.uint16)) for f in frames]
    kept, last = [], None
    for i, ph in enumerate(phs):
        # mask: phash64 is signed int64; two's-complement hamming needs
        # the unsigned view (bin(-x) would count magnitude bits)
        if last is None or bin((ph ^ last) & 0xFFFFFFFFFFFFFFFF).count("1") > 2:
            kept.append(i)
            last = ph
    assert got.frame_idx.tolist() == kept

    plan = multimodal.prune_static_frames(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange") == 1 and "FlatMapGroupsInPandas" in plan
