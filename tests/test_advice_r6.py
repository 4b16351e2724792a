"""Round-6 ADVICE regression pins (webp spec divergences + pq gate).

The webp predictor fixes can't be caught by self round-trips (encoder
and decoder share `_predict`), so these tests pin the SPEC values the
r5 advisor computed by hand against libwebp/RFC 9649 semantics.
"""

import numpy as np

from irivermetrics_offpaper.kernels import webp


def _pix(a=255, r=0, g=0, b=0):
    return (a << 24) | (r << 16) | (g << 8) | b


def test_predictor13_truncates_toward_zero():
    # spec: AddSubtractComponentHalf(a, b) = Clip255(a + (a - b) / 2)
    # with C division (truncation). a=10, b=13 -> 10 + trunc(-3/2) =
    # 10 - 1 = 9; Python floor division would give 10 - 2 = 8.
    out = webp._clamp_add_sub_half(_pix(r=10), _pix(r=13))
    assert (out >> 16) & 0xFF == 9
    # positive odd diff unchanged by the fix: a=13, b=10 -> 13+1 = 14
    out = webp._clamp_add_sub_half(_pix(r=13), _pix(r=10))
    assert (out >> 16) & 0xFF == 14
    # alpha channel path too (a=0, b=5 -> 0 + trunc(-5/2)=-2 -> clip 0)
    out = webp._clamp_add_sub_half(_pix(a=0, r=0), _pix(a=5, r=0))
    assert (out >> 24) & 0xFF == 0


def test_predictor11_select_tie_returns_top():
    # spec: `if (pL < pT) return L; else return T;` — tie goes to T.
    # l=0, t=2, tl=1: p = 1, pL = |1-0| = 1, pT = |1-2| = 1 -> T.
    l, t, tl = _pix(r=0), _pix(r=2), _pix(r=1)
    assert webp._select(l, t, tl) == t
    # strict pL < pT still returns L: l=1, t=9, tl=5 -> p=5, pL=4, pT=4
    # is a tie again -> T; use l=5, t=9, tl=5 -> p=9, pL=4, pT=0 -> T;
    # and l=9, t=5, tl=5 -> p=9, pL=0, pT=4 -> L.
    assert webp._select(_pix(r=9), _pix(r=5), _pix(r=5)) == _pix(r=9)


def test_predict_dispatch_uses_fixed_kernels():
    l, t, tl = _pix(r=0), _pix(r=2), _pix(r=1)
    assert webp._predict(11, l, t, tl, 0) == t
    ave = webp._byte_avg(_pix(r=10), _pix(r=10))
    assert (webp._predict(13, _pix(r=10), _pix(r=10), _pix(r=13), 0)
            == webp._clamp_add_sub_half(ave, _pix(r=13)))


def test_single_symbol_code_length_stream_roundtrips():
    # 16x16 with red=arange(256), green=0: the red literal histogram is
    # exactly uniform -> all code lengths 8 -> the code-length stream is
    # a single distinct symbol -> 0-bit cl code. The r5 encoder wrote
    # 1 bit per cl symbol here and produced an undecodable stream.
    planes = np.zeros((4, 16, 16), dtype=np.uint8)
    planes[0] = 255
    planes[1] = np.arange(256, dtype=np.uint8).reshape(16, 16)
    buf = webp.encode_vp8l(planes)
    out = webp.decode_vp8l(buf)
    np.testing.assert_array_equal(out, planes)


def test_pq_rerank_gate_is_byte_based():
    # the gate must price full float64 query vectors, not count rows
    from irivermetrics_offpaper.operators.dedup import BROADCAST_BUDGET_BYTES
    nq, m, dsub = 2_000_000, 16, 48  # 768-dim -> ~12 GB payload
    assert nq * (m * dsub * 8 + 8) > BROADCAST_BUDGET_BYTES
    nq_small = 10_000
    assert nq_small * (m * dsub * 8 + 8) <= BROADCAST_BUDGET_BYTES
