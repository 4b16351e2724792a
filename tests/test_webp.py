"""From-scratch VP8L (lossless WebP) codec (r4 VERDICT missing #2).

No third-party lossless .webp fixtures exist in this sandbox (the few
.webp files on the box are VP8-lossy), so conformance is pinned by
exhaustive self round-trips across every bitstream feature — each
encoder option drives a distinct decoder path (prefix-code forms,
all four transforms incl. sub-byte palette bundling, LZ77 refs,
color cache, meta prefix codes) — plus container/edge checks.
"""

import numpy as np
import pytest

from irivermetrics_offpaper.kernels import webp


def _rt(planes, **kw):
    buf = webp.encode_vp8l(planes, **kw)
    out = webp.decode_vp8l(buf)
    np.testing.assert_array_equal(out, planes)
    return buf


def _gradient(h=13, w=17):
    base = (np.arange(h)[:, None] * 3 + np.arange(w)[None, :] * 5) % 256
    return np.stack([np.full((h, w), 255), base, (base * 2) % 256,
                     (base * 7) % 256]).astype(np.uint8)


@pytest.mark.parametrize("kw", [
    {},                                            # subtract-green + literals
    {"use_predictor": True, "block_bits": 3},      # 14-mode predictor
    {"cache_bits": 6},                             # color cache symbols
    {"use_meta": True},                            # meta prefix codes
    {"color_cte": (17, 200, 5)},                   # color transform
    {"color_cte": (250, 3, 128), "use_predictor": True, "block_bits": 2},
])
def test_roundtrip_feature_matrix(kw):
    _rt(_gradient(), **kw)


def test_roundtrip_noise_flat_alpha():
    rng = np.random.default_rng(7)
    noise = rng.integers(0, 256, size=(4, 9, 11)).astype(np.uint8)
    noise[0] = 255
    _rt(noise)
    flat = np.full((4, 20, 30), 77, dtype=np.uint8)
    flat[0] = 255
    buf = _rt(flat)
    assert len(buf) < 60  # RLE backrefs + single-symbol codes actually fire
    alpha = rng.integers(0, 256, size=(4, 8, 8)).astype(np.uint8)
    _rt(alpha)  # non-opaque alpha plane survives


@pytest.mark.parametrize("ncol", [2, 3, 9, 16, 17, 40, 200, 256])
def test_roundtrip_palette_bundling(ncol):
    """Each palette size class hits a different pixel-bundling width
    (<=2: 8 px/byte, <=4: 4, <=16: 2, else none)."""
    rng = np.random.default_rng(ncol)
    vals = rng.integers(0, 256, size=(ncol, 4)).astype(np.uint8)
    vals[:, 0] = 255
    vals = np.unique(vals, axis=0)  # distinct colors
    idx = rng.integers(0, len(vals), size=(15, 21))
    planes = np.stack([vals[idx, c] for c in range(4)]).astype(np.uint8)
    _rt(planes, use_palette=True)


def test_roundtrip_1px_and_1row():
    one = np.array([[[255]], [[3]], [[200]], [[9]]], dtype=np.uint8)
    _rt(one)
    _rt(one, use_predictor=True)
    row = _gradient(1, 31)
    _rt(row)
    col = _gradient(29, 1)
    _rt(col, use_predictor=True)


def test_predictor_compresses_gradient():
    g = _gradient(32, 32)
    plain = webp.encode_vp8l(g)
    pred = webp.encode_vp8l(g, use_predictor=True, block_bits=3)
    assert len(pred) < len(plain) / 2  # residuals collapse, codes shrink


def test_container_errors():
    with pytest.raises(ValueError, match="RIFF"):
        webp.decode_vp8l(b"JUNKJUNKJUNKJUNK")
    # well-formed RIFF with a (stub) lossy VP8 chunk -> clear error
    lossy = b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="lossless-only"):
        webp.decode_vp8l(lossy)
    good = webp.encode_vp8l(_gradient())
    bad = bytearray(good)
    bad[12:16] = b"VP8L"  # keep tag but corrupt signature byte region
    sig_at = good.index(b"VP8L") + 8
    bad = bytearray(good)
    bad[sig_at] = 0x00
    with pytest.raises(ValueError, match="signature"):
        webp.decode_vp8l(bytes(bad))


def test_gray16_bridge_drops_opaque_alpha():
    g = _gradient()
    out = webp.decode_webp_gray16(webp.encode_vp8l(g))
    assert out.dtype == np.uint16 and out.shape == (3, 13, 17)
    np.testing.assert_array_equal(out, g[1:].astype(np.uint16))
    g2 = g.copy()
    g2[0, 0, 0] = 7  # one translucent pixel -> alpha kept
    out2 = webp.decode_webp_gray16(webp.encode_vp8l(g2))
    assert out2.shape == (4, 13, 17)


def test_property_roundtrip_random():
    """Hypothesis-style sweep (deterministic seeds): random sizes,
    palettes, options — mirrors the lzw/netcdf property tests."""
    rng = np.random.default_rng(123)
    for trial in range(25):
        h = int(rng.integers(1, 24))
        w = int(rng.integers(1, 24))
        kind = trial % 5
        if kind == 0:
            planes = rng.integers(0, 256, size=(4, h, w)).astype(np.uint8)
            kw = {}
        elif kind == 1:
            planes = rng.integers(0, 4, size=(4, h, w)).astype(np.uint8) * 80
            kw = {"use_palette": True}
        elif kind == 2:
            planes = np.cumsum(rng.integers(0, 3, size=(4, h, w)), axis=2).astype(np.uint8)
            kw = {"use_predictor": True, "block_bits": int(rng.integers(2, 5))}
        elif kind == 3:
            planes = rng.integers(0, 9, size=(4, h, w)).astype(np.uint8) * 25
            kw = {"cache_bits": int(rng.integers(1, 8))}
        else:
            planes = rng.integers(0, 256, size=(4, h, w)).astype(np.uint8)
            kw = {"use_meta": True, "color_cte": tuple(int(v) for v in rng.integers(0, 256, 3))}
        _rt(planes, **kw)


def test_cross_codec_real_artwork_through_webp():
    """The committed third-party artwork (conformance_pal.png, decoded
    by the independent from-scratch PNG codec) re-encodes LOSSLESSLY
    through the VP8L encoder in every transform mode and decodes back
    bit-identical — tying the webp codec to a real image, not just
    synthetic fixtures."""
    import os

    from irivermetrics_offpaper.kernels import png

    data = os.path.join(os.path.dirname(__file__), "data")
    rgba = png.decode_png(open(os.path.join(data, "conformance_pal.png"), "rb").read())
    assert rgba.shape[0] == 4  # RGBA from the palette+tRNS expansion
    # PNG planes are RGBA; VP8L wants ARGB
    argb = np.stack([rgba[3], rgba[0], rgba[1], rgba[2]]).astype(np.uint8)
    for kw in ({}, {"use_predictor": True, "block_bits": 3},
               {"cache_bits": 6}, {"use_palette": True},
               {"color_cte": (33, 190, 7)}):
        out = webp.decode_vp8l(webp.encode_vp8l(argb, **kw))
        np.testing.assert_array_equal(out, argb)
