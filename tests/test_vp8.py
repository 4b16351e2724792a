"""From-scratch lossy-VP8 WebP decoder (r5 VERDICT missing #1).

Unlike VP8L (self round-trips only — no third-party lossless fixtures
exist on the box), lossy VP8 has a REFERENCE oracle here: the committed
``tests/data/vp8_*.webp`` fixtures were encoded with the system libwebp
(the RFC 6386 reference implementation) and the committed goldens in
``vp8_goldens.npz`` are libwebp's own decoded planes — see
tools/make_vp8_fixtures.py for provenance. Conformance is bit-exact at
the normative YUV level (post loop filter), at the alpha plane, and at
full RGBA for the CPython-provided ``python.webp`` (a file this repo
did not encode).
"""

import os
import struct

import numpy as np
import pytest

from irivermetrics_offpaper import mediacodecs
from irivermetrics_spark import codecs
from irivermetrics_offpaper.kernels import vp8, webp

DATA = os.path.join(os.path.dirname(__file__), "data")
GOLD = np.load(os.path.join(DATA, "vp8_goldens.npz"))

# fixture -> exercised decoder surface (quality drives quantizer/
# token-tree coverage; odd/tall hit macroblock cropping; alpha hits
# the VP8X + ALPH path; art is the committed third-party artwork)
FIXTURES = [
    "vp8_art_q75",    # 16x16, single MB
    "vp8_synth_q10",  # heavy quantization, big residuals
    "vp8_synth_q75",  # mid quality
    "vp8_synth_q95",  # near-lossless, dense tokens
    "vp8_odd_q50",    # 50x34: non-multiple-of-16 crop
    "vp8_tall_q30",   # 17x63: tall narrow frame, right-edge extension
    "vp8_alpha_q75",  # VP8X container + VP8L-compressed ALPH chunk
]


def _chunks(buf):
    out = {}
    p = 12
    while p + 8 <= len(buf):
        tag = buf[p:p + 4]
        (size,) = struct.unpack("<I", buf[p + 4:p + 8])
        out.setdefault(tag, buf[p + 8:p + 8 + size])
        p += 8 + size + (size & 1)
    return out


@pytest.mark.parametrize("name", FIXTURES)
def test_yuv_bit_exact_vs_libwebp(name):
    buf = open(os.path.join(DATA, f"{name}.webp"), "rb").read()
    Y, U, V = vp8.decode_vp8(_chunks(buf)[b"VP8 "])
    np.testing.assert_array_equal(Y, GOLD[f"{name}_Y"])
    np.testing.assert_array_equal(U, GOLD[f"{name}_U"])
    np.testing.assert_array_equal(V, GOLD[f"{name}_V"])


def test_alpha_plane_bit_exact():
    buf = open(os.path.join(DATA, "vp8_alpha_q75.webp"), "rb").read()
    _, a = vp8.decode_webp(buf)
    np.testing.assert_array_equal(a, GOLD["vp8_alpha_q75_A"])


def test_full_rgba_bit_exact_on_foreign_file():
    # python.webp ships with CPython — encoded by neither this repo nor
    # tools/make_vp8_fixtures.py; golden is libwebp's WebPDecodeRGBA
    buf = open(os.path.join(DATA, "vp8_python.webp"), "rb").read()
    rgb, a = vp8.decode_webp(buf)
    gold = GOLD["vp8_python_RGBA"]
    np.testing.assert_array_equal(rgb[0], gold[..., 0])
    np.testing.assert_array_equal(rgb[1], gold[..., 1])
    np.testing.assert_array_equal(rgb[2], gold[..., 2])
    np.testing.assert_array_equal(a, gold[..., 3])


def test_gray16_bridge_routes_both_webp_flavours():
    lossy = open(os.path.join(DATA, "vp8_python.webp"), "rb").read()
    out = webp.decode_webp_gray16(lossy)
    assert out.shape == (4, 16, 16) and out.dtype == np.uint16  # A,R,G,B
    assert (out <= 255).all()

    planes = np.full((4, 6, 5), 200, np.uint8)
    planes[0] = 255  # opaque alpha -> dropped
    lossless = webp.encode_vp8l(planes)
    out2 = webp.decode_webp_gray16(lossless)
    assert out2.shape == (3, 6, 5)
    np.testing.assert_array_equal(out2, planes[1:].astype(np.uint16))


def test_decode_any_webp_dispatch():
    from irivermetrics_offpaper.operators.multimodal import _decode_any

    buf = open(os.path.join(DATA, "vp8_synth_q75.webp"), "rb").read()
    arr = _decode_any(buf, "webp")
    assert arr.shape == (3, 48, 80) and arr.dtype == np.uint16
    # spot-pin against the YUV golden through the same RGB conversion
    want = vp8.yuv420_to_rgb(GOLD["vp8_synth_q75_Y"],
                             GOLD["vp8_synth_q75_U"],
                             GOLD["vp8_synth_q75_V"])
    np.testing.assert_array_equal(arr, want.astype(np.uint16))


def test_rejects_non_keyframe_and_garbage():
    good = _chunks(open(os.path.join(DATA, "vp8_art_q75.webp"), "rb").read())[b"VP8 "]
    with pytest.raises(ValueError, match="keyframe"):
        vp8.decode_vp8(bytes([good[0] | 1]) + good[1:])  # interframe bit
    with pytest.raises(ValueError, match="start code"):
        vp8.decode_vp8(good[:3] + b"\x00\x00\x00" + good[6:])
    with pytest.raises(ValueError, match="truncated"):
        vp8.decode_vp8(good[:8])
    # declared first-partition size past the end of the payload
    tag = good[0] | (good[1] << 8) | (good[2] << 16)
    huge = (tag & 0x1F) | ((1 << 18) << 5)
    with pytest.raises(ValueError, match="partition"):
        vp8.decode_vp8(bytes([huge & 0xFF, (huge >> 8) & 0xFF,
                              (huge >> 16) & 0xFF]) + good[3:])


def test_rejects_animation_and_empty_container():
    anim = (b"RIFF" + (20).to_bytes(4, "little") + b"WEBP"
            + b"ANIM" + (4).to_bytes(4, "little") + b"\x00" * 4)
    with pytest.raises(ValueError, match="animated"):
        vp8.decode_webp(anim)
    assert mediacodecs.sniff_format(
        b"RIFF\x00\x00\x00\x00WEBPVP8X\x0a\x00\x00\x00\x12") == "webp-vp8x-anim"
    empty = b"RIFF" + (4).to_bytes(4, "little") + b"WEBP"
    with pytest.raises(ValueError, match="no VP8"):
        vp8.decode_webp(empty)
    with pytest.raises(ValueError):
        vp8.decode_webp(b"not a riff file....")


def test_raw_alpha_and_filters_roundtrip():
    # container-spec alpha filters over a raw (uncompressed) plane:
    # apply each spec predictor forward here, decode_alpha must invert
    rng = np.random.default_rng(3)
    a = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    h, w = a.shape
    for filt in (0, 1, 2, 3):
        res = a.astype(np.int64).copy()
        if filt:
            for y in range(h - 1, -1, -1):
                for x in range(w - 1, -1, -1):
                    if x == 0 and y == 0:
                        p = 0
                    elif filt == 1:
                        p = a[y, x - 1] if x > 0 else a[y - 1, 0]
                    elif filt == 2:
                        p = a[y - 1, x] if y > 0 else a[0, x - 1]
                    else:
                        if y == 0:
                            p = a[0, x - 1]
                        elif x == 0:
                            p = a[y - 1, 0]
                        else:
                            g = (int(a[y, x - 1]) + int(a[y - 1, x])
                                 - int(a[y - 1, x - 1]))
                            p = min(255, max(0, g))
                    res[y, x] = (int(a[y, x]) - int(p)) % 256
        chunk = bytes([filt << 2]) + res.astype(np.uint8).tobytes()
        got = vp8.decode_alpha(chunk, w, h)
        np.testing.assert_array_equal(got, a, err_msg=f"filter {filt}")


def test_lossy_webp_flows_through_resize_operator(spark):
    from irivermetrics_offpaper.operators import multimodal

    buf = open(os.path.join(DATA, "vp8_synth_q75.webp"), "rb").read()
    df = spark.createDataFrame(
        [("w1", buf, 80, 48, "webp", "lossy vp8 scene", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long")
    out = multimodal.resize_images(df, 20, 12).toPandas()
    assert len(out) == 1 and out.w[0] == 20 and out.h[0] == 12
    dec = codecs.decode_image(out.bytes[0])
    assert dec.shape == (3, 12, 20)
    # block-mean of the golden-derived RGB == operator output
    want = vp8.yuv420_to_rgb(GOLD["vp8_synth_q75_Y"],
                             GOLD["vp8_synth_q75_U"],
                             GOLD["vp8_synth_q75_V"]).astype(np.uint16)
    want = want.reshape(3, 12, 4, 20, 4).mean(axis=(2, 4)).astype(np.uint16)
    np.testing.assert_array_equal(dec, want)
