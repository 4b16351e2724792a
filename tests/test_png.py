"""From-scratch PNG codec (kernels/png.py): lossless round-trips,
third-party palette files, and a cross-codec sanity bound — the SAME
16x16 artwork committed as python.png (lossless) and python.jpg
(lossy) must agree between the two independent from-scratch decoders."""

import os

import numpy as np
import pytest

from irivermetrics_offpaper.kernels import jpeg, png

DATA = os.path.join(os.path.dirname(__file__), "data")


def test_lossless_roundtrip_all_channel_counts():
    rng = np.random.default_rng(5)
    for nch in (1, 2, 3, 4):
        arr = rng.integers(0, 256, (nch, 13, 29), dtype=np.uint8)
        assert np.array_equal(png.decode_png(png.encode_png(arr)), arr)


def test_third_party_palette_files_decode():
    for name in ("conformance_pal.png", "conformance_pal2.png"):
        out = png.decode_png(open(os.path.join(DATA, name), "rb").read())
        # 8-bit palette + tRNS -> RGBA expansion
        assert out.shape == (4, 16, 16) and out.dtype == np.uint8
        assert out[3].min() == 0 and out[3].max() == 255  # real alpha edge


def test_all_filter_types_unfilter():
    """Force every scanline filter type through the decoder by
    re-filtering a known image by hand and checking exact recovery."""
    import struct
    import zlib

    rng = np.random.default_rng(9)
    arr = rng.integers(0, 256, (3, 6, 8), dtype=np.uint8)
    h, w, nch = 6, 8, 3
    inter = arr.transpose(1, 2, 0).reshape(h, w * nch).astype(np.int32)
    bpp = nch
    rows = []
    for y, ftype in enumerate([0, 1, 2, 3, 4, 1]):
        line = inter[y]
        prior = inter[y - 1] if y else np.zeros(w * nch, dtype=np.int32)
        if ftype == 0:
            f = line
        elif ftype == 1:
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            f = (line - left) % 256
        elif ftype == 2:
            f = (line - prior) % 256
        elif ftype == 3:
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            f = (line - (left + prior) // 2) % 256
        else:  # paeth
            left = np.concatenate([np.zeros(bpp, np.int32), line[:-bpp]])
            ul = np.concatenate([np.zeros(bpp, np.int32), prior[:-bpp]])
            pred = np.array([png._paeth(int(a), int(b), int(c))
                             for a, b, c in zip(left, prior, ul)])
            f = (line - pred) % 256
        rows.append(bytes([ftype]) + bytes(f.astype(np.uint8)))
    raw = b"".join(rows)

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    buf = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    assert np.array_equal(png.decode_png(buf), arr)


def test_interlace_and_16bit_rejected():
    import struct
    import zlib

    def mk(depth, inter):
        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 4, depth, 2, 0, 0, inter))
                + chunk(b"IDAT", zlib.compress(b"\x00" * 100)) + chunk(b"IEND", b""))

    with pytest.raises(ValueError, match="interlaced"):
        png.decode_png(mk(8, 1))
    with pytest.raises(ValueError, match="16-bit"):
        png.decode_png(mk(16, 0))


def test_cross_codec_same_artwork_agreement():
    """python.png (lossless truth, palette+alpha) and python.jpg (very
    low-quality lossy) carry the same 16x16 artwork: the two
    independent from-scratch decoders must agree on the opaque pixels
    to lossy tolerance. A broken Huffman table, color transform, or
    palette expansion lands far below this bound."""
    pg = png.decode_png(open(os.path.join(DATA, "conformance_pal.png"), "rb").read()).astype(float)
    jp = jpeg.decode_baseline(open(os.path.join(DATA, "conformance_420.jpg"), "rb").read()).astype(float)
    opaque = pg[3] > 250
    assert opaque.sum() > 50
    mse = np.mean((pg[:3][:, opaque] - jp[:, opaque]) ** 2)
    psnr = 10 * np.log10(255.0**2 / mse)
    assert psnr >= 20.0, psnr


def test_decode_any_routes_png():
    from irivermetrics_offpaper.operators import multimodal

    arr = np.stack([np.full((10, 12), v, dtype=np.uint8) for v in (10, 100, 250)])
    out = multimodal._decode_any(png.encode_png(arr), "png")
    assert out.dtype == np.uint16 and np.array_equal(out, arr.astype(np.uint16))


def test_trns_on_gray_and_rgb_color_types():
    """ADVICE r3: tRNS for color types 0/2 (16-bit sample keys) emits
    an alpha channel instead of being silently dropped."""
    import struct
    import zlib

    def chunk(typ, data):
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF))

    arr = np.zeros((3, 4, 5), np.uint8)
    arr[:, 1, 2] = [10, 20, 30]   # the keyed color -> transparent
    arr[:, 0, 0] = [10, 20, 31]   # near miss stays opaque
    buf = png.encode_png(arr)
    t = chunk(b"tRNS", struct.pack(">HHH", 10, 20, 30))
    out = png.decode_png(buf[:33] + t + buf[33:])  # sig(8) + IHDR(25)
    assert out.shape == (4, 4, 5)
    assert out[3, 1, 2] == 0 and out[3, 0, 0] == 255
    assert int(out[3].sum()) == 255 * (20 - 1)

    g = np.full((1, 3, 3), 7, np.uint8)
    g[0, 1, 1] = 9
    gb = png.encode_png(g)
    og = png.decode_png(gb[:33] + chunk(b"tRNS", struct.pack(">H", 9)) + gb[33:])
    assert og.shape == (2, 3, 3)
    assert og[1, 1, 1] == 0 and int(og[1].sum()) == 255 * 8
