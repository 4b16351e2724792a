"""From-scratch image codecs for the ``bytes`` column of the image table.

The input table shape is fixed by the engine contract:
``(image_id:string, bytes:binary, w:int, h:int, fmt:string,
caption:string, phash:int64)``. Two formats exist:

- ``raw16``  — lossless: little-endian uint16 reflectance planes.
- ``qlossy`` — lossy: per-band uniform 8-bit quantization. Chosen so
  the decoded pixels stay within PSNR >= 40 dB of the source (the
  per-row fidelity gate), mirroring how the reference tolerates lossy
  upstream imagery.

Layout (both formats), little-endian:
  magic   4 bytes  b"IRM1"
  fmt     1 byte   0=raw16, 1=qlossy
  nbands  1 byte
  w, h    uint16 each
  payload raw16 : nbands*h*w uint16, band-major C order
          qlossy: per band -> float32 scale then h*w uint8

All encode/decode is pure vectorized numpy, designed to run inside
Arrow-batched ``mapInPandas`` (one call decodes a whole batch of rows).
Reference parity: reflectance domain uint16 clipped to (0, 20000)
(reference: src/utils/wd_batch.py:167) and /10000 rescale downstream
(reference: src/utils/wd_batch.py:651-654).
"""

from __future__ import annotations

import numpy as np

MAGIC = b"IRM1"
FMT_RAW16 = "raw16"
FMT_QLOSSY = "qlossy"
_FMT_CODE = {FMT_RAW16: 0, FMT_QLOSSY: 1}
_FMT_NAME = {v: k for k, v in _FMT_CODE.items()}
REFLECTANCE_MAX = 20000


def encode_image(arr: np.ndarray, fmt: str = FMT_RAW16) -> bytes:
    """Encode a (nbands, h, w) uint16 array into the engine byte format."""
    if arr.ndim != 3:
        raise ValueError(f"expected (nbands, h, w), got shape {arr.shape}")
    arr = np.ascontiguousarray(arr, dtype=np.uint16)
    nbands, h, w = arr.shape
    header = (
        MAGIC
        + bytes([_FMT_CODE[fmt], nbands])
        + np.asarray([w, h], dtype="<u2").tobytes()
    )
    if fmt == FMT_RAW16:
        return header + arr.astype("<u2").tobytes()
    if fmt == FMT_QLOSSY:
        chunks = [header]
        for b in range(nbands):
            band = arr[b].astype(np.float64)
            hi = float(band.max())
            scale = (hi / 255.0) if hi > 0 else 1.0
            q = np.round(band / scale).astype(np.uint8)
            chunks.append(np.float32(scale).tobytes())
            chunks.append(q.tobytes())
        return b"".join(chunks)
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(buf: bytes, reflectance_scale: bool | None = None) -> np.ndarray:
    """Decode engine bytes back to a (nbands, h, w) uint16 array.

    Also accepts uncompressed GeoTIFF scene bytes (the reference's
    native input format, src/utils/wd_batch.py rioxarray ingest) via
    the from-scratch reader (kernels/geotiff.py) — a reference user's
    .tif reflectance stack drops straight into the image table.

    ``reflectance_scale`` (float TIFFs only): True forces the x10000
    reflectance->DN rescale, False forbids it; the default None keeps
    the magnitude heuristic below but WARNS when it fires (ADVICE r4:
    the silent heuristic misscaled genuine small-valued float rasters
    with only a source-comment caveat)."""
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        from .kernels import geotiff

        arr, _, nodata = geotiff.read_geotiff(buf)
        vals = arr.astype(np.float64)
        if arr.dtype.kind == "f":
            # Floating-point scenes (SampleFormat=3) are the reference's
            # rioxarray 0..1 reflectance form (src/utils/wd_batch.py:651-654
            # divides integer DN by 10000 to get exactly this domain), so
            # casting straight to uint16 would truncate them to {0,1}.
            # Rescale into the engine's DN domain; floats already in the DN
            # range (max > 2, i.e. not surface reflectance) pass through.
            # CAVEAT (documented, by design): the domain switch is a
            # magnitude heuristic — a float raster whose genuine DN
            # values all fall in [0, 2] (e.g. re-ingesting the engine's
            # own Pixel_Persistence.tif fractions) is treated as
            # reflectance and scaled. Ratio-based water rules are
            # scale-invariant; absolute-value consumers should ingest
            # such rasters through kernels.geotiff.read_geotiff, which
            # never rescales.
            vals = np.nan_to_num(vals, nan=0.0, posinf=0.0, neginf=0.0)
            if nodata is not None:
                vals = np.where(vals == float(nodata), 0.0, vals)
            if reflectance_scale is True:
                vals = vals * 10000.0
            elif reflectance_scale is None and vals.size and vals.max() <= 2.0:
                import warnings

                warnings.warn(
                    "decode_image: float TIFF with max <= 2.0 treated as 0..1 "
                    "surface reflectance and rescaled x10000 to the DN domain; "
                    "pass reflectance_scale=False if these are genuine "
                    "small-valued data, or read via kernels.geotiff.read_geotiff "
                    "(never rescales)", stacklevel=2)
                vals = vals * 10000.0
        return np.clip(vals, 0, np.iinfo(np.uint16).max).astype(np.uint16)
    if buf[:4] != MAGIC:
        raise ValueError("bad magic")
    fmt_code, nbands = buf[4], buf[5]
    w, h = np.frombuffer(buf, dtype="<u2", count=2, offset=6)
    w, h = int(w), int(h)
    off = 10
    if _FMT_NAME[fmt_code] == FMT_RAW16:
        flat = np.frombuffer(buf, dtype="<u2", count=nbands * h * w, offset=off)
        return flat.reshape(nbands, h, w).copy()
    out = np.empty((nbands, h, w), dtype=np.uint16)
    lut_domain = np.arange(256, dtype=np.float64)
    for b in range(nbands):
        scale = float(np.frombuffer(buf, dtype="<f4", count=1, offset=off)[0])
        off += 4
        q = np.frombuffer(buf, dtype=np.uint8, count=h * w, offset=off)
        off += h * w
        # uint8 payload -> 256-entry dequant LUT: identical values to
        # the per-pixel round(q * scale) form at ~1/200th the float ops
        lut = np.clip(np.round(lut_domain * scale), 0, 65535).astype(np.uint16)
        out[b] = lut[q].reshape(h, w)
    return out


def psnr(a: np.ndarray, b: np.ndarray, peak: float = float(REFLECTANCE_MAX)) -> float:
    """Peak signal-to-noise ratio in dB; inf when identical."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(peak * peak / mse)


def phash64(arr: np.ndarray) -> int:
    """Deterministic 64-bit perceptual-hash-like digest of decoded pixels.

    Band-mean image -> 8x8 block means -> bit i = (block_i > median).
    Pure numpy; stable across encode/decode of the lossless format and
    robust to the qlossy quantization noise.
    """
    img = arr.astype(np.float64).mean(axis=0)
    h, w = img.shape
    # pad to multiples of 8, then block-mean downsample to 8x8
    ph, pw = (-h) % 8, (-w) % 8
    if ph or pw:
        img = np.pad(img, ((0, ph), (0, pw)), mode="edge")
    bh, bw = img.shape[0] // 8, img.shape[1] // 8
    blocks = img.reshape(8, bh, 8, bw).mean(axis=(1, 3))
    med = np.median(blocks)
    bits = (blocks.ravel() > med).astype(np.uint64)
    val = np.uint64(0)
    for i, bit in enumerate(bits):
        val |= bit << np.uint64(i)  # scalar<<scalar: uint64 needs a uint shift operand
    # reinterpret as signed for Spark LongType
    return int(np.int64(val))

