"""mp3/FLAC header-only probes (kernels/audioprobe.py): synthetic
truth files, Xing VBR tags, ID3 skipping, dispatch, never-raises fuzz,
and the sniff_format router tags."""

import numpy as np
import pytest

from irivermetrics_offpaper import mediacodecs
from irivermetrics_offpaper.kernels import audioprobe, wav as wavk


# --------------------------------------------------------- constructors

def make_mp3(n_frames=10, bitrate_idx=9, sr_idx=0, mono=False,
             xing_frames=None, id3_bytes=0, crc=False):
    """CBR MPEG1 Layer-3 frames. bitrate_idx 9 = 128 kbps, sr_idx 0 =
    44100 Hz -> frame_size = 144*128000/44100 = 417."""
    b1 = 0xFA if crc else 0xFB  # sync + V1 + L3 (+CRC when bit 0 clear)
    b2 = (bitrate_idx << 4) | (sr_idx << 2)
    b3 = 0xC0 if mono else 0x00
    hdr = bytes([0xFF, b1, b2, b3])
    rate = (44100, 48000, 32000)[sr_idx]
    bitrate = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224,
               256, 320)[bitrate_idx] * 1000
    size = 144 * bitrate // rate
    frame = bytearray(hdr) + bytes(size - 4)
    if xing_frames is not None:
        side = 17 if mono else 32
        p = 4 + (2 if crc else 0) + side
        frame[p:p + 4] = b"Xing"
        frame[p + 4:p + 8] = (1).to_bytes(4, "big")  # FRAMES flag
        frame[p + 8:p + 12] = int(xing_frames).to_bytes(4, "big")
    data = bytes(frame) * n_frames
    if id3_bytes:
        tag_size = id3_bytes - 10
        id3 = b"ID3" + bytes([4, 0, 0]) + bytes([
            (tag_size >> 21) & 0x7F, (tag_size >> 14) & 0x7F,
            (tag_size >> 7) & 0x7F, tag_size & 0x7F]) + bytes(tag_size)
        data = id3 + data
    return data


def make_flac(rate=44100, channels=2, bits=16, total=88200, id3_bytes=0):
    u = (rate << 44) | ((channels - 1) << 41) | ((bits - 1) << 36) | total
    si = bytes(10) + u.to_bytes(8, "big") + bytes(16)  # 34-byte streaminfo
    blk = bytes([0x80]) + len(si).to_bytes(3, "big") + si  # last-block flag
    data = b"fLaC" + blk + b"\x00" * 64
    if id3_bytes:
        tag_size = id3_bytes - 10
        id3 = b"ID3" + bytes([3, 0, 0]) + bytes([
            (tag_size >> 21) & 0x7F, (tag_size >> 14) & 0x7F,
            (tag_size >> 7) & 0x7F, tag_size & 0x7F]) + bytes(tag_size)
        data = id3 + data
    return data


# ----------------------------------------------------------------- mp3

def test_mp3_cbr_estimate():
    got = audioprobe.probe_mp3_info(make_mp3(n_frames=10))
    assert got["fmt_detail"] == "mp3"
    assert got["sample_rate"] == 44100 and got["channels"] == 2
    assert got["bits"] is None  # lossy: no sample width
    assert got["n_frames"] == 10 * 1152
    assert got["duration_s"] == pytest.approx(10 * 1152 / 44100)


def test_mp3_xing_exact():
    # VBR tag says 100 frames even though only 3 are present: trust it
    got = audioprobe.probe_mp3_info(make_mp3(n_frames=3, xing_frames=100))
    assert got["n_frames"] == 100 * 1152
    assert got["duration_s"] == pytest.approx(100 * 1152 / 44100)


def test_mp3_xing_with_crc_and_mono():
    got = audioprobe.probe_mp3_info(
        make_mp3(n_frames=3, mono=True, crc=True, xing_frames=7))
    assert got["channels"] == 1
    assert got["n_frames"] == 7 * 1152


def test_mp3_id3_skip():
    got = audioprobe.probe_mp3_info(make_mp3(n_frames=5, id3_bytes=300))
    assert got["fmt_detail"] == "mp3"
    assert got["n_frames"] == 5 * 1152


def test_mp3_sr_variants():
    got = audioprobe.probe_mp3_info(make_mp3(sr_idx=1))
    assert got["sample_rate"] == 48000


def test_mp3_false_sync_rejected():
    # a lone plausible header followed by garbage where the next frame
    # should be: the confirmation check refuses it
    junk = bytes(make_mp3(1))[:4] + b"\x00" * 2000
    got = audioprobe.probe_mp3_info(junk)
    assert got["fmt_detail"] == "unknown"


def test_mp3_truncated_single_frame_accepted():
    # shorter than one frame: nothing to confirm against, header wins
    got = audioprobe.probe_mp3_info(bytes(make_mp3(1))[:100])
    assert got["fmt_detail"] == "mp3"
    assert got["sample_rate"] == 44100


# ---------------------------------------------------------------- flac

def test_flac_streaminfo():
    got = audioprobe.probe_flac_info(make_flac())
    assert got == dict(fmt_detail="flac", sample_rate=44100, channels=2,
                       bits=16, n_frames=88200,
                       duration_s=pytest.approx(2.0))


def test_flac_mono_24bit_and_unknown_total():
    got = audioprobe.probe_flac_info(
        make_flac(rate=96000, channels=1, bits=24, total=0))
    assert got["sample_rate"] == 96000 and got["channels"] == 1
    assert got["bits"] == 24
    assert got["n_frames"] is None and got["duration_s"] is None


def test_flac_id3_prefixed():
    got = audioprobe.probe_audio_info(make_flac(id3_bytes=128))
    assert got["fmt_detail"] == "flac" and got["sample_rate"] == 44100


# ------------------------------------------------------------ dispatch

def test_dispatch_wav_flac_mp3_unknown():
    w = wavk.write_wav(np.zeros((100, 1), dtype=np.int16), 8000)
    assert audioprobe.probe_audio_info(w)["fmt_detail"] == "wav"
    assert audioprobe.probe_audio_info(make_flac())["fmt_detail"] == "flac"
    assert audioprobe.probe_audio_info(make_mp3())["fmt_detail"] == "mp3"
    for junk in (b"", None, b"not audio at all", bytes(64)):
        got = audioprobe.probe_audio_info(junk)
        assert got["fmt_detail"] == "unknown"
        assert got["sample_rate"] is None


def test_fuzz_never_raises():
    rng = np.random.default_rng(77)
    prefixes = [b"", b"ID3", b"fLaC", b"\xff\xfb", b"RIFF", make_mp3(1)[:8],
                make_flac()[:9]]
    for trial in range(400):
        pre = prefixes[trial % len(prefixes)]
        tail = rng.integers(0, 256, size=int(rng.integers(0, 200)),
                            dtype=np.uint8).tobytes()
        got = audioprobe.probe_audio_info(pre + tail)
        assert set(got) == set(audioprobe._EMPTY)


# ------------------------------------------------------------- routing

def test_sniff_format_tags_audio():
    assert mediacodecs.sniff_format(make_flac()) == "flac"
    assert mediacodecs.sniff_format(make_mp3()) == "mp3"
    assert mediacodecs.sniff_format(make_mp3(id3_bytes=64)) == "mp3"
    # jpeg's FF D8 FF E0 must NOT be taken for an mp3 sync
    assert mediacodecs.sniff_format(b"\xff\xd8\xff\xe0" + bytes(30)) == "jpeg"


def test_spark_audio_info_mixed_formats(spark):
    rows = [("w", bytearray(wavk.write_wav(
                np.zeros((400, 2), dtype=np.int16), 16000))),
            ("f", bytearray(make_flac())),
            ("m", bytearray(make_mp3(4))),
            ("x", bytearray(b"garbage"))]
    df = spark.createDataFrame(rows, "audio_id string, bytes binary")
    from irivermetrics_offpaper.operators import multimodal

    got = {r["audio_id"]: r for r in
           multimodal.with_audio_info(df).collect()}
    assert got["w"]["fmt_detail"] == "wav" and got["w"]["n_frames"] == 400
    assert got["f"]["fmt_detail"] == "flac" and got["f"]["sample_rate"] == 44100
    assert got["m"]["fmt_detail"] == "mp3" and got["m"]["n_frames"] == 4 * 1152
    assert got["x"]["fmt_detail"] == "unknown"
