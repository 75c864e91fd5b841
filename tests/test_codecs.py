"""Pure-numpy media codecs: spec-derived cases + round trips + the
Spark real-decode path end-to-end."""

import struct
import sys
from os.path import abspath, dirname

import numpy as np
import pytest

sys.path.insert(0, dirname(dirname(abspath(__file__))))

from pyhctsa_spark.operators import codecs as C  # noqa: E402

rng = np.random.default_rng(7)


def test_wav_round_trip_mono_and_stereo():
    x = np.clip(rng.standard_normal(777) * 0.4, -1, 1)
    dec, rate = C.decode_wav(C.encode_wav(x, 22050))
    assert rate == 22050
    assert np.abs(dec - np.round(x * 32767) / 32768).max() < 1e-6
    x2 = np.clip(rng.standard_normal((120, 2)) * 0.4, -1, 1)
    d2, _ = C.decode_wav(C.encode_wav(x2, 44100))
    assert d2.shape == (120, 2)


def test_wav_hand_built_spec_bytes():
    # hand-assembled canonical WAV: 3 samples of 16-bit PCM mono @ 8 kHz
    samples = struct.pack("<3h", 0, 16384, -32768)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"fmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", len(samples)) + samples
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    dec, rate = C.decode_wav(payload)
    assert rate == 8000
    np.testing.assert_allclose(dec, [0.0, 0.5, -1.0])


def test_wav_float32_chunk_and_extra_chunks():
    # float-format WAVE with an extra LIST chunk before data
    vals = np.array([0.25, -0.75], dtype="<f4")
    fmt = struct.pack("<HHIIHH", 3, 1, 16000, 64000, 4, 32)
    body = b"fmt " + struct.pack("<I", 16) + fmt
    body += b"LIST" + struct.pack("<I", 4) + b"INFO"
    body += b"data" + struct.pack("<I", 8) + vals.tobytes()
    payload = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    dec, _ = C.decode_wav(payload)
    np.testing.assert_allclose(dec, [0.25, -0.75])


def test_ppm_round_trip_and_header_forms():
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    assert np.array_equal(C.decode_ppm(C.encode_ppm(img)), img)
    gray = rng.integers(0, 256, (4, 6), dtype=np.uint8)
    assert np.array_equal(C.decode_ppm(C.encode_ppm(gray)), gray)
    # spec: comments and arbitrary whitespace in the header
    payload = b"P6 # inline\n# full line comment\n 2\t2 \n255\n" + bytes(range(12))
    arr = C.decode_ppm(payload)
    assert arr.shape == (2, 2, 3)
    assert arr[0, 0, 0] == 0 and arr[1, 1, 2] == 11


def test_ppm_16bit_big_endian():
    data = struct.pack(">6H", 0, 1000, 65535, 42, 7, 300)
    payload = b"P6\n2 1\n65535\n" + data
    arr = C.decode_ppm(payload)
    assert arr.dtype == np.dtype(">u2") or arr.dtype == np.uint16
    assert arr[0, 0, 2] == 65535 and arr[0, 1, 2] == 300


def test_bmp_round_trip_row_padding_and_topdown():
    # width 5 -> 15 data bytes/row, padded to 16: alignment exercised
    img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    assert np.array_equal(C.decode_bmp(C.encode_bmp(img)), img)
    # top-down variant (negative height) decodes without the flip
    payload = bytearray(C.encode_bmp(img))
    h = struct.unpack_from("<i", payload, 22)[0]
    struct.pack_into("<i", payload, 22, -h)
    flipped = C.decode_bmp(bytes(payload))
    assert np.array_equal(flipped, img[::-1])


def test_ppm_stream_video():
    frames = rng.integers(0, 256, (4, 3, 3, 3), dtype=np.uint8)
    assert np.array_equal(
        C.decode_ppm_stream(C.encode_ppm_stream(frames)), frames
    )


def test_compressed_boundaries_raise():
    # this container has Pillow/soundfile/pyav absent, so the typed
    # boundary must fire even after the optional-adapter ensure pass
    # (PNG/GIF/baseline+progressive+lossless-JPEG now decode in-repo —
    # ARITHMETIC-coded JPEG (SOF9) is the remaining image boundary)
    sof9 = (b"\xff\xd8" + b"\xff\xc9" + b"\x00\x0b"
            + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00" + b"\xff\xd9")
    with pytest.raises(NotImplementedError):
        C.sniff_and_decode(sof9, "image")
    with pytest.raises(NotImplementedError):
        C.sniff_and_decode(b"ID3\x04...", "audio")
    with pytest.raises(NotImplementedError):
        C.sniff_and_decode(b"\x00\x00\x00\x18ftypmp42", "video")


def test_codec_registry_dispatch_and_removal():
    """A registered adapter takes over its magic bytes (exactly what the
    Pillow adapter does when importable); unregistering restores the
    typed boundary. Built-in codecs keep winning their own magics."""
    jpeg_magic = b"\xff\xd8\xff\xe0fakejpegpayload"
    calls = []

    def sniff(p):
        return p[:3] == b"\xff\xd8\xff"

    def decode(p):
        calls.append(len(p))
        return np.zeros((2, 2, 3), dtype=np.uint8)

    # prepend: the in-repo baseline-JPEG codec also sniffs this magic
    C.register_codec("image", "fake-jpeg", sniff, decode, prepend=True)
    try:
        out = C.sniff_and_decode(jpeg_magic, "image")
        assert out.shape == (2, 2, 3) and calls == [len(jpeg_magic)]
        assert "fake-jpeg" in C.registered_codecs("image")
        # built-in numpy tier still owns uncompressed magics
        img = rng.integers(0, 256, (3, 4, 3), dtype=np.uint8)
        assert np.array_equal(
            C.sniff_and_decode(C.encode_ppm(img), "image"), img
        )
        # re-register replaces, never duplicates
        C.register_codec("image", "fake-jpeg", sniff, decode, prepend=True)
        assert C.registered_codecs("image").count("fake-jpeg") == 1
    finally:
        C.unregister_codec("image", "fake-jpeg")
    assert "fake-jpeg" not in C.registered_codecs("image")
    # with the adapter gone, an ARITHMETIC-coded (SOF9) stream hits the
    # in-repo decoder's typed boundary (and would fall through to
    # Pillow on a real cluster)
    sof9 = (b"\xff\xd8" + b"\xff\xc9" + b"\x00\x0b"
            + b"\x08\x00\x08\x00\x08\x01\x01\x11\x00" + b"\xff\xd9")
    with pytest.raises(NotImplementedError, match="Pillow"):
        C.sniff_and_decode(sof9, "image")


def test_optional_adapter_registration_reports_environment():
    """register_optional_codecs returns exactly the adapters whose
    libraries import in THIS environment (none in the sandbox; pillow/
    soundfile/pyav on a provisioned cluster) and is idempotent."""
    added = C.register_optional_codecs()
    have = []
    for mod, name in (("PIL", "pillow"), ("soundfile", "soundfile"),
                      ("av", "pyav")):
        try:
            __import__(mod)
            have.append(name)
        except ImportError:
            pass
    assert sorted(added) == sorted(have)
    assert C.register_optional_codecs() == added  # idempotent
    for name in have:
        mod = {"pillow": "image", "soundfile": "audio", "pyav": "video"}[name]
        assert C.registered_codecs(mod).count(name) == 1


def test_real_decode_spark_end_to_end(spark):
    from pyhctsa_spark.operators.multimodal import (
        extract_media_features,
        sample_video_frames,
        synth_real_media_df,
    )

    media = synth_real_media_df(spark, 12)
    feats = extract_media_features(media, use_real_codecs=True).collect()
    assert len(feats) == 12
    by_mod = {r.modality: r for r in feats}
    # audio decodes to [-1, 1] floats; images to 0..255
    assert abs(by_mod["audio"].mean) < 1.0
    assert 0 <= by_mod["image"].mean <= 255
    frames = sample_video_frames(media, every_k=4, use_real_codecs=True)
    fr = frames.collect()
    assert len(fr) == 4 * 3  # 4 video items x ceil(12/4) frames
    assert all(np.isfinite(r.f_mean) for r in fr)


def test_real_golden_matches_spec_script(spark):
    """The committed golden regenerates bit-identically from the spec
    AND the Spark engine path reproduces it."""
    import subprocess

    r = subprocess.run(
        [sys.executable, "scripts/gen_media_real_golden.py", "--check"],
        capture_output=True, text=True, cwd=dirname(dirname(abspath(__file__))),
    )
    assert r.returncode == 0, r.stdout + r.stderr

    import pandas as pd

    import __spark_entry__ as em

    got = (
        em.queries()["media_real_decode"](spark, "/root/testdata/sf0.001")
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    want = (
        pd.read_parquet("tests/golden/media_real_48.parquet")
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    for col in want.columns:
        if want[col].dtype == object:
            assert (got[col] == want[col]).all(), col
        else:
            np.testing.assert_allclose(
                got[col].to_numpy(dtype=float),
                want[col].to_numpy(dtype=float),
                atol=2e-6, err_msg=col,
            )


# --- hypothesis property fuzz: every uncompressed codec round-trips ---------
from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 12), w=st.integers(1, 12),
    seed=st.integers(0, 2**31 - 1),
)
def test_hyp_image_round_trips(h, w, seed):
    img = np.random.default_rng(seed).integers(0, 256, (h, w, 3),
                                               dtype=np.uint8)
    assert np.array_equal(C.decode_ppm(C.encode_ppm(img)), img)
    assert np.array_equal(C.decode_bmp(C.encode_bmp(img)), img)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 400), ch=st.integers(1, 3),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_hyp_wav_round_trips(n, ch, rate, seed):
    rng = np.random.default_rng(seed)
    shape = n if ch == 1 else (n, ch)
    x = np.clip(rng.standard_normal(shape) * 0.5, -1, 1)
    dec, r = C.decode_wav(C.encode_wav(x, rate))
    assert r == rate
    want = np.clip(np.round(x * 32767), -32768, 32767) / 32768
    assert np.allclose(dec, want, atol=1e-6)
    assert dec.shape == x.shape


@settings(max_examples=25, deadline=None)
@given(
    f=st.integers(1, 6), h=st.integers(1, 6), w=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
def test_hyp_video_stream_round_trips(f, h, w, seed):
    frames = np.random.default_rng(seed).integers(
        0, 256, (f, h, w, 3), dtype=np.uint8)
    assert np.array_equal(
        C.decode_ppm_stream(C.encode_ppm_stream(frames)), frames)


# ---------------------------------------------------------------------------
# G.711 mu-law / A-law and IMA ADPCM (compressed telephony audio)
# ---------------------------------------------------------------------------

def test_g711_tables_match_published_values():
    from pyhctsa_spark.operators.codecs import ALAW_TABLE, ULAW_TABLE

    # canonical spot values from the ITU-T G.711 tables
    assert ULAW_TABLE[0x00] == -32124 and ULAW_TABLE[0x80] == 32124
    assert ULAW_TABLE[0xFF] == 0 and ULAW_TABLE[0x7F] == 0
    assert ALAW_TABLE[0x55] == -8 and ALAW_TABLE[0xD5] == 8
    assert ALAW_TABLE[0x2A] == -32256 and ALAW_TABLE[0xAA] == 32256
    # both tables are odd-symmetric under the sign bit
    import numpy as np
    u = np.arange(128)
    assert (ULAW_TABLE[u] == -ULAW_TABLE[u | 0x80]).all()
    assert (ALAW_TABLE[u] == -ALAW_TABLE[u | 0x80]).all()


def test_g711_wav_roundtrip_and_registry_dispatch():
    import numpy as np

    from pyhctsa_spark.operators.codecs import (
        ALAW_TABLE, ULAW_TABLE, decode_wav, encode_wav_g711,
        sniff_and_decode,
    )

    rng = np.random.default_rng(11)
    codes = rng.integers(0, 256, 320).astype(np.uint8)
    for law, table in (("ulaw", ULAW_TABLE), ("alaw", ALAW_TABLE)):
        payload = encode_wav_g711(codes, law, 8000)
        x, rate = decode_wav(payload)
        assert rate == 8000
        assert np.array_equal(x, table[codes].astype(np.float32) / 32768.0)
        # the registry routes compressed-WAV through the same wav codec
        assert np.array_equal(sniff_and_decode(payload, "audio"), x)


def test_ima_adpcm_decode_known_sequence():
    import numpy as np

    from pyhctsa_spark.operators.codecs import ima_adpcm_decode_block

    # hand-replayed: predictor 0, index 0 (step 7)
    # nibble 0x0 -> diff 0 (7>>3), predictor 0, index -1 -> 0
    # nibble 0x7 -> diff 0+7+3+1=11 wait: step>>3=0; |4 adds 7; |2 adds 3;
    #   |1 adds 1 -> 11? exact replay below
    out = ima_adpcm_decode_block(bytes([0x70]), 0, 0)
    # byte 0x70: low nibble 0 first, then high nibble 7
    step = 7
    d0 = step >> 3                         # nibble 0 -> +0
    d7 = (step >> 3) + step + (step >> 1) + (step >> 2)   # nibble 7
    assert list(out) == [0, d0, d0 + d7]


def test_ima_adpcm_saturates_and_clamps_index():
    import numpy as np

    from pyhctsa_spark.operators.codecs import ima_adpcm_decode_block

    # all-positive max nibbles from a high predictor must clamp at 32767
    out = ima_adpcm_decode_block(b"\x77" * 40, 32000, 88)
    assert out.max() == 32767
    # all-negative max nibbles must clamp at -32768
    out = ima_adpcm_decode_block(b"\xff" * 40, -32000, 88)
    assert out.min() == -32768


def test_adpcm_wav_container_roundtrip():
    import numpy as np

    from pyhctsa_spark.operators.codecs import (
        decode_wav, encode_wav_ima_adpcm, ima_adpcm_decode_block,
    )

    rng = np.random.default_rng(12)
    blocks = []
    for b in range(3):
        blocks.append((
            int(rng.integers(-8000, 8000)),
            int(rng.integers(0, 89)),
            rng.integers(0, 256, 252).astype(np.uint8).tobytes(),
        ))
    payload = encode_wav_ima_adpcm(blocks, block_align=256, sample_rate=8000)
    x, rate = decode_wav(payload)
    want = np.concatenate([
        ima_adpcm_decode_block(body, p, i) for p, i, body in blocks
    ]).astype(np.float32) / 32768.0
    assert rate == 8000 and np.array_equal(x, want)
    assert len(x) == 3 * (1 + 2 * 252)


def test_media_audio_golden_is_current():
    # the committed golden parquet must equal a fresh spec-side replay
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "scripts/gen_media_audio_golden.py", "--check"],
        capture_output=True, text=True, cwd=dirname(dirname(abspath(__file__))),
    )
    assert r.returncode == 0, r.stdout + r.stderr


# ---------------------------------------------------------------------------
# MJPEG-in-AVI (compressed video container, in-repo)
# ---------------------------------------------------------------------------

def _mjpeg_frames(n=4, size=16):
    import numpy as np

    base = np.linspace(0, 255, size * size).reshape(size, size)
    gray = np.stack(
        [np.clip(base + 10 * k, 0, 255) for k in range(n)]
    ).astype(np.uint8)
    return np.stack([np.stack([f, f, f], axis=-1) for f in gray])


def test_avi_container_slicing_is_exact():
    # the container walk must return the embedded JPEG blobs verbatim
    from pyhctsa_spark.operators.codecs import avi_mjpeg_frames, encode_avi_mjpeg
    from pyhctsa_spark.operators.codecs_jpeg import encode_jpeg

    frames = _mjpeg_frames()
    payload = encode_avi_mjpeg(frames, quality=95, fps=5)
    assert avi_mjpeg_frames(payload) == [
        encode_jpeg(f, quality=95) for f in frames
    ]


def test_avi_mjpeg_decode_matches_per_frame_jpeg():
    import numpy as np

    from pyhctsa_spark.operators.codecs import decode_avi_mjpeg, encode_avi_mjpeg
    from pyhctsa_spark.operators.codecs_jpeg import decode_jpeg, encode_jpeg

    frames = _mjpeg_frames()
    out = decode_avi_mjpeg(encode_avi_mjpeg(frames, quality=95))
    want = np.stack([decode_jpeg(encode_jpeg(f, quality=95)) for f in frames])
    assert np.array_equal(out, want)
    assert out.shape == (4, 16, 16, 3)
    # smooth content at q95: near-lossless reconstruction
    assert np.abs(out.astype(int) - frames.astype(int)).max() <= 2


def test_avi_registry_dispatch_and_boundaries():
    import numpy as np
    import pytest

    from pyhctsa_spark.operators.codecs import (
        decode_avi_mjpeg, encode_avi_mjpeg, sniff_and_decode,
    )

    payload = encode_avi_mjpeg(_mjpeg_frames())
    assert np.array_equal(
        sniff_and_decode(payload, "video"), decode_avi_mjpeg(payload)
    )
    with pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")  # not AVI
    # a non-JPEG frame chunk is the typed not-MJPEG boundary
    import struct

    fake = b"\x00" * 10
    movi = b"LIST" + struct.pack("<I", 4 + 8 + len(fake)) + b"movi" \
        + b"00dc" + struct.pack("<I", len(fake)) + fake
    avi = b"RIFF" + struct.pack("<I", 4 + len(movi)) + b"AVI " + movi
    with pytest.raises(NotImplementedError):
        decode_avi_mjpeg(avi)


def test_ima_adpcm_partial_final_block_truncated():
    # a zero-padded final partial block must not decode phantom samples:
    # wSamplesPerBlock + fact bound the output
    import numpy as np

    from pyhctsa_spark.operators.codecs import (
        decode_wav, encode_wav_ima_adpcm, ima_adpcm_decode_block,
    )

    rng = np.random.default_rng(13)
    full = rng.integers(0, 256, 12).astype(np.uint8).tobytes()
    # second block: only 5 real samples, rest of the body is padding
    partial = rng.integers(0, 256, 2).astype(np.uint8).tobytes() + b"\x00" * 10
    spb = 1 + 2 * 12
    total = spb + 5
    payload = encode_wav_ima_adpcm(
        [(100, 10, full), (-50, 3, partial)], block_align=16,
        total_samples=total,
    )
    x, _rate = decode_wav(payload)
    assert len(x) == total
    want = np.concatenate([
        ima_adpcm_decode_block(full, 100, 10),
        ima_adpcm_decode_block(partial, -50, 3)[:5],
    ]).astype(np.float32) / 32768.0
    assert np.array_equal(x, want)


def test_ima_adpcm_stereo_decode():
    # stereo layout: per-channel 4-byte headers, then 4-byte nibble
    # groups round-robin across channels; each channel's state stream
    # must equal a mono decode of its own regrouped bytes
    import struct

    import numpy as np

    from pyhctsa_spark.operators.codecs import (
        _wav_container, decode_wav, ima_adpcm_decode_block,
    )

    rng = np.random.default_rng(17)
    n_groups = 6
    ch_bytes = [
        rng.integers(0, 256, 4 * n_groups).astype(np.uint8).tobytes()
        for _ in range(2)
    ]
    heads = [(1200, 30), (-700, 55)]
    block = b"".join(struct.pack("<hBB", p, i, 0) for p, i in heads)
    for g in range(n_groups):
        for c in range(2):
            block += ch_bytes[c][4 * g : 4 * g + 4]
    spb = 1 + 2 * 4 * n_groups
    ext = struct.pack("<HH", 2, spb)
    payload = _wav_container(0x11, 2, 8000, len(block), 4, block,
                             ext=ext, fact_samples=spb)
    x, rate = decode_wav(payload)
    assert rate == 8000 and x.shape == (spb, 2)
    for c in range(2):
        want = ima_adpcm_decode_block(
            ch_bytes[c], heads[c][0], heads[c][1]
        ).astype(np.float32) / 32768.0
        assert np.array_equal(x[:, c], want)


def test_ima_adpcm_stereo_fact_truncation():
    import struct

    import numpy as np

    from pyhctsa_spark.operators.codecs import _wav_container, decode_wav

    rng = np.random.default_rng(18)
    block = struct.pack("<hBB", 0, 0, 0) + struct.pack("<hBB", 10, 5, 0)
    block += rng.integers(0, 256, 8).astype(np.uint8).tobytes()
    payload = _wav_container(0x11, 2, 8000, len(block), 4, block,
                             fact_samples=3)
    x, _ = decode_wav(payload)
    assert x.shape == (3, 2)
