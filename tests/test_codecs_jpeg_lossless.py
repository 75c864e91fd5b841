"""Lossless JPEG (SOF3, T.81 Annex H) — the contract is exactness:
decode(encode(img)) must equal the input bit-for-bit for every
predictor, precision and component count, because the format has no
quantization. A hand-built two-sample stream pins the wire format
independent of the encoder."""

import pathlib

import numpy as np
import pytest

from pyhctsa_spark.operators.codecs_jpeg import decode_jpeg
from pyhctsa_spark.operators.codecs_jpeg_lossless import (
    decode_jpeg_lossless,
    encode_jpeg_lossless,
)

REPO = pathlib.Path(__file__).resolve().parents[1]
RNG = np.random.default_rng(20260818)


@pytest.mark.parametrize("predictor", range(1, 8))
def test_round_trip_exact_every_predictor(predictor):
    img = RNG.integers(0, 256, (19, 23), dtype=np.uint8)
    out = decode_jpeg_lossless(encode_jpeg_lossless(img, predictor=predictor))
    assert out.dtype == np.uint8
    assert np.array_equal(out, img)


def test_round_trip_rgb_and_16bit_extremes():
    rgb = RNG.integers(0, 256, (11, 9, 3), dtype=np.uint8)
    assert np.array_equal(
        decode_jpeg_lossless(encode_jpeg_lossless(rgb, predictor=4)), rgb
    )
    img16 = RNG.integers(0, 65536, (13, 7), dtype=np.uint16)
    # force the ssss=16 (diff == -32768 mod 2^16) path and both rails
    img16[0, 1] = 65535
    img16[0, 2] = 0
    img16[1, 0] = 65535
    out = decode_jpeg_lossless(encode_jpeg_lossless(img16, predictor=6))
    assert out.dtype == np.uint16
    assert np.array_equal(out, img16)


def test_round_trip_12bit_and_1x1():
    img12 = RNG.integers(0, 4096, (7, 7), dtype=np.uint16)
    assert np.array_equal(
        decode_jpeg_lossless(
            encode_jpeg_lossless(img12, precision=12, predictor=7)
        ),
        img12,
    )
    one = np.array([[200]], dtype=np.uint8)
    assert np.array_equal(decode_jpeg_lossless(encode_jpeg_lossless(one)), one)


def test_point_transform_drops_exactly_al_bits():
    img = RNG.integers(0, 256, (8, 8), dtype=np.uint8)
    out = decode_jpeg_lossless(
        encode_jpeg_lossless(img, predictor=2, point_transform=2)
    )
    assert np.array_equal(out, (img >> 2) << 2)
    # P is the ORIGINAL precision: an 8-bit image stays uint8 even with
    # a point transform (re-shifted samples fit 8 bits by definition)
    assert out.dtype == np.uint8


def test_decode_jpeg_dispatches_sof3():
    img = RNG.integers(0, 256, (6, 5), dtype=np.uint8)
    assert np.array_equal(decode_jpeg(encode_jpeg_lossless(img)), img)


def test_hand_built_two_sample_stream():
    # 1x2 gray, precision 8, predictor 1: first sample default=128,
    # stream encodes diffs +2 then -3 with the fixed 5-bit table
    # (ssss codes 0..16 canonical at length 5). ssss(2)=2 code=00010,
    # bits '10'; ssss(3)=2 -> -3 encoded as 00 at ssss=2: v = -3+3 = 0.
    from pyhctsa_spark.operators.codecs_jpeg_lossless import (
        _FIX_BITS,
        _FIX_VALS,
    )
    from pyhctsa_spark.operators.codecs_jpeg import (
        _BitWriter,
        build_huffman_encoder,
    )
    import struct

    enc = build_huffman_encoder(_FIX_BITS, _FIX_VALS)
    bw = _BitWriter()
    c, ln = enc[2]
    bw.write(c, ln)
    bw.write(0b10, 2)  # +2
    bw.write(c, ln)
    bw.write(0b00, 2)  # -3
    bw.flush()

    def seg(marker, body):
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    dht = bytes([0x00]) + bytes(_FIX_BITS) + bytes(_FIX_VALS)
    sof = bytes([8]) + struct.pack(">HH", 1, 2) + bytes([1, 1, 0x11, 0])
    sos = bytes([1, 1, 0x00, 1, 0, 0])
    payload = (
        b"\xff\xd8" + seg(0xC4, dht) + seg(0xC3, sof) + seg(0xDA, sos)
        + bytes(bw.out) + b"\xff\xd9"
    )
    out = decode_jpeg_lossless(payload)
    assert out.tolist() == [[130, 127]]


def test_typed_boundaries():
    img = RNG.integers(0, 256, (4, 4), dtype=np.uint8)
    payload = bytearray(encode_jpeg_lossless(img))
    # splice in a DRI segment with a nonzero interval before SOS
    sos_at = payload.find(b"\xff\xda")
    dri = b"\xff\xdd\x00\x04\x00\x08"
    with pytest.raises(NotImplementedError, match="restart"):
        decode_jpeg_lossless(
            bytes(payload[:sos_at]) + dri + bytes(payload[sos_at:])
        )
    with pytest.raises(ValueError, match="predictor"):
        encode_jpeg_lossless(img, predictor=9)
    with pytest.raises(ValueError, match="precision"):
        encode_jpeg_lossless(img.astype(np.uint16) * 257, precision=8)


def test_media_jpegls_golden_is_current():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "scripts/gen_media_jpegls_golden.py", "--check"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stdout + r.stderr
