"""FLAC codec (operators/codecs_flac.py): lossless round trips through
the fixture encoder (verbatim/constant/fixed subframes, Rice
residuals), hand-built streams for the decoder paths the encoder never
emits (LPC, stereo decorrelation, wasted bits, Rice escape), CRC
verification, and registry dispatch."""

import pathlib
import struct

import numpy as np
import pytest

from pyhctsa_spark.operators import codecs as C
from pyhctsa_spark.operators.codecs_flac import (
    _Bits, _BitsW, _crc8, _crc16, decode_flac, decode_flac_int,
    encode_flac,
)

REPO = pathlib.Path(__file__).resolve().parents[1]


@pytest.mark.parametrize("mode", ["verbatim", "fixed0", "fixed1", "fixed2"])
def test_roundtrip_modes(mode):
    rng = np.random.default_rng(0)
    for n in (16, 192, 1000, 5000):
        x = (np.sin(np.linspace(0, 50, n)) * 20000
             + rng.integers(-500, 500, n)).astype(np.int32)
        y, rate, bps = decode_flac_int(encode_flac(x, 8000, mode=mode))
        assert rate == 8000 and bps == 16
        assert np.array_equal(x, y)


def test_roundtrip_constant_stereo_and_float_contract():
    rng = np.random.default_rng(1)
    c = np.full(500, -1234, np.int32)
    assert np.array_equal(
        decode_flac_int(encode_flac(c, mode="constant"))[0], c)
    st = np.stack([rng.integers(-30000, 30000, 700),
                   rng.integers(-30000, 30000, 700)], axis=1).astype(np.int32)
    assert np.array_equal(decode_flac_int(encode_flac(st))[0], st)
    f, _rate = decode_flac(
        encode_flac(np.array([16384, -16384, 0], np.int32), mode="verbatim"))
    assert np.allclose(f, [0.5, -0.5, 0.0])


def test_fixed_predictor_actually_compresses():
    smooth = (np.sin(np.linspace(0, 20, 5000)) * 20000).astype(np.int32)
    assert len(encode_flac(smooth, mode="fixed2")) < \
        len(encode_flac(smooth, mode="verbatim")) / 5


def test_registry_dispatch():
    x = np.arange(-100, 100, dtype=np.int32) * 50
    payload = encode_flac(x, mode="fixed1")
    got = C.sniff_and_decode(payload, "audio")
    assert np.array_equal(got, x.astype(np.float32) / 32768.0)


def test_crc_corruption_detected():
    payload = bytearray(encode_flac(np.arange(300, dtype=np.int32)))
    payload[-3] ^= 0x40  # flip a bit in the last frame's body
    with pytest.raises(ValueError, match="CRC"):
        decode_flac_int(bytes(payload))


def _stream(n_ch: int, bps: int, total: int, frames: bytes) -> bytes:
    info = struct.pack(">HH", 16, 65535) + b"\x00\x00\x00" * 2
    info += ((8000 << 44) | ((n_ch - 1) << 41) | ((bps - 1) << 36)
             | total).to_bytes(8, "big")
    info += b"\x00" * 16
    return (b"fLaC" + bytes([0x80]) + len(info).to_bytes(3, "big")
            + info + frames)


def _frame_header(blocksize: int, chan_code: int,
                  bps_code: int = 0b100) -> bytearray:
    hdr = _BitsW()
    hdr.write(0b11111111111110, 14)
    hdr.write(0, 2)
    hdr.write(0b0110, 4)      # 8-bit blocksize-1 follows
    hdr.write(0, 4)           # rate from STREAMINFO
    hdr.write(chan_code, 4)
    hdr.write(bps_code, 3)
    hdr.write(0, 1)
    hdr.write(0, 8)           # frame number 0
    hdr.write(blocksize - 1, 8)
    hdr.align()
    out = bytearray(hdr.buf)
    out.append(_crc8(bytes(out)))
    return out


def _finish_frame(frame: bytearray, body: _BitsW) -> bytes:
    body.align()
    frame += body.buf
    frame += _crc16(bytes(frame)).to_bytes(2, "big")
    return bytes(frame)


def test_hand_built_lpc_subframe():
    # order-2 LPC, coefficients [3, -1], shift 1, precision 5:
    # s[i] = res[i] + (3*s[i-1] - s[i-2]) >> 1
    warm = [100, 110]
    res = [3, -2, 5, 0, -7, 4, 1, -1, 2, 0, 6, -3, 2, 1]
    n = len(warm) + len(res)
    body = _BitsW()
    body.write(0, 1)
    body.write(32 + 1, 6)     # LPC order 2 -> type 100001
    body.write(0, 1)          # no wasted bits
    for v in warm:
        body.write_signed(v, 16)
    body.write(5 - 1, 4)      # precision 5
    body.write_signed(1, 5)   # shift 1
    body.write_signed(3, 5)
    body.write_signed(-1, 5)
    body.write(0, 2)          # rice 4-bit
    body.write(0, 4)          # partition order 0
    body.write(2, 4)          # rice param 2
    for v in res:
        u = (abs(v) << 1) - (1 if v < 0 else 0)
        body.write_unary(u >> 2)
        body.write(u & 3, 2)
    payload = _stream(1, 16, n, _finish_frame(_frame_header(n, 0), body))
    got, _rate, _bps = decode_flac_int(payload)
    want = list(warm)
    for r in res:
        want.append(r + ((3 * want[-1] - want[-2]) >> 1))
    assert list(got) == want


def _verbatim_subframe(body: _BitsW, samples, bps: int) -> None:
    body.write(0, 1)
    body.write(1, 6)
    body.write(0, 1)
    for v in samples:
        body.write_signed(int(v), bps)


@pytest.mark.parametrize("chan_code", [8, 9, 10])
def test_hand_built_stereo_decorrelation(chan_code):
    left = np.array([100, -50, 31, 7, -128, 4000, 5, -3, 17, 0,
                     25, -99, 64, 2, -2, 1], dtype=np.int64)
    right = np.array([90, -60, 30, -7, 100, -4000, 5, 3, -17, 1,
                      20, 99, -64, 0, 2, -1], dtype=np.int64)
    n = len(left)
    side = left - right
    body = _BitsW()
    if chan_code == 8:      # left/side
        _verbatim_subframe(body, left, 16)
        _verbatim_subframe(body, side, 17)
    elif chan_code == 9:    # side/right
        _verbatim_subframe(body, side, 17)
        _verbatim_subframe(body, right, 16)
    else:                   # mid/side
        mid = (left + right) >> 1
        _verbatim_subframe(body, mid, 16)
        _verbatim_subframe(body, side, 17)
    payload = _stream(
        2, 16, n, _finish_frame(_frame_header(n, chan_code), body))
    got, _rate, _bps = decode_flac_int(payload)
    assert np.array_equal(got[:, 0], left)
    assert np.array_equal(got[:, 1], right)


def test_hand_built_wasted_bits_and_rice_escape():
    # samples are multiples of 4 -> 2 wasted bits; residual partition
    # uses the raw-bits escape (param 0b1111, 6-bit values)
    vals = np.array([4, -8, 12, 0, -4, 16, 8, -12, 4, 0, 20, -16,
                     8, 4, -4, 12], dtype=np.int64)
    n = len(vals)
    body = _BitsW()
    body.write(0, 1)
    body.write(1, 6)          # VERBATIM
    body.write(1, 1)          # wasted-bits flag
    body.write_unary(1)       # wasted = 1 + 1 = 2
    for v in vals >> 2:
        body.write_signed(int(v), 14)  # bps 16 - 2 wasted
    frame = _finish_frame(_frame_header(n, 0), body)
    got, _rate, _bps = decode_flac_int(_stream(1, 16, n, frame))
    assert np.array_equal(got, vals)

    # escape-coded FIXED order-0 residual
    res = np.array([-31, 17, 0, 25, -2, 8, 1, -30, 5, 9, -9, 3,
                    2, -1, 0, 7], dtype=np.int64)
    body = _BitsW()
    body.write(0, 1)
    body.write(8, 6)          # FIXED order 0
    body.write(0, 1)
    body.write(0, 2)          # rice 4-bit params
    body.write(0, 4)          # partition order 0
    body.write(0b1111, 4)     # escape
    body.write(6, 5)          # 6 raw bits per value
    for v in res:
        body.write_signed(int(v), 6)
    frame = _finish_frame(_frame_header(len(res), 0), body)
    got, _rate, _bps = decode_flac_int(_stream(1, 16, len(res), frame))
    assert np.array_equal(got, res)


def test_media_flac_golden_is_current():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "scripts/gen_media_flac_golden.py", "--check"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stdout + r.stderr


def test_many_frames_coded_number_roundtrip():
    # frame numbers past the 2-byte UTF-8 range (>= 2048 frames) must
    # still round-trip; regression for the coded-number overflow
    x = np.arange(33600, dtype=np.int32) % 251 - 125
    y, _rate, _bps = decode_flac_int(encode_flac(x, block_size=16))
    assert np.array_equal(y, x)


def test_truncated_at_frame_boundary_raises():
    x = np.arange(1000, dtype=np.int32)
    payload = encode_flac(x, block_size=256, mode="verbatim")
    # find the start of the last frame (sync FF F8) and cut there
    cut = payload.rfind(b"\xff\xf8")
    assert cut > 0
    with pytest.raises(ValueError, match="truncated"):
        decode_flac_int(payload[:cut])


def test_empty_stream_roundtrip():
    y, rate, bps = decode_flac_int(encode_flac(np.zeros(0, np.int32)))
    assert y.shape == (0,) and rate == 8000
