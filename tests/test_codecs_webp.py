"""WebP VP8L codec (operators/codecs_webp.py): lossless round trips
through the fixture encoder (all encoder-side transforms, palette
bundling widths, alpha), hand-built streams for the decoder paths the
encoder never emits (color cache, LZ77 backward refs with both 2D-plane
and direct distances, meta-prefix group selection, COLOR transform,
code-length repeat codes 16/17/18, max-symbol cap), the derived
code-to-plane table vs the spec's published head, registry dispatch,
typed failure modes, wire-format byte stability, and golden currency."""

import hashlib
import pathlib
import struct

import numpy as np
import pytest

from pyhctsa_spark.operators import codecs as C
from pyhctsa_spark.operators.codecs_webp import (
    _BitWriter,
    _cache_index,
    _canonical_codes,
    _CL_ORDER,
    _write_prefix_code,
    code_to_plane_table,
    decode_webp,
    encode_webp_lossless,
)

REPO = pathlib.Path(__file__).resolve().parents[1]


def _rgb(i: int, h: int, w: int, ch: int = 3) -> np.ndarray:
    rng = np.random.default_rng(i)
    return rng.integers(0, 256, (h, w, ch)).astype(np.uint8)


# --------------------------------------------------------------------------
# fixture-encoder round trips
# --------------------------------------------------------------------------


@pytest.mark.parametrize("h,w", [(1, 1), (1, 17), (13, 1), (9, 11), (16, 16)])
def test_roundtrip_plain_shapes(h, w):
    img = _rgb(h * 100 + w, h, w)
    assert np.array_equal(decode_webp(encode_webp_lossless(img)), img)


def test_roundtrip_subtract_green():
    img = _rgb(7, 10, 12)
    got = decode_webp(encode_webp_lossless(img, subtract_green=True))
    assert np.array_equal(got, img)


@pytest.mark.parametrize("mode", list(range(14)))
def test_roundtrip_predictor_modes(mode):
    img = _rgb(40 + mode, 11, 9)
    got = decode_webp(encode_webp_lossless(img, predictor_mode=mode))
    assert np.array_equal(got, img)
    # stacked: subtract-green then predictor (decoder inverts in reverse)
    got2 = decode_webp(
        encode_webp_lossless(img, subtract_green=True, predictor_mode=mode)
    )
    assert np.array_equal(got2, img)


@pytest.mark.parametrize("ncol", [2, 3, 4, 5, 16, 17, 37, 256])
def test_roundtrip_palette_all_bundling_widths(ncol):
    # widths 8/11 are not multiples of any bundling factor -> exercises
    # the padded-column repack for width_bits 3/2/1 and the plain path
    rng = np.random.default_rng(1000 + ncol)
    pal = rng.integers(0, 256, (ncol, 3)).astype(np.uint8)
    # force every palette color to appear so the palette is exactly ncol
    idx = np.concatenate(
        [np.arange(ncol), rng.integers(0, ncol, 16 * 17 - ncol)]
    ).reshape(16, 17)
    img = pal[idx]
    got = decode_webp(encode_webp_lossless(img, palette=True))
    assert np.array_equal(got, img)


def test_roundtrip_rgba_and_opaque_alpha_contract():
    img = _rgb(3, 7, 9, ch=4)
    img[0, 0, 3] = 5  # guarantee non-opaque
    got = decode_webp(encode_webp_lossless(img))
    assert got.shape == (7, 9, 4)
    assert np.array_equal(got, img)
    # fully-opaque RGBA: alpha flag off -> decoder returns RGB
    op = _rgb(4, 5, 6, ch=4)
    op[:, :, 3] = 255
    got = decode_webp(encode_webp_lossless(op))
    assert got.shape == (5, 6, 3)
    assert np.array_equal(got, op[:, :, :3])


def test_registry_dispatch():
    img = _rgb(11, 6, 6)
    got = C.sniff_and_decode(encode_webp_lossless(img), "image")
    assert np.array_equal(got, img)


def test_lossy_and_extended_raise_typed_boundary():
    for fourcc in (b"VP8 ", b"VP8X"):
        payload = (
            b"RIFF" + struct.pack("<I", 16) + b"WEBP" + fourcc
            + struct.pack("<I", 4) + b"\x00" * 4
        )
        with pytest.raises(NotImplementedError, match="Pillow"):
            decode_webp(payload)


def test_corrupt_payloads_raise_valueerror():
    good = encode_webp_lossless(_rgb(2, 4, 4))
    with pytest.raises(ValueError):
        decode_webp(b"JUNK" + good[4:])
    with pytest.raises(ValueError, match="truncated"):
        decode_webp(good[:-3])
    bad_sig = bytearray(good)
    bad_sig[20] = 0x30  # VP8L signature byte must be 0x2F
    with pytest.raises(ValueError, match="signature"):
        decode_webp(bytes(bad_sig))


# --------------------------------------------------------------------------
# derived distance map vs the spec's table
# --------------------------------------------------------------------------


def test_code_to_plane_head_matches_spec():
    # head of RFC 9649's code-to-plane table (libwebp kCodeToPlaneCodes
    # decodes to the same (dx, dy) sequence)
    assert code_to_plane_table()[:8] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    ]
    t = code_to_plane_table()
    assert len(t) == 120 and len(set(t)) == 120
    for dx, dy in t:
        assert (dy == 0 and 1 <= dx <= 8) or (1 <= dy <= 7 and -7 <= dx <= 8)


# --------------------------------------------------------------------------
# hand-built streams: decoder paths the fixture encoder never emits
# --------------------------------------------------------------------------


def _container(vp8l: bytes) -> bytes:
    riff_size = 4 + 8 + len(vp8l) + (len(vp8l) & 1)
    out = (b"RIFF" + struct.pack("<I", riff_size) + b"WEBP" + b"VP8L"
           + struct.pack("<I", len(vp8l)) + vp8l)
    return out + (b"\x00" if len(vp8l) & 1 else b"")


def _header(bw: _BitWriter, w: int, h: int, alpha: int = 0) -> None:
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(alpha, 1)
    bw.write(0, 3)


def test_hand_built_color_cache():
    # 2x1 image: literal pixel, then a color-cache hit for the same ARGB
    px = 0xFF0A141E  # a=255 r=10 g=20 b=30
    bw = _BitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)                  # no transforms
    bw.write(1, 1)                  # color cache present
    bw.write(4, 4)                  # cache_bits = 4
    bw.write(0, 1)                  # no meta-prefix
    cache_sym = 256 + 24 + _cache_index(px, 4)
    green = _write_prefix_code(bw, [20, cache_sym], 256 + 24 + 16)
    _write_prefix_code(bw, [10], 256)
    _write_prefix_code(bw, [30], 256)
    _write_prefix_code(bw, [255], 256)
    _write_prefix_code(bw, [0], 40)
    bw.write_code(*green[20])       # literal (r/b/a are 0-bit singles)
    bw.write_code(*green[cache_sym])
    got = decode_webp(_container(bw.getvalue()))
    assert np.array_equal(got, np.tile([10, 20, 30], (1, 2, 1)))


def test_hand_built_lz77_plane_distance():
    # 4x2: two literals, then a length-6 backward ref at distance 1 via
    # the 2D plane map (dist value 2 -> plane (1,0) -> distance 1)
    bw = _BitWriter()
    _header(bw, 4, 2)
    bw.write(0, 1)
    bw.write(0, 1)                  # no cache
    bw.write(0, 1)                  # no meta
    green = _write_prefix_code(bw, [2, 8, 256 + 4], 256 + 24)
    red = _write_prefix_code(bw, [1, 9], 256)
    blue = _write_prefix_code(bw, [3, 7], 256)
    _write_prefix_code(bw, [255], 256)
    _write_prefix_code(bw, [1], 40)  # dist symbol 1 -> value 2, no extra
    bw.write_code(*green[2])        # p0 = (1,2,3)
    bw.write_code(*red[1])
    bw.write_code(*blue[3])
    bw.write_code(*green[8])        # p1 = (9,8,7)
    bw.write_code(*red[9])
    bw.write_code(*blue[7])
    bw.write_code(*green[256 + 4])  # length code 4 + extra 1 -> 6
    bw.write(1, 1)
    got = decode_webp(_container(bw.getvalue()))
    want = np.array([[1, 2, 3]] + [[9, 8, 7]] * 7, np.uint8).reshape(2, 4, 3)
    assert np.array_equal(got, want)


def test_hand_built_lz77_direct_distance():
    # 3x3: two literals, then length-7 ref with dist CODE 121 (> 120 ->
    # direct distance 121 - 120 = 1)
    bw = _BitWriter()
    _header(bw, 3, 3)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    green = _write_prefix_code(bw, [50, 60, 256 + 5], 256 + 24)
    red = _write_prefix_code(bw, [4, 5], 256)
    _write_prefix_code(bw, [0], 256)
    _write_prefix_code(bw, [255], 256)
    _write_prefix_code(bw, [13], 40)  # value = 96 + extra + 1
    bw.write_code(*green[50])
    bw.write_code(*red[4])
    bw.write_code(*green[60])
    bw.write_code(*red[5])
    bw.write_code(*green[256 + 5])  # length code 5 + extra 0 -> 7
    bw.write(0, 1)
    bw.write(24, 5)                 # dist extra: 96 + 24 + 1 = 121
    got = decode_webp(_container(bw.getvalue()))
    want = np.array([[4, 50, 0]] + [[5, 60, 0]] * 8, np.uint8).reshape(3, 3, 3)
    assert np.array_equal(got, want)


def test_hand_built_meta_prefix_groups():
    # 8x4 with meta_bits=2 -> 2x1 huffman image selecting group 0 for
    # x<4 and group 1 for x>=4; every per-group code is a 0-bit single
    bw = _BitWriter()
    _header(bw, 8, 4)
    bw.write(0, 1)                  # no transforms
    bw.write(0, 1)                  # no cache
    bw.write(1, 1)                  # meta-prefix present
    bw.write(0, 3)                  # meta_bits = 2
    # huffman sub-image (2x1), group ids live in the green channel
    bw.write(0, 1)                  # sub-image: no cache
    g = _write_prefix_code(bw, [0, 1], 256 + 24)
    _write_prefix_code(bw, [0], 256)
    _write_prefix_code(bw, [0], 256)
    _write_prefix_code(bw, [255], 256)
    _write_prefix_code(bw, [0], 40)
    bw.write_code(*g[0])
    bw.write_code(*g[1])
    for green_val, red_val, blue_val in ((100, 5, 6), (200, 7, 8)):
        _write_prefix_code(bw, [green_val], 256 + 24)
        _write_prefix_code(bw, [red_val], 256)
        _write_prefix_code(bw, [blue_val], 256)
        _write_prefix_code(bw, [255], 256)
        _write_prefix_code(bw, [0], 40)
    # 32 pixels x 0 bits each: nothing more in the stream
    got = decode_webp(_container(bw.getvalue()))
    assert got.shape == (4, 8, 3)
    assert np.array_equal(got[:, :4], np.tile([5, 100, 6], (4, 4, 1)))
    assert np.array_equal(got[:, 4:], np.tile([7, 200, 8], (4, 4, 1)))


def test_hand_built_color_transform():
    # one 8x8 block (bits=3) covering a 2x2 image; cte bytes:
    # green_to_red=32 (blue byte), green_to_blue=64 (green byte),
    # red_to_blue=128 (red byte, int8 -128)
    cte = 0xFF000000 | (128 << 16) | (64 << 8) | 32
    pixels = [(10, 20, 30), (200, 130, 100), (0, 0, 0), (255, 255, 255)]
    bw = _BitWriter()
    _header(bw, 2, 2)
    bw.write(1, 1)                  # transform present
    bw.write(1, 2)                  # COLOR_TRANSFORM
    bw.write(3 - 2, 3)              # bits = 3
    bw.write(0, 1)                  # sub-image (1x1): no cache
    _write_prefix_code(bw, [(cte >> 8) & 0xFF], 256 + 24)
    _write_prefix_code(bw, [(cte >> 16) & 0xFF], 256)
    _write_prefix_code(bw, [cte & 0xFF], 256)
    _write_prefix_code(bw, [255], 256)
    _write_prefix_code(bw, [0], 40)
    bw.write(0, 1)                  # end of transforms
    bw.write(0, 1)                  # main: no cache
    bw.write(0, 1)                  # no meta
    green = _write_prefix_code(bw, sorted({p[1] for p in pixels}), 256 + 24)
    red = _write_prefix_code(bw, sorted({p[0] for p in pixels}), 256)
    blue = _write_prefix_code(bw, sorted({p[2] for p in pixels}), 256)
    _write_prefix_code(bw, [255], 256)
    _write_prefix_code(bw, [0], 40)
    for r, g, b in pixels:
        bw.write_code(*green[g])
        bw.write_code(*red[r])
        bw.write_code(*blue[b])
    got = decode_webp(_container(bw.getvalue()))
    # hand-computed: r' = r + (int8(32)*int8(g))>>5;
    # b' = b + (int8(64)*int8(g))>>5 + (int8(128)*int8(r'))>>5 (mod 256)
    want = np.array(
        [[(30, 20, 206), (74, 130, 64)], [(0, 0, 0), (254, 255, 5)]],
        np.uint8,
    )
    assert np.array_equal(got, want)


def test_hand_built_repeat16_and_max_symbol_cap():
    # green code over 280 symbols: lengths[0..7]=3 emitted as tokens
    # ["3", "3", repeat-16 x6] under a max-symbol cap of 3 tokens
    bw = _BitWriter()
    _header(bw, 8, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)                  # green: normal (not simple) code
    bw.write(19 - 4, 4)             # all 19 code-length slots
    for i in range(19):
        bw.write(1 if _CL_ORDER[i] in (3, 16) else 0, 3)
    # CL canonical over {3: len1, 16: len1}: 3 -> code 0, 16 -> code 1
    bw.write(1, 1)                  # max-symbol cap present
    bw.write(0, 3)                  # length_nbits = 2
    bw.write(1, 2)                  # max_symbol = 2 + 1 = 3 tokens
    bw.write_code(0, 1)             # "3"
    bw.write_code(0, 1)             # "3"
    bw.write_code(1, 1)             # "16": repeat prev len
    bw.write(3, 2)                  # extra -> repeat 6 (total 8 symbols)
    _write_prefix_code(bw, [77], 256)
    _write_prefix_code(bw, [88], 256)
    _write_prefix_code(bw, [255], 256)
    _write_prefix_code(bw, [0], 40)
    # canonical code with 8 symbols all length 3: symbol i -> code i
    for i in range(8):
        bw.write_code(i, 3)
    got = decode_webp(_container(bw.getvalue()))
    assert np.array_equal(got[0, :, 1], np.arange(8, dtype=np.uint8))
    assert np.all(got[0, :, 0] == 77) and np.all(got[0, :, 2] == 88)


def test_hand_built_repeat17_and_repeat18_zero_fills():
    # lengths[0]=1, zeros via repeat-17 (3) then repeat-18 (11),
    # lengths[15]=1; 4 tokens under a max-symbol cap of 4
    bw = _BitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)                  # not simple
    bw.write(0, 4)                  # num_cl = 4 -> slots 17, 18, 0, 1
    for ln in (2, 2, 0, 1):         # lengths for CL symbols 17, 18, 0, 1
        bw.write(ln, 3)
    # CL canonical: 1 -> (0, 1), 17 -> (2, 2), 18 -> (3, 2)
    bw.write(1, 1)                  # cap present
    bw.write(0, 3)                  # length_nbits = 2
    bw.write(2, 2)                  # max_symbol = 4 tokens
    bw.write_code(0, 1)             # "1" -> lengths[0] = 1
    bw.write_code(2, 2)             # "17"
    bw.write(0, 3)                  # 3 zeros (symbols 1-3)
    bw.write_code(3, 2)             # "18"
    bw.write(0, 7)                  # 11 zeros (symbols 4-14)
    bw.write_code(0, 1)             # "1" -> lengths[15] = 1
    _write_prefix_code(bw, [9], 256)
    _write_prefix_code(bw, [8], 256)
    _write_prefix_code(bw, [255], 256)
    _write_prefix_code(bw, [0], 40)
    bw.write_code(0, 1)             # green symbol 0
    bw.write_code(1, 1)             # green symbol 15
    got = decode_webp(_container(bw.getvalue()))
    assert list(got[0, :, 1]) == [0, 15]
    assert np.all(got[:, :, 0] == 9) and np.all(got[:, :, 2] == 8)


# --------------------------------------------------------------------------
# wire stability + golden currency
# --------------------------------------------------------------------------


def test_wire_byte_stability():
    # the encoder's emitted bytes are pinned: the decode goldens
    # (tests/golden/media_webp_16.parquet) recompute features from raw
    # content, so a silent encoder change would otherwise go unnoticed
    digests = {}
    img = _rgb(99, 9, 7)
    digests["plain"] = encode_webp_lossless(img)
    digests["sg_pred"] = encode_webp_lossless(
        img, subtract_green=True, predictor_mode=11
    )
    pal = _rgb(98, 3, 1).reshape(3, 3)
    digests["palette"] = encode_webp_lossless(
        pal[np.arange(60) % 3].reshape(6, 10, 3), palette=True
    )
    got = {k: hashlib.md5(v).hexdigest() for k, v in digests.items()}
    assert got == WIRE_MD5, got


WIRE_MD5 = {
    "plain": "7192752d4d4877c7384f5cff98274739",
    "sg_pred": "f023f632e0c542ad92aa4c7c8cad7b8f",
    "palette": "edcbf96581e9977478a1e1cd8ee7da49",
}


def test_media_webp_golden_is_current():
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "scripts/gen_media_webp_golden.py", "--check"],
        capture_output=True, text=True, cwd=REPO,
    )
    assert r.returncode == 0, r.stdout + r.stderr
