"""Multimodal columns: image/audio/video payloads as opaque BINARY with
typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side plumbing — schema, partitioning, UDF signatures, batch
shapes — is real and tested. The default decoder is a deterministic
stand-in (hash-seeded pseudo-pixels / samples with the declared shape)
for plumbing tests; ``use_real_codecs=True`` decodes through the codec
registry of operators/codecs.py — in-repo pure-numpy codecs (WAV, PNM,
BMP, PNG, GIF, JPEG, MJPEG AVI, FLAC, WebP) plus Pillow / soundfile /
pyav adapters where those libraries are installed — and raises
NotImplementedError for a container no registered codec recognizes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_id string, modality string, payload binary, "
    "meta map<string,string>"
)


def synth_media_df(spark, n: int = 32, partitions: int = 4) -> DataFrame:
    """Deterministic fake media table for plumbing tests: payload bytes
    are hash-derived, metadata carries the declared decode shape."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rng = np.random.default_rng(i)
                modality = ["image", "audio", "video"][i % 3]
                payload = rng.integers(0, 256, 64 + (i % 5) * 32, dtype=np.uint8)
                meta = {
                    "image": {"width": "8", "height": "8", "channels": "3"},
                    "audio": {"sample_rate": "16000", "n_samples": "256"},
                    "video": {"width": "8", "height": "8", "n_frames": "12"},
                }[modality]
                rows.append((f"m{i:06d}", modality, payload.tobytes(), meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload", "meta"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_real_media_df(spark, n: int = 32, partitions: int = 4) -> DataFrame:
    """Deterministic media table with REAL encoded payloads: 16-bit PCM
    WAV audio, binary PPM/BMP images, concatenated-P6 video streams —
    every payload decodes through the pure-numpy spec parsers in
    operators/codecs.py (use_real_codecs=True end-to-end)."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyhctsa_spark.operators.codecs import (
            encode_bmp,
            encode_ppm,
            encode_ppm_stream,
            encode_wav,
        )

        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rng = np.random.default_rng(1000 + i)
                modality = ["image", "audio", "video"][i % 3]
                if modality == "image":
                    img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
                    payload = encode_bmp(img) if i % 2 else encode_ppm(img)
                    meta = {"width": "8", "height": "8", "channels": "3"}
                elif modality == "audio":
                    x = np.sin(np.linspace(0, 20 + i, 256)) * 0.5
                    x += rng.standard_normal(256) * 0.05
                    payload = encode_wav(np.clip(x, -1, 1), 16000)
                    meta = {"sample_rate": "16000", "n_samples": "256"}
                else:
                    frames = rng.integers(0, 256, (12, 8, 8, 3), dtype=np.uint8)
                    payload = encode_ppm_stream(frames)
                    meta = {"width": "8", "height": "8", "n_frames": "12"}
                rows.append((f"r{i:06d}", modality, payload, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload", "meta"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_compressed_media_df(spark, n: int = 32, partitions: int = 4) -> DataFrame:
    """Deterministic media table with COMPRESSED payloads decodable by
    the in-repo spec codecs: PNG (RGB / gray / palette, rotating filter
    types and Adam7 interlace) and GIF (global color table, optional
    interlace) images, multi-frame GIF video, 16-bit PCM WAV audio.

    Content arrays are drawn from ``default_rng(3000 + i)`` in a fixed
    call order; because PNG and GIF are lossless, the decoded output
    equals that content exactly — which is what lets the golden oracle
    (scripts/gen_media_compressed_golden.py) recompute features from
    the SPEC-side content without importing the engine."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyhctsa_spark.operators.codecs import encode_wav
        from pyhctsa_spark.operators.codecs_compressed import (
            encode_gif,
            encode_png,
        )

        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rng = np.random.default_rng(3000 + i)
                modality = ["image", "audio", "video"][i % 3]
                if modality == "image":
                    variant = (i // 3) % 4
                    if variant == 0:  # PNG RGB
                        img = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
                        payload = encode_png(img, filter_type=(i // 12) % 5,
                                             interlace=(i // 6) % 2 == 1)
                    elif variant == 1:  # PNG grayscale, Paeth
                        img = rng.integers(0, 256, (8, 8), dtype=np.uint8)
                        payload = encode_png(img, filter_type=4)
                    elif variant == 2:  # PNG palette
                        pal = rng.integers(0, 256, (16, 3), dtype=np.uint8)
                        idx = rng.integers(0, 16, (8, 8), dtype=np.uint8)
                        payload = encode_png(idx, palette=pal)
                    else:  # GIF
                        pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
                        idx = rng.integers(0, 256, (8, 8), dtype=np.uint8)
                        payload = encode_gif(idx, pal, interlace=i % 2 == 1)
                    meta = {"width": "8", "height": "8", "channels": "3"}
                elif modality == "audio":
                    x = np.sin(np.linspace(0, 20 + i, 256)) * 0.5
                    x += rng.standard_normal(256) * 0.05
                    payload = encode_wav(np.clip(x, -1, 1), 16000)
                    meta = {"sample_rate": "16000", "n_samples": "256"}
                else:  # multi-frame GIF video
                    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
                    frames = rng.integers(0, 256, (4, 8, 8), dtype=np.uint8)
                    payload = encode_gif(frames, pal)
                    meta = {"width": "8", "height": "8", "n_frames": "4"}
                rows.append((f"c{i:06d}", modality, payload, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload", "meta"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_g711_media_df(spark, n: int = 24, partitions: int = 4) -> DataFrame:
    """Deterministic media table with COMPRESSED TELEPHONY AUDIO
    payloads: G.711 mu-law (WAVE tag 7), G.711 A-law (tag 6), and mono
    IMA ADPCM (tag 0x11) rotating by item — all decoded by the in-repo
    spec codecs (operators/codecs.py).

    Content is specified at the CODEWORD level, drawn from
    ``default_rng(7000 + i)`` in a fixed call order, so the exact
    decoded samples follow from the G.711 expansion tables / the IMA
    update rule alone — which lets the golden oracle
    (scripts/gen_media_audio_golden.py) replay the decode from its own
    independent spec implementation, no engine import."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyhctsa_spark.operators.codecs import (
            encode_wav_g711,
            encode_wav_ima_adpcm,
        )

        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rng = np.random.default_rng(7000 + i)
                kind = i % 3
                if kind < 2:
                    codes = rng.integers(0, 256, 320).astype(np.uint8)
                    law = "ulaw" if kind == 0 else "alaw"
                    payload = encode_wav_g711(codes, law, 8000)
                    meta = {"sample_rate": "8000", "n_samples": "320",
                            "codec": law}
                else:
                    predictor = int(rng.integers(-8000, 8000))
                    index = int(rng.integers(0, 89))
                    body = rng.integers(0, 256, 252).astype(np.uint8).tobytes()
                    payload = encode_wav_ima_adpcm(
                        [(predictor, index, body)], block_align=256,
                        sample_rate=8000,
                    )
                    meta = {"sample_rate": "8000", "n_samples": "505",
                            "codec": "ima_adpcm"}
                rows.append((f"g{i:06d}", "audio", payload, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload", "meta"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_flac_media_df(spark, n: int = 16, partitions: int = 4) -> DataFrame:
    """Deterministic media table with FLAC audio payloads (the lossless
    compressed-audio format): int16 content from
    ``default_rng(9000 + i)`` in a fixed call order, rotating subframe
    modes (verbatim / fixed1 / fixed2 / constant) and mono/stereo.
    FLAC is lossless, so decoded samples equal the content exactly —
    the golden oracle (scripts/gen_media_flac_golden.py) recomputes
    features from the CONTENT with no codec in the loop at all."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyhctsa_spark.operators.codecs_flac import encode_flac

        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rng = np.random.default_rng(9000 + i)
                mode = ["verbatim", "fixed1", "fixed2", "constant"][i % 4]
                stereo = i % 3 == 2
                n_smp = 400 + (i * 37) % 300
                if mode == "constant":
                    base = np.full(n_smp, int(rng.integers(-20000, 20000)),
                                   np.int32)
                else:
                    base = (
                        np.sin(np.linspace(0, 15 + i, n_smp)) * 12000
                        + rng.integers(-800, 800, n_smp)
                    ).astype(np.int32)
                if stereo and mode != "constant":
                    content = np.stack(
                        [base, np.roll(base, 7) // 2], axis=1
                    ).astype(np.int32)
                else:
                    content = base
                payload = encode_flac(content, 8000, mode=mode,
                                      block_size=256)
                meta = {"sample_rate": "8000", "codec": "flac",
                        "mode": mode}
                rows.append((f"f{i:06d}", "audio", payload, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload", "meta"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_jpeg_lossless_media_df(
    spark, n: int = 16, partitions: int = 4
) -> DataFrame:
    """Deterministic media table with lossless-JPEG (SOF3) image
    payloads rotating predictors 1..7 and gray-8 / RGB-8 / gray-16 /
    gray-12 content. Lossless, so decoded samples equal the content
    exactly; the golden (scripts/gen_media_jpegls_golden.py) recomputes
    features from the CONTENT and n_bytes from an INDEPENDENT scalar
    replay of the Annex H prediction + Huffman sizing — any wire-format
    drift in the engine encoder/decoder breaks the value hash."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyhctsa_spark.operators.codecs_jpeg_lossless import (
            encode_jpeg_lossless,
        )

        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rng = np.random.default_rng(7700 + i)
                pred = 1 + i % 7
                kind = ("gray8", "rgb8", "gray16", "gray12")[i % 4]
                h = 8 + (i * 3) % 9
                w = 8 + (i * 5) % 11
                if kind == "gray8":
                    img = rng.integers(0, 256, (h, w)).astype(np.uint8)
                    prec = 8
                elif kind == "rgb8":
                    img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
                    prec = 8
                elif kind == "gray16":
                    img = rng.integers(0, 65536, (h, w)).astype(np.uint16)
                    prec = 16
                else:
                    img = rng.integers(0, 4096, (h, w)).astype(np.uint16)
                    prec = 12
                payload = encode_jpeg_lossless(
                    img, predictor=pred, precision=prec
                )
                meta = {"codec": "jpeg-lossless", "kind": kind,
                        "predictor": str(pred)}
                rows.append((f"j{i:06d}", "image", payload, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload", "meta"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


def synth_webp_media_df(spark, n: int = 16, partitions: int = 4) -> DataFrame:
    """Deterministic media table with lossless-WebP (VP8L) image
    payloads rotating the encoder's transform coverage: plain RGB,
    SUBTRACT_GREEN, constant-mode PREDICTOR (with/without sg),
    COLOR_INDEXING palettes of 2/3/5 colors (all three sub-byte
    bundling widths), and RGBA with a real alpha channel. Content from
    ``default_rng(6600 + i)`` in a fixed call order; VP8L is lossless,
    so the golden (scripts/gen_media_webp_golden.py) recomputes
    features from the CONTENT with no codec in the loop."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyhctsa_spark.operators.codecs_webp import encode_webp_lossless

        for pdf in it:
            rows = []
            for i in pdf["id"].to_numpy():
                i = int(i)
                rng = np.random.default_rng(6600 + i)
                h = 8 + (i * 3) % 9
                w = 8 + (i * 5) % 11
                variant = ("plain", "sg", "pred", "palette", "rgba")[i % 5]
                if variant == "palette":
                    ncol = (2, 3, 5)[(i // 5) % 3]
                    pal = rng.integers(0, 256, (ncol, 3)).astype(np.uint8)
                    idx = rng.integers(0, ncol, (h, w))
                    img = pal[idx]
                    payload = encode_webp_lossless(img, palette=True)
                elif variant == "rgba":
                    img = rng.integers(0, 256, (h, w, 4)).astype(np.uint8)
                    payload = encode_webp_lossless(img)
                else:
                    img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
                    if variant == "sg":
                        payload = encode_webp_lossless(img, subtract_green=True)
                    elif variant == "pred":
                        payload = encode_webp_lossless(
                            img,
                            subtract_green=(i % 2 == 0),
                            predictor_mode=i % 14,
                        )
                    else:
                        payload = encode_webp_lossless(img)
                meta = {"codec": "webp-lossless", "variant": variant}
                rows.append((f"w{i:06d}", "image", payload, meta))
            yield pd.DataFrame(
                rows, columns=["media_id", "modality", "payload", "meta"]
            )

    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=MEDIA_SCHEMA)


def _fake_decode(payload: bytes, modality: str, meta: dict) -> np.ndarray:
    """Deterministic stand-in decoder: pseudo-random content seeded by
    the payload bytes, shaped per metadata."""
    seed = int(np.frombuffer(payload[:8].ljust(8, b"\0"), dtype="<u8")[0] % 2**32)
    rng = np.random.default_rng(seed)
    if modality == "image":
        shape = (int(meta["height"]), int(meta["width"]), int(meta["channels"]))
        return rng.integers(0, 256, shape).astype(np.uint8)
    if modality == "audio":
        return rng.standard_normal(int(meta["n_samples"])).astype(np.float32)
    if modality == "video":
        shape = (int(meta["n_frames"]), int(meta["height"]), int(meta["width"]))
        return rng.integers(0, 256, shape).astype(np.uint8)
    raise ValueError(modality)


def _real_decode(payload: bytes, modality: str, meta: dict) -> np.ndarray:
    """Real decode for UNCOMPRESSED containers (pure-numpy, spec-derived:
    RIFF/WAVE PCM, netpbm P5/P6, BI_RGB BMP, concatenated-P6 video
    streams — operators/codecs.py). Compressed codecs still raise
    NotImplementedError: that is the Pillow/soundfile/pyav boundary on a
    real cluster."""
    from pyhctsa_spark.operators.codecs import sniff_and_decode

    return sniff_and_decode(payload, modality)


FEATURE_SCHEMA = (
    "media_id string, modality string, n_bytes long, "
    "mean double, std double, p01 double, p99 double, "
    "feat array<double>"
)


def extract_media_features(
    df: DataFrame, use_real_codecs: bool = False, feat_dim: int = 8
) -> DataFrame:
    """Decode -> per-item summary features + a fixed-dim feature vector
    (coarse downsample), Arrow-batched. This is the shape a real
    image/audio featurizer plugs into (swap ``decode``)."""
    decode = _real_decode if use_real_codecs else _fake_decode

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode(bytes(r.payload), r.modality, dict(r.meta)).astype(
                    np.float64
                )
                flat = arr.ravel()
                # fixed-dim coarse feature: mean over feat_dim chunks
                chunks = np.array_split(flat, feat_dim)
                feat = np.array([c.mean() for c in chunks])
                rows.append(
                    (
                        r.media_id,
                        r.modality,
                        len(r.payload),
                        float(flat.mean()),
                        float(flat.std(ddof=1)),
                        float(np.quantile(flat, 0.01)),
                        float(np.quantile(flat, 0.99)),
                        feat,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "modality", "n_bytes", "mean", "std",
                    "p01", "p99", "feat",
                ],
            )

    return df.mapInPandas(fn, schema=FEATURE_SCHEMA)


def sample_video_frames(
    df: DataFrame, every_k: int = 4, use_real_codecs: bool = False
) -> DataFrame:
    """Frame-sampling plumbing for video payloads: one output row per
    sampled frame with per-frame summary stats."""
    decode = _real_decode if use_real_codecs else _fake_decode

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.modality != "video":
                    continue
                arr = decode(bytes(r.payload), r.modality, dict(r.meta))
                for fi in range(0, arr.shape[0], every_k):
                    frame = arr[fi].astype(np.float64)
                    rows.append(
                        (r.media_id, fi, float(frame.mean()), float(frame.std()))
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "f_mean", "f_std"]
            )

    return df.mapInPandas(
        fn, schema="media_id string, frame_idx int, f_mean double, f_std double"
    )
