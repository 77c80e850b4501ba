"""Multimodal binary plumbing: metadata extraction and dual-rate frame
sampling over opaque bytes (codec stubbed, plumbing real)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from slowfast_feature_extractor_spark.operators.multimodal import (
    decode_image,
    frame_sample,
    media_meta,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, b"A" * 640),          # 10 frames of 64B
        (2, b"B" * 100),          # 2 frames (one short)
        (3, b""),                  # empty blob
    ]
    return spark.createDataFrame(rows, schema="doc_id long, media binary")


def test_media_meta(spark, media):
    out = {r["doc_id"]: r for r in media_meta(media).collect()}
    assert out[1]["n_bytes"] == 640
    assert out[1]["digest"] == hashlib.md5((b"A" * 640).hex().upper().encode()).hexdigest()
    assert out[3]["n_bytes"] == 0
    assert out[1]["f1"] == float((640 * 1) % 97)


def test_frame_sample_dual_rate(spark, media):
    out = frame_sample(media, frame_bytes=64, num_frames=8, alpha=4).toPandas()
    g1 = out[(out.doc_id == 1)]
    fast = g1[g1.pathway == "fast"].sort_values("frame_idx")
    slow = g1[g1.pathway == "slow"].sort_values("frame_idx")
    assert len(fast) == 8 and len(slow) == 2  # NUM_FRAMES vs NUM_FRAMES/ALPHA
    assert fast.frame_md5.iloc[0] == hashlib.md5((b"A" * 64).hex().upper().encode()).hexdigest()
    # short media pads by repeating the last frame
    g2 = out[(out.doc_id == 2) & (out.pathway == "fast")].sort_values("frame_idx")
    assert len(g2) == 8
    assert g2.frame_md5.iloc[-1] == g2.frame_md5.iloc[1]  # repeated pad
    # empty blob still yields full schema rows
    g3 = out[out.doc_id == 3]
    assert len(g3) == 8 + 2


def test_frame_sample_rejects_bad_parameters(media):
    """Parameter errors raise when the plan is built; inside the
    per-blob loop they would turn every blob into a P9 null row."""
    with pytest.raises(ValueError):
        frame_sample(media, num_frames=2, alpha=4)  # zero slow frames
    with pytest.raises(ValueError):
        frame_sample(media, frame_bytes=0)


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_frames_oracle_byte_accurate_on_non_ascii(spark, tmp_path):
    """The frames/meta oracles slice the HEX encoding (2 chars/byte), so
    they must agree with the engine's byte slicing even when the text is
    multi-byte UTF-8 — the exact case a char-sliced oracle gets wrong."""
    import pandas as pd

    from slowfast_feature_extractor_spark.plans.compare import compare
    from slowfast_feature_extractor_spark.plans.queries import REGISTRY

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["héllo wörld ü" * 13, "日本語のテキスト" * 9, "plain ascii " * 11],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    for name in ("multimodal_frames", "multimodal_meta"):
        fn, sql = REGISTRY[name]
        ok, msg = compare(spark, str(tmp_path), fn, sql)
        assert ok, f"{name}: {msg}"


def test_decode_audio_roundtrip_bytes_exact():
    """decode_audio parses a real RIFF/WAV container: header fields and
    PCM frames come back byte-identical to what synth_wav wrote."""
    import struct

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_audio,
        synth_wav,
    )

    frames = [(i * 5 - 300, -i * 3 + 100) for i in range(40)]  # stereo
    blob = synth_wav(11025, 2, frames)
    assert blob[:4] == b"RIFF" and blob[8:12] == b"WAVE"
    d = decode_audio(blob)
    assert (d["sample_rate"], d["channels"], d["sample_width"], d["n_frames"]) == (
        11025, 2, 2, 40,
    )
    want = struct.pack("<80h", *[s for fr in frames for s in fr])
    assert d["pcm"] == want


def test_audio_meta_null_and_malformed(spark):
    """Malformed blobs yield null-metadata rows, not task failures
    (P9 frame-validity policy on the audio path)."""
    from slowfast_feature_extractor_spark.operators.multimodal import (
        audio_meta,
        synth_wav,
    )

    good = synth_wav(8000, 1, [(100,), (-200,), (300,)])
    df = spark.createDataFrame(
        [(1, good), (2, b"not a wav"), (3, b"")],
        schema="doc_id long, audio binary",
    )
    rows = {r["doc_id"]: r for r in audio_meta(df).collect()}
    assert rows[1]["n_frames"] == 3
    assert rows[1]["sum_abs"] == 600 and rows[1]["peak"] == 300
    assert rows[1]["duration_ms"] == 0  # 3 frames @ 8kHz -> 0 ms floor
    assert rows[2]["sample_rate"] is None
    assert rows[3]["sample_rate"] is None


def test_decode_bmp_roundtrip_pixels_exact():
    """decode_image parses real BMP containers pixel-exactly, including
    BGR order, bottom-up rows, and 4-byte row padding (odd widths)."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_image,
        synth_bmp,
    )

    for w, h in ((5, 3), (4, 4), (7, 2)):  # odd widths exercise padding
        want = np.zeros((h, w, 3), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                want[y, x] = ((x * 40 + y) % 256, (x + y * 50) % 256, (x * y + 7) % 256)
        blob = synth_bmp(w, h, lambda x, y: tuple(int(v) for v in want[y, x]))
        d = decode_image(blob)
        assert (d["width"], d["height"], d["bpp"]) == (w, h, 24)
        np.testing.assert_array_equal(d["pixels"], want)


def test_resize_nearest_kernel():
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import resize_nearest

    src = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    out = resize_nearest(src, 3, 2)  # (out_w=3, out_h=2)
    assert out.shape == (2, 3, 3)
    for i in range(2):
        for j in range(3):
            np.testing.assert_array_equal(out[i, j], src[(i * 4) // 2, (j * 6) // 3])


def test_decode_image_rejects_codecless_formats():
    import pytest

    from slowfast_feature_extractor_spark.operators.multimodal import decode_image

    with pytest.raises((ValueError, NotImplementedError)):
        decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 64)  # corrupt JPEG
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")  # corrupt PNG: data error
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFFxxxxWEBP" + b"\x00" * 64)  # no stdlib codec


def test_decode_png_roundtrip_all_filters():
    """decode_png reconstructs every PNG filter type (0 None, 1 Sub,
    2 Up, 3 Average, 4 Paeth) pixel-exactly, for RGB and RGBA, across
    shapes including 1-pixel edges."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_image,
        decode_png,
        synth_png,
    )

    def px(x, y):
        return ((x * 40 + y) % 256, (x + y * 50) % 256, (x * y + 7) % 256, (x * 3 + y * 5) % 256)

    for w, h in ((1, 1), (5, 3), (7, 6), (16, 11)):
        want = np.array([[px(x, y) for x in range(w)] for y in range(h)], dtype=np.uint8)
        for cycle in ((0,), (1,), (2,), (3,), (4,), (4, 3, 2, 1, 0)):
            d = decode_png(synth_png(w, h, px, filter_cycle=cycle))
            assert (d["width"], d["height"], d["bpp"]) == (w, h, 24)
            np.testing.assert_array_equal(d["pixels"], want[:, :, :3], err_msg=f"{w}x{h} {cycle}")
        da = decode_image(synth_png(w, h, px, rgba=True))  # routed by signature
        assert da["bpp"] == 32
        np.testing.assert_array_equal(da["pixels"], want)


def test_png_bmp_pixel_parity():
    """The compressed (PNG) and uncompressed (BMP) containers decode to
    identical pixel arrays for identical pixel functions — the r3
    'compressed formats are stubs' caveat is closed with the SAME
    downstream chain (decode → resize → sums)."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_image,
        resize_nearest,
        synth_bmp,
        synth_png,
    )

    def px(x, y):
        return ((x * 13 + y * 31) % 256, (x * 5 + y * 17) % 256, (x * 19 + y * 7) % 256)

    for w, h in ((5, 3), (9, 8)):
        bmp = decode_image(synth_bmp(w, h, px))
        png = decode_image(synth_png(w, h, px))
        np.testing.assert_array_equal(bmp["pixels"], png["pixels"])
        np.testing.assert_array_equal(
            resize_nearest(bmp["pixels"], 4, 3), resize_nearest(png["pixels"], 4, 3)
        )


def test_image_meta_decodes_png_and_nulls_corrupt(spark):
    """image_meta over a mixed PNG/corrupt column: real decodes produce
    sums, undecodable blobs yield null rows (P9 policy)."""
    from slowfast_feature_extractor_spark.operators.multimodal import (
        image_meta,
        synth_png,
    )

    blob = synth_png(4, 2, lambda x, y: (x + 1, y + 2, 3))
    rows = [(1, bytearray(blob)), (2, bytearray(b"\x89PNG\r\n\x1a\njunk")), (3, None)]
    df = spark.createDataFrame(rows, schema="doc_id long, image binary")
    got = {r["doc_id"]: r for r in image_meta(df, media_col="image").collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["bpp"]) == (4, 2, 24)
    # sums: r = sum(x+1) over 4x2 = 2*(1+2+3+4)=20; g = 4*(2+3)=20; b = 8*3
    assert (got[1]["sum_r"], got[1]["sum_g"], got[1]["sum_b"]) == (20, 20, 24)
    assert got[2]["width"] is None and got[3]["width"] is None


def test_decode_jpeg_flat_blocks_exact():
    """DC-only blocks with q00=8 and neutral chroma decode bit-exactly
    (quantized DC = Y-128; IDCT of a DC-only block = DC*q/8)."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_image,
        synth_jpeg,
    )

    def bf(bx, by):
        return ((7 * bx + 31 * by + 5) % 256, 128, 128)

    d = decode_image(synth_jpeg(16, 24, bf))
    assert (d["width"], d["height"], d["bpp"]) == (16, 24, 24)
    for by in range(3):
        for bx in range(2):
            want = (7 * bx + 31 * by + 5) % 256
            blk = d["pixels"][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
            assert (blk == want).all(), (bx, by, want)

    g = decode_image(synth_jpeg(8, 8, lambda bx, by: (200, 0, 0), gray=True))
    assert g["bpp"] == 8 and (g["pixels"] == 200).all()


def test_decode_jpeg_color_convert_exact():
    """Non-neutral chroma: decoded RGB equals the JFIF formulas with
    round-half-even + clamp, per block."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg,
    )

    def bf(bx, by):
        return (90 + 10 * bx, 100 + 20 * by, 50 + 30 * bx)

    d = decode_jpeg(synth_jpeg(24, 16, bf))
    for by in range(2):
        for bx in range(3):
            y, cb, cr = bf(bx, by)
            want = [
                np.clip(np.rint(y + 1.402 * (cr - 128)), 0, 255),
                np.clip(
                    np.rint(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)),
                    0, 255,
                ),
                np.clip(np.rint(y + 1.772 * (cb - 128)), 0, 255),
            ]
            assert (d["pixels"][by * 8, bx * 8] == want).all(), (bx, by)


def test_decode_jpeg_ac_coefficients_vs_reference_idct():
    """AC run/size + ZRL entropy decode round-trips: decoded pixels
    match an independent explicit-double-loop IDCT of the same
    dequantized coefficients."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        decode_jpeg,
        synth_jpeg,
    )

    acs = [(1, 3), (5, -7), (40, 12), (63, -1)]  # 5 -> 40 gap forces ZRLs
    d = decode_jpeg(
        synth_jpeg(8, 8, lambda bx, by: (100, 128, 128), gray=True,
                   ac_fn=lambda bx, by, ci: acs)
    )
    coef = np.zeros(64)
    coef[0] = 100 - 128
    for k, v in acs:
        coef[_JPEG_ZIGZAG[k]] = v
    cf = coef.reshape(8, 8) * 8.0
    want = np.zeros((8, 8))
    for x in range(8):
        for yy in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv * cf[u, v]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * yy + 1) * v * np.pi / 16))
            want[x, yy] = s / 4 + 128
    want = np.clip(np.rint(want), 0, 255)
    assert (d["pixels"][:, :, 0].astype(float) == want).all()


def test_decode_jpeg_rejects_unsupported_modes():
    import struct

    import pytest

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg,
    )

    blob = bytearray(synth_jpeg(8, 8, lambda bx, by: (1, 128, 128)))
    sof = blob.index(b"\xff\xc0")
    blob[sof + 1] = 0xC7  # hierarchical/lossless family
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(blob))
    blob[sof + 1] = 0xC2  # SOF2 header on a full-band sequential scan:
    with pytest.raises(ValueError):  # malformed progressive (DC Se!=0)
        decode_jpeg(bytes(blob))
    blob[sof + 1] = 0xC1  # SOF1 extended sequential decodes like SOF0
    import numpy as np

    assert np.array_equal(
        decode_jpeg(bytes(blob))["pixels"],
        decode_jpeg(bytes(synth_jpeg(8, 8, lambda bx, by: (1, 128, 128))))["pixels"],
    )
    blob[sof + 1] = 0xC0
    blob[sof + 11] = 0x52  # sampling factor 5 > 4: out of T.81 range
    with pytest.raises(ValueError):
        decode_jpeg(bytes(blob))


def test_jpeg_subsampled_pixel_parity_with_444():
    """4:2:0 / 4:2:2 / 4:1:1 decode must be pixel-identical to the
    4:4:4 path on tile-constant chroma (replication upsampling of a
    box-constant plane is lossless, flat blocks are bit-exact through
    dequant+IDCT) — covers the MCU-interleaved scan walk, per-component
    block geometry, and chroma upsampling in one assertion per mode."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg,
        synth_jpeg_subsampled,
    )

    w, h = 32, 32

    def yb(bx, by):
        return (7 + bx * 13 + by * 31) % 256

    def cbf(cx, cy):
        return 108 + 20 * ((cx + cy) % 3), 108 + 20 * ((cx * 3 + cy) % 3)

    for sampling, (fx, fy) in (("420", (2, 2)), ("422", (2, 1)), ("411", (4, 1))):
        got = decode_jpeg(synth_jpeg_subsampled(w, h, yb, cbf, sampling))

        def bf(bx, by, fx=fx, fy=fy):
            cb, cr = cbf(bx // fx, by // fy)
            return yb(bx, by), cb, cr

        want = decode_jpeg(synth_jpeg(w, h, bf))
        assert got["width"] == w and got["height"] == h and got["bpp"] == 24
        assert np.array_equal(got["pixels"], want["pixels"]), sampling


def test_jpeg_subsampled_restart_intervals():
    """DRI restart markers in a subsampled stream count MCUs (6 blocks
    each for 4:2:0), reset all three predictors, and byte-align — a
    block-counted reset would corrupt every MCU after the first RSTn."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_subsampled,
    )

    w, h = 48, 32  # 3x2 MCUs at 4:2:0 -> RSTn inside and across rows

    def yb(bx, by):
        return (200 + bx * 37 + by * 11) % 256

    def cbf(cx, cy):
        return 108 + 20 * ((cx + 2 * cy) % 3), 148 - 20 * ((cx + cy) % 3)

    plain = decode_jpeg(synth_jpeg_subsampled(w, h, yb, cbf, "420"))
    rst = decode_jpeg(synth_jpeg_subsampled(w, h, yb, cbf, "420", restart_interval=2))
    assert np.array_equal(plain["pixels"], rst["pixels"])


def test_jpeg_non_interleaved_baseline_parity():
    """T.81-legal one-scan-per-component sequential JPEG (the ADVICE r4
    refusal, now decoded): pixel parity with the interleaved encoding
    on the same blocks — DC chains, AC coefficients, restart intervals
    and grayscale all covered; a stream whose scans do NOT cover every
    SOF component must still refuse (silent-grayscale hazard)."""
    import re

    import numpy as np
    import pytest

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg,
    )

    def bf(bx, by):
        return (
            (7 + bx * 13 + by * 31) % 256,
            108 + 20 * ((bx + by) % 3),
            148 - 20 * ((bx * 2 + by) % 3),
        )

    def afn(bx, by, ci):
        return [(2, -3), (17, 5)] if (bx + by + ci) % 3 == 0 else []

    want = decode_jpeg(synth_jpeg(24, 16, bf, ac_fn=afn))["pixels"]
    got = decode_jpeg(synth_jpeg(24, 16, bf, ac_fn=afn, interleaved=False))
    assert np.array_equal(want, got["pixels"])
    rst = decode_jpeg(
        synth_jpeg(24, 16, bf, ac_fn=afn, interleaved=False, restart_interval=2)
    )
    assert np.array_equal(want, rst["pixels"])
    gray = decode_jpeg(synth_jpeg(24, 16, bf, gray=True, interleaved=False))
    assert np.array_equal(
        gray["pixels"], decode_jpeg(synth_jpeg(24, 16, bf, gray=True))["pixels"]
    )

    blob = bytes(synth_jpeg(16, 16, bf, interleaved=False))
    sos_at = [m.start() for m in re.finditer(b"\xff\xda", blob)]
    assert len(sos_at) == 3
    with pytest.raises(ValueError, match="cover every SOF component"):
        decode_jpeg(blob[: sos_at[2]] + b"\xff\xd9")


def test_jpeg_subsampled_synth_guards():
    import pytest

    from slowfast_feature_extractor_spark.operators.multimodal import (
        synth_jpeg_subsampled,
    )

    def yb(bx, by):
        return 1

    def cbf(cx, cy):
        return 128, 128

    with pytest.raises(ValueError):  # 4:2:0 needs 16x16-multiple dims
        synth_jpeg_subsampled(24, 16, yb, cbf, "420")
    with pytest.raises(ValueError):
        synth_jpeg_subsampled(16, 16, yb, cbf, "410")


def test_avi_roundtrip_frames_byte_exact():
    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_avi,
        synth_avi,
        synth_jpeg,
    )

    frames = [
        synth_jpeg(16, 8, lambda bx, by, f=f: ((f * 17 + by * 31 + bx * 13) % 256,
                                               128, 128))
        for f in range(5)
    ]
    v = decode_avi(synth_avi(frames, 16, 8, fps=25))
    assert (v["width"], v["height"], v["n_frames"], v["fps"]) == (16, 8, 5, 25.0)
    assert v["frames"] == frames  # byte-identical through the container


def test_avi_rejects_non_mjpeg_and_garbage():
    import pytest

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_avi,
        synth_avi,
        synth_jpeg,
    )

    with pytest.raises(ValueError):
        decode_avi(b"\x00" * 64)
    blob = bytearray(synth_avi([synth_jpeg(8, 8, lambda bx, by: (1, 128, 128))], 8, 8))
    i = blob.index(b"vidsMJPG")
    blob[i + 4 : i + 8] = b"H264"
    with pytest.raises(NotImplementedError):
        decode_avi(bytes(blob))


def test_video_sampling_parity_with_frame_sample(spark):
    """The real video path and the byte-slice frame_sample path pick the
    SAME source frame indices for every (n_frames, pathway): both route
    through sample_indices."""
    from slowfast_feature_extractor_spark.operators.multimodal import sample_indices

    for n in range(1, 12):
        for k in (1, 2, 4, 8):
            idx = sample_indices(n, k)
            assert len(idx) == k
            assert all(0 <= i < n for i in idx)
            stride = max(1, n // k)
            m = min(k, -(-n // stride))
            assert idx == [stride * min(j, m - 1) for j in range(k)]  # oracle formula


def test_video_features_null_row_on_corrupt(spark):
    import pandas as pd

    from slowfast_feature_extractor_spark.operators.multimodal import (
        synth_avi,
        synth_jpeg,
        video_features,
    )

    frame = synth_jpeg(8, 8, lambda bx, by: (50, 128, 128))
    good = synth_avi([frame] * 3, 8, 8)
    # valid container, corrupt middle frame: fast samples frames 0, 1,
    # so the doc fails AFTER frame 0 decoded — it must still give one
    # null row and no frame rows (P9), never both
    mid = synth_avi([frame, b"\xff\xd8garbage", frame], 8, 8)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "media": [good, b"not an avi", mid]})
    )
    out = video_features(df, num_frames=2, alpha=2).toPandas()
    ok = out[out.doc_id == 1]
    assert len(ok) == 3  # 2 fast + 1 slow
    assert set(ok.pathway) == {"fast", "slow"}
    assert (ok.width == 8).all() and (ok.sum_r == 50 * 64).all()
    for doc in (2, 3):
        bad = out[out.doc_id == doc]
        assert len(bad) == 1 and bad.drop(columns="doc_id").isna().all(axis=None)


# declared output schema of every decoding operator
_DECODER_SCHEMAS = {
    "image_meta": "doc_id long, width int, height int, bpp int, "
    "sum_r long, sum_g long, sum_b long",
    "audio_meta": "doc_id long, sample_rate int, channels int, sample_width int, "
    "n_frames long, duration_ms long, sum_abs long, peak int",
    "audio_spectral": "doc_id long, n_samples int, dom_bin int, second_bin int, "
    "dom_ratio_pct int",
    "video_features": "doc_id long, pathway string, frame_idx int, src_frame int, "
    "width int, height int, bpp int, sum_r long, sum_g long, sum_b long",
    "gif_features": "doc_id long, frame_idx int, width int, height int, "
    "n_frames int, sum_r long, sum_g long, sum_b long",
}


@pytest.mark.parametrize("op", list(_DECODER_SCHEMAS))
def test_decoder_p9_null_rows_and_empty_input(spark, op):
    """Every decoding operator: a null blob and a garbage blob each give
    exactly one row (id set, every other column null); an empty input
    gives zero rows with the declared schema."""
    from pyspark.sql.types import DataType

    from slowfast_feature_extractor_spark.operators import multimodal

    fn = getattr(multimodal, op)
    schema = DataType.fromDDL(_DECODER_SCHEMAS[op])
    df = spark.createDataFrame(
        [(7, None), (8, bytearray(b"\x00garbage\xff" * 5))],
        "doc_id long, blob binary",
    )
    out = fn(df, media_col="blob")
    assert out.schema == schema
    rows = sorted(out.collect(), key=lambda r: r.doc_id)
    assert [r.doc_id for r in rows] == [7, 8]
    for r in rows:
        assert all(v is None for v in list(r)[1:]), r
    empty = fn(df.limit(0), media_col="blob")
    assert empty.schema == schema
    assert empty.collect() == []


def test_progressive_jpeg_dc_only_exact():
    """DC-only flat blocks through the 4-phase progressive scan script
    decode bit-exactly (q00=8, lossless Al=1 DC split) — the property
    the multimodal_jpeg_prog analytic oracle relies on."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_progressive,
    )

    def bf(bx, by):
        return ((7 + by * 31 + bx * 13) % 256, 128, 128)

    for gray in (False, True):
        d = decode_jpeg(synth_jpeg_progressive(24, 16, bf, gray=gray))
        assert d["bpp"] == (8 if gray else 24)
        exp = np.zeros((16, 24), dtype=np.uint8)
        for y in range(16):
            for x in range(24):
                exp[y, x] = bf(x // 8, y // 8)[0]
        assert np.array_equal(d["pixels"][:, :, 0], exp)
        assert np.array_equal(d["pixels"][:, :, 1], exp)


def test_progressive_vs_baseline_pixel_parity_random_acs():
    """Baseline and progressive writers share NO entropy-layer code, so
    identical pixels on the same random coefficients cross-check the
    EOB-run, ZRL, newly-significant and correction-bit paths of the
    SOF2 decoder (T.81 G.1.2)."""
    import random

    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg,
        synth_jpeg_progressive,
    )

    rng = random.Random(1234)
    for trial in range(20):
        w, h = 8 * rng.randint(1, 4), 8 * rng.randint(1, 3)
        gray = rng.random() < 0.3
        blocks, acs = {}, {}
        for by in range(h // 8):
            for bx in range(w // 8):
                blocks[(bx, by)] = tuple(rng.randint(0, 255) for _ in range(3))
                for ci in range(1 if gray else 3):
                    if rng.random() < 0.35:
                        acs[(bx, by, ci)] = []  # empty band -> EOB runs
                    else:
                        ks = sorted(rng.sample(range(1, 64), rng.randint(1, 8)))
                        acs[(bx, by, ci)] = [
                            (k, rng.choice([-120, -9, -3, -2, -1, 1, 2, 3, 9, 33]))
                            for k in ks
                        ]

        def bfn(bx, by, blocks=blocks):
            return blocks[(bx, by)]

        def afn(bx, by, ci, acs=acs):
            return acs.get((bx, by, ci), [])

        d0 = decode_jpeg(synth_jpeg(w, h, bfn, gray=gray, ac_fn=afn))
        d1 = decode_jpeg(synth_jpeg_progressive(w, h, bfn, gray=gray, ac_fn=afn))
        assert np.array_equal(d0["pixels"], d1["pixels"]), f"trial {trial}"


def test_jpeg_restart_intervals_both_modes():
    """DRI + RSTn markers (predictor/EOB-run reset, byte-aligned pad)
    decode identically to the unsegmented stream in sequential AND
    progressive mode, for intervals that do and don't divide the MCU
    count."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg,
        synth_jpeg_progressive,
    )

    def bfn(bx, by):
        return ((bx * 50 + by * 90) % 256, 100, 200)

    def afn(bx, by, ci):
        return [(3, 5), (40, -7)] if (bx + by) % 2 else []

    base = decode_jpeg(synth_jpeg(32, 24, bfn, ac_fn=afn))
    for ri in (1, 2, 5, 7):
        seq = decode_jpeg(synth_jpeg(32, 24, bfn, ac_fn=afn, restart_interval=ri))
        prog = decode_jpeg(
            synth_jpeg_progressive(32, 24, bfn, ac_fn=afn, restart_interval=ri)
        )
        assert np.array_equal(base["pixels"], seq["pixels"]), f"seq ri={ri}"
        assert np.array_equal(base["pixels"], prog["pixels"]), f"prog ri={ri}"


def test_progressive_long_eob_runs_with_correction_bits():
    """A 16x32-block grid where only the final block carries AC energy:
    the AC-first scan emits one EOBn covering 511 blocks (r=8 extra-bit
    path), and the refinement scan must thread correction bits through
    an EOB run whose blocks carry nonzero history — the exact
    interaction T.81 G.1.2.3 makes easy to get wrong."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg,
        synth_jpeg_progressive,
    )

    w, h = 8 * 32, 8 * 16  # 512 blocks

    def bfn(bx, by):
        return ((bx + by * 3) % 256, 128, 128)

    def afn(bx, by, ci):
        if (bx, by) == (31, 15):
            return [(1, 9), (63, -5)]
        if bx % 7 == 3 and by % 5 == 1:
            # history-carrying blocks inside the EOB run (|v| >= 2 so
            # the first scan plants them; refinement adds their bits)
            return [(2, -2), (17, 3)]
        return []

    d0 = decode_jpeg(synth_jpeg(w, h, bfn, gray=True, ac_fn=afn))
    d1 = decode_jpeg(synth_jpeg_progressive(w, h, bfn, gray=True, ac_fn=afn))
    assert np.array_equal(d0["pixels"], d1["pixels"])


# --- GIF -------------------------------------------------------------


def test_gif_lzw_roundtrip_stress():
    """LZW encode->decode identity across the regimes that break naive
    implementations: KwKwK-heavy constant runs, table growth through
    every code width, and the early-clear at the 12-bit ceiling."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        _gif_lzw_decode,
        _gif_lzw_encode,
    )

    rng = np.random.default_rng(41)
    cases = [
        (np.zeros(5000, dtype=int), 2),          # KwKwK ladder
        (rng.integers(0, 64, 4000), 6),           # near-incompressible
        (np.tile(np.arange(7), 3000), 3),         # periodic
        (rng.integers(0, 8, 150000), 3),          # >4094 entries: clears
        (np.array([1]), 2),                       # single pixel
    ]
    for seq, mcs in cases:
        enc = _gif_lzw_encode(seq, mcs)
        assert _gif_lzw_decode(enc, mcs, len(seq) + 1) == [int(x) for x in seq]


def test_gif_roundtrip_pixels_exact():
    """synth_gif -> decode_gif is pixel-exact for plain, interlaced and
    local-palette frames."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_gif,
        synth_gif,
    )

    rng = np.random.default_rng(42)
    pal = [((i * 37 + 11) % 256, (i * 59 + 23) % 256, (i * 83 + 47) % 256)
           for i in range(64)]
    p = np.asarray(pal, dtype=np.uint8)
    fr = rng.integers(0, 64, (13, 7))
    g = decode_gif(synth_gif([fr], pal))
    assert (g["width"], g["height"], g["n_frames"]) == (7, 13, 1)
    assert (g["frames"][0] == p[fr]).all()

    # interlace is an encoding-layout change only
    fr2 = rng.integers(0, 64, (23, 5))
    gi = decode_gif(synth_gif([fr2], pal, interlace=True))
    assert (gi["frames"][0] == p[fr2]).all()

    # local palette overrides the global table for its frame
    lp = [((i * 5 + 3) % 256, (i * 9 + 1) % 256, (i * 13 + 7) % 256)
          for i in range(16)]
    fr3 = rng.integers(0, 16, (6, 6))
    gl = decode_gif(synth_gif([fr3], pal, local_palettes=[lp]))
    assert (gl["frames"][0] == np.asarray(lp, dtype=np.uint8)[fr3]).all()


def test_gif_animation_composition_disposal_transparency():
    """Frame composition semantics: transparency keeps the prior
    canvas, disposal 2 clears the region to background (zeros),
    disposal 3 restores the pre-frame canvas."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_gif,
        synth_gif,
    )

    pal = [((i * 37 + 11) % 256, (i * 59 + 23) % 256, (i * 83 + 47) % 256)
           for i in range(16)]
    p = np.asarray(pal, dtype=np.uint8)

    base = np.full((6, 6), 3, dtype=int)
    patch = np.full((2, 2), 9, dtype=int)
    patch[0, 0] = 7  # transparent hole
    g = decode_gif(synth_gif(
        [base, patch], pal, width=6, height=6,
        offsets=[(0, 0), (2, 2)], transparent_idx=7, disposals=[1, 1],
        delays=[5, 10]))
    exp = p[base].copy()
    exp[2:4, 2:4] = p[patch]
    exp[2, 2] = p[3]  # hole shows frame-1 pixel
    assert (g["frames"][1] == exp).all()
    assert g["delays"] == [5, 10]

    # disposal 3: the patch vanishes before frame 3 renders
    a = np.full((4, 4), 3, dtype=int)
    b = np.full((2, 2), 9, dtype=int)
    c = np.full((1, 1), 12, dtype=int)
    g3 = decode_gif(synth_gif(
        [a, b, c], pal, width=4, height=4,
        offsets=[(0, 0), (1, 1), (3, 3)], disposals=[1, 3, 1]))
    exp3 = p[a].copy()
    exp3[3, 3] = p[12]
    assert (g3["frames"][2] == exp3).all()

    # disposal 2: region restored to background zeros
    g2 = decode_gif(synth_gif(
        [a, b, c], pal, width=4, height=4,
        offsets=[(0, 0), (1, 1), (3, 3)], disposals=[2, 1, 1]))
    assert (g2["frames"][1][0, 0] == 0).all()  # frame-1 region cleared


def test_gif_features_null_row_on_corrupt(spark):
    """P9 guard: undecodable GIF bytes yield one null row, valid blobs
    one row per frame."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        gif_features,
        synth_gif,
    )

    pal = [(i, 255 - i, i // 2) for i in range(4)]
    fr = np.ones((3, 3), dtype=int)
    good = synth_gif([fr, fr], pal)
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"GIF89a\x00trash"))],
        "doc_id long, media binary",
    )
    rows = {(r.doc_id, r.frame_idx) for r in gif_features(df).collect()}
    assert rows == {(1, 0), (1, 1), (2, None)}


def test_gif_rejects_garbage():
    import pytest

    from slowfast_feature_extractor_spark.operators.multimodal import decode_gif

    with pytest.raises(ValueError):
        decode_gif(b"NOTAGIF")
    with pytest.raises(ValueError):
        decode_gif(b"GIF89a" + b"\x00" * 20)  # no image data


# --- PNG palette / grayscale ------------------------------------------


def test_png_indexed_roundtrip_all_depths_and_filters():
    """Palette (type 3) and grayscale (type 0) at bit depths 1/2/4/8:
    MSB-first sub-byte unpacking under every filter type over packed
    bytes, gray values scaled to 0..255."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_png,
        synth_png_indexed,
    )

    rng = np.random.default_rng(17)
    pal = [((i * 37 + 11) % 256, (i * 59 + 23) % 256, (i * 83 + 47) % 256)
           for i in range(256)]
    p = np.asarray(pal, dtype=np.uint8)
    for bd in (1, 2, 4, 8):
        grid = rng.integers(0, 1 << bd, (13, 11))
        d = decode_png(synth_png_indexed(
            grid, pal[: 1 << bd], bitdepth=bd, filter_cycle=(0, 1, 2, 3, 4)))
        assert d["bpp"] == bd
        assert (d["pixels"] == p[grid]).all()

        g = decode_png(synth_png_indexed(
            grid, None, bitdepth=bd, gray=True, filter_cycle=(4, 3, 2, 1, 0)))
        exp = (grid * 255 // ((1 << bd) - 1)).astype(np.uint8)
        assert (g["pixels"] == np.repeat(exp[:, :, None], 3, axis=2)).all()


def test_png_trns_alpha_and_gray_alpha():
    """tRNS alpha on palette images (255 default past the chunk) and a
    hand-built type-4 gray+alpha PNG."""
    import struct
    import zlib

    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_png,
        synth_png_indexed,
    )

    rng = np.random.default_rng(23)
    pal = [(i, 2 * i, 3 * i) for i in range(16)]
    grid = rng.integers(0, 16, (5, 4))
    tr = bytes(range(0, 60, 6))  # 10 entries
    d = decode_png(synth_png_indexed(grid, pal, bitdepth=4, trns=tr))
    assert d["pixels"].shape == (5, 4, 4)
    alpha = np.full(16, 255, dtype=np.uint8)
    alpha[:10] = np.frombuffer(tr, dtype=np.uint8)
    assert (d["pixels"][:, :, 3] == alpha[grid]).all()

    # type 4: gray+alpha, filter 0 rows
    w, h = 3, 2
    gray = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)
    al = np.array([[255, 128, 0], [1, 2, 3]], dtype=np.uint8)
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        for x in range(w):
            raw += bytes((gray[y, x], al[y, x]))

    def chunk(typ, payload):
        crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + typ + payload + struct.pack(">I", crc)

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 4, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(raw)))
           + chunk(b"IEND", b""))
    d4 = decode_png(png)
    assert d4["bpp"] == 16
    assert (d4["pixels"][:, :, 0] == gray).all()
    assert (d4["pixels"][:, :, 1] == gray).all()
    assert (d4["pixels"][:, :, 3] == al).all()


def test_png_still_rejects_illegal_combos():
    """Adam7 and 16-bit channels now decode (r6); what must still be
    refused loudly are spec-illegal or unsupported combinations."""
    import struct
    import zlib

    import pytest

    from slowfast_feature_extractor_spark.operators.multimodal import decode_png

    def chunk(typ, payload):
        crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + typ + payload + struct.pack(">I", crc)

    def mk(bd, ct, il):
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, bd, ct, 0, 0, il))
                + chunk(b"IDAT", zlib.compress(b"\x00" * 16))
                + chunk(b"IEND", b""))

    with pytest.raises(NotImplementedError):
        decode_png(mk(4, 2, 0))  # sub-byte truecolor is not a legal combo
    with pytest.raises(NotImplementedError):
        decode_png(mk(16, 3, 0))  # 16-bit palette is not a legal combo
    with pytest.raises(NotImplementedError):
        decode_png(mk(8, 2, 2))  # unknown interlace method
    with pytest.raises(NotImplementedError):
        decode_png(mk(3, 0, 0))  # bit depth 3 does not exist


def test_png_adam7_and_16bit_roundtrip():
    """Every (size × rgba × bitdepth × interlace) truecolor combo and
    every (size × depth × gray × interlace) indexed/gray combo is
    pixel-exact through synth → decode — empty and 1-pixel Adam7
    passes, doubled 16-bit filter strides, per-pass prior resets."""
    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_png,
        synth_png,
        synth_png_indexed,
    )

    def px(x, y):
        return ((7 + y * 31 + x * 13) % 256, (11 + y * 17 + x * 5) % 256,
                (3 + y * 7 + x * 19) % 256, (5 + y * 3 + x * 11) % 256)

    for w, h in [(1, 1), (2, 3), (7, 5), (8, 8), (9, 10), (17, 6)]:
        for rgba in (False, True):
            for bd in (8, 16):
                for il in (0, 1):
                    d = decode_png(
                        synth_png(w, h, px, rgba=rgba, bitdepth=bd, interlace=il)
                    )
                    ch = 4 if rgba else 3
                    want = np.array(
                        [[px(x, y)[:ch] for x in range(w)] for y in range(h)],
                        dtype=np.uint8,
                    )
                    assert d["bpp"] == ch * bd
                    assert (d["pixels"] == want).all(), (w, h, rgba, bd, il)
        for bd in (1, 2, 4, 8):
            y, x = np.mgrid[0:h, 0:w]
            grid = (7 + y * 31 + x * 13) % (1 << bd)
            pal = [((i * 37 + 11) % 256, (i * 59 + 23) % 256, (i * 83 + 47) % 256)
                   for i in range(1 << bd)]
            for gray in (False, True):
                d = decode_png(synth_png_indexed(
                    grid, pal, bitdepth=bd, gray=gray,
                    filter_cycle=(0, 1, 2, 3, 4), interlace=1))
                if gray:
                    g = (grid * 255 // ((1 << bd) - 1)).astype(np.uint8)
                    want = np.repeat(g[:, :, None], 3, axis=2)
                else:
                    want = np.array(pal, dtype=np.uint8)[grid]
                assert (d["pixels"] == want).all(), (w, h, bd, gray)


def test_png_16bit_grayscale_direct():
    """16-bit grayscale (color type 0) built by hand: big-endian sample
    pairs whose low byte is junk; the decoder must keep the high byte
    and replicate to RGB."""
    import struct
    import zlib

    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import decode_png

    w, h = 5, 4
    gray = np.arange(w * h, dtype=np.uint8).reshape(h, w) * 12
    rows = bytearray()
    for y in range(h):
        rows += b"\x00"  # filter None
        for x in range(w):
            rows += bytes([int(gray[y, x]), (int(gray[y, x]) * 167 + 89) % 256])

    def chunk(typ, payload):
        crc = zlib.crc32(typ + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + typ + payload + struct.pack(">I", crc)

    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, 0, 0, 0, 0))
           + chunk(b"IDAT", zlib.compress(bytes(rows)))
           + chunk(b"IEND", b""))
    d = decode_png(png)
    assert d["bpp"] == 16 and d["width"] == w and d["height"] == h
    for c in range(3):
        assert (d["pixels"][:, :, c] == gray).all()


def test_jpeg_16bit_quant_tables_parity():
    """A DQT re-encoded at 16-bit precision (pq=1, T.81 B.2.4.1) with
    the same values decodes pixel-identically to the 8-bit original."""
    import struct

    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg,
    )

    def widen_dqt(data: bytes) -> bytes:
        out = bytearray(data[:2])
        pos = 2
        while pos < len(data):
            assert data[pos] == 0xFF
            marker = data[pos + 1]
            if marker == 0xDA:  # SOS: copy the rest verbatim
                out += data[pos:]
                break
            ln = struct.unpack_from(">H", data, pos + 2)[0]
            seg = data[pos + 4 : pos + 2 + ln]
            if marker == 0xDB:
                new = bytearray()
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    assert pq == 0
                    new.append(0x10 | tq)  # pq=1
                    for v in seg[i + 1 : i + 65]:
                        new += struct.pack(">H", v)
                    i += 65
                out += b"\xff\xdb" + struct.pack(">H", len(new) + 2) + new
            else:
                out += data[pos : pos + 2 + ln]
            pos += 2 + ln
        return bytes(out)

    def bf(bx, by):
        return ((bx * 31 + by * 17) % 256, 128, 128)

    for gray in (False, True):
        j8 = synth_jpeg(24, 16, bf, gray=gray)
        j16 = widen_dqt(j8)
        d8, d16 = decode_jpeg(j8), decode_jpeg(j16)
        assert (d8["pixels"] == d16["pixels"]).all()
        assert d8["bpp"] == d16["bpp"]


def test_jpeg_lossless_roundtrip_fuzz():
    """SOF3 lossless: randomized sizes, precisions (4/8/12/16),
    predictors 1-7, point transforms, 1 and 3 components — decode must
    return the encoded samples BIT-FOR-BIT (modulo the point
    transform's deliberate low-bit drop, applied identically on both
    sides)."""
    import random

    import numpy as np

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_lossless,
    )

    rng = random.Random(7)
    for _ in range(25):
        w, h = rng.randint(1, 13), rng.randint(1, 11)
        prec = rng.choice([8, 8, 12, 16, 4])
        pred = rng.randint(1, 7)
        pt = rng.choice([0, 0, 1])
        nc = rng.choice([1, 1, 3])
        maxv = (1 << prec) - 1
        vals = {
            (x, y, c): rng.randint(0, maxv)
            for x in range(w) for y in range(h) for c in range(nc)
        }
        blob = synth_jpeg_lossless(
            w, h, lambda x, y, c: vals[(x, y, c)],
            precision=prec, predictor=pred, pt=pt, ncomp=nc,
        )
        d = decode_jpeg(blob)
        assert (d["width"], d["height"], d["precision"]) == (w, h, prec)
        for c in range(nc):
            exp = np.array(
                [[(vals[(x, y, c)] >> pt) << pt for x in range(w)]
                 for y in range(h)], dtype=np.int64)
            assert (exp == d["samples"][c]).all()


def test_jpeg_lossless_refusals():
    """Restart intervals and sampled components are refused loudly,
    not silently mis-decoded."""
    import pytest as _pytest

    from slowfast_feature_extractor_spark.operators.multimodal import (
        decode_jpeg,
        synth_jpeg_lossless,
    )

    blob = bytearray(synth_jpeg_lossless(4, 4, lambda x, y, c: x + y))
    i = blob.find(b"\xff\xc3")
    blob[i + 11] = 0x22  # sampling factors 2x2 on the only component
    with _pytest.raises(NotImplementedError):
        decode_jpeg(bytes(blob))
