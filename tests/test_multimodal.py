"""Multimodal plumbing tests: schema, batch shape, decode stubs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from yahoofinancedatalake_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        (1, "image", b"\x89PNG" + bytes(range(200)), "png", 640, 480, None, None),
        (2, "image", b"\xff\xd8JPEG" + bytes(100), "jpeg", 32, 48, None, None),
        (3, "audio", b"RIFFWAVE" + bytes(300), "wav", None, None, None, 16000),
        (4, "video", b"\x00mp4" + bytes(500), "mp4", 1920, 1080, 25, None),
        (5, "image", None, "png", 8, 8, None, None),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA)


@pytest.fixture(autouse=True)
def _register_fakes():
    mm.register_decoder("image", mm.fake_decoder)
    mm.register_decoder("audio", mm.fake_decoder)
    mm.register_decoder("video", mm.fake_decoder)
    yield
    mm._DECODERS.clear()


def test_extract_features_shape_and_determinism(media_df):
    out = mm.extract_features(media_df)
    assert out.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,n_bytes:bigint,"
        "feature:array<double>>"
    )
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 5
    assert all(len(r.feature) == 64 for r in rows.values())
    assert rows[1].n_bytes == 204
    assert rows[5].n_bytes == 0  # null payload → empty, not crash
    # deterministic: same content → same features
    again = {r.media_id: r for r in mm.extract_features(media_df).collect()}
    assert rows[1].feature == again[1].feature


def test_extract_features_matches_local_decoder(media_df):
    payload = b"\x89PNG" + bytes(range(200))
    expect = mm.fake_decoder(payload, "png")
    got = (
        mm.extract_features(media_df)
        .filter(F.col("media_id") == 1)
        .collect()[0]
        .feature
    )
    np.testing.assert_allclose(got, expect)


def test_unregistered_kind_raises(spark, media_df):
    mm._DECODERS.clear()
    with pytest.raises(Exception, match="no decoder registered"):
        mm.extract_features(media_df).collect()


def test_sample_frames_explodes_only_videos(media_df):
    out = mm.sample_frames(media_df, every_nth=10).collect()
    assert {r.media_id for r in out} == {4}
    assert [r.frame_index for r in out] == [0, 10, 20]
    assert all(isinstance(r.frame_bytes, (bytes, bytearray)) for r in out)


def test_resize_metadata_never_touches_payload(media_df):
    out = mm.resize_metadata(media_df, max_side=256)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    rows = {r.media_id: r for r in out.collect()}
    assert (rows[4].resized_width, rows[4].resized_height) == (256, 144)
    assert (rows[2].resized_width, rows[2].resized_height) == (32, 48)
    # planning half is pure column math on metadata columns
    assert "pythonUDF" not in plan.lower()


# ---------------------------------------------------------------------------
# Built-in stdlib codecs: real WAV/BMP bytes through the real pipeline
# ---------------------------------------------------------------------------


def _make_wav(freq_hz: float, rate: int = 8000, secs: float = 0.25) -> bytes:
    import struct

    import numpy as np

    n = int(rate * secs)
    sig = (0.5 * np.sin(2 * np.pi * freq_hz * np.arange(n) / rate))
    pcm = (sig * 32767).astype("<i2").tobytes()
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + len(pcm)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data" + struct.pack("<I", len(pcm))
    )
    return hdr + pcm


def _make_bmp(w: int, h: int, rgb: tuple[int, int, int]) -> bytes:
    import struct

    import numpy as np

    row_bytes = (w * 3 + 3) & ~3
    px = np.zeros((h, row_bytes), dtype=np.uint8)
    bgr = np.array(rgb[::-1], dtype=np.uint8)
    px[:, : w * 3] = np.tile(bgr, w)
    data = px.tobytes()
    hdr = (
        b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data),
                      2835, 2835, 0, 0)
    )
    return hdr + data


def test_wav_pcm_decode_roundtrip():
    import numpy as np

    from yahoofinancedatalake_spark.operators.multimodal import (
        wav_pcm_decode,
    )

    sig, rate = wav_pcm_decode(_make_wav(440.0))
    assert rate == 8000 and len(sig) == 2000
    assert abs(float(np.abs(sig).max()) - 0.5) < 0.01


def test_wav_feature_decoder_separates_frequencies():
    from yahoofinancedatalake_spark.operators.multimodal import (
        wav_feature_decoder,
    )

    lo = wav_feature_decoder(_make_wav(100.0), "wav")
    hi = wav_feature_decoder(_make_wav(3500.0), "wav")
    assert lo[1] == 8000.0 and abs(lo[2] - 0.25) < 1e-9
    # zero-crossing rate tracks frequency; band energy moves up-spectrum
    assert hi[4] > lo[4]
    assert lo[6] > 0.9          # 100 Hz → lowest band
    assert hi[6 + 5] > 0.9      # 3500 Hz → top band (Nyquist 4 kHz)


def test_bmp_decode_and_features():
    from yahoofinancedatalake_spark.operators.multimodal import bmp_decode

    px = bmp_decode(_make_bmp(5, 3, (200, 100, 50)))
    assert px.shape == (3, 5, 3)
    assert (px[0, 0] == [200, 100, 50]).all()


def test_real_codecs_through_mapinpandas_pipeline(spark):
    from yahoofinancedatalake_spark.operators import multimodal as mm

    rows = [
        (1, "audio", bytearray(_make_wav(440.0)), "wav",
         None, None, None, 8000),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    old = dict(mm._DECODERS)
    try:
        mm.register_decoder("audio", mm.wav_feature_decoder)
        out = {r.media_id: r for r in mm.extract_features(df).collect()}
    finally:
        mm._DECODERS.clear()
        mm._DECODERS.update(old)
    assert len(out[1].feature) == 12 and out[1].feature[1] == 8000.0


def test_resize_nearest_exact_index_sampling():
    import numpy as np

    from yahoofinancedatalake_spark.operators.multimodal import (
        resize_nearest,
    )

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(9, 12, 3), dtype=np.uint8)
    small = resize_nearest(px, 6)
    # aspect-preserving: 12x9 → 6x4 (floor(9 * 6/12) = 4)
    assert small.shape == (4, 6, 3)
    # every output pixel is an exact copy of px[i*h//nh, j*w//nw]
    for i in range(4):
        for j in range(6):
            assert (small[i, j] == px[i * 9 // 4, j * 12 // 6]).all()


def test_resize_nearest_noop_and_constant_invariance():
    import numpy as np

    from yahoofinancedatalake_spark.operators.multimodal import (
        resize_nearest,
    )

    px = np.full((4, 4, 3), 77, dtype=np.uint8)
    assert resize_nearest(px, 8) is px  # already fits → untouched
    big = np.full((32, 16, 3), 123, dtype=np.uint8)
    small = resize_nearest(big, 8)
    assert small.shape == (8, 4, 3)
    assert (small == 123).all()  # constant image survives exactly


def test_resize_nearest_agrees_with_resize_metadata(spark):
    import numpy as np

    from pyspark.sql import functions as F

    from yahoofinancedatalake_spark.operators.multimodal import (
        resize_metadata,
        resize_nearest,
    )

    dims = [(12, 9), (100, 30), (7, 7), (5, 40)]
    df = spark.createDataFrame(dims, "width int, height int").withColumn(
        "media_id", F.monotonically_increasing_id()
    )
    planned = {
        (r.width, r.height): (r.resized_width, r.resized_height)
        for r in resize_metadata(df, 8).collect()
    }
    for w, h in dims:
        px = np.zeros((h, w, 3), dtype=np.uint8)
        out = resize_nearest(px, 8)
        assert (out.shape[1], out.shape[0]) == planned[(w, h)], (w, h)
