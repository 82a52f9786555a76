"""Multimodal plumbing: schema contract, Arrow batch flow, stub gating."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sentiment_analysis_data_engineering_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [(i, f"payload-{i}".encode()) for i in range(10)]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    return mm.attach_media_metadata(df, kind="image", mime="image/png")


def test_media_contract_schema(media):
    assert [f.name for f in media.schema.fields] == ["media_id", "kind", "content", "meta"]
    meta = dict(media.select("meta.*").dtypes)
    assert meta == {
        "mime": "string", "width": "int", "height": "int",
        "duration_ms": "bigint", "codec": "string",
    }


def test_decode_image_plumbing(spark):
    ids = spark.range(10).select(F.col("id").alias("media_id"))
    media = mm.attach_media_metadata(
        mm.synthesize_bmp_media(ids), kind="image", mime="image/bmp"
    )
    out = mm.decode_image(media)
    rows = out.collect()
    assert len(rows) == 10
    assert all(
        r.width == 8 + r.media_id % 9 and r.height == 8 + r.media_id % 7 for r in rows
    )
    assert all(0.0 <= r.mean_px <= 1.0 for r in rows)
    # deterministic: same payload → same decode
    again = {r.media_id: r.mean_px for r in mm.decode_image(media).collect()}
    assert all(again[r.media_id] == r.mean_px for r in rows)


def test_decode_image_strict_raises(media):
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Exception) as exc:
        mm.decode_image(media).collect()
    assert "NotImplementedError" in str(exc.value) or "codecs" in str(exc.value)


# --------------------------------------------------------------------------
# Real BMP decode (round 2): dependency-free 24-bit BI_RGB codec
# --------------------------------------------------------------------------


def _gradient_bmp(w=6, h=4):
    pix = bytes((x * 7 + c) % 256 for x in range(w * h) for c in range(3))
    return pix, mm.encode_bmp(w, h, pix)


def test_bmp_roundtrip_exact():
    import numpy as np

    pix, blob = _gradient_bmp()
    assert blob[:2] == b"BM"
    decoded = mm._decode_bmp(blob)
    assert decoded.shape == (4, 6, 3)
    expect = np.frombuffer(pix, dtype=np.uint8).reshape(4, 6, 3) / 255.0
    assert np.array_equal(decoded, expect)


def test_bmp_row_padding_handled():
    # width 3 → 9-byte rows padded to 12: the padding must not leak
    import numpy as np

    pix = bytes(range(3 * 2 * 3))
    blob = mm.encode_bmp(3, 2, pix)
    decoded = mm._decode_bmp(blob)
    expect = np.frombuffer(pix, dtype=np.uint8).reshape(2, 3, 3) / 255.0
    assert np.array_equal(decoded, expect)


def test_decode_image_real_bmp_strict(spark):
    rows = [(i,) for i in range(5)]
    ids = spark.createDataFrame(rows, "media_id long")
    media = mm.attach_media_metadata(
        mm.synthesize_bmp_media(ids), kind="image", mime="image/bmp"
    )
    out = {r.media_id: r for r in mm.decode_image(media).collect()}
    assert len(out) == 5
    for i in range(5):
        assert out[i].width == 8 + i % 9 and out[i].height == 8 + i % 7
        # closed-form mean of ((i*31 + j) % 256) / 255 over all bytes
        n = out[i].width * out[i].height * 3
        want = sum((i * 31 + j) % 256 for j in range(n)) / n / 255.0
        assert abs(out[i].mean_px - want) < 1e-9


def test_decode_image_non_bmp_still_strict_raises(media):
    with pytest.raises(Exception) as exc:
        mm.decode_image(media).collect()
    assert "NotImplementedError" in str(exc.value) or "BMP" in str(exc.value)


# ---------------------------------------------------------------------------
# WAV / PCM audio path
# ---------------------------------------------------------------------------


def test_wav_roundtrip_exact():
    """decode(encode(x)) == x for the raw sample stream, including a
    stray LIST chunk between fmt and data (chunk-walk tolerance)."""
    import numpy as np

    s = ((np.arange(100) * 1234) % 7001 - 3500).astype("<i2")
    payload = mm.encode_wav(16000, s.tobytes())
    rate, out = mm._decode_wav(payload)
    assert rate == 16000
    assert (out == s).all()
    # splice an ignorable chunk after fmt (12 header + 8+16 fmt bytes)
    cut = 12 + 24
    spliced = payload[:cut] + b"LIST" + (4).to_bytes(4, "little") + b"INFO" + payload[cut:]
    rate2, out2 = mm._decode_wav(spliced)
    assert rate2 == 16000 and (out2 == s).all()


def test_wav_rejects_non_pcm():
    import numpy as np

    s = np.zeros(10, dtype="<i2")
    payload = bytearray(mm.encode_wav(8000, s.tobytes()))
    payload[20:22] = (3).to_bytes(2, "little")  # IEEE-float fmt tag
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        mm._decode_wav(bytes(payload))


def test_decode_audio_features(spark):
    import numpy as np

    ids = spark.range(5).select(F.col("id").alias("media_id"))
    media = mm.attach_media_metadata(
        mm.synthesize_wav_media(ids), kind="audio", mime="audio/wav"
    )
    rows = {r.media_id: r for r in mm.decode_audio(media).collect()}
    assert set(rows) == set(range(5))
    for mid, r in rows.items():
        n = 800 + (mid % 5) * 160
        s = (mid * 37 + np.arange(n) * 17) % 4001 - 2000
        assert r.sample_rate == 8000
        assert r.n_samples == n
        assert r.duration_ms == n // 8
        assert abs(r.rms - float(np.sqrt((s.astype(float) ** 2).mean()))) < 1e-9
        neg = s < 0
        assert r.zero_crossings == int((neg[1:] != neg[:-1]).sum())


def test_decode_audio_strict_raises_on_non_wav(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"ID3\x03not-a-wav"))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|only PCM"):
        mm.decode_audio(df).collect()


# ---------------------------------------------------------------------------
# AVI / uncompressed-DIB video path
# ---------------------------------------------------------------------------


def test_avi_roundtrip_exact():
    import numpy as np

    w, h = 6, 4
    frames = [
        (np.arange(w * h * 3, dtype=np.int64) * (f + 3) % 256)
        .astype(np.uint8)
        .tobytes()
        for f in range(5)
    ]
    payload = mm.encode_avi(w, h, frames)
    rw, rh, fps, decoded = mm._decode_avi(payload)
    assert (rw, rh, fps, len(decoded)) == (w, h, 10, 5)
    for f, fb in enumerate(frames):
        expect = np.frombuffer(fb, dtype=np.uint8).reshape(h, w, 3) / 255.0
        assert np.allclose(decoded[f], expect)


def test_decode_video_frames_samples_every_nth(spark):
    ids = spark.range(4).select(F.col("id").alias("media_id"))
    media = mm.attach_media_metadata(
        mm.synthesize_avi_media(ids), kind="video", mime="video/x-msvideo"
    )
    rows = mm.decode_video_frames(media, ).collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.media_id, []).append(r.frame_idx)
    for mid, idxs in by_id.items():
        n_frames = 4 + mid % 5
        assert sorted(idxs) == list(range(0, n_frames, 2))
        w, h = 8 + mid % 5, 8 + mid % 3
        assert all(r.width == w and r.height == h for r in rows if r.media_id == mid)


def test_decode_video_strict_raises_on_compressed(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00\x18ftypmp42-not-avi"))],
        "media_id long, content binary",
    )
    with pytest.raises(Exception, match="NotImplementedError|uncompressed-DIB"):
        mm.decode_video_frames(df).collect()


def test_avi_rejects_compressed_stream():
    import numpy as np

    payload = bytearray(
        mm.encode_avi(4, 4, [np.zeros(48, dtype=np.uint8).tobytes()])
    )
    # flip the BITMAPINFOHEADER compression field (strf body offset 16)
    strf_at = payload.find(b"strf")
    payload[strf_at + 8 + 16 : strf_at + 8 + 20] = b"MJPG"
    with pytest.raises(ValueError, match="unsupported AVI stream"):
        mm._decode_avi(bytes(payload))


# ---------------------------------------------------------------------------
# Round-5 hardening (ADVICE r4): header-flag honesty, malformed-rate
# rejection, NTSC fps rounding, non-WAVE RIFF routing
# ---------------------------------------------------------------------------


def test_avi_header_flags_zero_without_index():
    """encode_avi emits no idx1 chunk, so the avih flags dword must not
    advertise AVIF_HASINDEX (0x10) to external players."""
    import numpy as np

    payload = mm.encode_avi(4, 4, [np.zeros(48, dtype=np.uint8).tobytes()])
    avih_at = payload.find(b"avih")
    flags = int.from_bytes(payload[avih_at + 8 + 12 : avih_at + 8 + 16], "little")
    assert flags & 0x10 == 0
    assert b"idx1" not in payload


def test_wav_zero_sample_rate_is_value_error():
    """A fmt chunk declaring sample_rate=0 must raise the documented
    ValueError, never ZeroDivisionError from duration math."""
    import numpy as np

    payload = bytearray(mm.encode_wav(8000, np.zeros(10, dtype="<i2").tobytes()))
    payload[24:28] = (0).to_bytes(4, "little")  # fmt chunk sample-rate field
    with pytest.raises(ValueError, match="unsupported WAV variant"):
        mm._decode_wav(bytes(payload))


def test_avi_ntsc_fps_rounds_to_nearest():
    """A foreign stream with rate/scale = 30000/1001 (NTSC) reports
    fps=30 under the documented integer-fps contract, not 29."""
    import numpy as np

    payload = bytearray(
        mm.encode_avi(4, 4, [np.zeros(48, dtype=np.uint8).tobytes()])
    )
    strh_at = payload.find(b"strh")
    body = strh_at + 8
    payload[body + 20 : body + 24] = (1001).to_bytes(4, "little")  # scale
    payload[body + 24 : body + 28] = (30000).to_bytes(4, "little")  # rate
    _, _, fps, _ = mm._decode_avi(bytes(payload))
    assert fps == 30


def test_decode_audio_non_wave_riff_raises_no_codec(spark):
    """A RIFF container that is not WAVE (e.g. an AVI misrouted into the
    audio table) is a format with no codec here: it raises
    NotImplementedError, not the malformed-WAV ValueError."""
    import numpy as np

    avi = mm.encode_avi(4, 4, [np.zeros(48, dtype=np.uint8).tobytes()])
    df = spark.createDataFrame(
        [(7, bytearray(avi))], "media_id long, content binary"
    )
    with pytest.raises(Exception, match="NotImplementedError|only PCM") as exc:
        mm.decode_audio(df).collect()
    assert "missing fmt" not in str(exc.value)
