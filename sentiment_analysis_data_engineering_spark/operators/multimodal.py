"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

Extension layer (no reference counterpart). Decode support:

- **BMP (24-bit uncompressed BI_RGB) decodes for real** — a
  dependency-free header+pixel parser (`_decode_bmp`), plus an
  `encode_bmp` counterpart so fixtures carry genuine encoded bytes and
  tests can assert decode(encode(x)) == x. The DIB info header and the
  padded bottom-up BGR pixel array (`_dib_info_header`, `_dib_rows`,
  `_dib_pixels`) are shared with the AVI frame path.
- **WAV (PCM mono 16-bit) decodes for real** — RIFF chunk walk +
  signal features (`_decode_wav`/`decode_audio`), with `encode_wav`
  as the round-trip counterpart.
- **AVI (uncompressed DIB frames) decodes for real** — nested
  RIFF/LIST walk + per-frame DIB pixel path with every-Nth frame
  sampling (`_decode_avi`/`decode_video_frames`), `encode_avi` as the
  counterpart.
- Compressed formats (JPEG/PNG/MP3/H.264/...) raise
  NotImplementedError from the executor: the container ships no
  codecs. Swapping in Pillow/librosa/pyav is a one-function change
  inside a row function.

Every decoder and fixture generator crosses into Python through one
adapter, `_map_rows`: it owns the ``mapInPandas`` batch loop and builds
each output frame from the declared schema's field names, so an
operator is only its per-row function.

Design for 100 TB of media:
- binary payloads reach Python only as Arrow record batches
  (``mapInPandas``), never through a per-row UDF call;
- metadata (width/height/codec/duration) lives in a sibling struct so
  filters on it prune BEFORE any decode;
- decoders emit fixed-width feature rows (dims, means, RMS) →
  downstream joins run on columnar data, payload column dropped as
  early as possible (column pruning does this for free when callers
  select).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "MEDIA_SCHEMA",
    "attach_media_metadata",
    "decode_audio",
    "decode_image",
    "decode_video_frames",
    "encode_avi",
    "encode_bmp",
    "encode_wav",
    "synthesize_avi_media",
    "synthesize_bmp_media",
    "synthesize_wav_media",
]

#: The engine's media-table contract: payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)


def _map_rows(df: DataFrame, schema: T.StructType, row_fn) -> DataFrame:
    """The module's one Arrow crossing. ``row_fn`` takes one input row's
    values, in ``df``'s column order, and yields output tuples in
    ``schema``'s field order (none, one or many per input row)."""
    cols = schema.fieldNames()

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                out
                for vals in zip(*(pdf[c] for c in pdf.columns))
                for out in row_fn(*vals)
            ]
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(batches, schema)


#: what the fixture generators emit: (media_id, content binary)
_MEDIA_BLOB = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)


def _synthesize(df: DataFrame, blob_fn) -> DataFrame:
    """Fixture-generator body: one ``blob_fn(media_id)`` payload per id."""

    def row(mid):
        mid = int(mid)
        yield mid, blob_fn(mid)

    return _map_rows(
        df.select(F.col("media_id").cast("long").alias("media_id")), _MEDIA_BLOB, row
    )


def attach_media_metadata(df: DataFrame, kind: str, mime: str) -> DataFrame:
    """Wrap a (media_id, content binary) frame into the media contract
    with constant kind/mime and size-derived placeholder metadata."""
    return df.select(
        "media_id",
        F.lit(kind).alias("kind"),
        "content",
        F.struct(
            F.lit(mime).alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("codec"),
        ).alias("meta"),
    )


def _row_size(width: int) -> int:
    """Bytes per stored DIB row: 3 per pixel, padded to 4 bytes."""
    return (width * 3 + 3) & ~3


def _dib_info_header(width: int, height: int) -> bytes:
    """The 40-byte BITMAPINFOHEADER of a 24-bit BI_RGB bottom-up DIB —
    the same header a BMP file and an AVI 'strf' chunk carry."""
    return (
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)  # positive: bottom-up
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")  # BI_RGB
        + (_row_size(width) * height).to_bytes(4, "little")
        + (2835).to_bytes(4, "little") * 2
        + (0).to_bytes(4, "little") * 2
    )


def _dib_rows(width: int, height: int, pixel_bytes: bytes) -> bytes:
    """Row-major top-down RGB → the DIB pixel array: rows bottom-up,
    BGR, each padded to a 4-byte boundary (`_dib_pixels` inverts it)."""
    if len(pixel_bytes) != width * height * 3:
        raise ValueError("pixel data must be width*height*3 bytes long")
    px = np.frombuffer(pixel_bytes, dtype=np.uint8).reshape(height, width, 3)
    out = np.zeros((height, _row_size(width)), dtype=np.uint8)
    out[:, : width * 3] = px[::-1, :, ::-1].reshape(height, width * 3)
    return out.tobytes()


def _dib_pixels(buf: bytes, width: int, height: int, offset: int = 0) -> np.ndarray:
    """Parse a 24-bit DIB pixel array into (|height|, width, 3) float64
    RGB in [0, 1]; a negative ``height`` means top-down rows."""
    bottom_up = height > 0
    height = abs(height)
    row_size = _row_size(width)
    data = np.frombuffer(
        buf, dtype=np.uint8, count=row_size * height, offset=offset
    ).reshape(height, row_size)
    bgr = data[:, : width * 3].reshape(height, width, 3)
    if bottom_up:
        bgr = bgr[::-1]
    # float64 so v/255.0 and downstream means are the exact IEEE ops a
    # double-based SQL oracle performs
    return bgr[:, :, ::-1].astype(np.float64) / 255.0


def encode_bmp(width: int, height: int, pixel_bytes: bytes) -> bytes:
    """Assemble a real 24-bit uncompressed (BI_RGB) BMP file.

    ``pixel_bytes`` is row-major top-down RGB, length = width*height*3.
    BMP stores rows bottom-up, BGR, padded to 4-byte boundaries — this
    writer performs that transform, and `_decode_bmp` inverts it."""
    pixel_data = _dib_rows(width, height, pixel_bytes)
    header = (
        b"BM"
        + (14 + 40 + len(pixel_data)).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (14 + 40).to_bytes(4, "little")
    )
    return header + _dib_info_header(width, height) + pixel_data


def _decode_bmp(payload: bytes) -> np.ndarray:
    """Parse a 24-bit uncompressed BMP into (height, width, 3) float64
    RGB in [0, 1]. Raises ValueError on anything but BI_RGB 24bpp."""
    if payload[:2] != b"BM" or len(payload) < 54:
        raise ValueError("not a BMP payload")
    offset = int.from_bytes(payload[10:14], "little")
    width = int.from_bytes(payload[18:22], "little", signed=True)
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported BMP variant (bpp={bpp}, comp={compression})")
    return _dib_pixels(payload, width, height, offset)


def decode_image(df: DataFrame) -> DataFrame:
    """Decode the binary payload into (media_id, height, width, mean_px).

    BMP payloads (24-bit BI_RGB) decode FOR REAL — header parse, row
    unpadding, bottom-up/BGR undoing — inside the Arrow batch loop;
    ``mean_px`` is the mean over every channel value in [0, 1]. Other
    formats raise NotImplementedError from the executor (the honest
    no-codec behavior).
    """

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("mean_px", T.DoubleType()),
        ]
    )

    def row(mid, payload):
        payload = bytes(payload)
        if payload[:2] != b"BM":
            raise NotImplementedError(
                "only uncompressed 24-bit BMP decodes in-container; other "
                "formats need Pillow/libav (not installed)"
            )
        px = _decode_bmp(payload)
        yield int(mid), px.shape[0], px.shape[1], float(px.mean())

    return _map_rows(df.select("media_id", "content"), out_schema, row)


def synthesize_bmp_media(df: DataFrame) -> DataFrame:
    """FIXTURE GENERATOR: one real 24-bit BMP payload per id —
    (media_id, content binary).

    Fully deterministic and closed-form so an external oracle can
    predict the decode result without parsing BMP: width = 8 + id % 9,
    height = 8 + id % 7, and pixel byte i of the row-major top-down
    RGB stream is (id*31 + i) % 256. Runs through the same Arrow
    adapter the decoders use."""

    def blob(mid):
        w, h = 8 + mid % 9, 8 + mid % 7
        pix = ((mid * 31 + np.arange(w * h * 3)) % 256).astype(np.uint8)
        return encode_bmp(w, h, pix.tobytes())

    return _synthesize(df, blob)


def encode_wav(sample_rate: int, samples: bytes) -> bytes:
    """Assemble a real RIFF/WAVE file: PCM (format 1), mono, 16-bit.

    ``samples`` is little-endian int16 PCM, length even. The writer
    emits the canonical 44-byte header (RIFF size, fmt chunk with
    byte-rate/block-align, data chunk) that `_decode_wav` inverts."""
    if len(samples) % 2:
        raise ValueError("samples must be little-endian int16 (even length)")
    byte_rate = sample_rate * 2  # mono, 16-bit
    fmt = (
        b"fmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits/sample
    )
    data = b"data" + len(samples).to_bytes(4, "little") + samples
    body = b"WAVE" + fmt + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Parse a PCM mono 16-bit RIFF/WAVE payload into (sample_rate,
    int16 sample array) by walking the chunk list (a conforming reader
    must tolerate extra chunks like LIST/INFO between fmt and data).
    Raises ValueError on anything but PCM/mono/16-bit."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE" or len(payload) < 44:
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt_tag = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if fmt_tag != 1 or channels != 1 or bits != 16 or rate <= 0:
                raise ValueError(
                    f"unsupported WAV variant (fmt={fmt_tag}, "
                    f"channels={channels}, bits={bits}, rate={rate})"
                )
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("WAV payload missing fmt or data chunk")
    return rate, samples


def decode_audio(df: DataFrame) -> DataFrame:
    """Decode binary audio payloads into per-item signal features:
    (media_id, sample_rate, n_samples, duration_ms, rms, zero_crossings).

    WAV/PCM payloads (mono 16-bit) decode FOR REAL — chunk walk, fmt
    validation — inside the Arrow batch loop; ``rms`` is the root mean
    square of the raw int16 samples (computed in float64, the exact
    IEEE ops a SQL oracle replays) and ``zero_crossings`` counts
    sign(s_i) != sign(s_{i-1}) transitions with sign = (sample < 0).
    Compressed audio raises NotImplementedError from the executor (no
    codec in-container)."""

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("duration_ms", T.LongType()),
            T.StructField("rms", T.DoubleType()),
            T.StructField("zero_crossings", T.LongType()),
        ]
    )

    def row(mid, payload):
        payload = bytes(payload)
        # Sniff the full RIFF/WAVE signature: a non-WAVE RIFF container
        # (e.g. an AVI misrouted into the audio table) is a format with
        # no codec here, not a malformed WAV.
        if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
            raise NotImplementedError(
                "only PCM mono 16-bit WAV decodes in-container; "
                "compressed audio needs librosa/libav (not installed)"
            )
        rate, s = _decode_wav(payload)
        sf = s.astype(np.float64)
        neg = s < 0
        yield (
            int(mid),
            int(rate),
            len(s),
            len(s) * 1000 // rate,
            float(np.sqrt((sf * sf).mean())) if len(s) else 0.0,
            int((neg[1:] != neg[:-1]).sum()) if len(s) > 1 else 0,
        )

    return _map_rows(df.select("media_id", "content"), out_schema, row)


def synthesize_wav_media(df: DataFrame) -> DataFrame:
    """FIXTURE GENERATOR: one real PCM mono 16-bit WAV payload per id —
    (media_id, content binary), the audio twin of synthesize_bmp_media.

    Closed-form so an external oracle predicts the decode without
    parsing RIFF: sample_rate = 8000, n = 800 + (id % 5) * 160 samples
    (always a multiple of 8, so duration_ms = n/8 is exact), and sample
    i = ((id*37 + i*17) % 4001) - 2000 — a full-swing int16-safe
    sawtooth with sign structure an oracle can re-derive."""

    def blob(mid):
        n = 800 + (mid % 5) * 160
        s = ((mid * 37 + np.arange(n) * 17) % 4001 - 2000).astype("<i2")
        return encode_wav(8000, s.tobytes())

    return _synthesize(df, blob)


def _chunk(cid: bytes, body: bytes) -> bytes:
    """RIFF chunk: id + size + body, word-aligned."""
    return cid + len(body).to_bytes(4, "little") + body + (b"\x00" * (len(body) & 1))


def _list_chunk(ltype: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", ltype + body)


def encode_avi(width: int, height: int, frames: list[bytes]) -> bytes:
    """Assemble a real uncompressed-DIB AVI (RIFF 'AVI ') file at 10
    fps.

    Each entry of ``frames`` is row-major TOP-DOWN RGB bytes of length
    width*height*3 (the same contract as ``encode_bmp``); storage is the
    AVI-native bottom-up BGR padded-row DIB inside '00db' chunks, with a
    spec-shaped hdrl (avih main header + one 'vids'/'DIB ' stream with
    its BITMAPINFOHEADER). `_decode_avi` inverts it."""
    dib_frames = [_dib_rows(width, height, fb) for fb in frames]
    frame_bytes = _row_size(width) * height
    fps = 10
    strh = (
        b"vids"
        + b"DIB "
        + (0).to_bytes(4, "little")  # flags
        + (0).to_bytes(4, "little")  # priority + language
        + (0).to_bytes(4, "little")  # initial frames
        + (1).to_bytes(4, "little")  # scale
        + fps.to_bytes(4, "little")  # rate (rate/scale = fps)
        + (0).to_bytes(4, "little")  # start
        + len(frames).to_bytes(4, "little")  # length in frames
        + frame_bytes.to_bytes(4, "little")  # suggested buffer
        + (0xFFFFFFFF).to_bytes(4, "little")  # quality (default)
        + (0).to_bytes(4, "little")  # sample size
        + (0).to_bytes(2, "little") * 2  # rcFrame left/top
        + width.to_bytes(2, "little")
        + height.to_bytes(2, "little")
    )
    strl = _list_chunk(
        b"strl",
        _chunk(b"strh", strh) + _chunk(b"strf", _dib_info_header(width, height)),
    )
    avih = (
        (1_000_000 // fps).to_bytes(4, "little")  # µs per frame
        + (frame_bytes * fps).to_bytes(4, "little")  # max bytes/sec
        + (0).to_bytes(4, "little")  # padding granularity
        + (0).to_bytes(4, "little")  # flags: no AVIF_HASINDEX (no idx1 chunk)
        + len(frames).to_bytes(4, "little")
        + (0).to_bytes(4, "little")  # initial frames
        + (1).to_bytes(4, "little")  # streams
        + frame_bytes.to_bytes(4, "little")  # suggested buffer
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + (0).to_bytes(4, "little") * 4  # reserved
    )
    hdrl = _list_chunk(b"hdrl", _chunk(b"avih", avih) + strl)
    movi = _list_chunk(
        b"movi", b"".join(_chunk(b"00db", f) for f in dib_frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def _decode_avi(payload: bytes) -> tuple[int, int, int, list[np.ndarray]]:
    """Parse an uncompressed-DIB AVI into (width, height, fps, frames)
    with frames as (height, width, 3) float64 RGB in [0, 1] — a chunk
    walk over RIFF/LIST nesting that reads dims from the stream's
    BITMAPINFOHEADER ('strf'), fps from 'strh' rate/scale, and pixels
    from the 'movi' '00db' chunks. Raises ValueError on anything but
    BI_RGB 24bpp single-stream video."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    width = height = None
    fps = 0
    raw_frames: list[bytes] = []

    def walk(data: bytes) -> None:
        nonlocal width, height, fps
        pos = 0
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = int.from_bytes(data[pos + 4 : pos + 8], "little")
            body = data[pos + 8 : pos + 8 + size]
            if cid == b"LIST":
                walk(body[4:])  # skip the list type, recurse into chunks
            elif cid == b"strf":
                bpp = int.from_bytes(body[14:16], "little")
                comp = int.from_bytes(body[16:20], "little")
                if bpp != 24 or comp != 0:
                    raise ValueError(
                        f"unsupported AVI stream (bpp={bpp}, comp={comp})"
                    )
                width = int.from_bytes(body[4:8], "little", signed=True)
                height = int.from_bytes(body[8:12], "little", signed=True)
            elif cid == b"strh" and body[:4] == b"vids":
                # Integer-fps contract: fps reports round(rate/scale) as
                # an int (NTSC 30000/1001 -> 30); exact rationals are out
                # of scope for this decoder and encode_avi only emits
                # scale=1 streams, so round-trips are lossless.
                scale = int.from_bytes(body[20:24], "little") or 1
                rate_ = int.from_bytes(body[24:28], "little")
                fps = (rate_ + scale // 2) // scale
            elif cid == b"00db":
                raw_frames.append(body)
            pos += 8 + size + (size & 1)

    walk(payload[12:])
    if width is None or height is None:
        raise ValueError("AVI payload missing stream format header")
    frames = [_dib_pixels(raw, width, height) for raw in raw_frames]
    return width, abs(height), fps, frames


def decode_video_frames(df: DataFrame) -> DataFrame:
    """Sample every 2nd frame of binary video payloads and decode each
    sampled frame — (media_id, frame_idx, height, width, mean_px). The
    REAL frame grab for uncompressed-DIB AVI (chunk walk + the BMP
    pixel path per frame, Arrow-batched); compressed video raises
    NotImplementedError from the executor. Sampling happens BEFORE
    pixel math — skipped frames cost a chunk-size skip, not a decode,
    which is the point of frame sampling at 100 TB."""

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("mean_px", T.DoubleType()),
        ]
    )

    def row(mid, payload):
        payload = bytes(payload)
        if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
            raise NotImplementedError(
                "only uncompressed-DIB AVI decodes in-container; "
                "compressed video needs pyav/libav (not installed)"
            )
        w, h, _fps, frames = _decode_avi(payload)
        for idx in range(0, len(frames), 2):
            yield int(mid), idx, h, w, float(frames[idx].mean())

    return _map_rows(df.select("media_id", "content"), out_schema, row)


def synthesize_avi_media(df: DataFrame) -> DataFrame:
    """FIXTURE GENERATOR: one real uncompressed-DIB AVI per id —
    (media_id, content binary), the video twin of synthesize_bmp_media.

    Closed-form for oracle replay: width = 8 + id % 5, height =
    8 + id % 3, n_frames = 4 + id % 5, fps = 10, and pixel byte i of
    frame f's row-major top-down RGB stream is (id*31 + f*7 + i) % 256."""

    def blob(mid):
        w, h = 8 + mid % 5, 8 + mid % 3
        n = w * h * 3
        frames = [
            ((mid * 31 + f * 7 + np.arange(n)) % 256).astype(np.uint8).tobytes()
            for f in range(4 + mid % 5)
        ]
        return encode_avi(w, h, frames)

    return _synthesize(df, blob)
