"""Multimodal columns: opaque binary payloads + typed metadata, decoded
via Arrow-batched ``mapInPandas``.

Beyond-parity extension (SURVEY.md §7 M5): the reference has no binary
columns at all; a 100 TB training-data pipeline does. Design rules:

* Media travel as an opaque ``binary`` column next to a typed metadata
  struct — the engine never interprets bytes relationally, so predicate
  pushdown / column pruning still work on the metadata (a scan that
  filters on ``media_type`` never materializes payloads of other types).
* Decode / feature-extract / resize / frame-sample run as
  ``mapInPandas`` stages: Arrow batches in, Arrow batches out, schema
  declared up front. The real path has ONE implementation per family,
  the in-repo stdlib decoders — PNG+GIF+JPEG (baseline and
  progressive) for images (functions/png_codec, functions/gif_codec,
  functions/jpeg_codec), ``wave``/MP3 frame headers for audio, animated
  GIF and MJPEG/uncompressed AVI for video frame-sampling — so output
  never depends on which codec wheels are installed. Formats outside
  those decoders' reach raise a NotImplementedError naming the formats
  covered. A deterministic sha256-derived fake (``fake=True``) remains
  for oracle-checkable plumbing tests.
* The fake is a pure function of the payload hash, reproducible in ANSI
  SQL, so even the Python ``mapInPandas`` stage is oracle-checkable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_TYPES = ["image", "audio", "video"]

DECODED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
    ]
)

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
    ]
)

VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha", T.StringType()),
    ]
)

VIDEO_METADATA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("container", T.StringType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_video_tracks", T.IntegerType()),
        T.StructField("n_audio_tracks", T.IntegerType()),
        T.StructField("audio_sample_rate", T.IntegerType()),
        T.StructField("bitrate_kbps", T.DoubleType()),
    ]
)


def _typed_payloads(media: DataFrame, kind: str) -> DataFrame:
    """(doc_id, payload) for one media type, NULL payloads dropped — THE
    pre-Python filter every decode operator applies (r13 review
    finding: the identical 7-line block was copy-pasted per operator).
    NULL payloads drop before the Arrow stage: bytes(None)/sha256(None)
    would fail the whole task (r12 review finding; attach_binary emits
    payload NULL for NULL text while media_type stays non-NULL)."""
    return media.filter(
        (F.col("media_meta.media_type") == kind)
        & F.col("payload").isNotNull()
    ).select("doc_id", "payload")


def attach_binary(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Attach an opaque binary payload + typed metadata struct to each doc.

    The payload is the UTF-8 encoding of the text (testdata has no real
    media files); metadata is computed JVM-side so filters on it push
    down to the scan without touching payload bytes.
    """
    payload = F.encode(F.col(text_col), "UTF-8")
    sha = F.sha2(payload, 256)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            sha.alias("sha256"),
            F.substring(sha, 1, 8).alias("magic"),
            F.element_at(
                F.array(*[F.lit(m) for m in MEDIA_TYPES]),
                # pmod, not %: Spark's % follows the dividend's sign, so
                # a negative doc_id produced element_at index 0 (runtime
                # error) or -1 (silent wrap from the array END) — r12
                # review finding; oracle CASE moved in lockstep
                (F.pmod(F.col(id_col), F.lit(3)) + 1).cast("int"),
            ).alias("media_type"),
        ).alias("media_meta"),
    )


def _fake_dims(digest_hex: str) -> tuple[int, int, int]:
    """Deterministic fake image dims from a sha256 hexdigest — kept a pure
    function of two hex chars so an ANSI-SQL oracle can reproduce it
    (ascii arithmetic, no hex→int conversion needed)."""
    width = 16 + (ord(digest_hex[0]) * 256 + ord(digest_hex[1])) % 512
    height = 16 + (ord(digest_hex[2]) * 256 + ord(digest_hex[3])) % 512
    channels = 1 + ord(digest_hex[4]) % 4
    return width, height, channels


def _real_decode_dims(payload: bytes) -> tuple[int, int, int]:
    """Real-codec single-image decode → (width, height, channels).

    JPEG dims come header-only from SOF (no entropy decode); every other
    format goes through :func:`_real_decode_pixels`, so the dims and
    pixel paths can never disagree about what decodes."""
    from mwas_rfam_spark.functions.jpeg_codec import is_jpeg, jpeg_dims

    if is_jpeg(payload):
        return jpeg_dims(payload)
    return _real_decode_pixels(payload)[:3]


def _real_decode_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Real-codec decode → (width, height, channels, raw pixels) through
    the in-repo stdlib codecs (functions/png_codec, gif_codec,
    jpeg_codec) — the only real image path, so fingerprints never
    depend on which wheels are installed. For animated GIFs the pixel
    bytes are ALL composited frames concatenated — a first-frame-only
    fingerprint would collide a static image with an animation sharing
    its title frame."""
    from mwas_rfam_spark.functions.gif_codec import decode_gif, is_gif
    from mwas_rfam_spark.functions.jpeg_codec import decode_jpeg, is_jpeg
    from mwas_rfam_spark.functions.png_codec import decode_png, is_png

    if is_png(payload):
        return decode_png(payload)
    if is_gif(payload):
        w, h, frames = decode_gif(payload)
        return w, h, 3, b"".join(frames)  # composited canvas is RGB
    if is_jpeg(payload):
        return decode_jpeg(payload)
    raise NotImplementedError(
        "real image decode: payload is none of PNG/GIF/JPEG (the formats "
        "the stdlib decoders cover)"
    )


def decode_images(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode image payloads → (doc_id, width, height, channels).

    ``fake=False`` is the real-codec path and it has one implementation:
    the in-repo stdlib PNG/GIF/JPEG codecs (functions/png_codec,
    gif_codec, jpeg_codec); other formats raise NotImplementedError
    naming the formats those decoders cover.
    The fake path derives dims from the payload sha256.
    Input only needs (doc_id, payload, media_meta); non-image rows are
    filtered out BEFORE the Python stage so Arrow never ships them.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if fake:
                dims = [_fake_dims(hashlib.sha256(p).hexdigest()) for p in pdf["payload"]]
            else:
                dims = [_real_decode_dims(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "channels": [d[2] for d in dims],
                }
            )

    images = _typed_payloads(media, "image")
    return images.mapInPandas(decode, DECODED_IMAGE_SCHEMA)


def resize_images(decoded: DataFrame, max_side: int = 64) -> DataFrame:
    """Resize plan: new dims preserving aspect ratio, capped at max_side.

    Pure column math (the real pixel resample would live in a mapInPandas
    stage next to decode); kept JVM-side because only dims change here.
    """
    scale = F.least(
        F.lit(1.0),
        F.lit(max_side) / F.greatest(F.col("width"), F.col("height")).cast("double"),
    )
    return decoded.select(
        "doc_id",
        "width",
        "height",
        F.greatest(F.lit(1), F.round(F.col("width") * scale).cast("int")).alias("new_width"),
        F.greatest(F.lit(1), F.round(F.col("height") * scale).cast("int")).alias("new_height"),
    )


def _open_wav_checked(payload: bytes):
    """The ONE RIFF/WAVE magic check + stdlib open shared by the audio
    operators, with wave.Error mapped to the family's documented
    ValueError('corrupt WAV payload: ...') contract. Returns an open
    Wave_read (caller closes)."""
    import io
    import wave

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError(
            "payload is not RIFF/WAVE (the stdlib decoder handles WAV only)"
        )
    try:
        return wave.open(io.BytesIO(payload), "rb")
    except (wave.Error, EOFError, RuntimeError) as e:
        # the stdlib reader is not uniform about corruption: truncated
        # chunk tables raise EOFError and an unseekable mid-chunk skip
        # raises a bare RuntimeError (wave.py Chunk.seek), not
        # wave.Error — all of them mean the same thing here
        raise ValueError(f"corrupt WAV payload: {e}") from e


def _real_audio_features(payload: bytes) -> tuple[int, int]:
    """Real-codec single-clip decode → (sample_rate, n_samples) through
    the stdlib decoders only: the MP3 frame-chain walk
    (functions/media_headers) or the ``wave`` module for RIFF/WAVE
    payloads (PCM headers — rate and frame count come from the fmt/data
    chunks, no sample decoding needed); other formats raise
    NotImplementedError naming the formats covered."""
    from mwas_rfam_spark.functions.media_headers import is_mp3, mp3_metadata

    if is_mp3(payload):
        # header-only frame-chain walk (functions/media_headers): exact
        # sample count and rate without decoding any audio
        meta = mp3_metadata(payload)
        return int(meta["sample_rate"]), int(meta["n_samples"])
    with _open_wav_checked(payload) as w:
        rate, frames = int(w.getframerate()), int(w.getnframes())
    if rate <= 0:
        # the stdlib reader validates channels/width but not rate
        raise ValueError(f"corrupt WAV payload: framerate {rate}")
    return rate, frames


def extract_audio_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Audio feature extraction → (doc_id, sample_rate, n_samples,
    duration_s). ``fake=False`` is the real-codec path and it has one
    implementation: the stdlib ``wave`` parser for WAV payloads and the
    header-only frame walk for MP3 — other formats raise
    NotImplementedError naming the formats covered. The fake path
    derives features from the payload sha256."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rates, samples = [], []
            for p in pdf["payload"]:
                if fake:
                    h = hashlib.sha256(p).hexdigest()
                    rate = [8000, 16000, 22050, 44100][ord(h[0]) % 4]
                    n = 1000 + (ord(h[1]) * 256 + ord(h[2])) * 17
                else:
                    rate, n = _real_audio_features(bytes(p))
                rates.append(rate)
                samples.append(n)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "sample_rate": rates,
                    "n_samples": pd.Series(samples, dtype="int64"),
                    "duration_s": [n / r for n, r in zip(samples, rates)],
                }
            )

    audio = _typed_payloads(media, "audio")
    return audio.mapInPandas(extract, AUDIO_FEATURES_SCHEMA)


def _real_video_frames(payload: bytes, every_n: int) -> list[tuple[int, str]]:
    """Real-codec frame sampling → [(frame_idx, sha256-of-RGB-canvas)].

    Two stdlib decoders cover it: the animated-GIF decoder
    (functions/gif_codec — LZW, palettes, interlace, disposal
    compositing) and the MJPEG/uncompressed-in-AVI path
    (`media_headers.avi_video_frames_raw` walks the movi chunk spans
    and `jpeg_codec.decode_jpeg` decodes only the sampled frames);
    other containers raise NotImplementedError naming those formats.
    The sha is over the composited full-canvas RGB bytes, so the same
    visual frame hashes identically regardless of how the encoder split
    it into sub-rectangles — which is what frame-dedup wants."""
    from mwas_rfam_spark.functions.gif_codec import decode_gif, is_gif

    if is_gif(payload):
        _w, _h, frames = decode_gif(payload)
        return [
            (i, hashlib.sha256(frames[i]).hexdigest())
            for i in range(0, len(frames), every_n)
        ]
    from mwas_rfam_spark.functions.media_headers import is_avi

    if is_avi(payload):
        return _avi_frames(payload, every_n)
    raise NotImplementedError(
        "real frame extraction: payload is not a GIF or an "
        "MJPEG/uncompressed AVI (the formats the stdlib decoders cover; "
        "for MP4/MKV containers, `video_metadata` reads "
        "duration/dims/tracks header-only)"
    )


def _avi_frames(payload: bytes, every_n: int) -> list[tuple[int, str]]:
    """In-container AVI frame sampling with stdlib+numpy only — the
    movi walk yields (start, end) spans so ONLY the sampled frames are
    sliced and decoded (an every_n=30 thumbnail pass over an hour of
    30 fps video decodes 1/30th of the chunks; the container walk
    itself is header arithmetic). Two stdlib codecs:

    * MJPEG (``MJPG``): each chunk is a JPEG, decoded by the repo's
      own decoder; grayscale frames expand to RGB so the sha
      convention (composited full-canvas RGB bytes) holds across
      codecs. Streams whose frames omit the Huffman tables (the
      OpenDML 'AVI1' convention some hardware encoders use) fail
      ValueError in the JPEG decoder rather than silently
      substituting tables.
    * Uncompressed (strf ``biCompression=0``, 24/32-bit): each chunk
      is a raw DIB — BGR(X) rows padded to 4-byte stride, bottom-up
      unless biHeight was negative — reordered to the same RGB canvas
      (:func:`_dib_frame_rgb`). Undersized chunks raise ValueError.

    Zero-length chunks are the AVI encoding for a dropped/repeated
    frame: the sampler hashes the nearest preceding non-empty frame
    (what a player displays at that index), memoized by span so a run
    of drops decodes its source frame once. Other codecs raise
    NotImplementedError naming the codec."""
    from mwas_rfam_spark.functions.jpeg_codec import decode_jpeg
    from mwas_rfam_spark.functions.media_headers import (
        avi_video_frames_raw,
        avi_video_stream_format,
    )

    codec, spans = avi_video_frames_raw(payload)
    if codec == "MJPG":

        def _decode_rgb(chunk: bytes) -> bytes:
            _w, _h, ch, px = decode_jpeg(chunk)
            if ch == 1:
                import numpy as np

                px = np.repeat(np.frombuffer(px, dtype=np.uint8), 3).tobytes()
            return px

    else:
        fmt = avi_video_stream_format(payload)
        if fmt["compression"] != 0 or fmt["bit_count"] not in (24, 32):
            raise NotImplementedError(
                f"AVI video codec {codec!r}: only MJPG and uncompressed "
                "24/32-bit BI_RGB are covered by the stdlib decoders)"
            )

        def _decode_rgb(chunk: bytes) -> bytes:
            return _dib_frame_rgb(chunk, fmt)

    sha_by_span: dict[tuple[int, int], str] = {}

    def _frame_sha(span: tuple[int, int]) -> str:
        if span not in sha_by_span:
            s, e = span
            sha_by_span[span] = hashlib.sha256(
                _decode_rgb(payload[s:e])
            ).hexdigest()
        return sha_by_span[span]

    out = []
    for i in range(0, len(spans), every_n):
        src = i
        while src >= 0 and spans[src][0] == spans[src][1]:
            src -= 1  # dropped frame: show the previous picture
        if src < 0:
            raise ValueError(
                "AVI starts with empty (dropped) frame chunks — "
                "no picture exists to sample at index 0"
            )
        out.append((i, _frame_sha(spans[src])))
    return out


def _dib_frame_rgb(chunk: bytes, fmt: dict) -> bytes:
    """One uncompressed AVI frame chunk → top-down RGB canvas bytes.
    DIB layout: rows of BGR (24-bit) or BGRX (32-bit) pixels, each row
    padded to a 4-byte stride, stored bottom-up unless the
    BITMAPINFOHEADER declared a negative height (``fmt['top_down']``).
    The declared dims are attacker-controlled: a chunk smaller than
    stride×height raises ValueError (``on_error`` absorbs it at the
    Spark layer) instead of reading past the buffer."""
    import numpy as np

    w, h = fmt["width"], fmt["height"]
    bpp = fmt["bit_count"] // 8
    if w <= 0 or h <= 0:
        raise ValueError(f"invalid DIB dims {w}x{h}")
    stride = (w * bpp + 3) & ~3
    need = stride * h
    if len(chunk) < need:
        raise ValueError(
            f"undersized uncompressed frame chunk: {len(chunk)} bytes < "
            f"stride {stride} x height {h}"
        )
    rows = np.frombuffer(chunk[:need], dtype=np.uint8).reshape(h, stride)
    px = rows[:, : w * bpp].reshape(h, w, bpp)
    rgb = px[:, :, 2::-1]  # BGR(X) -> RGB, alpha/pad byte dropped
    if not fmt["top_down"]:
        rgb = rgb[::-1]
    return np.ascontiguousarray(rgb).tobytes()


def _i32(v):
    """Container-declared count/dim/rate → nullable int32. Headers are
    attacker-controlled: an MKV can declare PixelWidth=2^40 or a float
    SamplingFrequency, an AVI dwTotalFrames=2^32-1 — values that crash
    the pandas→Arrow IntegerType cast OUTSIDE the on_error guard
    (review finding). Out-of-range / non-finite values become NULL;
    integral floats (48000.0) round to their int."""
    if v is None:
        return None
    try:
        f = float(v)
    except (TypeError, ValueError):
        return None
    if f != f or f in (float("inf"), float("-inf")):
        return None
    i = int(round(f))
    return i if 0 <= i <= 2**31 - 1 else None


def _real_video_metadata(payload: bytes) -> dict:
    """Header-only container metadata → the VIDEO_METADATA_SCHEMA dict.

    MP4: moov-tree walk (functions/media_headers — duration, 16.16
    tkhd dims, track census, audio rate, container-level bitrate), no
    sample decoding. AVI: RIFF hdrl walk (avih + per-stream strh/strf;
    movi payload untouched). Matroska/WebM: EBML walk of the Segment's
    Info + Tracks (Clusters skipped by declared size). GIF: dims, REAL
    frame count and duration (summed graphic-control delays) from
    `gif_codec.gif_metadata`'s block walk — image data skipped by
    sub-block length, never decompressed. Other containers raise
    NotImplementedError naming the containers covered; malformed payloads
    of a recognized container raise ValueError (see
    ``video_metadata(on_error=)`` for sweep-grade tolerance)."""
    from mwas_rfam_spark.functions.gif_codec import is_gif
    from mwas_rfam_spark.functions.media_headers import (
        avi_metadata,
        is_avi,
        is_mkv,
        is_mp4,
        mkv_metadata,
        mp4_metadata,
    )

    if is_avi(payload):
        m = avi_metadata(payload)
        return {
            "container": "avi",
            "duration_s": m["duration_s"],
            "width": _i32(m["width"]),
            "height": _i32(m["height"]),
            "n_frames": _i32(m["n_frames"]),
            "n_video_tracks": _i32(m["n_video_tracks"]),
            "n_audio_tracks": _i32(m["n_audio_tracks"]),
            "audio_sample_rate": _i32(m["audio_sample_rate"]),
            "bitrate_kbps": m["bitrate_kbps"],
        }
    if is_mkv(payload):
        m = mkv_metadata(payload)
        return {
            "container": m["container"],  # 'matroska' or 'webm' (DocType)
            "duration_s": m["duration_s"],
            "width": _i32(m["width"]),
            "height": _i32(m["height"]),
            "n_frames": None,  # per-frame data lives in Clusters, not read
            "n_video_tracks": _i32(m["n_video_tracks"]),
            "n_audio_tracks": _i32(m["n_audio_tracks"]),
            "audio_sample_rate": _i32(m["audio_sample_rate"]),
            "bitrate_kbps": m["bitrate_kbps"],
        }
    if is_mp4(payload):
        m = mp4_metadata(payload)
        return {
            "container": "mp4",
            "duration_s": m["duration_s"],
            "width": m["width"],
            "height": m["height"],
            # exact video sample count from the stts walk (None for
            # fragmented files whose sample tables live in moof boxes)
            "n_frames": _i32(m["n_frames"]),
            "n_video_tracks": _i32(m["n_video_tracks"]),
            "n_audio_tracks": _i32(m["n_audio_tracks"]),
            # mdhd timescale is a raw uint32 — same int32 clamp
            "audio_sample_rate": _i32(m["audio_sample_rate"]),
            "bitrate_kbps": m["bitrate_kbps"],
        }
    if is_gif(payload):
        from mwas_rfam_spark.functions.gif_codec import gif_metadata

        w, h, n_frames, dur = gif_metadata(payload)
        return {
            "container": "gif",
            # header-only block walk (image data skipped by sub-block
            # LENGTH, never decompressed): real frame count and the
            # summed graphic-control delays
            "duration_s": dur,
            "width": w,
            "height": h,
            "n_frames": n_frames,
            "n_video_tracks": 1,
            "n_audio_tracks": 0,
            "audio_sample_rate": None,
            "bitrate_kbps": (
                len(payload) * 8 / dur / 1000.0 if dur > 0 else None
            ),
        }
    raise NotImplementedError(
        "video metadata: payload is none of ISO BMFF (mp4/mov), AVI, "
        "Matroska/WebM, or GIF (the containers the header walkers cover)"
    )


def video_metadata(
    media: DataFrame, fake: bool = True, on_error: str = "fail"
) -> DataFrame:
    """Header-only video metadata → (doc_id, container, duration_s,
    width, height, n_frames, n_video_tracks, n_audio_tracks,
    audio_sample_rate, bitrate_kbps). The 100 TB point of header-only:
    a metadata sweep of a petabyte video corpus reads a few KB per
    object (ftyp + moov, or the GIF block chain skipped by sub-block
    length), not the sample data — this is the profiling / filtering
    stage that runs BEFORE anyone pays for a decode fleet.

    ``fake=False`` is the real parser path: the stdlib moov-tree walk
    for MP4, `gif_codec.gif_metadata` for GIF (real frame count +
    summed GCE delays; testdata payloads are synthetic text bytes, so
    e2e tests attach real crafted containers); the fake path derives
    deterministic values from the payload sha256 with the same
    two-hex-char arithmetic as `_fake_dims`. ``on_error="null"`` is
    sweep-grade tolerance over attacker-controlled bytes: a malformed
    or unsupported payload yields a row with NULL container/fields
    instead of failing the job (``"fail"``, the default, surfaces the
    first error — right for curated corpora and tests)."""
    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be 'fail' or 'null', got {on_error!r}")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(p)
                if fake:
                    h = hashlib.sha256(payload).hexdigest()
                    w, ht, _c = _fake_dims(h)
                    dur = round(1.0 + (ord(h[5]) % 120), 3)
                    rows.append(
                        (int(doc_id), "fake", dur, w, ht,
                         1 + ord(h[7]) % 120, 1, ord(h[6]) % 2,
                         None, len(payload) * 8 / dur / 1000.0)
                    )
                else:
                    try:
                        m = _real_video_metadata(payload)
                    except (ValueError, NotImplementedError):
                        if on_error == "fail":
                            raise
                        rows.append(
                            (int(doc_id), None, None, None, None, None,
                             None, None, None, None)
                        )
                        continue
                    rows.append(
                        (int(doc_id), m["container"], m["duration_s"],
                         m["width"], m["height"], m.get("n_frames"),
                         m["n_video_tracks"], m["n_audio_tracks"],
                         m["audio_sample_rate"], m["bitrate_kbps"])
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "container", "duration_s", "width", "height",
                    "n_frames", "n_video_tracks", "n_audio_tracks",
                    "audio_sample_rate", "bitrate_kbps",
                ],
            )

    video = _typed_payloads(media, "video")
    return video.mapInPandas(extract, VIDEO_METADATA_SCHEMA)


def sample_video_frames(media: DataFrame, every_n: int = 4, fake: bool = True) -> DataFrame:
    """Frame sampling → one row per sampled frame (doc_id, frame_idx,
    frame_sha). ``fake=False`` is the real-codec path: the stdlib
    animated-GIF and MJPEG/uncompressed-AVI decoders — other formats
    raise NotImplementedError naming the formats covered. The
    fake path derives a frame count from payload size. Output is
    long-form so downstream per-frame ops (dedup, embedding) stay
    relational."""
    # driver-side like the sibling params (max_side, dim, on_error):
    # every_n=0 used to die inside the executor as range()'s
    # ValueError / a ZeroDivisionError (r12 review finding)
    if every_n < 1:
        raise ValueError(f"every_n must be >= 1, got {every_n}")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                if fake:
                    n_frames = max(1, len(p) // 8)
                    for i in range(0, n_frames, every_n):
                        ids.append(doc_id)
                        idxs.append(i)
                        shas.append(hashlib.sha256(p + i.to_bytes(4, "big")).hexdigest())
                else:
                    for i, sha in _real_video_frames(bytes(p), every_n):
                        ids.append(doc_id)
                        idxs.append(i)
                        shas.append(sha)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "frame_idx": pd.Series(idxs, dtype="int32"),
                        "frame_sha": shas,
                    }
                )

    video = _typed_payloads(media, "video")
    return video.mapInPandas(sample, VIDEO_FRAMES_SCHEMA)


CDC_CHUNKS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("chunk_idx", T.IntegerType()),
        T.StructField("offset", T.LongType()),
        T.StructField("length", T.LongType()),
        T.StructField("chunk_sha", T.StringType()),
    ]
)


def cdc_chunk_payloads(
    media: DataFrame,
    avg_size: int = 1024,
    min_size: int | None = None,
    max_size: int | None = None,
    seed: int = 0,
) -> DataFrame:
    """Content-defined chunking of binary payloads → one row per chunk
    (doc_id, chunk_idx, offset, length, chunk_sha).

    Gear-hash boundaries (functions/cdc — FastCDC-style, vectorized
    numpy kernel) depend only on local content, so shared byte ranges
    chunk identically across payloads regardless of alignment — the
    property that makes chunk-grain dedup of media/archives work after
    headers are prepended or bytes edited. Long-form output keeps every
    downstream question relational: duplicate chunks are a hash-groupBy,
    cross-payload containment a semi-join, storage savings an
    aggregation (:func:`binary_dedup_stats`)."""
    from mwas_rfam_spark.functions.cdc import chunk_payload

    def chunk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, offs, lens, shas = [], [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                for i, (off, ln, sha) in enumerate(
                    chunk_payload(bytes(p), avg_size, min_size, max_size, seed)
                ):
                    ids.append(doc_id)
                    idxs.append(i)
                    offs.append(off)
                    lens.append(ln)
                    shas.append(sha)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "chunk_idx": pd.Series(idxs, dtype="int32"),
                        "offset": pd.Series(offs, dtype="int64"),
                        "length": pd.Series(lens, dtype="int64"),
                        "chunk_sha": shas,
                    }
                )

    # NULL payloads (outer-joined docs with no attachment) are dropped
    # JVM-side — bytes(None) in the kernel would fail the whole task
    src = media.select("doc_id", "payload").where(F.col("payload").isNotNull())
    # Small corpora arrive in a handful of input splits, leaving most
    # cores idle through the Python stage (SCALE.md probe H measured the
    # 1x row 6.7x off trend from exactly this underfill); the kernel is
    # per-row, so spread payloads across the cluster first — same
    # pattern as the dedup families' pre-kernel repartition. Guarded:
    # a large corpus already carries more splits than cores, and an
    # unconditional repartition would COALESCE it down to
    # defaultParallelism (fewer tasks at exactly the scale where more
    # are needed) besides shuffling every payload byte for nothing.
    parallelism = media.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < parallelism:
        src = src.repartition(parallelism)
    return src.mapInPandas(chunk, CDC_CHUNKS_SCHEMA)


def binary_dedup_stats(chunks: DataFrame) -> DataFrame:
    """Chunk-grain dedup accounting → one row
    (total_bytes, unique_bytes, n_chunks, n_unique_chunks,
    n_shared_chunks, dedup_ratio).

    ``dedup_ratio`` = total/unique ≥ 1 (1.0 = nothing shared). Two
    map-side-combinable aggregations over the chunk relation — the
    payloads themselves are never touched again."""
    per_sha = chunks.groupBy("chunk_sha").agg(
        F.count("*").alias("n_occ"),
        F.max("length").alias("length"),
    )
    return per_sha.agg(
        F.sum(F.col("n_occ") * F.col("length")).alias("total_bytes"),
        F.sum("length").alias("unique_bytes"),
        F.sum("n_occ").alias("n_chunks"),
        F.count("*").alias("n_unique_chunks"),
        F.sum(F.when(F.col("n_occ") > 1, 1).otherwise(0)).alias("n_shared_chunks"),
        F.round(
            F.sum(F.col("n_occ") * F.col("length")) / F.sum("length"), 6
        ).alias("dedup_ratio"),
    )


def embed_documents(
    docs: DataFrame,
    dim: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    encoder=None,
    batch_partitions: int | None = None,
) -> DataFrame:
    """Text → embedding inference: (doc_id, embedding ARRAY<FLOAT>) —
    the plumbing that turns a documents table into the embeddings table
    the ANN/semantic-dedup/cluster-sampling family consumes.

    ``encoder`` is any callable ``list[str] -> ndarray[batch, dim]``
    (a sentence-transformers model, an ONNX session, ...); it runs
    inside ``mapInPandas``, so each Arrow batch is one vectorized
    forward pass and the model loads once per Python worker, not per
    row. With ``encoder=None`` (model libs absent in this container) a
    deterministic fake embeds each text by seeding numpy from its
    sha256 and L2-normalizing — unit-norm vectors with the real path's
    schema, batch shape, and determinism, so everything downstream is
    exercised for real (same stub convention as the codec family
    above).

    ``batch_partitions`` repartitions before the Python stage — at real
    scale set it to a multiple of the GPU/executor count so inference
    batches balance; by default the scan's partitioning is kept.
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")

    def embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            texts = ["" if t is None else str(t) for t in pdf["__text"]]
            if encoder is not None:
                vecs = np.asarray(encoder(texts), dtype="float32")
                if vecs.shape != (len(texts), dim):
                    raise ValueError(
                        f"encoder returned shape {vecs.shape}, "
                        f"expected {(len(texts), dim)}"
                    )
            else:
                rows = []
                for t in texts:
                    seed = int.from_bytes(
                        hashlib.sha256(t.encode()).digest()[:8], "big"
                    )
                    rng = np.random.default_rng(seed)
                    v = rng.standard_normal(dim)
                    rows.append(v / (np.linalg.norm(v) or 1.0))
                vecs = np.asarray(rows, dtype="float32")
            yield pd.DataFrame(
                {
                    # pass the id through untouched — forcing int64 here
                    # would truncate float ids and crash on string/UUID
                    # ids the id_col parameter invites
                    "doc_id": pdf["__id"],
                    "embedding": [v.tolist() for v in vecs],
                }
            )

    src = docs.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__text")
    )
    if batch_partitions is not None:
        src = src.repartition(batch_partitions)
    id_type = docs.schema[id_col].dataType.simpleString()
    return src.mapInPandas(embed, f"doc_id {id_type}, embedding ARRAY<FLOAT>")


RESAMPLED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
        T.StructField("pixels_sha", T.StringType()),
    ]
)


def _half_up(x: float) -> int:
    """round-half-up — matching F.round's HALF_UP so the planned dims
    (resize_images, JVM) and the resampled dims (here, Python) agree;
    Python's built-in round() is banker's and disagrees at *.5."""
    import math

    return int(math.floor(x + 0.5))


def _nearest_resample(px: bytes, w: int, h: int, c: int, nw: int, nh: int) -> bytes:
    """Nearest-neighbor resample of interleaved row-major pixels —
    the standard ingest downsample, dependency-free. Index mapping is
    floor(i * src / dst), the OpenCV INTER_NEAREST convention."""
    out = bytearray(nw * nh * c)
    for y in range(nh):
        sy = y * h // nh
        row = sy * w * c
        orow = y * nw * c
        for x in range(nw):
            sx = x * w // nw
            out[orow + x * c : orow + (x + 1) * c] = px[row + sx * c : row + (sx + 1) * c]
    return bytes(out)


def resample_images(media: DataFrame, max_side: int = 64, fake: bool = True) -> DataFrame:
    """REAL image downsampling → (doc_id, new_width, new_height,
    pixels_sha): decode (the stdlib PNG/GIF/JPEG codecs, the only real
    path), nearest-neighbor
    resample preserving aspect ratio capped at ``max_side``, sha256 of
    the resampled pixel bytes (the dedup/embedding-ready fingerprint —
    two byte-identical images at different encodings hash the same
    after this stage). The fake path derives dims from the payload
    sha256 with the same aspect-cap arithmetic, so plumbing tests run
    without codecs. Complements :func:`resize_images`, which only
    PLANS new dims JVM-side."""
    if max_side < 1:
        raise ValueError(f"max_side must be >= 1, got {max_side}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, nws, nhs, shas = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(p)
                if fake:
                    w, h, c = _fake_dims(hashlib.sha256(payload).hexdigest())
                    px = None
                else:
                    w, h, c, px = _real_decode_pixels(payload)
                scale = min(1.0, max_side / max(w, h))
                nw = max(1, _half_up(w * scale))
                nh = max(1, _half_up(h * scale))
                if px is None:
                    sha = hashlib.sha256(
                        payload + nw.to_bytes(4, "big") + nh.to_bytes(4, "big")
                    ).hexdigest()
                else:
                    # px may hold several stacked frames (animated GIF):
                    # resample each h-row block so the fingerprint covers
                    # the WHOLE animation
                    frame_bytes = w * h * c
                    resampled = b"".join(
                        _nearest_resample(
                            px[i : i + frame_bytes], w, h, c, nw, nh
                        )
                        for i in range(0, len(px), frame_bytes)
                    )
                    sha = hashlib.sha256(resampled).hexdigest()
                ids.append(doc_id)
                nws.append(nw)
                nhs.append(nh)
                shas.append(sha)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "new_width": pd.Series(nws, dtype="int32"),
                        "new_height": pd.Series(nhs, dtype="int32"),
                        "pixels_sha": shas,
                    }
                )

    images = _typed_payloads(media, "image")
    return images.mapInPandas(run, RESAMPLED_SCHEMA)


AUDIO_SIGNAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("clip_frac", T.DoubleType()),
    ]
)


def audio_signal_stats(media: DataFrame) -> DataFrame:
    """REAL signal statistics over 16-bit PCM WAV payloads →
    (doc_id, rms, peak, clip_frac), all normalized to [-1, 1]:
    loudness (rms), amplitude ceiling (peak) and the fraction of
    full-scale samples (clip_frac — the standard corrupt/clipped-clip
    filter signal). Decoded with the stdlib ``wave`` reader + a numpy
    int16 view; non-WAV or non-16-bit payloads raise with the field
    named. This is feature EXTRACTION (header parsing lives in
    :func:`extract_audio_features`)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, rmss, peaks, clips = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(p)
                with _open_wav_checked(payload) as w:
                    if w.getsampwidth() != 2:
                        raise ValueError(
                            f"audio_signal_stats: sample width {w.getsampwidth()} "
                            "bytes unsupported (16-bit PCM only)"
                        )
                    frames = w.readframes(w.getnframes())
                x = np.frombuffer(frames, dtype="<i2").astype(np.float64) / 32768.0
                if len(x) == 0:
                    rms = peak = clip = 0.0
                else:
                    rms = float(np.sqrt(np.mean(x * x)))
                    peak = float(np.max(np.abs(x)))
                    clip = float(np.mean(np.abs(x) >= 32767.0 / 32768.0))
                ids.append(doc_id)
                rmss.append(rms)
                peaks.append(peak)
                clips.append(clip)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "rms": rmss,
                        "peak": peaks,
                        "clip_frac": clips,
                    }
                )

    audio = _typed_payloads(media, "audio")
    return audio.mapInPandas(run, AUDIO_SIGNAL_SCHEMA)


DHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dhash", T.LongType()),
    ]
)


def _gray_plane(px: bytes, w: int, h: int, c: int) -> bytes:
    """Interleaved pixels → one 8-bit luma plane. RGB(A) uses the ITU
    BT.601 integer weights (299/587/114, exact integer arithmetic so
    the hash is bit-reproducible anywhere); 1- and 2-channel images
    take channel 0 (gray / gray+alpha)."""
    if c == 1:
        return px[: w * h]
    out = bytearray(w * h)
    if c >= 3:
        for i in range(w * h):
            j = i * c
            out[i] = (299 * px[j] + 587 * px[j + 1] + 114 * px[j + 2]) // 1000
    else:  # c == 2: gray + alpha
        for i in range(w * h):
            out[i] = px[i * c]
    return bytes(out)


def _dhash64(px: bytes, w: int, h: int, c: int) -> int:
    """64-bit difference hash (dHash, the standard perceptual image
    fingerprint): luma plane → 9×8 nearest-neighbor thumbnail → bit
    (y*8+x) set iff thumb[y][x] > thumb[y][x+1]. Returned in two's
    complement so it stores as a Spark LONG (same convention as
    simhash64). Deterministic: integer luma, integer index mapping,
    strict > — no floats anywhere."""
    # resample FIRST, then gray: nearest-neighbor only SELECTS source
    # pixels, so graying the 72 selected pixels is bit-identical to
    # graying all w*h and selecting — but ~w*h/72 times cheaper on the
    # mapInPandas hot path (r12 review finding: a 12 MP image paid a
    # 12M-iteration Python luma loop for 72 survivors)
    thumb_px = _nearest_resample(px, w, h, c, 9, 8)
    thumb = _gray_plane(thumb_px, 9, 8, c)
    v = 0
    for y in range(8):
        row = y * 9
        for x in range(8):
            if thumb[row + x] > thumb[row + x + 1]:
                v |= 1 << (y * 8 + x)
    return v - (1 << 64) if v >= 1 << 63 else v


def image_dhash(media: DataFrame, fake: bool = True) -> DataFrame:
    """Perceptual image fingerprints → (doc_id, dhash LONG).

    The real path decodes through the stdlib PNG/GIF/JPEG codecs
    (:func:`_real_decode_pixels`, the only real path) and hashes the
    FIRST frame (the title frame — the
    perceptual identity of an animation; whole-animation BYTE identity
    is `resample_images`' job). The fake path derives a deterministic
    64-bit value from the payload sha256 with the same two's-complement
    packing, so banding/plumbing tests run without codecs.

    Unlike `resample_images`' pixel sha (exact identity of the
    downsampled bytes), dHash is STABLE under re-encoding, small
    resizes, and brightness shifts — the right key for near-dup image
    dedup. Pair it with :func:`image_near_dup_pairs`."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hs = [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(p)
                if fake:
                    v = int.from_bytes(
                        hashlib.sha256(payload).digest()[:8], "big"
                    )
                    v = v - (1 << 64) if v >= 1 << 63 else v
                else:
                    w, h, c, px = _real_decode_pixels(payload)
                    v = _dhash64(px[: w * h * c], w, h, c)
                ids.append(doc_id)
                hs.append(v)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(ids, dtype="int64"),
                        "dhash": pd.Series(hs, dtype="int64"),
                    }
                )

    images = _typed_payloads(media, "image")
    return images.mapInPandas(run, DHASH_SCHEMA)


def image_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 6,
    bands: int = 8,
    fake: bool = True,
) -> DataFrame:
    """Perceptual near-duplicate image pairs: dHash fingerprints through
    the SAME banded-Hamming candidate join as SimHash text dedup
    (`dedup.hamming_band_pairs` — pigeonhole bands, equi-join
    candidates, bit_count verify; never all-pairs). Returns
    (id_a, id_b, hamming). Feed the pairs to `dedup.dedup_clusters` for
    the drop list, exactly like the text families — the 100 TB shape is
    one decode pass (Arrow-batched, shuffle-free) + one band-bucket
    shuffle on 8-byte hashes."""
    from mwas_rfam_spark.operators.dedup import hamming_band_pairs

    hashes = image_dhash(media, fake=fake)
    return hamming_band_pairs(hashes, "dhash", "doc_id", max_hamming, bands)
