"""Header-only MP3 / MP4 metadata from stdlib primitives.

The engine decodes media with stdlib codecs only, and both
formats expose duration / bitrate / sample-rate / dimensions in plain
framed headers that need NO entropy decoding:

- MP3 (MPEG-1/2/2.5 audio, layers I-III): metadata lives in every
  frame's fixed 4-byte header (ISO 11172-3 / 13818-3). Walking the
  frame chain — each header gives the exact byte length of its frame,
  so the walk skips payloads untouched — yields the exact sample count
  and the true average bitrate even for VBR files (where the first
  frame's bitrate field, which naive parsers report, is wrong).
- MP4 (ISO BMFF, 14496-12): metadata lives in the `moov` box tree —
  `mvhd` (movie timescale + duration), per-`trak` `tkhd` (16.16
  fixed-point width/height) / `hdlr` (vide vs soun) / `mdhd` (media
  timescale, which for audio tracks is the sample rate).

These are the "degrade to real metadata" backends for
`operators.multimodal.extract_audio_features` (MP3 branch) and
`video_metadata` (MP4 branch) — full sample/frame DECODE of these
formats is outside the stdlib decoders' reach and raises a named
NotImplementedError (reference for the media family:
mwas_rfam main repo has no media layer at all; this extends the
engine's training-data surface).
"""

from __future__ import annotations

import math
import struct

# bitrate tables in kbps, indexed [version_group][layer][bitrate_index]
# version_group: 0 = MPEG-1, 1 = MPEG-2/2.5
_BITRATES = {
    (0, 1): [0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    (0, 2): [0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    (0, 3): [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    (1, 1): [0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    (1, 2): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    (1, 3): [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
# sample rates in Hz, indexed [version_bits][rate_index]
_RATES = {
    3: [44100, 48000, 32000],  # MPEG-1
    2: [22050, 24000, 16000],  # MPEG-2
    0: [11025, 12000, 8000],   # MPEG-2.5
}


def _id3v2_size(data: bytes) -> int:
    """Bytes occupied by a leading ID3v2 tag (0 when absent). The size
    field is syncsafe (7 bits per byte); the footer flag adds 10."""
    if data[:3] != b"ID3" or len(data) < 10:
        return 0
    sz = (
        (data[6] & 0x7F) << 21
        | (data[7] & 0x7F) << 14
        | (data[8] & 0x7F) << 7
        | (data[9] & 0x7F)
    )
    return 10 + sz + (10 if data[5] & 0x10 else 0)


def _parse_frame_header(data: bytes, pos: int):
    """(frame_bytes, samples, rate_hz, bitrate_kbps, channels) for the
    MPEG audio frame at ``pos``, or None if the 4 bytes there are not a
    valid frame header."""
    if pos + 4 > len(data):
        return None
    b1, b2, b3, _b4 = data[pos : pos + 4]
    if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
        return None
    version_bits = (b2 >> 3) & 0x03  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
    layer_bits = (b2 >> 1) & 0x03  # 3=I, 2=II, 1=III
    if version_bits == 1 or layer_bits == 0:
        return None  # reserved
    layer = 4 - layer_bits  # 1..3
    vgroup = 0 if version_bits == 3 else 1
    bidx = (b3 >> 4) & 0x0F
    ridx = (b3 >> 2) & 0x03
    if bidx in (0, 15) or ridx == 3:
        return None  # free-format / reserved
    bitrate = _BITRATES[(vgroup, layer)][bidx]  # kbps
    rate = _RATES[version_bits][ridx]
    padding = (b3 >> 1) & 0x01
    channels = 1 if ((_b4 >> 6) & 0x03) == 3 else 2
    if layer == 1:
        samples = 384
        frame_bytes = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        samples = 1152 if (layer == 2 or vgroup == 0) else 576
        frame_bytes = samples // 8 * bitrate * 1000 // rate + padding
    if frame_bytes <= 4:
        return None
    return frame_bytes, samples, rate, bitrate, channels


def _vbr_tag_frame(data: bytes, pos: int, channels: int) -> bool:
    """True when the frame at ``pos`` is a Xing/Info/VBRI metadata
    frame — the first frame LAME/Fraunhofer VBR encoders emit. It
    occupies a frame slot in the chain but carries NO audio, so the
    sample/frame census and the average bitrate must not count it
    (players and mutagen skip it the same way). Xing/Info sits right
    after the side info (whose length depends on version + channel
    mode); VBRI sits at a fixed 32 bytes past the header."""
    version_bits = (data[pos + 1] >> 3) & 0x03
    if version_bits == 3:  # MPEG-1
        side = 17 if channels == 1 else 32
    else:  # MPEG-2 / 2.5
        side = 9 if channels == 1 else 17
    if data[pos + 4 + side : pos + 8 + side] in (b"Xing", b"Info"):
        return True
    return data[pos + 36 : pos + 40] == b"VBRI"


def is_mp3(data: bytes) -> bool:
    """True when the payload starts with an ID3v2 tag or a valid MPEG
    audio frame header."""
    if data[:3] == b"ID3":
        return True
    return _parse_frame_header(data, 0) is not None


def mp3_metadata(data: bytes) -> dict:
    """Header-only MP3 metadata by walking the frame chain:
    {sample_rate, n_samples, duration_s, bitrate_kbps, channels,
    n_frames}. Exact for CBR and VBR alike (every frame's own header is
    read; payloads are skipped by length). Raises ValueError when no
    valid frame chain exists."""
    pos = _id3v2_size(data)
    # tolerate junk/silence before the first sync, bounded
    first = None
    for p in range(pos, min(len(data), pos + 65536)):
        if data[p] == 0xFF and _parse_frame_header(data, p) is not None:
            first = p
            break
    if first is None:
        raise ValueError("no MPEG audio frame sync found (not an MP3?)")
    pos = first
    n_frames = 0
    n_samples = 0
    audio_bytes = 0
    rate = None
    channels = None
    while pos + 4 <= len(data):
        hdr = _parse_frame_header(data, pos)
        if hdr is None:
            # trailing tags (ID3v1 'TAG', APE) or truncation: stop at the
            # first non-frame — everything before it was a valid chain
            break
        frame_bytes, samples, r, _kbps, ch = hdr
        if pos + frame_bytes > len(data):
            break  # truncated final frame: exclude it
        if n_frames == 0 and rate is None and _vbr_tag_frame(data, pos, ch):
            pos += frame_bytes  # VBR header frame: walk past, don't count
            continue
        if rate is None:
            rate, channels = r, ch
        elif r != rate:
            break  # rate change mid-stream = corrupt chain; keep the prefix
        n_frames += 1
        n_samples += samples
        audio_bytes += frame_bytes
        pos += frame_bytes
    if n_frames == 0:
        raise ValueError("no complete MPEG audio frame (truncated MP3?)")
    duration = n_samples / rate
    return {
        "sample_rate": rate,
        "n_samples": n_samples,
        "duration_s": duration,
        "bitrate_kbps": audio_bytes * 8 / duration / 1000.0,
        "channels": channels,
        "n_frames": n_frames,
    }


# ---------------------------------------------------------------- MP4


def is_mp4(data: bytes) -> bool:
    """True for an ISO BMFF container (`ftyp` as the first box)."""
    return len(data) >= 12 and data[4:8] == b"ftyp"


def _boxes(data: bytes, start: int, end: int):
    """Yield (type, payload_start, payload_end) for the box sequence in
    data[start:end]. Handles 64-bit largesize and size==0 (to end)."""
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack(">I", data[pos : pos + 4])
        btype = data[pos + 4 : pos + 8]
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated MP4 box (largesize)")
            (size,) = struct.unpack(">Q", data[pos + 8 : pos + 16])
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"corrupt MP4 box {btype!r}: size {size}")
        yield btype, pos + hdr, pos + size
        pos += size


def _find(data: bytes, start: int, end: int, btype: bytes):
    for t, s, e in _boxes(data, start, end):
        if t == btype:
            return s, e
    return None


def _stts_sample_count(data: bytes, mdia_s: int, mdia_e: int):
    """Exact sample (frame) count of a track from its stts
    (time-to-sample) box: mdia -> minf -> stbl -> stts, sum of the
    entries\' sample_count fields (ONE bulk unpack — a VFR file can
    legitimately carry one entry per sample) — header-only, the sample
    DATA is never touched. BEST-EFFORT by contract: returns None when
    the chain is absent OR malformed OR empty (entry_count == 0 is the
    spec-conforming FRAGMENTED layout — samples live in moof/trun, so
    0 would be a wrong concrete value) — this ancillary census field
    must not fail metadata extraction for a file whose mvhd/tkhd
    parsed fine before it existed (review finding: mp4_metadata never
    walked minf/stbl pre-r9, so nothing nested there may now throw)."""
    try:
        minf = _find(data, mdia_s, mdia_e, b"minf")
        if minf is None:
            return None
        stbl = _find(data, minf[0], minf[1], b"stbl")
        if stbl is None:
            return None
        stts = _find(data, stbl[0], stbl[1], b"stts")
        if stts is None:
            return None
        ss, se = stts
        if se - ss < 8:
            return None
        (entry_count,) = struct.unpack(">I", data[ss + 4 : ss + 8])
        if entry_count == 0 or se - ss < 8 + 8 * entry_count:
            return None
        return sum(
            struct.unpack_from(f">{2 * entry_count}I", data, ss + 8)[0::2]
        )
    except (ValueError, struct.error):
        # struct.error is NOT a ValueError subclass; today the length
        # checks above make the unpacks safe, but the never-throws
        # contract must be enforced by the handler, not by that
        # invariant surviving future edits (r9 ADVICE).
        return None


def mp4_metadata(data: bytes) -> dict:
    """Header-only MP4 metadata from the moov tree: {duration_s, width,
    height, n_video_tracks, n_audio_tracks, audio_sample_rate,
    bitrate_kbps}. width/height come from the first video track's tkhd
    (16.16 fixed point); audio_sample_rate from the first audio track's
    mdhd timescale (the BMFF convention). Raises ValueError when moov
    or mvhd is missing."""
    if not is_mp4(data):
        raise ValueError("not an ISO BMFF container (no ftyp)")
    moov = _find(data, 0, len(data), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov box (streaming-only fragment?)")
    ms, me = moov
    mvhd = _find(data, ms, me, b"mvhd")
    if mvhd is None:
        raise ValueError("MP4 moov missing mvhd")
    vs, ve = mvhd
    if ve - vs < 20:
        raise ValueError(f"truncated MP4 mvhd box ({ve - vs} bytes)")
    version = data[vs]
    if version == 1 and ve - vs < 32:
        raise ValueError(f"truncated MP4 mvhd box ({ve - vs} bytes)")
    if version == 1:
        timescale, duration = struct.unpack(">IQ", data[vs + 20 : vs + 32])
    else:
        timescale, duration = struct.unpack(">II", data[vs + 12 : vs + 20])
    if timescale == 0:
        raise ValueError("MP4 mvhd timescale is 0")
    duration_s = duration / timescale

    width = height = None
    audio_rate = None
    n_frames = None
    n_video = n_audio = 0
    for t, s, e in _boxes(data, ms, me):
        if t != b"trak":
            continue
        mdia = _find(data, s, e, b"mdia")
        handler = None
        if mdia is not None:
            hdlr = _find(data, mdia[0], mdia[1], b"hdlr")
            if hdlr is not None:
                handler = data[hdlr[0] + 8 : hdlr[0] + 12]
        if handler == b"vide":
            n_video += 1
            first_vide = n_video == 1
            # FIRST video track only — matching n_frames below, so the
            # row can never carry track 1's frame count with track 2's
            # dims when track 1's tkhd is missing/corrupt (r13 review)
            if first_vide:
                tkhd = _find(data, s, e, b"tkhd")
                if tkhd is not None:
                    ts, te = tkhd
                    if te - ts < 1:
                        raise ValueError("truncated MP4 tkhd box (empty)")
                    # width/height sit after FullBox + times + track_ID +
                    # reserved + duration + reserved[2] + layer/alt/vol/
                    # reserved + matrix: payload offset 76 (v0) / 88 (v1,
                    # 64-bit times+duration)
                    rel = 88 if data[ts] == 1 else 76
                    if te - ts < rel + 8:
                        raise ValueError(
                            f"truncated MP4 tkhd box ({te - ts} bytes)"
                        )
                    off = ts + rel
                    w_fp, h_fp = struct.unpack(">II", data[off : off + 8])
                    width, height = w_fp >> 16, h_fp >> 16
            if first_vide and mdia is not None:
                # FIRST video track only — the same convention as
                # width/height, so the row can never mix one track\'s
                # dims with another\'s frame count (review finding)
                n_frames = _stts_sample_count(data, mdia[0], mdia[1])
        elif handler == b"soun":
            n_audio += 1
            if audio_rate is None and mdia is not None:
                mdhd = _find(data, mdia[0], mdia[1], b"mdhd")
                if mdhd is not None:
                    ds, de = mdhd
                    if de - ds < 1:
                        raise ValueError("truncated MP4 mdhd box (empty)")
                    rel = 20 if data[ds] == 1 else 12
                    if de - ds < rel + 4:
                        raise ValueError(
                            f"truncated MP4 mdhd box ({de - ds} bytes)"
                        )
                    (audio_rate,) = struct.unpack(">I", data[ds + rel : ds + rel + 4])
    return {
        "duration_s": duration_s,
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "n_video_tracks": n_video,
        "n_audio_tracks": n_audio,
        "audio_sample_rate": audio_rate,
        "bitrate_kbps": (len(data) * 8 / duration_s / 1000.0) if duration_s > 0 else None,
    }


# ------------------------------------------------------------- AVI (RIFF)


def is_avi(data: bytes) -> bool:
    return len(data) >= 12 and data[:4] == b"RIFF" and data[8:12] == b"AVI "


def _riff_chunks(data: bytes, start: int, end: int):
    """(fourcc, payload_start, payload_end) for each chunk in a RIFF
    span — chunks are word-aligned (odd payload sizes pad one byte)."""
    pos = start
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        ps = pos + 8
        pe = ps + size
        if pe > end:
            raise ValueError(f"truncated AVI chunk {fourcc!r}")
        yield fourcc, ps, pe
        pos = pe + (size & 1)  # word alignment


def avi_metadata(data: bytes) -> dict:
    """Header-only AVI metadata from the `hdrl` LIST (AVI 1.0, the
    RIFF layout Microsoft's AVIMAINHEADER/AVISTREAMHEADER documents):
    {duration_s, width, height, n_frames, n_video_tracks,
    n_audio_tracks, audio_sample_rate, bitrate_kbps}. Duration prefers
    the video stream header's exact dwLength·dwScale/dwRate over
    avih's microseconds-per-frame (the latter is advisory); the movi
    payload is never touched. Raises ValueError on a missing/truncated
    header tree."""
    if not is_avi(data):
        raise ValueError("not an AVI (RIFF/'AVI ' signature missing)")
    (riff_size,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_size)
    avih = None
    n_video = n_audio = 0
    audio_rate = None
    vid_duration = None
    odml_frames = None
    for fourcc, ps, pe in _riff_chunks(data, 12, end):
        if fourcc != b"LIST" or data[ps : ps + 4] != b"hdrl":
            continue
        for f2, s2, e2 in _riff_chunks(data, ps + 4, pe):
            if f2 == b"LIST" and data[s2 : s2 + 4] == b"odml":
                # OpenDML extended header: dmlh dwTotalFrames counts
                # frames across ALL segments (avih's dwTotalFrames
                # covers only the first RIFF in an AVIX-extended file)
                for f3, s3, e3 in _riff_chunks(data, s2 + 4, e2):
                    if f3 == b"dmlh" and e3 - s3 >= 4:
                        (odml_frames,) = struct.unpack(
                            "<I", data[s3 : s3 + 4]
                        )
            elif f2 == b"avih":
                if e2 - s2 < 40:
                    raise ValueError(f"truncated AVI avih chunk ({e2 - s2} bytes)")
                avih = struct.unpack("<10I", data[s2 : s2 + 40])
            elif f2 == b"LIST" and data[s2 : s2 + 4] == b"strl":
                strh = None
                for f3, s3, e3 in _riff_chunks(data, s2 + 4, e2):
                    if f3 == b"strh":
                        # the vids branch below reads through offset 36
                        # (dwScale/dwRate/dwStart/dwLength) — a shorter
                        # strh must fail HERE as ValueError, not as a
                        # struct.error at buffer end or a silent read of
                        # the NEXT chunk's header bytes as dwLength
                        # (review finding; a legal AVISTREAMHEADER is
                        # 56 bytes)
                        if e3 - s3 < 36:
                            raise ValueError(
                                f"truncated AVI strh chunk ({e3 - s3} bytes)"
                            )
                        strh = (data[s3 : s3 + 4], s3, e3)
                    elif f3 == b"strf" and strh is not None:
                        if strh[0] == b"auds" and audio_rate is None:
                            if e3 - s3 >= 8:
                                (audio_rate,) = struct.unpack(
                                    "<I", data[s3 + 4 : s3 + 8]
                                )  # WAVEFORMATEX nSamplesPerSec
                if strh is not None:
                    fcc_type, s3, _e3 = strh
                    if fcc_type == b"vids":
                        n_video += 1
                        scale, rate, _start, length = struct.unpack(
                            "<4I", data[s3 + 20 : s3 + 36]
                        )
                        if vid_duration is None and rate:
                            vid_duration = length * scale / rate
                            vid_secs_per_frame = scale / rate
                    elif fcc_type == b"auds":
                        n_audio += 1
        break  # hdrl found and parsed
    if avih is None:
        raise ValueError("AVI missing avih header (no hdrl LIST?)")
    usec_per_frame, _maxbps, _pad, _flags, total_frames = avih[:5]
    width, height = avih[8], avih[9]
    if odml_frames:
        # OpenDML: dmlh's cross-segment total supersedes the first-
        # segment counts, and the duration scales with it
        total_frames = odml_frames
        if vid_duration is not None:
            vid_duration = odml_frames * vid_secs_per_frame
    duration = (
        vid_duration
        if vid_duration is not None
        else (total_frames * usec_per_frame / 1e6 if usec_per_frame else None)
    )
    return {
        "duration_s": duration,
        "width": width or None,
        "height": height or None,
        "n_frames": total_frames,
        "n_video_tracks": n_video,
        "n_audio_tracks": n_audio,
        "audio_sample_rate": audio_rate,
        "bitrate_kbps": (
            len(data) * 8 / duration / 1000.0 if duration else None
        ),
    }


def avi_video_frames_raw(data: bytes) -> tuple[str | None, list[tuple[int, int]]]:
    """FIRST video stream's frame-chunk byte spans from the `movi`
    LIST → (codec, [(payload_start, payload_end), ...]) in stream
    order — a container walk, no decoding, so the caller slices (and
    decodes) only the frames it samples. ``codec`` is the uppercased
    compression fourcc, preferring strf's biCompression over strh's
    fccHandler (players resolve the decoder the same way; some muxers
    leave fccHandler blank). Frame chunks are ``NNdc``/``NNdb`` where
    NN is the stream's 2-digit index counted over ALL strl entries in
    hdrl order (the AVI stream-numbering rule), including chunks nested
    one level down in ``LIST rec `` groups (the interleaving unit
    OpenDML muxers emit). Zero-length chunks are kept: an AVI encodes a
    dropped/repeated frame as an empty chunk, and frame INDEX fidelity
    matters to samplers.

    OpenDML (AVI 2.0) EXTENSION SEGMENTS are walked too: a long
    recording cannot fit one AVI-1.0 RIFF chunk (~1-4 GB form-size
    cap), so muxers continue frames in trailing ``RIFF AVIX`` chunks,
    each holding its own ``LIST movi`` — stopping at the first RIFF's
    end would silently return only the first segment's frames while a
    sampler believes it covered the whole video (r11 review finding).
    A trailing RIFF chunk with any OTHER form type, or one whose
    declared size overruns the payload, raises by name. Raises
    ValueError when the payload is not an AVI or the header/movi tree
    is truncated; returns (codec, []) for a well-formed AVI with no
    movi frames."""
    if not is_avi(data):
        raise ValueError("not an AVI (RIFF/'AVI ' signature missing)")
    (riff_size,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_size)
    stream_no = 0
    vid_index = None
    codec = None
    spans: list[tuple[int, int]] = []

    def _scan_movi(ms: int, me: int) -> None:
        prefix = b"%02d" % vid_index
        for f2, s2, e2 in _riff_chunks(data, ms, me):
            if f2[:2] == prefix and f2[2:4] in (b"dc", b"db"):
                spans.append((s2, e2))
            elif f2 == b"LIST" and data[s2 : s2 + 4] == b"rec ":
                for f3, s3, e3 in _riff_chunks(data, s2 + 4, e2):
                    if f3[:2] == prefix and f3[2:4] in (b"dc", b"db"):
                        spans.append((s3, e3))

    for fourcc, ps, pe in _riff_chunks(data, 12, end):
        if fourcc != b"LIST":
            continue
        list_type = data[ps : ps + 4]
        if list_type == b"hdrl" and vid_index is None:
            for f2, s2, e2 in _riff_chunks(data, ps + 4, pe):
                if f2 != b"LIST" or data[s2 : s2 + 4] != b"strl":
                    continue
                fcc_type = handler = None
                compression = None
                for f3, s3, e3 in _riff_chunks(data, s2 + 4, e2):
                    if f3 == b"strh" and e3 - s3 >= 8:
                        fcc_type = data[s3 : s3 + 4]
                        handler = data[s3 + 4 : s3 + 8]
                    elif (
                        f3 == b"strf"
                        and fcc_type == b"vids"
                        and e3 - s3 >= 20
                    ):
                        # BITMAPINFOHEADER.biCompression at offset 16
                        compression = data[s3 + 16 : s3 + 20]
                if fcc_type == b"vids" and vid_index is None:
                    vid_index = stream_no
                    raw = compression if compression and compression.strip(b"\x00") else handler
                    codec = (
                        raw.decode("ascii", "replace").strip().upper()
                        if raw is not None
                        else None
                    )
                stream_no += 1
        elif list_type == b"movi" and vid_index is not None:
            _scan_movi(ps + 4, pe)
    if vid_index is None:
        raise ValueError("AVI has no video stream (no 'vids' strh in hdrl)")
    # OpenDML extension segments: trailing RIFF('AVIX') chunks, each
    # with its own LIST(movi); word-aligned like every RIFF chunk
    pos = 8 + riff_size + (riff_size & 1)
    while pos + 12 <= len(data):
        if data[pos : pos + 4] != b"RIFF":
            break  # trailing non-RIFF bytes are padding/junk, not frames
        (seg_size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        form = data[pos + 8 : pos + 12]
        if form != b"AVIX":
            raise ValueError(
                f"unexpected RIFF form {form!r} after the AVI segment "
                "(OpenDML continuation chunks must be 'AVIX')"
            )
        seg_end = pos + 8 + seg_size
        if seg_end > len(data):
            raise ValueError("truncated AVIX extension segment")
        for fourcc, ps, pe in _riff_chunks(data, pos + 12, seg_end):
            if fourcc == b"LIST" and data[ps : ps + 4] == b"movi":
                _scan_movi(ps + 4, pe)
        pos = seg_end + (seg_size & 1)
    return codec, spans


def avi_video_stream_format(data: bytes) -> dict:
    """FIRST video stream's strf BITMAPINFOHEADER, header-only →
    {width, height, bit_count, compression, top_down}. The frame-chunk
    walk (:func:`avi_video_frames_raw`) resolves WHICH codec; this
    resolves HOW its raw frames are laid out — needed by the
    uncompressed (BI_RGB, biCompression=0) decode path, where a frame
    chunk is rows of BGR(X) pixels padded to 4-byte stride, bottom-up
    unless biHeight is negative (the DIB convention). Raises ValueError
    when the payload is not an AVI or has no video strf."""
    if not is_avi(data):
        raise ValueError("not an AVI (RIFF/'AVI ' signature missing)")
    (riff_size,) = struct.unpack("<I", data[4:8])
    end = min(len(data), 8 + riff_size)
    for fourcc, ps, pe in _riff_chunks(data, 12, end):
        if fourcc != b"LIST" or data[ps : ps + 4] != b"hdrl":
            continue
        for f2, s2, e2 in _riff_chunks(data, ps + 4, pe):
            if f2 != b"LIST" or data[s2 : s2 + 4] != b"strl":
                continue
            fcc_type = None
            for f3, s3, e3 in _riff_chunks(data, s2 + 4, e2):
                if f3 == b"strh" and e3 - s3 >= 4:
                    fcc_type = data[s3 : s3 + 4]
                elif f3 == b"strf" and fcc_type == b"vids":
                    if e3 - s3 < 20:
                        raise ValueError(
                            f"truncated AVI video strf ({e3 - s3} bytes; "
                            "BITMAPINFOHEADER needs >= 20)"
                        )
                    w, h = struct.unpack("<ii", data[s3 + 4 : s3 + 12])
                    (bits,) = struct.unpack("<H", data[s3 + 14 : s3 + 16])
                    (comp,) = struct.unpack("<I", data[s3 + 16 : s3 + 20])
                    return {
                        "width": w,
                        "height": abs(h),
                        "bit_count": bits,
                        "compression": comp,
                        "top_down": h < 0,
                    }
        break
    raise ValueError("AVI has no video strf (no 'vids' strl in hdrl)")


# ------------------------------------------------- Matroska / WebM (EBML)


def is_mkv(data: bytes) -> bool:
    return data[:4] == b"\x1a\x45\xdf\xa3"


def _ebml_vint(data: bytes, pos: int, keep_marker: bool):
    """EBML variable-length integer at ``pos`` → (value, next_pos).
    Element IDs keep the length-marker bit (the convention Matroska IDs
    are quoted in); sizes clear it. A size with all value bits set
    means 'unknown' → returned as None."""
    if pos >= len(data):
        raise ValueError("truncated EBML varint")
    first = data[pos]
    if first == 0:
        raise ValueError("invalid EBML varint (>8 bytes)")
    length = 8 - first.bit_length() + 1
    if pos + length > len(data):
        raise ValueError("truncated EBML varint")
    if keep_marker:
        v = 0
        for i in range(length):
            v = (v << 8) | data[pos + i]
    else:
        v = first & ((1 << (8 - length)) - 1)
        unknown = v == (1 << (8 - length)) - 1
        for i in range(1, length):
            v = (v << 8) | data[pos + i]
            unknown = unknown and data[pos + i] == 0xFF
        if unknown:
            return None, pos + length
    return v, pos + length


def _ebml_children(data: bytes, start: int, end: int):
    """(element_id, payload_start, payload_end) for each child element;
    an unknown-size element (streamed Segment) extends to ``end``."""
    pos = start
    while pos < end:
        eid, pos = _ebml_vint(data, pos, keep_marker=True)
        size, pos = _ebml_vint(data, pos, keep_marker=False)
        pe = end if size is None else pos + size
        if pe > end:
            raise ValueError(f"truncated EBML element 0x{eid:X}")
        yield eid, pos, pe
        pos = pe


def _ebml_float(data: bytes, s: int, e: int) -> float:
    if e - s == 4:
        return struct.unpack(">f", data[s:e])[0]
    if e - s == 8:
        return struct.unpack(">d", data[s:e])[0]
    raise ValueError(f"invalid EBML float width {e - s}")


def _ebml_uint(data: bytes, s: int, e: int) -> int:
    if not 0 < e - s <= 8:
        raise ValueError(f"invalid EBML uint width {e - s}")
    v = 0
    for i in range(s, e):
        v = (v << 8) | data[i]
    return v


def mkv_metadata(data: bytes) -> dict:
    """Header-only Matroska/WebM metadata from the Segment's Info and
    Tracks elements (EBML walk; Clusters are SKIPPED by their declared
    size — no frame data is touched): {container ('matroska'/'webm'
    from the EBML DocType), duration_s (Info Duration x TimestampScale,
    ns-scaled per the Matroska spec), width/height (first video
    TrackEntry's PixelWidth/PixelHeight), track census, first audio
    track's SamplingFrequency, container-level bitrate}. Raises
    ValueError when the Segment or Info is missing."""
    if not is_mkv(data):
        raise ValueError("not an EBML stream (Matroska/WebM signature missing)")
    doctype = "matroska"
    segment = None
    # top-level walk is manual (not _ebml_children) for ONE leniency:
    # a partially-downloaded file truncates the Segment's declared
    # extent — clamp it to the buffer instead of refusing, and let the
    # child walk recover whatever Info/Tracks are fully present (its
    # early break below stops before the torn tail). Every NESTED
    # element keeps the strict truncation contract.
    pos = 0
    while pos < len(data):
        eid, pos = _ebml_vint(data, pos, keep_marker=True)
        size, pos = _ebml_vint(data, pos, keep_marker=False)
        pe = len(data) if size is None else pos + size
        if eid == 0x18538067:  # Segment
            segment = (pos, min(pe, len(data)))
            break
        if pe > len(data):
            raise ValueError(f"truncated EBML element 0x{eid:X}")
        if eid == 0x1A45DFA3:  # EBML header
            for cid, cs, ce in _ebml_children(data, pos, pe):
                if cid == 0x4282:  # DocType
                    doctype = data[cs:ce].decode("ascii", "replace").rstrip("\x00")
        pos = pe
    if segment is None:
        raise ValueError("Matroska stream has no Segment element")
    timescale = 1_000_000  # default: ns per timestamp tick
    duration_ticks = None
    width = height = None
    audio_rate = None
    n_video = n_audio = 0
    seen_info = seen_tracks = False
    for eid, s, e in _ebml_children(data, *segment):
        if eid == 0x1549A966:  # Info
            seen_info = True
            for cid, cs, ce in _ebml_children(data, s, e):
                if cid == 0x2AD7B1:
                    timescale = _ebml_uint(data, cs, ce)
                elif cid == 0x4489:
                    duration_ticks = _ebml_float(data, cs, ce)
        elif eid == 0x1654AE6B:  # Tracks
            seen_tracks = True
            for cid, cs, ce in _ebml_children(data, s, e):
                if cid != 0xAE:  # TrackEntry
                    continue
                ttype = None
                tw = th = trate = None
                for tid, ts, te in _ebml_children(data, cs, ce):
                    if tid == 0x83:
                        ttype = _ebml_uint(data, ts, te)
                    elif tid == 0xE0:  # Video
                        for vid, vs, ve in _ebml_children(data, ts, te):
                            if vid == 0xB0:
                                tw = _ebml_uint(data, vs, ve)
                            elif vid == 0xBA:
                                th = _ebml_uint(data, vs, ve)
                    elif tid == 0xE1:  # Audio
                        for aid, as_, ae in _ebml_children(data, ts, te):
                            if aid == 0xB5:
                                trate = _ebml_float(data, as_, ae)
                if ttype == 1:
                    n_video += 1
                    if width is None:
                        # a declared PixelWidth/PixelHeight of 0 is no
                        # dimension — NULL, like avi_metadata's `or None`
                        width, height = tw or None, th or None
                elif ttype == 2:
                    n_audio += 1
                    if audio_rate is None:
                        audio_rate = trate
        # Clusters (0x1F43B675) and everything else: skipped by size.
        # Header-only intent: Info + Tracks live at the front of a
        # well-formed Segment — once BOTH are parsed, stop BEFORE
        # pulling the next element header, so a partially-downloaded
        # file's truncated trailing Cluster cannot discard metadata
        # that is fully present (review finding; mirrors avi_metadata's
        # break after hdrl)
        if seen_info and seen_tracks:
            break
    if not seen_info:
        # Enforce the documented contract: a Segment whose Info never
        # materialized (absent outright, or hidden behind a torn /
        # unknown-size Cluster the clamp extended to the buffer end)
        # must error, not yield a silently all-None metadata row
        # (r9 ADVICE). The truncated-download leniency above only keeps
        # files whose Info+Tracks ARE fully present.
        raise ValueError("Matroska Segment has no Info element")
    duration_s = (
        duration_ticks * timescale / 1e9 if duration_ticks is not None else None
    )
    if duration_s is not None and not (
        math.isfinite(duration_s) and duration_s >= 0
    ):
        # Duration is a raw EBML float — NaN/inf/negative from a
        # hostile stream is no duration (and would poison the bitrate
        # division: NaN is truthy, so the `if duration_s` guard alone
        # would emit a NaN bitrate cell)
        duration_s = None
    return {
        "container": doctype,
        "duration_s": duration_s,
        "width": width,
        "height": height,
        "n_video_tracks": n_video,
        "n_audio_tracks": n_audio,
        "audio_sample_rate": audio_rate,
        "bitrate_kbps": (
            len(data) * 8 / duration_s / 1000.0 if duration_s else None
        ),
    }
