"""Multimodal column operators: opaque binary media + typed metadata.

Treats image/audio/video payloads as binary columns with a typed metadata
struct, processed per payload behind ``boundary.map_docs`` (Arrow-batched).
Container-HEADER decode is REAL for PNG/GIF/JPEG/BMP/WEBP/TIFF/ICO/WAV/
FLAC/MP3/OGG/MP4/AVI/MKV-WebM (``_parse_real`` — pure byte parsing:
fixed-offset headers and TIFF IFD walks for the images, stdlib ``wave`` for PCM WAV, FLAC
STREAMINFO bit unpacking, an MPEG Layer III frame-header walk for MP3
duration, an Ogg page walk reading Vorbis/Opus granule positions, the
RIFF ``avih`` main header for AVI, an EBML walk to Info/Tracks for
Matroska/WebM, and an ISO BMFF box walk to mvhd/tkhd for MP4 duration +
dimensions; no codec library needed). Pixel/sample
decode and every other format stay STUBBED behind ``_decode_payload``:
a deterministic hash fake (default; stable for tests) or
NotImplementedError when strict=True. The Spark-side plumbing (schemas,
batch iteration, partitioning) is real and tested; swapping the stub for a
Pillow/ffmpeg call changes no plan shape. Header sniffing is best-effort:
adversarial non-JPEG bytes that happen to form a valid marker chain can
yield a parse, as with any sniffer.

Codec availability is re-probed each round (PIL, cv2, imageio, soundfile,
librosa, av, ffmpeg/ffprobe binaries). Round 5 probe (2026-08-20): all
absent except stdlib ``wave`` — hence the real WAV path; the strict
stub remains the honest posture for everything _parse_real can't read.

At 100 TB: media rows are large and skewed — process with
maxRecordsPerBatch kept small and media tables bucketed by media_id so
joins against span tables (media_ref) co-locate.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .boundary import map_docs

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("sha256", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_index", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)

_MAGIC = {
    b"\x89PNG": ("png", "image"),
    b"\xff\xd8\xff": ("jpeg", "image"),
    b"GIF8": ("gif", "image"),
    b"RIFF": ("riff", "audio"),
    b"\x1aE\xdf\xa3": ("mkv", "video"),
    b"ID3": ("mp3", "audio"),
    b"fLaC": ("flac", "audio"),
    b"BM": ("bmp", "image"),
    b"OggS": ("ogg", "audio"),
    b"II*\x00": ("tiff", "image"),
    b"MM\x00*": ("tiff", "image"),
    b"\x00\x00\x01\x00": ("ico", "image"),
}


def _sniff(data: bytes) -> tuple[str, str]:
    # container-specific probes before the generic prefixes: WEBP and AVI
    # ride a RIFF header, ISO BMFF (mp4/mov/m4a) keys on 'ftyp' at offset 4
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return ("webp", "image")
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return ("avi", "video")
    if data[4:8] == b"ftyp":
        return ("mp4", "video")
    for magic, fmt in _MAGIC.items():
        if data.startswith(magic):
            return fmt
    return ("unknown", "binary")


_JPEG_SOF = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}

# known BITMAPxHEADER sizes (BITMAPCOREHEADER=12 uses 16-bit dims)
_BMP_DIB = frozenset({12, 16, 40, 52, 56, 64, 108, 124})

# MPEG audio Layer III tables (frame-header walk; indexes are the raw
# 2-/4-bit header fields). version field: 0=MPEG2.5, 2=MPEG2, 3=MPEG1.
_MP3_BITRATE = {
    3: (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    2: (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_BITRATE[0] = _MP3_BITRATE[2]
_MP3_RATE = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
             0: (11025, 12000, 8000)}


def _mp3_walk(data: bytes, pos: int) -> int | None:
    """Walk consecutive MPEG-1/2/2.5 Layer III frame headers from ``pos``;
    return total duration in ms when >= 2 valid frames chain (CBR or VBR —
    each frame carries its own bitrate), else None."""
    n = len(data)
    frames = 0
    dur_ms = 0.0
    while pos + 4 <= n:
        b0, b1, b2 = data[pos], data[pos + 1], data[pos + 2]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        version = (b1 >> 3) & 3
        layer = (b1 >> 1) & 3
        bit_idx = (b2 >> 4) & 0xF
        rate_idx = (b2 >> 2) & 3
        if version == 1 or layer != 1 or bit_idx in (0, 15) or rate_idx == 3:
            break  # reserved / free-format / non-Layer-III: not walkable
        bitrate = _MP3_BITRATE[version][bit_idx] * 1000
        rate = _MP3_RATE[version][rate_idx]
        samples = 1152 if version == 3 else 576
        frame_len = samples * bitrate // (8 * rate) + ((b2 >> 1) & 1)
        if frame_len < 4:
            break
        frames += 1
        dur_ms += samples * 1000.0 / rate
        pos += frame_len
    if frames >= 2:
        return int(dur_ms)
    return None


def _mp4_boxes(data: bytes, pos: int, end: int):
    """Yield (fourcc, payload_start, payload_end) for ISO BMFF boxes."""
    while pos + 8 <= end:
        size = int.from_bytes(data[pos:pos + 4], "big")
        typ = data[pos + 4:pos + 8]
        if size == 1:
            if pos + 16 > end:
                return
            size = int.from_bytes(data[pos + 8:pos + 16], "big")
            header = 16
        elif size == 0:
            size = end - pos
            header = 8
        else:
            header = 8
        if size < header or pos + size > end:
            return
        yield typ, pos + header, pos + size
        pos += size


def _parse_mp4(data: bytes) -> dict | None:
    """moov/mvhd duration + widest trak tkhd dimensions (16.16 fixed)."""
    duration_ms = None
    width = height = 0
    for typ, s, e in _mp4_boxes(data, 0, len(data)):
        if typ != b"moov":
            continue
        for t2, s2, e2 in _mp4_boxes(data, s, e):
            if t2 == b"mvhd" and e2 - s2 >= 24:
                ver = data[s2]
                if ver == 1 and e2 - s2 >= 32:
                    scale = int.from_bytes(data[s2 + 20:s2 + 24], "big")
                    dur = int.from_bytes(data[s2 + 24:s2 + 32], "big")
                else:
                    scale = int.from_bytes(data[s2 + 12:s2 + 16], "big")
                    dur = int.from_bytes(data[s2 + 16:s2 + 20], "big")
                if scale > 0:
                    duration_ms = int(dur * 1000 / scale)
            elif t2 == b"trak":
                for t3, s3, e3 in _mp4_boxes(data, s2, e2):
                    if t3 != b"tkhd":
                        continue
                    off = 88 if data[s3] == 1 else 76
                    if e3 - s3 >= off + 8:
                        w = int.from_bytes(data[s3 + off:s3 + off + 4],
                                           "big") >> 16
                        h = int.from_bytes(data[s3 + off + 4:s3 + off + 8],
                                           "big") >> 16
                        if w * h > width * height:
                            width, height = w, h
    if duration_ms is None:
        return None
    return {"format": "mp4",
            "kind": "video" if width and height else "audio",
            "width": width or None, "height": height or None,
            "duration_ms": duration_ms}


def _parse_tiff(data: bytes) -> dict | None:
    """Baseline TIFF: endian header + first-IFD walk reading
    ImageWidth (256) / ImageLength (257), SHORT or LONG, count 1."""
    if data[:4] == b"II*\x00":
        bo = "little"
    elif data[:4] == b"MM\x00*":
        bo = "big"
    else:
        return None
    if len(data) < 8:
        return None
    ifd = int.from_bytes(data[4:8], bo)
    if ifd + 2 > len(data):
        return None
    n_entries = int.from_bytes(data[ifd:ifd + 2], bo)
    width = height = None
    for i in range(n_entries):
        e = ifd + 2 + 12 * i
        if e + 12 > len(data):
            break
        tag = int.from_bytes(data[e:e + 2], bo)
        typ = int.from_bytes(data[e + 2:e + 4], bo)
        cnt = int.from_bytes(data[e + 4:e + 8], bo)
        if tag not in (256, 257) or cnt != 1:
            continue
        if typ == 3:  # SHORT: value left-justified in the 4-byte field
            val = int.from_bytes(data[e + 8:e + 10], bo)
        elif typ == 4:  # LONG
            val = int.from_bytes(data[e + 8:e + 12], bo)
        else:
            continue
        if tag == 256:
            width = val
        else:
            height = val
    if not width or not height:
        return None
    return {"format": "tiff", "kind": "image",
            "width": width, "height": height, "duration_ms": None}


def _parse_ico(data: bytes) -> dict | None:
    """ICONDIR + first ICONDIRENTRY; a 0 width/height byte means 256."""
    if data[:4] != b"\x00\x00\x01\x00" or len(data) < 22:
        return None
    count = int.from_bytes(data[4:6], "little")
    if not 1 <= count <= 256:
        return None
    return {"format": "ico", "kind": "image",
            "width": data[6] or 256, "height": data[7] or 256,
            "duration_ms": None}


def _parse_avi(data: bytes) -> dict | None:
    """RIFF AVI: LIST hdrl -> avih main header (frame period, total
    frames, dimensions)."""
    pos, n = 12, len(data)
    while pos + 8 <= n:
        cc = data[pos:pos + 4]
        size = int.from_bytes(data[pos + 4:pos + 8], "little")
        body = pos + 8
        if cc == b"LIST" and data[body:body + 4] == b"hdrl":
            pos = body + 4  # descend into the list
            continue
        if cc == b"avih" and body + 40 <= n:
            usec_per_frame = int.from_bytes(data[body:body + 4], "little")
            total_frames = int.from_bytes(data[body + 16:body + 20], "little")
            width = int.from_bytes(data[body + 32:body + 36], "little")
            height = int.from_bytes(data[body + 36:body + 40], "little")
            if not (width and height):
                return None
            return {"format": "avi", "kind": "video",
                    "width": width, "height": height,
                    "duration_ms": int(usec_per_frame * total_frames / 1000)}
        pos = body + size + (size & 1)  # RIFF chunks are word-aligned
    return None


def _parse_ogg(data: bytes) -> dict | None:
    """Ogg page walk: codec id from the BOS packet (Vorbis sample rate /
    OpusHead pre-skip), duration from the last non-negative granule
    position. Page sizes come from each page's segment table, so the walk
    is exact on well-formed streams and bails on the first bad page."""
    pos, n = 0, len(data)
    codec = rate = last_granule = None
    preskip = 0
    while pos + 27 <= n and data[pos:pos + 4] == b"OggS" and data[pos + 4] == 0:
        nseg = data[pos + 26]
        body = pos + 27 + nseg
        if body > n:
            break
        size = sum(data[pos + 27:body])
        if body + size > n:
            break
        granule = int.from_bytes(data[pos + 6:pos + 14], "little", signed=True)
        if granule >= 0:
            last_granule = granule
        if codec is None:
            pkt = data[body:body + size]
            if pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
                codec = "vorbis"
                rate = int.from_bytes(pkt[12:16], "little")
            elif pkt[:8] == b"OpusHead" and len(pkt) >= 12:
                codec = "opus"
                rate = 48000  # Opus granules are always 48 kHz
                preskip = int.from_bytes(pkt[10:12], "little")
            else:
                return None
        pos = body + size
    if codec is None or not rate or last_granule is None:
        return None
    samples = last_granule - (preskip if codec == "opus" else 0)
    return {"format": "ogg", "kind": "audio", "width": None, "height": None,
            "duration_ms": max(0, int(samples * 1000 / rate))}


def _ebml_vint(data: bytes, pos: int, keep_marker: bool):
    """(value, next_pos, n_bytes) for one EBML variable-length integer."""
    if pos >= len(data) or data[pos] == 0:
        return None
    length = 9 - data[pos].bit_length()
    if pos + length > len(data):
        return None
    val = data[pos] if keep_marker else data[pos] & (0xFF >> length)
    for i in range(1, length):
        val = (val << 8) | data[pos + i]
    return val, pos + length, length


def _ebml_children(data: bytes, pos: int, end: int):
    """Yield (element_id, payload_start, payload_end) for EBML elements in
    [pos, end); an unknown-size element (all size bits set — typical for
    Segment) extends to the enclosing end."""
    while pos < end:
        r = _ebml_vint(data, pos, True)
        if r is None:
            return
        eid, p, _ = r
        r = _ebml_vint(data, p, False)
        if r is None:
            return
        size, p, nbytes = r
        if size == (1 << (7 * nbytes)) - 1:  # unknown size
            yield eid, p, end
            return
        if p + size > end:
            return
        yield eid, p, p + size
        pos = p + size


def _parse_mkv(data: bytes) -> dict | None:
    """Matroska/WebM EBML: DocType from the EBML header, duration from
    Segment>Info (TimestampScale × Duration float), dimensions from the
    first Tracks>TrackEntry>Video Pixel(Width|Height)."""
    import struct

    if data[:4] != b"\x1aE\xdf\xa3":
        return None
    fmt = "mkv"
    duration = None
    timescale = 1_000_000  # ns per timestamp tick (Matroska default)
    width = height = None
    for eid, s, e in _ebml_children(data, 0, len(data)):
        if eid == 0x1A45DFA3:  # EBML header
            for eid2, s2, e2 in _ebml_children(data, s, e):
                if eid2 == 0x4282:  # DocType
                    doctype = data[s2:e2].rstrip(b"\x00").decode(
                        "ascii", "replace")
                    fmt = "webm" if doctype == "webm" else "mkv"
        elif eid == 0x18538067:  # Segment
            for eid2, s2, e2 in _ebml_children(data, s, e):
                if eid2 == 0x1549A966:  # Info
                    for eid3, s3, e3 in _ebml_children(data, s2, e2):
                        if eid3 == 0x2AD7B1:
                            timescale = int.from_bytes(data[s3:e3], "big")
                        elif eid3 == 0x4489 and e3 - s3 in (4, 8):
                            duration = struct.unpack(
                                ">f" if e3 - s3 == 4 else ">d",
                                data[s3:e3])[0]
                elif eid2 == 0x1654AE6B:  # Tracks
                    for eid3, s3, e3 in _ebml_children(data, s2, e2):
                        if eid3 != 0xAE or width:  # TrackEntry
                            continue
                        for eid4, s4, e4 in _ebml_children(data, s3, e3):
                            if eid4 != 0xE0:  # Video
                                continue
                            for eid5, s5, e5 in _ebml_children(data, s4, e4):
                                if eid5 == 0xB0:
                                    width = int.from_bytes(data[s5:e5], "big")
                                elif eid5 == 0xBA:
                                    height = int.from_bytes(data[s5:e5], "big")
    if duration is None and not (width and height):
        return None
    return {
        "format": fmt,
        "kind": "video" if width and height else "audio",
        "width": width, "height": height,
        "duration_ms": None if duration is None
        else int(duration * timescale / 1e6),
    }


def _parse_real(data: bytes) -> dict | None:
    """Dependency-free REAL header decode for the formats whose containers
    are parseable without a codec library: PNG IHDR, GIF logical screen
    descriptor, JPEG SOF segments, BMP DIB headers, WEBP (VP8/VP8L/VP8X),
    TIFF IFD, ICO, PCM WAV (stdlib ``wave``), FLAC STREAMINFO, MPEG Layer
    III frame walks (bare or behind an ID3v2 tag), Ogg page walks
    (Vorbis/Opus duration via granule positions), RIFF AVI ``avih``,
    Matroska/WebM EBML (duration + video dimensions), and ISO BMFF
    (mp4/mov/m4a) mvhd/tkhd.
    Returns None when the payload isn't one of these (or is malformed) —
    pixel / sample decode still needs Pillow/ffmpeg and stays stubbed."""
    if (data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24
            and data[12:16] == b"IHDR"):
        return {"format": "png", "kind": "image",
                "width": int.from_bytes(data[16:20], "big"),
                "height": int.from_bytes(data[20:24], "big"),
                "duration_ms": None}
    if data[:6] in (b"GIF87a", b"GIF89a") and len(data) >= 10:
        return {"format": "gif", "kind": "image",
                "width": int.from_bytes(data[6:8], "little"),
                "height": int.from_bytes(data[8:10], "little"),
                "duration_ms": None}
    if data[:3] == b"\xff\xd8\xff":
        pos = 2
        while pos + 9 <= len(data):
            if data[pos] != 0xFF:
                break
            marker = data[pos + 1]
            if marker == 0xFF:
                pos += 1
                continue
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                pos += 2
                continue
            seg_len = int.from_bytes(data[pos + 2:pos + 4], "big")
            if seg_len < 2:
                break
            if marker in _JPEG_SOF:
                return {"format": "jpeg", "kind": "image",
                        "width": int.from_bytes(data[pos + 7:pos + 9], "big"),
                        "height": int.from_bytes(data[pos + 5:pos + 7], "big"),
                        "duration_ms": None}
            pos += 2 + seg_len
        return None
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        import io
        import wave

        try:
            with wave.open(io.BytesIO(data)) as w:
                rate = w.getframerate()
                if rate <= 0:
                    return None
                return {"format": "wav", "kind": "audio",
                        "width": None, "height": None,
                        "duration_ms": int(w.getnframes() * 1000 / rate)}
        except (wave.Error, EOFError):
            return None
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return _parse_avi(data)
    if data[:4] == b"OggS":
        return _parse_ogg(data)
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return _parse_tiff(data)
    if data[:4] == b"\x1aE\xdf\xa3":
        return _parse_mkv(data)
    if data[:4] == b"\x00\x00\x01\x00":
        return _parse_ico(data)
    if data[:2] == b"BM" and len(data) >= 26:
        dib = int.from_bytes(data[14:18], "little")
        if dib in _BMP_DIB:
            if dib == 12:
                w = int.from_bytes(data[18:20], "little")
                h = int.from_bytes(data[20:22], "little")
            else:
                w = int.from_bytes(data[18:22], "little", signed=True)
                h = int.from_bytes(data[22:26], "little", signed=True)
            if w > 0 and h != 0:  # negative height = top-down rows
                return {"format": "bmp", "kind": "image",
                        "width": w, "height": abs(h), "duration_ms": None}
        return None
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP" and len(data) >= 25:
        chunk = data[12:16]
        if chunk == b"VP8X" and len(data) >= 30:
            return {"format": "webp", "kind": "image",
                    "width": int.from_bytes(data[24:27], "little") + 1,
                    "height": int.from_bytes(data[27:30], "little") + 1,
                    "duration_ms": None}
        if (chunk == b"VP8 " and len(data) >= 30
                and data[23:26] == b"\x9d\x01\x2a"):
            return {"format": "webp", "kind": "image",
                    "width": int.from_bytes(data[26:28], "little") & 0x3FFF,
                    "height": int.from_bytes(data[28:30], "little") & 0x3FFF,
                    "duration_ms": None}
        if chunk == b"VP8L" and data[20] == 0x2F:
            bits = int.from_bytes(data[21:25], "little")
            return {"format": "webp", "kind": "image",
                    "width": (bits & 0x3FFF) + 1,
                    "height": ((bits >> 14) & 0x3FFF) + 1,
                    "duration_ms": None}
        return None
    if data[:4] == b"fLaC" and len(data) >= 42 and (data[4] & 0x7F) == 0 \
            and int.from_bytes(data[5:8], "big") >= 34:
        si = data[8:42]  # STREAMINFO is the mandatory first block
        rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
        total = ((si[13] & 0x0F) << 32) | int.from_bytes(si[14:18], "big")
        if rate <= 0:
            return None
        return {"format": "flac", "kind": "audio",
                "width": None, "height": None,
                "duration_ms": int(total * 1000 / rate) if total else None}
    if data[:3] == b"ID3" and len(data) >= 10 \
            and max(data[6:10], default=0x80) < 0x80:
        tag_end = 10 + ((data[6] << 21) | (data[7] << 14)
                        | (data[8] << 7) | data[9])
        if data[5] & 0x10:  # footer-present flag
            tag_end += 10
        dur = _mp3_walk(data, tag_end)
        if dur is not None:
            return {"format": "mp3", "kind": "audio",
                    "width": None, "height": None, "duration_ms": dur}
        return None
    if len(data) >= 4 and data[0] == 0xFF and (data[1] & 0xE0) == 0xE0:
        dur = _mp3_walk(data, 0)
        if dur is not None:
            return {"format": "mp3", "kind": "audio",
                    "width": None, "height": None, "duration_ms": dur}
        return None
    if data[4:8] == b"ftyp":
        return _parse_mp4(data)
    return None


def _decode_payload(data: bytes, strict: bool = False) -> dict:
    """Decode step: REAL container-header decode for
    PNG/GIF/JPEG/BMP/WEBP/TIFF/ICO/WAV/FLAC/MP3/OGG/MP4/AVI/MKV-WebM
    (``_parse_real``); everything else is STUBBED pending Pillow/ffmpeg.

    The deterministic fake derives pseudo-dimensions from a content hash so
    tests are stable and the downstream plumbing is exercised end-to-end.
    strict=True raises instead of faking when the payload isn't one of the
    really-parseable formats.
    """
    real = _parse_real(data)
    if real is not None:
        return real
    if strict:
        raise NotImplementedError(
            "payload is not a parseable PNG/GIF/JPEG/BMP/WEBP/TIFF/ICO/"
            "WAV/FLAC/MP3/OGG/MP4/AVI/MKV container and media codecs are "
            "unavailable in this environment; swap _decode_payload for a "
            "Pillow/ffmpeg-backed implementation"
        )
    h = hashlib.sha256(data).digest()
    fmt, kind = _sniff(data)
    return {
        "format": fmt,
        "kind": kind,
        "width": 16 + h[0] % 64 if kind == "image" else None,
        "height": 16 + h[1] % 64 if kind == "image" else None,
        "duration_ms": int.from_bytes(h[2:4], "big") if kind != "image" else None,
    }


def media_metadata(df: DataFrame, id_col: str = "media_id",
                   payload_col: str = "payload",
                   strict: bool = False) -> DataFrame:
    """binary payload -> typed metadata struct rows."""
    df = df.select(F.col(id_col).alias("media_id"),
                   F.col(payload_col).alias("payload"))

    def metadata(data: bytes) -> tuple:
        meta = _decode_payload(data, strict)
        return (meta["kind"], len(data), meta["format"], meta["width"],
                meta["height"], meta["duration_ms"],
                hashlib.sha256(data).hexdigest())

    return map_docs(df, MEDIA_META_SCHEMA, metadata)


def media_features(df: DataFrame, dim: int = 16, id_col: str = "media_id",
                   payload_col: str = "payload") -> DataFrame:
    """binary payload -> deterministic feature vector (stubbed extractor:
    hash-derived; a real one plugs a vision/audio model into the same
    per-payload function)."""
    df = df.select(F.col(id_col).alias("media_id"),
                   F.col(payload_col).alias("payload"))

    def features(data: bytes) -> list[float]:
        h = hashlib.sha256(data).digest()
        return [(h[i % 32] / 127.5) - 1.0 for i in range(dim)]

    return map_docs(df, FEATURE_SCHEMA, features)


def sample_frames(df: DataFrame, every_n_bytes: int = 4096,
                  max_frames: int = 4, id_col: str = "media_id",
                  payload_col: str = "payload") -> DataFrame:
    """video payload -> sampled 'frames' (stub: byte-window slices standing
    in for decoded frames; one output row per frame, exploded shape)."""
    df = df.select(F.col(id_col).alias("media_id"),
                   F.col(payload_col).alias("payload"))

    def frames(data: bytes) -> tuple:
        n = min(max_frames, max(1, len(data) // every_n_bytes))
        return (range(n), [data[fi * every_n_bytes:(fi + 1) * every_n_bytes]
                           for fi in range(n)])

    return map_docs(df, FRAME_SCHEMA, frames, explode=True)


def synth_media_table(spark, n: int = 64) -> DataFrame:
    """Deterministic fake media corpus for tests (PNG/JPEG/RIFF magics +
    hash-expanded bodies)."""
    magics = [b"\x89PNG", b"\xff\xd8\xff", b"RIFF", b"ID3"]
    rows = []
    for i in range(n):
        body = hashlib.sha256(str(i).encode()).digest() * (8 + i % 32)
        rows.append((f"media-{i:04d}", magics[i % len(magics)] + body))
    return spark.createDataFrame(rows, "media_id string, payload binary")


# -- PDF / layout parse (north-rule "PDF/layout parse" stage) ----------------

PDF_LAYOUT_SCHEMA = StructType([
    StructField("media_id", StringType()),
    StructField("page", IntegerType()),
    StructField("block", IntegerType()),
    StructField("kind", StringType()),        # text | image
    StructField("x0", DoubleType()),          # bbox, page units (points)
    StructField("y0", DoubleType()),
    StructField("x1", DoubleType()),
    StructField("y1", DoubleType()),
    StructField("text", StringType()),
])


def pdf_layout(df: DataFrame, id_col: str = "media_id",
               payload_col: str = "payload",
               strict: bool = False) -> DataFrame:
    """binary PDF payload -> one row per layout block (exploded shape),
    ordered (page, block) within each document — the layout-parse stage of
    the north-rule extraction pipeline. Output feeds the same span model as
    HTML: text blocks -> text spans, image blocks -> media spans.

    Backed by the real minimal text-PDF parser in
    :mod:`ksoup_spark.kernel.pdf` (object scan, /Type /Page mapping,
    Flate streams, BT/ET text operators, cm+Do images). Non-PDF payloads
    yield no rows (or raise under strict=True)."""
    from ..kernel.pdf import parse_pdf_layout

    names = PDF_LAYOUT_SCHEMA.fieldNames()[1:]
    df = df.select(F.col(id_col).alias("media_id"),
                   F.col(payload_col).alias("payload"))

    def blocks(data: bytes) -> list:
        blks = parse_pdf_layout(data, strict)
        return [[b[k] for b in blks] for k in names]

    return map_docs(df, PDF_LAYOUT_SCHEMA, blocks, explode=True)


def enrich_media_spans(spans_df: DataFrame, media_df: DataFrame,
                       id_col: str = "media_id",
                       payload_col: str = "payload",
                       broadcast_meta: bool | None = None) -> DataFrame:
    """Join extracted media spans against a media table's decoded metadata.

    Input: the extraction pipeline's ``(doc_id, spans)`` output (media
    spans — kind image/video/object — carry ``media_ref``) and a
    ``(media_id, payload binary)`` media table. Output: one row per MEDIA span — (doc_id, offset, media_ref,
    kind, format, width, height, duration_ms, n_bytes) — the interleaved
    document's media stream with typed metadata, ready to filter (e.g.
    drop sub-64px images) or to carry into a training-data manifest.

    Plan shape: explode only the media spans (text spans are filtered
    BEFORE the generate, so the explode is bounded by media density, not
    span count), decode metadata once per media row (``media_metadata`` — the
    pure-byte header parsers above), then one equi-join on the media id.
    At 100 TB the media table is the smaller side in bytes-of-metadata
    (payloads are pruned before the join: metadata is projected first), so
    AQE usually broadcasts it; pass ``broadcast_meta=True`` to force the
    hint, False to force a shuffle join (bucket both sides by media id to
    co-locate), or leave None to let AQE decide from runtime sizes.
    """
    media_spans = (
        spans_df.select(
            "doc_id",
            F.explode(
                F.filter("spans", lambda s: s["media_ref"].isNotNull())
            ).alias("span"),
        )
        .select(
            "doc_id",
            F.col("span.offset").alias("offset"),
            F.col("span.media_ref").alias("media_ref"),
        )
    )
    meta = media_metadata(media_df, id_col=id_col, payload_col=payload_col)
    meta = meta.select(
        F.col("media_id").alias("media_ref"), "kind", "format",
        "width", "height", "duration_ms", "n_bytes",
    )
    if broadcast_meta is True:
        meta = F.broadcast(meta)
    return media_spans.join(meta, "media_ref", "left").select(
        "doc_id", "offset", "media_ref", "kind", "format",
        "width", "height", "duration_ms", "n_bytes",
    )
