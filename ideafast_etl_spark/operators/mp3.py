"""MPEG audio (MP3) frame-header stream walker (SURVEY.md §2.13 —
metadata leg of the audio column).

The MPEG-1/2/2.5 audio framing is public (ISO/IEC 11172-3 / 13818-3):
every frame starts with an 11-bit sync, and the 32-bit header fully
determines the frame's byte length, so the whole stream can be indexed
WITHOUT entropy-decoding a single granule:

  frame_len = 144 * bitrate / sample_rate + padding     (Layer II/III MPEG-1)
            =  72 * bitrate / sample_rate + padding     (Layer III MPEG-2/2.5)
            = (12 * bitrate / sample_rate + padding)*4  (Layer I)

This gives the metadata scan a 100 TB audio corpus runs before deciding
what to transcode: duration, sample rate, channel mode, CBR/VBR, frame
count — plus ID3v2/ID3v1 tag detection and the Xing/Info VBR header.
Actual PCM synthesis (huffman + IMDCT + polyphase) stays behind
``_require_codec`` — unlike FLAC, the Layer III synthesis windows are
magic spec tables that cannot be reproduced honestly from first
principles, and the container has no reference decoder to validate
against.

``encode_mp3_silence`` writes structurally valid CBR streams (correct
headers, zeroed side-info/main-data — a legal silent frame) for fixtures.

Reference analog: binary-asset leg S2 (``ideafast_etl/hooks/drm.py:48-90``).
"""

from __future__ import annotations

import struct

# bitrate tables [kbps], index 1..14 (0 = free, 15 = bad) — ISO 11172-3
# Table B.2 / 13818-3. Keyed by (version_group, layer).
_BITRATES = {
    # MPEG-1
    ("1", 1): (0, 32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    ("1", 2): (0, 32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    ("1", 3): (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    # MPEG-2 / 2.5 (LSF)
    ("2", 1): (0, 32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    ("2", 2): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    ("2", 3): (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}

_RATES = {"1": (44100, 48000, 32000), "2": (22050, 24000, 16000), "2.5": (11025, 12000, 8000)}
_VERSION_BITS = {0b00: "2.5", 0b10: "2", 0b11: "1"}
_LAYER_BITS = {0b01: 3, 0b10: 2, 0b11: 1}


def _samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "1" else 576  # Layer III LSF halves


def _parse_header(b: bytes, pos: int):
    """(frame_len, version, layer, bitrate_kbps, rate, channels) or None."""
    if pos + 4 > len(b):
        return None
    h = struct.unpack_from(">I", b, pos)[0]
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    version = _VERSION_BITS.get((h >> 19) & 0x3)
    layer = _LAYER_BITS.get((h >> 17) & 0x3)
    if version is None or layer is None:
        return None
    br_idx = (h >> 12) & 0xF
    sr_idx = (h >> 10) & 0x3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format / invalid
    vgroup = "1" if version == "1" else "2"
    bitrate = _BITRATES[(vgroup, layer)][br_idx] * 1000
    rate = _RATES[version][sr_idx]
    padding = (h >> 9) & 0x1
    channels = 1 if (h >> 6) & 0x3 == 0b11 else 2
    if layer == 1:
        flen = (12 * bitrate // rate + padding) * 4
    elif layer == 3 and version != "1":
        flen = 72 * bitrate // rate + padding
    else:
        flen = 144 * bitrate // rate + padding
    return flen, version, layer, bitrate // 1000, rate, channels


def _id3v2_len(b: bytes) -> int:
    """Byte length of a leading ID3v2 tag (0 if absent); size is syncsafe."""
    if len(b) < 10 or b[:3] != b"ID3":
        return 0
    size = (b[6] << 21) | (b[7] << 14) | (b[8] << 7) | b[9]
    return 10 + size + (10 if b[5] & 0x10 else 0)  # footer flag


def _xing_frame_count(b: bytes, frame_pos: int, version: str, channels: int) -> int | None:
    """Frame count from a Xing/Info VBR header in the first frame, if any.
    The tag sits after the side info: MPEG-1 17(mono)/32(stereo) bytes,
    LSF 9/17 — public Xing SDK layout."""
    if version == "1":
        side = 17 if channels == 1 else 32
    else:
        side = 9 if channels == 1 else 17
    p = frame_pos + 4 + side
    tag = b[p : p + 4]
    if tag not in (b"Xing", b"Info"):
        return None
    (flags,) = struct.unpack_from(">I", b, p + 4)
    if flags & 0x1:
        (n,) = struct.unpack_from(">I", b, p + 8)
        return n
    return None


def mp3_stream_info(b: bytes) -> dict | None:
    """Walk every frame header in an MPEG audio stream. Returns None when
    no sync is found (not an MPEG audio payload) — never raises.

    Output: version/layer/sample_rate/channels of the first frame,
    n_frames (walked, or the Xing-declared count if a VBR header is
    present), duration_s, nominal and average bitrate (kbps), mode
    ('CBR'/'VBR' by header bitrate variance), tag presence, audio_bytes
    (frame bytes, excluding tags)."""
    try:
        start = _id3v2_len(b)
        end = len(b)
        has_id3v1 = end - start >= 128 and b[end - 128 : end - 125] == b"TAG"
        if has_id3v1:
            end -= 128
        # resync: scan forward for the first valid header
        pos = start
        first = None
        while pos + 4 <= end:
            first = _parse_header(b, pos)
            if first is not None:
                break
            pos += 1
        if first is None:
            return None
        _flen, version, layer, _br, rate, channels = first
        xing_frames = _xing_frame_count(b, pos, version, channels)
        n_frames = 0
        audio_bytes = 0
        bitrates = set()
        while pos + 4 <= end:
            parsed = _parse_header(b, pos)
            if parsed is None:
                break  # junk/truncation after the last whole frame
            flen = parsed[0]
            if pos + flen > end:
                break  # truncated final frame: don't count it
            n_frames += 1
            audio_bytes += flen
            bitrates.add(parsed[3])
            pos += flen
        if n_frames == 0:
            return None
        spf = _samples_per_frame(version, layer)
        counted = xing_frames if xing_frames is not None else n_frames
        duration = counted * spf / rate
        return {
            "version": version,
            "layer": layer,
            "sample_rate": rate,
            "channels": channels,
            "n_frames": counted,
            "duration_s": duration,
            "nominal_bitrate_kbps": first[3],
            "avg_bitrate_kbps": audio_bytes * 8 / duration / 1000,
            "mode": "VBR" if len(bitrates) > 1 or xing_frames is not None else "CBR",
            "has_id3v2": start > 0,
            "has_id3v1": bool(has_id3v1),
            "audio_bytes": audio_bytes,
        }
    except (struct.error, IndexError, ValueError, ZeroDivisionError,
            OverflowError):
        return None


# --------------------------------------------------------------------------
# fixture generator
# --------------------------------------------------------------------------


def encode_mp3_silence(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    channels: int = 2,
    id3v2_bytes: int = 0,
    id3v1: bool = False,
) -> bytes:
    """Structurally valid CBR MPEG Layer III stream of silent frames:
    correct 32-bit headers, zeroed side info + main data (legal silence —
    main_data_begin=0, part2_3_length=0), no padding bit. MPEG-1 for
    44.1/48/32 kHz, MPEG-2 (LSF) for 22.05/24/16 kHz."""
    version = "1" if sample_rate in _RATES["1"] else "2"
    rates = _RATES[version if version == "1" else "2"]
    sr_idx = rates.index(sample_rate)
    table = _BITRATES[(version, 3)]
    br_idx = table.index(bitrate_kbps)
    ver_bits = 0b11 if version == "1" else 0b10
    mode_bits = 0b11 if channels == 1 else 0b00
    h = (
        (0x7FF << 21)
        | (ver_bits << 19)
        | (0b01 << 17)  # Layer III
        | (0x1 << 16)  # no CRC
        | (br_idx << 12)
        | (sr_idx << 10)
        | (0 << 9)  # no padding
        | (mode_bits << 6)
    )
    if version == "1":
        flen = 144 * bitrate_kbps * 1000 // sample_rate
    else:
        flen = 72 * bitrate_kbps * 1000 // sample_rate
    frame = struct.pack(">I", h) + b"\x00" * (flen - 4)
    parts = []
    if id3v2_bytes:
        body = max(0, id3v2_bytes - 10)
        size = ((body >> 21) & 0x7F, (body >> 14) & 0x7F, (body >> 7) & 0x7F, body & 0x7F)
        parts.append(b"ID3\x04\x00\x00" + bytes(size) + b"\x00" * body)
    parts.append(frame * n_frames)
    if id3v1:
        parts.append(b"TAG" + b"\x00" * 125)
    return b"".join(parts)
