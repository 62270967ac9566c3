"""Minimal WebM/Matroska (EBML) metadata walker (SURVEY.md §2.13 — the
third real-world video-container leg next to AVI and MP4).

Matroska is an EBML tree (public spec, matroska.org / RFC 8794): every
element is ``ID (1-4 bytes, length from the leading-zero count of the
first byte) + size (VINT, marker bit stripped) + payload``; master
elements nest. This walker reads the index the way ``mp4_stream_info``
reads moov: Segment → Info (TimecodeScale, Duration) and Segment → Tracks
(TrackEntry: type, codec id, video geometry / audio sampling rate) —
duration, codecs and geometry WITHOUT touching a single Cluster of frame
data. VP8/VP9/AV1/Opus/Vorbis bitstream decode genuinely needs libvpx/
libopus and stays behind the codec stub.

``encode_webm_stub`` writes a spec-shaped two-track fixture (EBML header,
Segment/Info/Tracks, one empty Cluster) for tests and the oracle replay.

Reference analog: binary-asset leg S2 (``ideafast_etl/hooks/drm.py:48-90``).
"""

from __future__ import annotations

import struct

# Matroska element IDs (marker bits included, per spec)
EBML_HEADER = b"\x1a\x45\xdf\xa3"
SEGMENT = b"\x18\x53\x80\x67"
INFO = b"\x15\x49\xa9\x66"
TIMECODE_SCALE = b"\x2a\xd7\xb1"
DURATION = b"\x44\x89"
TRACKS = b"\x16\x54\xae\x6b"
TRACK_ENTRY = b"\xae"
TRACK_TYPE = b"\x83"
CODEC_ID = b"\x86"
VIDEO = b"\xe0"
PIXEL_WIDTH = b"\xb0"
PIXEL_HEIGHT = b"\xba"
AUDIO = b"\xe1"
SAMPLING_FREQ = b"\xb5"
CLUSTER = b"\x1f\x43\xb6\x75"
DOCTYPE = b"\x42\x82"


def _read_id(b: bytes, pos: int) -> tuple[bytes, int] | None:
    if pos >= len(b):
        return None
    first = b[pos]
    if first == 0:
        return None
    n = 1
    while not (first & (0x80 >> (n - 1))):
        n += 1
        if n > 4:
            return None
    if pos + n > len(b):
        return None
    return b[pos : pos + n], pos + n


def _read_size(b: bytes, pos: int) -> tuple[int | None, int] | None:
    """VINT size; None value means 'unknown' (extends to parent end)."""
    if pos >= len(b):
        return None
    first = b[pos]
    if first == 0:
        return None
    n = 1
    while not (first & (0x80 >> (n - 1))):
        n += 1
        if n > 8:
            return None
    if pos + n > len(b):
        return None
    val = first & (0xFF >> n)
    for i in range(1, n):
        val = (val << 8) | b[pos + i]
    if val == (1 << (7 * n)) - 1:  # all value bits set: unknown size
        return None, pos + n
    return val, pos + n


def _uint(payload: bytes) -> int:
    v = 0
    for byte in payload:
        v = (v << 8) | byte
    return v


def _float(payload: bytes) -> float:
    if len(payload) == 4:
        return struct.unpack(">f", payload)[0]
    if len(payload) == 8:
        return struct.unpack(">d", payload)[0]
    return 0.0


def _walk(b: bytes, pos: int, end: int):
    """Yield (element_id, body_start, body_end); unknown-size masters run
    to the parent end."""
    while pos < end:
        rid = _read_id(b, pos)
        if rid is None:
            return
        eid, pos = rid
        rsz = _read_size(b, pos)
        if rsz is None:
            return
        size, pos = rsz
        body_end = end if size is None else min(pos + size, end)
        yield eid, pos, body_end
        pos = body_end


def webm_stream_info(b: bytes) -> dict | None:
    """Index-only metadata scan of a WebM/Matroska stream: doctype,
    duration, per-track codec ids, video geometry, audio rate. Returns
    None for non-EBML input — never raises (untrusted binary contract)."""
    try:
        if len(b) < 8 or b[:4] != EBML_HEADER:
            return None
        doctype = ""
        timecode_scale = 1_000_000  # spec default, ns per timecode unit
        duration_units = 0.0
        tracks: list[dict] = []
        for eid, s, e in _walk(b, 0, len(b)):
            if eid == EBML_HEADER:
                for hid, hs, he in _walk(b, s, e):
                    if hid == DOCTYPE:
                        doctype = b[hs:he].rstrip(b"\x00").decode(
                            "ascii", "replace"
                        )
            elif eid == SEGMENT:
                for sid, ss, se in _walk(b, s, e):
                    if sid == INFO:
                        for iid, is_, ie in _walk(b, ss, se):
                            if iid == TIMECODE_SCALE:
                                timecode_scale = _uint(b[is_:ie])
                            elif iid == DURATION:
                                duration_units = _float(b[is_:ie])
                    elif sid == TRACKS:
                        for tid, ts, te in _walk(b, ss, se):
                            if tid != TRACK_ENTRY:
                                continue
                            tr: dict = {
                                "type": 0, "codec": "", "width": 0,
                                "height": 0, "sample_rate": 0.0,
                            }
                            for fid, fs, fe in _walk(b, ts, te):
                                if fid == TRACK_TYPE:
                                    tr["type"] = _uint(b[fs:fe])
                                elif fid == CODEC_ID:
                                    tr["codec"] = b[fs:fe].rstrip(
                                        b"\x00"
                                    ).decode("ascii", "replace")
                                elif fid == VIDEO:
                                    for vid_, vs, ve in _walk(b, fs, fe):
                                        if vid_ == PIXEL_WIDTH:
                                            tr["width"] = _uint(b[vs:ve])
                                        elif vid_ == PIXEL_HEIGHT:
                                            tr["height"] = _uint(b[vs:ve])
                                elif fid == AUDIO:
                                    for aid, as_, ae in _walk(b, fs, fe):
                                        if aid == SAMPLING_FREQ:
                                            tr["sample_rate"] = _float(
                                                b[as_:ae]
                                            )
                            tracks.append(tr)
        if not tracks and not doctype:
            return None
        video = next((t for t in tracks if t["type"] == 1), None)
        audio = next((t for t in tracks if t["type"] == 2), None)
        return {
            "doctype": doctype,
            "duration_s": duration_units * timecode_scale / 1e9,
            "n_tracks": len(tracks),
            "video_codec": video["codec"] if video else "",
            "width": video["width"] if video else 0,
            "height": video["height"] if video else 0,
            "audio_codec": audio["codec"] if audio else "",
            "audio_rate": audio["sample_rate"] if audio else 0.0,
        }
    except (struct.error, IndexError, ValueError, OverflowError):
        return None


# --------------------------------------------------------------------------
# fixture muxer
# --------------------------------------------------------------------------


def _vint(n: int) -> bytes:
    """Encode a size as a minimal VINT."""
    for length in range(1, 9):
        if n < (1 << (7 * length)) - 1:
            out = n | (1 << (7 * length))
            return out.to_bytes(length, "big")
    raise ValueError("size too large")


def _elem(eid: bytes, payload: bytes) -> bytes:
    return eid + _vint(len(payload)) + payload


def _uint_payload(v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return v.to_bytes(n, "big")


def encode_webm_stub(
    duration_s: float = 2.0,
    width: int = 640,
    height: int = 360,
    video_codec: str = "V_VP9",
    audio_rate: float = 48000.0,
    audio_codec: str = "A_OPUS",
) -> bytes:
    """Spec-shaped WebM fixture: EBML header, Segment(Info, Tracks
    video+audio, one empty Cluster). Frame data is absent by design —
    the metadata index is the real, decodable part without libvpx."""
    header = _elem(
        EBML_HEADER,
        _elem(DOCTYPE, b"webm")
        + _elem(b"\x42\x86", b"\x01")  # EBMLVersion
        + _elem(b"\x42\xf7", b"\x01"),  # EBMLReadVersion
    )
    info = _elem(
        INFO,
        _elem(TIMECODE_SCALE, _uint_payload(1_000_000))
        + _elem(DURATION, struct.pack(">d", duration_s * 1000.0)),
    )
    video_entry = _elem(
        TRACK_ENTRY,
        _elem(b"\xd7", b"\x01")  # TrackNumber
        + _elem(TRACK_TYPE, b"\x01")
        + _elem(CODEC_ID, video_codec.encode("ascii"))
        + _elem(
            VIDEO,
            _elem(PIXEL_WIDTH, _uint_payload(width))
            + _elem(PIXEL_HEIGHT, _uint_payload(height)),
        ),
    )
    audio_entry = _elem(
        TRACK_ENTRY,
        _elem(b"\xd7", b"\x02")
        + _elem(TRACK_TYPE, b"\x02")
        + _elem(CODEC_ID, audio_codec.encode("ascii"))
        + _elem(AUDIO, _elem(SAMPLING_FREQ, struct.pack(">f", audio_rate))),
    )
    tracks = _elem(TRACKS, video_entry + audio_entry)
    cluster = _elem(CLUSTER, _elem(b"\xe7", b"\x00"))  # Timecode 0
    segment = _elem(SEGMENT, info + tracks + cluster)
    return header + segment
