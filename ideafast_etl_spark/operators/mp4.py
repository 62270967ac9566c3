"""Minimal ISO Base Media File Format (MP4/MOV) demuxer/muxer
(SURVEY.md §2.13 — the second real-world video-container leg next to AVI).

ISO BMFF (public spec ISO/IEC 14496-12) is a big-endian box tree:
``ftyp`` + ``mdat`` (raw sample bytes) + ``moov`` (the index):
``moov(mvhd trak(tkhd mdia(mdhd hdlr minf(vmhd dinf stbl(stsd stts stsc
stsz stco)))))``. Unlike AVI's interleaved chunk ids, MP4 locates samples
by arithmetic: ``stco`` gives absolute chunk offsets, ``stsc`` maps chunks
to samples-per-chunk runs, ``stsz`` gives per-sample byte sizes — a sample's
file position is its chunk offset plus the sizes of the samples before it
in that chunk.

This demuxer walks the tree, picks the FIRST ``hdlr='vide'`` track (an
audio track in the same file must not pollute the frame list), expands the
sample table, and returns per-sample byte strings when the sample entry is
a JPEG family fourcc (``jpeg``/``mjpa``/``mjpb`` — QuickTime/OpenDML
Motion-JPEG in MP4, each sample a standalone JPEG the from-spec
``jpeg.py`` decoder handles). Compressed codecs that genuinely need a
codec library (``avc1``/``hvc1``/``mp4v``…) return None and stay behind
the ``_require_codec`` stub.

``mp4_stream_info`` parses the same index without touching sample bytes —
the metadata scan (duration, codec, geometry, sample count) a 100 TB
multimodal corpus runs before deciding what to decode.

The muxer writes a spec-shaped one/two-track file (video chunks of up to 2
samples so ``stsc`` run expansion is load-bearing, optional interleaved
PCM audio track) for fixtures and the re-encode leg.

Reference analog: binary-asset leg S2 (``ideafast_etl/hooks/drm.py:48-90``)
fetches opaque media blobs; the engine side adds the typed demux.
"""

from __future__ import annotations

import struct

import numpy as np

_JPEG_FOURCC = {b"jpeg", b"mjpa", b"mjpb"}


def _boxes(b: bytes, pos: int, end: int):
    """Yield (fourcc, body_start, body_end) for each box in [pos, end)."""
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", b, pos)
        fourcc = b[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            if pos + 16 > end:
                return
            (size,) = struct.unpack_from(">Q", b, pos + 8)
            body = pos + 16
        elif size == 0:  # to end of enclosing scope
            size = end - pos
        if size < 8 or pos + size > end:
            return
        yield fourcc, body, pos + size
        pos += size


def _find(b: bytes, pos: int, end: int, path: list[bytes]) -> tuple[int, int] | None:
    """Body range of the first box at ``path`` below [pos, end)."""
    for depth, want in enumerate(path):
        found = None
        for fourcc, body, bend in _boxes(b, pos, end):
            if fourcc == want:
                found = (body, bend)
                break
        if found is None:
            return None
        pos, end = found
    return pos, end


def _stbl_tables(b: bytes, stbl: tuple[int, int]):
    """Expand stsd/stsz/stsc/stco(co64)/stts into python structures."""
    entry_fourcc = width = height = None
    sizes: list[int] = []
    stsc: list[tuple[int, int]] = []
    offsets: list[int] = []
    n_samples = 0
    duration_units = 0
    for fourcc, body, bend in _boxes(b, *stbl):
        if fourcc == b"stsd" and bend - body >= 16:
            # verflags + entry_count, then the first sample-entry box
            (sz,) = struct.unpack_from(">I", b, body + 8)
            entry_fourcc = b[body + 12 : body + 16]
            # VisualSampleEntry: 6 reserved + dref(2) + 16 predefined,
            # then u16 width / u16 height
            if bend - body >= 16 + 28:
                width, height = struct.unpack_from(">HH", b, body + 16 + 24)
        elif fourcc == b"stsz":
            fixed, n_samples = struct.unpack_from(">II", b, body + 4)
            if fixed:
                sizes = [fixed] * n_samples
            else:
                sizes = list(
                    struct.unpack_from(f">{n_samples}I", b, body + 12)
                )
        elif fourcc == b"stsc":
            (n,) = struct.unpack_from(">I", b, body + 4)
            for i in range(n):
                first, spc, _sdi = struct.unpack_from(
                    ">III", b, body + 8 + 12 * i
                )
                stsc.append((first, spc))
        elif fourcc in (b"stco", b"co64"):
            (n,) = struct.unpack_from(">I", b, body + 4)
            fmt = ">%d%s" % (n, "I" if fourcc == b"stco" else "Q")
            offsets = list(struct.unpack_from(fmt, b, body + 8))
        elif fourcc == b"stts":
            (n,) = struct.unpack_from(">I", b, body + 4)
            for i in range(n):
                cnt, delta = struct.unpack_from(">II", b, body + 8 + 8 * i)
                duration_units += cnt * delta
    return entry_fourcc, width, height, sizes, stsc, offsets, duration_units


def _sample_ranges(
    sizes: list[int], stsc: list[tuple[int, int]], offsets: list[int]
) -> list[tuple[int, int]] | None:
    """(file_offset, size) per sample, via the stsc run expansion: chunk i
    (1-based) uses the samples-per-chunk of the last run whose first_chunk
    is <= i."""
    if not sizes or not stsc or not offsets:
        return None
    out: list[tuple[int, int]] = []
    s = 0
    run = 0
    for chunk_i, chunk_off in enumerate(offsets, start=1):
        while run + 1 < len(stsc) and stsc[run + 1][0] <= chunk_i:
            run += 1
        spc = stsc[run][1]
        off = chunk_off
        for _ in range(spc):
            if s >= len(sizes):
                break
            out.append((off, sizes[s]))
            off += sizes[s]
            s += 1
    return out if len(out) == len(sizes) else None


def _video_track(b: bytes):
    """stbl tables + mdhd timescale of the first 'vide' track, or None."""
    moov = _find(b, 0, len(b), [b"moov"])
    if moov is None:
        return None
    for fourcc, body, bend in _boxes(b, *moov):
        if fourcc != b"trak":
            continue
        mdia = _find(b, body, bend, [b"mdia"])
        if mdia is None:
            continue
        hdlr = _find(b, *mdia, [b"hdlr"])
        if hdlr is None or b[hdlr[0] + 8 : hdlr[0] + 12] != b"vide":
            continue
        stbl = _find(b, *mdia, [b"minf", b"stbl"])
        if stbl is None:
            return None
        timescale = 0
        mdhd = _find(b, *mdia, [b"mdhd"])
        if mdhd is not None:
            version = b[mdhd[0]]
            (timescale,) = struct.unpack_from(
                ">I", b, mdhd[0] + (20 if version else 12)
            )
        return _stbl_tables(b, stbl), timescale
    return None


def is_mp4(b: bytes) -> bool:
    return len(b) >= 12 and b[4:8] == b"ftyp"


def demux_mp4(b: bytes) -> list[bytes] | None:
    """Demux a Motion-JPEG or mp4v MP4/MOV into per-frame byte strings
    (JPEG images or MPEG-4 Part 2 access units, both recognized by
    ``multimodal._decode_any_image``); None for non-BMFF input, codecs
    needing a real codec library (H.26x), or malformed sample tables —
    never raises (untrusted binary column contract)."""
    try:
        if not is_mp4(b):
            return None
        track = _video_track(b)
        if track is None:
            return None
        (entry_fourcc, _w, _h, sizes, stsc, offsets, _dur), _ts = track
        if entry_fourcc not in _JPEG_FOURCC and entry_fourcc != b"mp4v":
            return None  # avc1/hvc1… genuinely need a codec library
        ranges = _sample_ranges(sizes, stsc, offsets)
        if ranges is None:
            return None
        frames = [b[o : o + sz] for o, sz in ranges]
        magic = (
            (lambda f: len(f) >= 3 and f[:3] == b"\x00\x00\x01")
            if entry_fourcc == b"mp4v"
            else (lambda f: len(f) >= 2 and f[:2] == b"\xff\xd8")
        )
        if any(not magic(f) for f in frames):
            return None
        return frames
    except (struct.error, IndexError, ValueError, OverflowError):
        return None


def mp4_stream_info(b: bytes) -> dict | None:
    """Index-only metadata scan of the first video track: codec fourcc,
    geometry, sample count, duration — no sample bytes touched."""
    try:
        if not is_mp4(b):
            return None
        track = _video_track(b)
        if track is None:
            return None
        (fourcc, w, h, sizes, _stsc, _off, dur_units), timescale = track
        return {
            "codec": (fourcc or b"????").decode("latin-1"),
            "width": int(w or 0),
            "height": int(h or 0),
            "n_frames": len(sizes),
            "duration_s": (dur_units / timescale) if timescale else 0.0,
            "media_bytes": int(sum(sizes)),
        }
    except (struct.error, IndexError, ValueError, OverflowError):
        return None


# --------------------------------------------------------------------------
# muxer (fixtures + re-encode leg)
# --------------------------------------------------------------------------


def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + fourcc + body


def _full(fourcc: bytes, verflags: int, body: bytes) -> bytes:
    return _box(fourcc, struct.pack(">I", verflags) + body)


_UNITY = struct.pack(
    ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def encode_mp4(
    frames_px: list[np.ndarray],
    fps: int = 25,
    audio_track: bool = False,
    codec: str = "jpeg",
    qp: int = 4,
) -> bytes:
    """Mux HxWx3 uint8 BGR frames as an MP4. ``codec='jpeg'`` (default)
    writes Motion-JPEG ('jpeg' sample entry); ``codec='mp4v'`` writes
    MPEG-4 Part 2 intra access units (mpeg4.py) under an 'mp4v' sample
    entry with a minimal esds carrying the VOS..VOL config. Video samples
    are laid out in chunks of up to 2 (so the stsc run expansion is
    exercised); ``audio_track`` interleaves a mono 8 kHz 16-bit PCM
    ('twos') track chunk-by-chunk ahead of the video chunks — the
    demuxer's hdlr-based track selection must skip it."""
    assert frames_px, "need at least one frame"
    h, w = frames_px[0].shape[:2]
    if codec == "mp4v":
        from .mpeg4 import encode_mp4v_intra_frame

        payloads = [encode_mp4v_intra_frame(px, qp=qp) for px in frames_px]
    else:
        from .jpeg import encode_jpeg_baseline

        payloads = [encode_jpeg_baseline(px) for px in frames_px]
    n = len(payloads)
    samples_per_aud_chunk = max(1, 8000 // fps) * 2  # bytes (1 sample/chunk)

    # --- mdat layout: [aud?] vid vid [aud?] vid vid ... --------------------
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp41")
    mdat_body = bytearray()
    base = len(ftyp) + 8  # absolute offset of mdat body
    vid_chunk_offsets: list[int] = []
    aud_chunk_offsets: list[int] = []
    vid_stsc: list[tuple[int, int, int]] = []
    i = 0
    chunk_no = 0
    while i < n:
        if audio_track:
            aud_chunk_offsets.append(base + len(mdat_body))
            mdat_body += b"\x00" * samples_per_aud_chunk
        take = min(2, n - i)
        chunk_no += 1
        vid_chunk_offsets.append(base + len(mdat_body))
        if not vid_stsc or vid_stsc[-1][1] != take:
            vid_stsc.append((chunk_no, take, 1))
        for p in payloads[i : i + take]:
            mdat_body += p
        i += take
    mdat = _box(b"mdat", bytes(mdat_body))

    # --- video trak --------------------------------------------------------
    def tkhd(track_id: int, tw: int, th: int, duration: int) -> bytes:
        return _full(
            b"tkhd",
            3,  # enabled | in-movie
            struct.pack(">IIII", 0, 0, track_id, 0)
            + struct.pack(">IIIHHHH", duration, 0, 0, 0, 0, 0, 0)
            + _UNITY
            + struct.pack(">II", tw << 16, th << 16),
        )

    def hdlr(handler: bytes, name: bytes) -> bytes:
        return _full(
            b"hdlr", 0, struct.pack(">I", 0) + handler + b"\x00" * 12 + name + b"\x00"
        )

    dinf = _box(
        b"dinf",
        _full(b"dref", 0, struct.pack(">I", 1) + _full(b"url ", 1, b"")),
    )

    if codec == "mp4v":
        compressor = b"\x05mpeg4".ljust(32, b"\x00")
        # minimal MP4 systems descriptors: ES_Descr > DecoderConfigDescr
        # (objectTypeIndication 0x20 = MPEG-4 Visual) > DecSpecificInfo
        # (the in-band VOS..VOL config bytes) + SLConfigDescr(2)
        cfg = payloads[0]
        vop = cfg.find(b"\x00\x00\x01\xb6")
        dsi = cfg[: vop if vop > 0 else 0]

        def _desc(tag: int, body: bytes) -> bytes:
            assert len(body) < 128
            return bytes([tag, len(body)]) + body

        dec_cfg = _desc(
            0x04,
            bytes([0x20, (0x04 << 2) | 1])
            + b"\x00\x00\x00"  # bufferSizeDB
            + struct.pack(">II", 0, 0)  # max/avg bitrate
            + _desc(0x05, dsi),
        )
        es = _desc(0x03, struct.pack(">HB", 1, 0) + dec_cfg + _desc(0x06, b"\x02"))
        extra = _full(b"esds", 0, es)
    else:
        compressor = b"\x0bMotion JPEG".ljust(32, b"\x00")
        extra = b""
    visual_entry = _box(
        b"mp4v" if codec == "mp4v" else b"jpeg",
        b"\x00" * 6
        + struct.pack(">H", 1)  # data_reference_index
        + struct.pack(">HH", 0, 0)
        + struct.pack(">III", 0, 0, 0)
        + struct.pack(">HH", w, h)
        + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
        + struct.pack(">I", 0)
        + struct.pack(">H", 1)  # frame_count per sample
        + compressor
        + struct.pack(">Hh", 0x0018, -1)
        + extra,
    )
    stsd_v = _full(b"stsd", 0, struct.pack(">I", 1) + visual_entry)
    stts_v = _full(b"stts", 0, struct.pack(">III", 1, n, 1))
    stsc_v = _full(
        b"stsc",
        0,
        struct.pack(">I", len(vid_stsc))
        + b"".join(struct.pack(">III", *e) for e in vid_stsc),
    )
    stsz_v = _full(
        b"stsz",
        0,
        struct.pack(">II", 0, n)
        + b"".join(struct.pack(">I", len(p)) for p in payloads),
    )
    stco_v = _full(
        b"stco",
        0,
        struct.pack(">I", len(vid_chunk_offsets))
        + b"".join(struct.pack(">I", o) for o in vid_chunk_offsets),
    )
    stbl_v = _box(b"stbl", stsd_v + stts_v + stsc_v + stsz_v + stco_v)
    vmhd = _full(b"vmhd", 1, struct.pack(">HHHH", 0, 0, 0, 0))
    mdhd_v = _full(
        b"mdhd",
        0,
        struct.pack(">IIIIHH", 0, 0, fps, n, 0x55C4, 0),  # timescale=fps
    )
    minf_v = _box(b"minf", vmhd + dinf + stbl_v)
    mdia_v = _box(b"mdia", mdhd_v + hdlr(b"vide", b"VideoHandler") + minf_v)
    movie_dur = n * 1000 // fps
    trak_v = _box(b"trak", tkhd(1, w, h, movie_dur) + mdia_v)

    traks = trak_v
    if audio_track:
        n_aud = len(aud_chunk_offsets)
        audio_entry = _box(
            b"twos",
            b"\x00" * 6
            + struct.pack(">H", 1)
            + b"\x00" * 8
            + struct.pack(">HHHH", 1, 16, 0, 0)  # mono, 16-bit
            + struct.pack(">I", 8000 << 16),
        )
        stsd_a = _full(b"stsd", 0, struct.pack(">I", 1) + audio_entry)
        stts_a = _full(b"stts", 0, struct.pack(">III", 1, n_aud, 1))
        stsc_a = _full(b"stsc", 0, struct.pack(">IIII", 1, 1, 1, 1))
        stsz_a = _full(
            b"stsz", 0, struct.pack(">II", samples_per_aud_chunk, n_aud)
        )
        stco_a = _full(
            b"stco",
            0,
            struct.pack(">I", n_aud)
            + b"".join(struct.pack(">I", o) for o in aud_chunk_offsets),
        )
        stbl_a = _box(b"stbl", stsd_a + stts_a + stsc_a + stsz_a + stco_a)
        smhd = _full(b"smhd", 0, struct.pack(">HH", 0, 0))
        mdhd_a = _full(
            b"mdhd", 0, struct.pack(">IIIIHH", 0, 0, fps, n_aud, 0x55C4, 0)
        )
        minf_a = _box(b"minf", smhd + dinf + stbl_a)
        mdia_a = _box(
            b"mdia", mdhd_a + hdlr(b"soun", b"SoundHandler") + minf_a
        )
        # Audio trak FIRST in moov: hdlr-based selection is load-bearing
        traks = _box(b"trak", tkhd(2, 0, 0, movie_dur) + mdia_a) + trak_v

    mvhd = _full(
        b"mvhd",
        0,
        struct.pack(">IIII", 0, 0, 1000, movie_dur)
        + struct.pack(">IHHII", 0x00010000, 0x0100, 0, 0, 0)
        + _UNITY
        + struct.pack(">6I", 0, 0, 0, 0, 0, 0)
        + struct.pack(">I", 3),  # next_track_ID
    )
    moov = _box(b"moov", mvhd + traks)
    return ftyp + mdat + moov
