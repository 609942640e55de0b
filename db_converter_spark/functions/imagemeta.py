"""Image metadata from headers: width, height, frame count and format for
PNG, JPEG, GIF and WebP payloads, read with the standard library alone.

No pixel is decoded. Each reader walks only the container structure its
public specification defines:

- PNG (RFC 2083): the signature and the IHDR chunk;
- JPEG (ITU-T T.81): the marker segments up to the first frame header
  (SOFn), so progressive and arithmetic-coded files read as well as
  baseline ones;
- GIF (GIF89a): the logical screen and every image block whose data
  sub-blocks are complete, so a frame cut off at the tail is not counted;
- WebP (RFC 9649): the RIFF chunks; dimensions from the VP8X canvas, the
  VP8L header bits or the lossy VP8 key-frame header (RFC 6386 §9.1), and
  the frame count from the ANMF chunks.

Every reader returns None for a payload that is not its format or is cut
off before the fields it needs, and never raises on malformed bytes.
"""

from __future__ import annotations

import struct

# ---------------------------------------------------------------------------
# PNG
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def png_meta(payload: bytes) -> dict | None:
    """Parse signature + IHDR → metadata dict, or None if not a PNG."""
    if len(payload) < 33 or payload[:8] != _PNG_SIG:
        return None
    length, ctype = struct.unpack(">I4s", payload[8:16])
    if ctype != b"IHDR" or length != 13:
        return None
    w, h, depth, color, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", payload[16:29]
    )
    return {
        "width": w,
        "height": h,
        "bit_depth": depth,
        "color_type": color,
        "interlaced": bool(interlace),
        "n_frames": 1,
        "format": "png",
    }


# ---------------------------------------------------------------------------
# JPEG
# ---------------------------------------------------------------------------

_SOF_ALL = set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}  # any frame header


def _markers(payload: bytes):
    """Yield (marker, segment_offset, segment_length) for every marker
    segment; stops at SOS (whose entropy data follows) or EOI."""
    n = len(payload)
    i = 2  # past SOI
    while i + 4 <= n:
        if payload[i] != 0xFF:
            return
        m = payload[i + 1]
        if m == 0xD9:  # EOI
            return
        if 0xD0 <= m <= 0xD7 or m == 0x01:  # RSTn/TEM: no segment
            i += 2
            continue
        ln = struct.unpack(">H", payload[i + 2 : i + 4])[0]
        yield m, i + 4, ln - 2
        i += 2 + ln
        if m == 0xDA:  # SOS: entropy-coded data follows
            return


def jpeg_meta(payload: bytes) -> dict | None:
    """Marker-walk to the frame header → metadata dict, or None if the
    payload is not a JPEG or ends inside its frame header. Every SOF type
    reads (progressive included: the dimensions live in the frame
    header, not in a scan)."""
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        return None
    for m, off, ln in _markers(payload):
        if m in _SOF_ALL and ln >= 6:
            if off + 6 > len(payload):
                return None
            prec, h, w, ncomp = struct.unpack(">BHHB", payload[off : off + 6])
            return {
                "width": w,
                "height": h,
                "bit_depth": prec,
                "n_components": ncomp,
                "progressive": m == 0xC2,
                "n_frames": 1,
                "format": "jpeg",
            }
    return None


# ---------------------------------------------------------------------------
# GIF
# ---------------------------------------------------------------------------

_GIF_SIGS = (b"GIF87a", b"GIF89a")


def _skip_subblocks(data: bytes, i: int) -> int:
    """Advance past data sub-blocks; returns the index after the 0
    terminator, or -1 when the stream ends before the terminator (a
    truncated block)."""
    while i < len(data):
        n = data[i]
        i += 1
        if n == 0:
            return i
        i += n
    return -1


def _walk(data: bytes):
    """Yield ('img', 0, descriptor_offset) / ('ext', label, offset) blocks;
    stops at the trailer. A block is yielded only after its descriptor,
    color table and data sub-blocks all lie in bounds (terminator
    included), so a tail-truncated frame is never yielded."""
    if data[:6] not in _GIF_SIGS:
        return
    w, h, flags, _bg, _ar = struct.unpack("<HHBBB", data[6:13])
    i = 13
    if flags & 0x80:  # global color table
        i += 3 * (2 << (flags & 7))
    while i < len(data):
        b = data[i]
        if b == 0x3B:  # trailer
            return
        if b == 0x21:  # extension
            if i + 2 >= len(data):
                return  # truncated: no label/sub-blocks
            label = data[i + 1]
            j = _skip_subblocks(data, i + 2)
            if j < 0:
                return
            yield ("ext", label, i + 2)
            i = j
        elif b == 0x2C:  # image descriptor
            if i + 10 > len(data):
                return  # truncated descriptor
            _x, _y, iw, ih, iflags = struct.unpack("<HHHHB", data[i + 1 : i + 10])
            j = i + 10
            if iflags & 0x80:  # local color table
                j += 3 * (2 << (iflags & 7))
            j += 1  # LZW min code size
            if j > len(data):
                return  # truncated color table / missing min-code-size
            j = _skip_subblocks(data, j)
            if j < 0:
                return  # truncated LZW data
            yield ("img", 0, i + 1)
            i = j
        else:
            return  # unknown block type: count only what parsed before it


def gif_meta(payload: bytes) -> dict | None:
    """Signature + logical screen + the number of complete frames, or
    None when no frame is complete."""
    if len(payload) < 13 or payload[:6] not in _GIF_SIGS:
        return None
    w, h = struct.unpack("<HH", payload[6:10])
    n = 0
    try:
        for kind, _label, _off in _walk(payload):
            if kind == "img":
                n += 1
    except (IndexError, struct.error):
        pass  # truncated tail: count what parsed
    if n == 0:
        return None
    return {
        "width": w,
        "height": h,
        "bit_depth": 8,
        "n_frames": n,
        "format": "gif",
    }


# ---------------------------------------------------------------------------
# WebP
# ---------------------------------------------------------------------------


def _chunks(payload: bytes):
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return
    i = 12
    while i + 8 <= len(payload):
        fourcc = payload[i : i + 4]
        (size,) = struct.unpack("<I", payload[i + 4 : i + 8])
        data = payload[i + 8 : i + 8 + size]
        if len(data) < size:
            return  # truncated chunk: what parsed before it stands
        yield fourcc, data
        i += 8 + size + (size & 1)


def _vp8_lossy_dims(data: bytes) -> tuple[int, int] | None:
    """Lossy VP8 key-frame header: 3-byte frame tag, 0x9d012a start code,
    14-bit width/height (RFC 6386 §9.1)."""
    if len(data) < 10 or data[3:6] != b"\x9d\x01\x2a":
        return None
    if data[0] & 1:  # not a key frame: no dimensions
        return None
    w = struct.unpack("<H", data[6:8])[0] & 0x3FFF
    h = struct.unpack("<H", data[8:10])[0] & 0x3FFF
    return w, h


def webp_meta(payload: bytes) -> dict | None:
    """Container + stream metadata: dimensions from the VP8X canvas, the
    VP8L header bits or the lossy VP8 frame header (first one found),
    n_frames from the ANMF chunk count. None when not a WebP or when no
    image stream is present."""
    if len(payload) < 16 or payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        return None
    w = h = None
    n_frames = 0
    has_stream = False
    for fourcc, data in _chunks(payload):
        if fourcc == b"VP8X" and len(data) >= 10:
            cw = int.from_bytes(data[4:7], "little") + 1
            ch = int.from_bytes(data[7:10], "little") + 1
            if w is None:
                w, h = cw, ch
        elif fourcc == b"VP8L" and len(data) >= 5 and data[0] == 0x2F:
            has_stream = True
            if w is None:
                bits = int.from_bytes(data[1:5], "little")
                w = (bits & 0x3FFF) + 1
                h = ((bits >> 14) & 0x3FFF) + 1
        elif fourcc == b"VP8 ":
            has_stream = True
            if w is None:
                dims = _vp8_lossy_dims(data)
                if dims:
                    w, h = dims
        elif fourcc == b"ANMF":
            n_frames += 1
            has_stream = True
    if w is None or not has_stream:
        return None
    return {
        "width": w,
        "height": h,
        "bit_depth": 8,
        "n_frames": max(n_frames, 1),
        "format": "webp",
    }


def image_meta(payload: bytes) -> dict | None:
    """The first header reader that recognises the payload, or None."""
    return png_meta(payload) or jpeg_meta(payload) or gif_meta(payload) \
        or webp_meta(payload)
