"""Image payloads built byte by byte with ``struct``/``zlib`` for the
header-reader tests: PNG, baseline and progressive JPEG, animated GIF and
WebP in its VP8L, lossy VP8, VP8X and ANMF forms. The PNG, baseline JPEG
and GIF payloads are complete, decodable images (flat colour); the rest
carry real headers in front of a stub bitstream, which is all a header
reader looks at."""

from __future__ import annotations

import struct
import zlib

# ---------------------------------------------------------------------------
# PNG (RFC 2083)
# ---------------------------------------------------------------------------

_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def png(w: int, h: int, color_type: int = 2, interlace: int = 0) -> bytes:
    """An 8-bit all-zero image: every row is filter byte 0 + zeros."""
    raw = bytes(h * (1 + w * _PNG_CHANNELS[color_type]))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, interlace)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# JPEG (ITU-T T.81)
# ---------------------------------------------------------------------------


def _segment(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


def _sof(marker: int, w: int, h: int, ncomp: int) -> bytes:
    comps = b"".join(bytes([k + 1, 0x11, 0]) for k in range(ncomp))
    return _segment(marker, struct.pack(">BHHB", 8, h, w, ncomp) + comps)


def jpeg_baseline(w: int, h: int, ncomp: int = 3) -> bytes:
    """A flat mid-grey baseline JPEG. Both Huffman tables hold one
    1-bit code: DC category 0 and AC end-of-block. So every 8x8 block
    codes as the two bits ``00``, and the scan is all zero bits padded
    with ones."""
    dqt = _segment(0xDB, bytes([0]) + bytes([1] * 64))
    one_code = bytes([1] + [0] * 15) + bytes([0])  # BITS, then HUFFVAL 0
    dht = _segment(0xC4, bytes([0x00]) + one_code + bytes([0x10]) + one_code)
    sos = _segment(
        0xDA,
        bytes([ncomp])
        + b"".join(bytes([k + 1, 0x00]) for k in range(ncomp))
        + bytes([0, 63, 0]),
    )
    n_bits = 2 * ncomp * ((w + 7) // 8) * ((h + 7) // 8)
    scan = bytes(n_bits // 8) + (bytes([0xFF >> (n_bits % 8)]) if n_bits % 8 else b"")
    return (
        b"\xff\xd8"
        + _segment(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
        + dqt
        + _sof(0xC0, w, h, ncomp)
        + dht
        + sos
        + scan
        + b"\xff\xd9"
    )


def jpeg_progressive_header(w: int, h: int, ncomp: int = 3) -> bytes:
    """SOI + a progressive (SOF2) frame header + EOI: no scan at all."""
    return b"\xff\xd8" + _sof(0xC2, w, h, ncomp) + b"\xff\xd9"


# ---------------------------------------------------------------------------
# GIF (GIF89a)
# ---------------------------------------------------------------------------

_GIF_PALETTE = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])  # 4 colours


def _lzw_uncompressed(indices: bytes) -> bytes:
    """2-bit palette indices as a valid LZW stream that never grows past
    3-bit codes: a clear code before every pair of pixels, then the end
    code, packed LSB first."""
    clear, end = 4, 5
    codes = []
    for i in range(0, len(indices), 2):
        codes += [clear, *indices[i : i + 2]]
    codes.append(end)
    acc = sum(c << (3 * k) for k, c in enumerate(codes))
    return acc.to_bytes((3 * len(codes) + 7) // 8, "little")


def _subblocks(data: bytes) -> bytes:
    out = b"".join(
        bytes([len(data[i : i + 255])]) + data[i : i + 255]
        for i in range(0, len(data), 255)
    )
    return out + b"\x00"


def gif_anim(w: int, h: int, n_frames: int) -> bytes:
    """An n-frame animation; frame k is filled with palette index k % 4."""
    out = b"GIF89a" + struct.pack("<HHBBB", w, h, 0x81, 0, 0) + _GIF_PALETTE
    # NETSCAPE2.0 loop extension, as animation encoders write it
    out += b"\x21\xff\x0bNETSCAPE2.0\x03\x01\x00\x00\x00"
    for k in range(n_frames):
        out += b"\x21\xf9\x04\x00\x0a\x00\x00\x00"  # graphic control, 100 ms
        out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
        out += b"\x02" + _subblocks(_lzw_uncompressed(bytes([k % 4]) * (w * h)))
    return out + b"\x3b"


# ---------------------------------------------------------------------------
# WebP (RFC 9649)
# ---------------------------------------------------------------------------


def _riff_chunk(fourcc: bytes, data: bytes) -> bytes:
    return fourcc + struct.pack("<I", len(data)) + data + (b"\x00" if len(data) & 1 else b"")


def _riff(*chunks: bytes) -> bytes:
    body = b"WEBP" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _vp8l_data(w: int, h: int) -> bytes:
    """VP8L signature + the 14-bit width-1/height-1 header, then a stub
    bitstream."""
    return b"\x2f" + ((w - 1) | (h - 1) << 14).to_bytes(4, "little") + bytes(6)


def webp_vp8l(w: int, h: int) -> bytes:
    return _riff(_riff_chunk(b"VP8L", _vp8l_data(w, h)))


def webp_vp8(w: int, h: int) -> bytes:
    """A lossy key frame: 3-byte frame tag, start code, 14-bit dims."""
    data = bytes([0x10, 0x02, 0x00]) + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
    return _riff(_riff_chunk(b"VP8 ", data + bytes(8)))


def _vp8x(w: int, h: int, flags: int) -> bytes:
    return _riff_chunk(
        b"VP8X",
        bytes([flags, 0, 0, 0]) + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little"),
    )


def webp_vp8x(w: int, h: int) -> bytes:
    """An extended still: the VP8X canvas in front of a smaller VP8L
    stream; the canvas gives the dimensions."""
    return _riff(_vp8x(w, h, 0x10), _riff_chunk(b"VP8L", _vp8l_data(w // 2, h // 2)))


def webp_anim(w: int, h: int, n_frames: int) -> bytes:
    """An animated WebP: VP8X (animation flag), ANIM, then one ANMF per
    frame wrapping a VP8L stream."""
    frame_header = bytes(6) + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    frame = frame_header + struct.pack("<I", 100)[:3] + b"\x00"
    anmf = _riff_chunk(b"ANMF", frame + _riff_chunk(b"VP8L", _vp8l_data(w, h)))
    anim = _riff_chunk(b"ANIM", bytes(4) + struct.pack("<H", 0))
    return _riff(_vp8x(w, h, 0x02), anim, *([anmf] * n_frames))


# name -> (payload, expected decode_image metadata)
FIXTURES: dict[str, tuple[bytes, dict]] = {
    "png": (png(40, 30), {"width": 40, "height": 30, "n_frames": 1, "format": "png"}),
    "jpeg_baseline": (
        jpeg_baseline(24, 16),
        {"width": 24, "height": 16, "n_frames": 1, "format": "jpeg"},
    ),
    "jpeg_progressive": (
        jpeg_progressive_header(20, 30),
        {"width": 20, "height": 30, "n_frames": 1, "format": "jpeg"},
    ),
    "gif_anim": (
        gif_anim(6, 5, 3),
        {"width": 6, "height": 5, "n_frames": 3, "format": "gif"},
    ),
    "webp_vp8l": (
        webp_vp8l(30, 44),
        {"width": 30, "height": 44, "n_frames": 1, "format": "webp"},
    ),
    "webp_vp8": (
        webp_vp8(320, 240),
        {"width": 320, "height": 240, "n_frames": 1, "format": "webp"},
    ),
    "webp_vp8x": (
        webp_vp8x(64, 48),
        {"width": 64, "height": 48, "n_frames": 1, "format": "webp"},
    ),
    "webp_anim": (
        webp_anim(16, 12, 5),
        {"width": 16, "height": 12, "n_frames": 5, "format": "webp"},
    ),
}
