"""WinZip-AES (AE-2) encrypted zip writer/reader.

Closes the AES leg of E20 (reference: dbccore/dbccore.py:781-826 uses
pyzipper's WZ_AES): the container follows the public WinZip AE-2
specification ("AES Encryption Information Extra Field", WinZip/Gladman);
the AES-256 block cipher is the installed ``cryptography`` package's and
every other primitive (PBKDF2-HMAC-SHA1, HMAC, CRC32, DEFLATE) is Python
stdlib.

Format recap (AE-2):
- per-file payload = salt(16) || password_verifier(2) || ciphertext || hmac(10)
- keys = PBKDF2-HMAC-SHA1(password, salt, 1000 iters, 32+32+2 bytes):
  AES-256 key, HMAC-SHA1 key, 2-byte password verifier
- cipher = AES-256 in CTR mode with a 16-byte LITTLE-ENDIAN counter
  starting at 1 (no nonce)
- auth = first 10 bytes of HMAC-SHA1 over the CIPHERTEXT
- zip method 99, extra field 0x9901 (AE-2, vendor "AE", strength 3,
  real method inside), CRC-32 field = 0 (AE-2 omits it)

It is the one AES writer of the export path (plans/export.py); tests
check its archives against libarchive's ``bsdtar`` and, where it is
installed, pyzipper.
"""

from __future__ import annotations

import hashlib
import hmac as hmac_mod
import struct
import zlib
from pathlib import Path

import numpy as np
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes


def _ctr_xor(key: bytes, data: bytes) -> bytes:
    """WinZip-AES CTR: 16-byte LITTLE-ENDIAN counter starting at 1."""
    counters = np.zeros((-(-len(data) // 16), 2), dtype="<u8")
    counters[:, 0] = np.arange(1, len(counters) + 1)
    # ECB over explicit counter blocks: modes.CTR increments a big-endian counter
    ks = Cipher(algorithms.AES(key), modes.ECB()).encryptor().update(counters.tobytes())
    return (np.frombuffer(data, np.uint8) ^ np.frombuffer(ks[: len(data)], np.uint8)).tobytes()


# --- AE-2 payload ----------------------------------------------------------

_SALT_LEN = 32 // 2  # 16 bytes for AES-256 (salt = keylen/2)
_PBKDF2_ITERS = 1000


def _derive(password: bytes, salt: bytes) -> tuple[bytes, bytes, bytes]:
    dk = hashlib.pbkdf2_hmac("sha1", password, salt, _PBKDF2_ITERS, 32 + 32 + 2)
    return dk[:32], dk[32:64], dk[64:66]


def _seal(compressed: bytes, password: bytes, salt: bytes) -> bytes:
    aes_key, mac_key, verifier = _derive(password, salt)
    ct = _ctr_xor(aes_key, compressed)
    tag = hmac_mod.new(mac_key, ct, hashlib.sha1).digest()[:10]
    return salt + verifier + ct + tag


def _open_sealed(payload: bytes, password: bytes) -> bytes:
    salt, verifier, body = payload[:_SALT_LEN], payload[_SALT_LEN:_SALT_LEN + 2], payload[_SALT_LEN + 2:]
    ct, tag = body[:-10], body[-10:]
    aes_key, mac_key, want_ver = _derive(password, salt)
    if verifier != want_ver:
        raise ValueError("bad password (verifier mismatch)")
    calc = hmac_mod.new(mac_key, ct, hashlib.sha1).digest()[:10]
    if not hmac_mod.compare_digest(calc, tag):
        raise ValueError("authentication failed (HMAC mismatch)")
    return _ctr_xor(aes_key, ct)


# --- zip container ---------------------------------------------------------

_METHOD_AES = 99
_METHOD_DEFLATE = 8
_AE2_EXTRA = struct.pack("<HHH2sBH", 0x9901, 7, 2, b"AE", 3, _METHOD_DEFLATE)


def write_aes_zip(
    zip_path: str | Path,
    files: list[tuple[str, bytes]],
    password: str,
    salt_fn=None,
) -> None:
    """Write an AE-2 encrypted zip of ``(name, content)`` entries.

    ``salt_fn(name) -> bytes16`` injects deterministic salts for tests;
    default salts derive from ``os.urandom``."""
    import os

    password_b = password.encode()
    out = bytearray()
    central = bytearray()
    records: list[tuple[str, int, int, int]] = []  # name, usize, payload_len, offset
    for name, content in files:
        nb = name.encode()
        comp = zlib.compressobj(zlib.Z_DEFAULT_COMPRESSION, zlib.DEFLATED, -15)
        deflated = comp.compress(content) + comp.flush()
        salt = salt_fn(name) if salt_fn else os.urandom(_SALT_LEN)
        payload = _seal(deflated, password_b, salt)
        records.append((name, len(content), len(payload), len(out)))
        # local file header: version-needed 51 (AES per APPNOTE), bit 0 set
        # (encrypted), method 99, CRC 0 (AE-2 omits it)
        lfh = struct.pack(
            "<IHHHHHIIIHH",
            0x04034B50, 51, 0x0001, _METHOD_AES, 0, 0,
            0, len(payload), len(content), len(nb), len(_AE2_EXTRA),
        )
        out += lfh + nb + _AE2_EXTRA + payload
    for name, usize, payload_len, off in records:
        nb = name.encode()
        cdh = struct.pack(
            "<IHHHHHHIIIHHHHHII",
            0x02014B50, 51, 51, 0x0001, _METHOD_AES, 0, 0,
            0, payload_len, usize, len(nb), len(_AE2_EXTRA), 0,
            0, 0, 0, off,
        )
        central += cdh + nb + _AE2_EXTRA
    eocd = struct.pack(
        "<IHHHHIIH",
        0x06054B50, 0, 0, len(files), len(files), len(central), len(out), 0,
    )
    Path(zip_path).write_bytes(bytes(out) + bytes(central) + eocd)


def read_aes_zip(zip_path: str | Path, password: str) -> dict[str, bytes]:
    """Read back an AE-2 zip written by :func:`write_aes_zip` (also reads
    single-disk AE-2 archives from other writers, e.g. pyzipper, as long
    as they use DEFLATE inside)."""
    data = Path(zip_path).read_bytes()
    password_b = password.encode()
    result: dict[str, bytes] = {}
    pos = 0
    while pos + 4 <= len(data) and data[pos : pos + 4] == b"PK\x03\x04":
        (_, _, flags, method, _, _, _, csize, usize, nlen, xlen) = struct.unpack(
            "<IHHHHHIIIHH", data[pos : pos + 30]
        )
        name = data[pos + 30 : pos + 30 + nlen].decode()
        xstart = pos + 30 + nlen
        extra = data[xstart : xstart + xlen]
        body = data[xstart + xlen : xstart + xlen + csize]
        pos = xstart + xlen + csize
        if method != _METHOD_AES:
            raise ValueError(f"{name}: not an AES entry (method {method})")
        # find the 0x9901 extra to learn the real method
        real_method = _METHOD_DEFLATE
        e = 0
        while e + 4 <= len(extra):
            hid, hsz = struct.unpack("<HH", extra[e : e + 4])
            if hid == 0x9901:
                real_method = struct.unpack("<H", extra[e + 9 : e + 11])[0]
            e += 4 + hsz
        plain = _open_sealed(body, password_b)
        if real_method == _METHOD_DEFLATE:
            plain = zlib.decompress(plain, -15)
        elif real_method != 0:
            raise ValueError(f"{name}: unsupported inner method {real_method}")
        if usize not in (0, len(plain)):
            raise ValueError(f"{name}: size mismatch after decrypt")
        result[name] = plain
    return result

