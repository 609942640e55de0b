"""WinZip-AES (AE-2) writer/reader (functions/wzaes.py) — the AES leg of
E20 without pyzipper. The block cipher is the ``cryptography`` package's;
these tests pin the writer's exact bytes (keystream and a whole archive
with fixed salts), and cover the container, key derivation, CTR mode,
authentication, and interop with independent AE-2 readers: libarchive's
``bsdtar`` and, when installed, pyzipper."""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import zipfile

import pytest

from db_converter_spark.functions.wzaes import (
    _ctr_xor,
    read_aes_zip,
    write_aes_zip,
)


def _det_bytes(n: int, tag: str) -> bytes:
    """``n`` incompressible, deterministic bytes (sha256 chain)."""
    out = bytearray()
    i = 0
    while len(out) < n:
        out += hashlib.sha256(b"%s:%d" % (tag.encode(), i)).digest()
        i += 1
    return bytes(out[:n])


def test_keystream_and_archive_bytes_are_pinned(tmp_path):
    """Golden values written by the earlier table-driven FIPS-197 cipher:
    the first 64 keystream bytes under key 00..1f, and the sha256 of a
    fixed-salt archive whose members span 0, 1, 16 (one full block),
    17 (a partial second block) and 70,001 bytes."""
    assert _ctr_xor(bytes(range(32)), bytes(64)).hex() == (
        "c7b519846a11411cd6ac07cb03f801a84ef4b88bebd54953c37ffaf66efaca7b"
        "80c3017e8f89ab315ede32b11e48ab50d5786900334bbaad31a868ca3c29221b"
    )
    files = [(f"m{n}.bin", _det_bytes(n, f"m{n}")) for n in (0, 1, 16, 17, 70_001)]
    p = tmp_path / "golden.zip"
    write_aes_zip(p, files, "golden-pw", salt_fn=lambda name: bytes(16))
    assert hashlib.sha256(p.read_bytes()).hexdigest() == (
        "2f2db2c26cdacc3f3a22dd402cd3ec05bdcab2093a475cdd96df7f29258f8779"
    )
    assert read_aes_zip(p, "golden-pw") == dict(files)


def test_ctr_is_an_involution_and_position_dependent():
    key = bytes(range(32))
    data = bytes(range(256)) * 3
    ct = _ctr_xor(key, data)
    assert ct != data
    assert _ctr_xor(key, ct) == data  # XOR stream: decrypt == encrypt
    # keystream must differ across blocks (counter actually increments)
    ks = bytes(a ^ b for a, b in zip(ct, data))
    assert ks[:16] != ks[16:32]


def test_zip_roundtrip_and_auth(tmp_path):
    files = [
        ("one.csv", b"id\tval\n1\ta\n2\tb\n" * 200),
        ("two.csv", b""),  # empty member
        ("three.bin", bytes(range(256)) * 41),
    ]
    p = tmp_path / "t.zip"
    write_aes_zip(p, files, "pa55word")
    assert read_aes_zip(p, "pa55word") == dict(files)
    # stdlib zipfile parses the container structure (names + sizes)
    with zipfile.ZipFile(p) as zf:
        assert zf.namelist() == [n for n, _ in files]
        for (n, content), info in zip(files, zf.infolist()):
            assert info.file_size == len(content)
    with pytest.raises(ValueError, match="verifier"):
        read_aes_zip(p, "wrong")
    # bit-flip in the ciphertext must fail the HMAC, not decrypt garbage
    raw = bytearray(p.read_bytes())
    # flip a byte inside the first member's ciphertext (after the 30-byte
    # header + name + 11-byte extra + 16-byte salt + 2-byte verifier)
    ofs = 30 + len("one.csv") + 11 + 16 + 2 + 5
    raw[ofs] ^= 0xFF
    p.write_bytes(bytes(raw))
    with pytest.raises(ValueError, match="authentication|verifier"):
        read_aes_zip(p, "pa55word")


def test_deterministic_salts_give_deterministic_archives(tmp_path):
    files = [("a.txt", b"hello")]
    salt_fn = lambda name: bytes(16)  # noqa: E731
    p1, p2 = tmp_path / "1.zip", tmp_path / "2.zip"
    write_aes_zip(p1, files, "pw", salt_fn=salt_fn)
    write_aes_zip(p2, files, "pw", salt_fn=salt_fn)
    assert p1.read_bytes() == p2.read_bytes()


def test_pyzipper_interop(tmp_path):
    pz = pytest.importorskip("pyzipper")
    files = [("x.csv", b"col\n1\n2\n")]
    p = tmp_path / "ours.zip"
    write_aes_zip(p, files, "s3cret")
    with pz.AESZipFile(p) as zf:
        zf.setpassword(b"s3cret")
        assert zf.read("x.csv") == files[0][1]


@pytest.mark.skipif(shutil.which("bsdtar") is None, reason="bsdtar not on PATH")
def test_bsdtar_interop(tmp_path):
    """libarchive's AE-2 reader (OpenSSL AES) extracts our members byte-exact
    and refuses a wrong passphrase."""
    big = os.urandom(70_001)
    files = [("big.bin", big), ("small.csv", b"col\n1\n2\n")]
    p = tmp_path / "x.zip"
    write_aes_zip(p, files, "pw")
    for name, content in files:
        out = subprocess.run(
            ["bsdtar", "-xOf", str(p), "--passphrase", "pw", name],
            capture_output=True, check=True,
        )
        assert out.stdout == content
    wrong = subprocess.run(
        ["bsdtar", "-xOf", str(p), "--passphrase", "nope", "big.bin"],
        capture_output=True,
    )
    assert wrong.returncode != 0
    assert wrong.stdout != big
