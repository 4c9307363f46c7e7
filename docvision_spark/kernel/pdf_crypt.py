"""PDF standard security handler — RC4 + AES-CBC over OpenSSL.

Implements the public specs: PDF 32000-1:2008 §7.6 (Algorithms 1-6,
/V 1/2/4, /R 2/3/4, RC4 and AESV2 crypt filters) and ISO 32000-2 (V5
AESV3, R5/R6 with the Algorithm 2.B hardened hash, Algorithms 8, 10,
11 and 13).
The reference opens encrypted PDFs through fitz/MuPDF
(processing/image.py:62-108); here the kernel decrypts directly so
encrypted crawl PDFs extract like plain ones.

Every PDF-specific algorithm lives here. Only the AES block cipher comes
from a library: `aes_cbc_nopad` is the single AES entry point, CBC
without padding over the `cryptography` package (OpenSSL). Padding stays
ours: `aes_cbc_decrypt` checks only the last pad byte, on purpose —
OpenSSL's PKCS7 unpadder also validates every pad byte and would reject
corrupt streams this kernel decrypts. RC4 is a pure-python loop, fine
for the KB-scale streams PDFs carry.

Everything is deterministic; FIPS-197 App. B/C, SP 800-38A CBC, the
canonical RC4 vectors and pinned R6 hashes are in tests/test_pdf_crypt.py.
"""

from __future__ import annotations

import hashlib
import struct

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

# --------------------------------------------------------------------------
# RC4 (symmetric: same function encrypts and decrypts)


def rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# --------------------------------------------------------------------------
# AES-CBC (OpenSSL)


def aes_cbc_nopad(key: bytes, iv: bytes, data: bytes, decrypt: bool) -> bytes:
    """AES-CBC without padding; the key length (16/24/32) picks AES-128/
    192/256. A bad key or IV length or unaligned `data` raise ValueError."""
    cipher = Cipher(algorithms.AES(key), modes.CBC(iv))
    ctx = cipher.decryptor() if decrypt else cipher.encryptor()
    return ctx.update(data) + ctx.finalize()


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """PKCS#5-pad then CBC-encrypt; returns iv + ciphertext (PDF AESV2
    stream layout). Synthesizer-side only."""
    padlen = 16 - (len(data) % 16)
    return iv + aes_cbc_nopad(key, iv, data + bytes([padlen]) * padlen,
                              decrypt=False)


class AesPaddingError(ValueError):
    """CBC decrypt produced an invalid PKCS#5 pad — in a PDF that has
    already passed /U authentication this almost always means the derived
    file key is wrong (e.g. a mis-parsed /ID), not random corruption.
    pdf_text maps it to the typed `pdf_encrypted` error row instead of
    silently emitting empty pages (round-3 advice)."""


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """Decrypt iv+ciphertext, strip PKCS#5 padding. Only the last pad byte
    is checked (1..16). Trailing bytes past the last whole block are
    dropped: PDF stream extraction captures the EOL before `endstream`,
    so the ciphertext routinely arrives with 1-2 junk tail bytes."""
    data = data[:len(data) - (len(data) % 16)]
    if len(data) < 32:
        return b""
    raw = aes_cbc_nopad(key, data[:16], data[16:], decrypt=True)
    padlen = raw[-1]
    if not 1 <= padlen <= 16:
        raise AesPaddingError(f"invalid CBC pad byte {padlen}")
    return raw[:-padlen]


# --------------------------------------------------------------------------
# PDF standard security handler (PDF 32000-1:2008 §7.6.3)

PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _pad_pw(pw: bytes) -> bytes:
    return (pw + PAD)[:32]


def file_key(user_pw: bytes, o: bytes, p: int, id0: bytes, n: int, r: int,
             encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: the file encryption key (n bytes)."""
    h = hashlib.md5(_pad_pw(user_pw) + o[:32]
                    + struct.pack("<i", p if p < 2**31 else p - 2**32) + id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the /O (owner password) value."""
    key = hashlib.md5(_pad_pw(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    o = rc4(key, _pad_pw(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / Algorithm 5 (R3+): the /U (user password) value."""
    if r == 2:
        return rc4(key, PAD)
    u = rc4(key, hashlib.md5(PAD + id0).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def check_user_password(user_pw: bytes, o: bytes, u: bytes, p: int,
                        id0: bytes, n: int, r: int,
                        encrypt_metadata: bool = True) -> bytes | None:
    """Algorithm 6: returns the file key if `user_pw` opens the doc, else
    None. R3+ compares only the first 16 bytes of /U (spec)."""
    key = file_key(user_pw, o, p, id0, n, r, encrypt_metadata)
    expect = compute_u(key, id0, r)
    ok = expect[:16] == u[:16] if r >= 3 else expect == u[:32]
    return key if ok else None


def object_key(fkey: bytes, oid: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1: the per-object key (md5 of file key + obj/gen ids,
    + the AESV2 salt when the crypt filter is AES)."""
    h = hashlib.md5(fkey + struct.pack("<I", oid)[:3]
                    + struct.pack("<H", gen & 0xFFFF)
                    + (b"sAlT" if aes else b""))
    return h.digest()[:min(len(fkey) + 5, 16)]


def decrypt_object(fkey: bytes, oid: int, gen: int, data: bytes,
                   aes: bool) -> bytes:
    k = object_key(fkey, oid, gen, aes)
    return aes_cbc_decrypt(k, data) if aes else rc4(k, data)


def encrypt_object(fkey: bytes, oid: int, gen: int, data: bytes,
                   aes: bool, iv: bytes = b"\x00" * 16) -> bytes:
    """Synthesizer-side inverse of decrypt_object (deterministic IV is fine
    for synthetic corpora — security is not the point, format parity is)."""
    k = object_key(fkey, oid, gen, aes)
    return aes_cbc_encrypt(k, iv, data) if aes else rc4(k, data)


# --------------------------------------------------------------------------
# V5 handler: AES-256, revisions 5 (legacy Adobe) and 6 (ISO 32000-2)
# /U and /O are 48 bytes: hash(32) + validation salt(8) + key salt(8);
# /UE //OE hold the AES-256-CBC-NoPad-wrapped file key. AESV3 has NO
# per-object key — every stream encrypts with the file key directly.


def hash_r6(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B hardened hash (revision 6). For revision
    5 the hash is a single SHA-256(password + salt + udata)."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_nopad(k[:16], k[16:32], k1, decrypt=False)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _v5_hash(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    if r == 5:
        return hashlib.sha256(password + salt + udata).digest()
    return hash_r6(password, salt, udata)


def check_user_password_v5(password: bytes, u: bytes, ue: bytes,
                           r: int) -> bytes | None:
    """Algorithm 11 + 8b: validate against /U, unwrap the file key from
    /UE. Returns the 32-byte file key or None."""
    if len(u) < 48 or len(ue) < 32:
        return None
    vsalt, ksalt = u[32:40], u[40:48]
    if _v5_hash(password, vsalt, b"", r) != u[:32]:
        return None
    inter = _v5_hash(password, ksalt, b"", r)
    return aes_cbc_nopad(inter, b"\x00" * 16, ue[:32], decrypt=True)


def make_v5_user_entries(password: bytes, file_key: bytes, r: int,
                         vsalt: bytes, ksalt: bytes) -> tuple[bytes, bytes]:
    """Synthesizer-side Algorithm 8: build (/U, /UE) for a chosen file key
    and deterministic salts."""
    u = _v5_hash(password, vsalt, b"", r) + vsalt + ksalt
    inter = _v5_hash(password, ksalt, b"", r)
    ue = aes_cbc_nopad(inter, b"\x00" * 16, file_key, decrypt=False)
    return u, ue


def check_perms_v5(file_key: bytes, perms: bytes) -> bool:
    """Algorithm 13: /Perms decrypted with the file key (AES-256 ECB, one
    block) carries b"adb" at bytes 9-11; anything else means the file key
    unwrapped from /UE is wrong."""
    if len(perms) < 16:
        return False
    block = aes_cbc_nopad(file_key, b"\x00" * 16, perms[:16], decrypt=True)
    return block[9:12] == b"adb"


def make_v5_perms(file_key: bytes, p: int, encrypt_metadata: bool,
                  tail: bytes) -> bytes:
    """Synthesizer-side Algorithm 10: /Perms for a chosen file key; tail
    supplies the 4 free bytes 12-15."""
    block = (struct.pack("<I", p & 0xFFFFFFFF) + b"\xff" * 4
             + (b"T" if encrypt_metadata else b"F") + b"adb" + tail[:4])
    return aes_cbc_nopad(file_key, b"\x00" * 16, block, decrypt=False)


def decrypt_object_v5(file_key: bytes, data: bytes) -> bytes:
    """AESV3: iv + ciphertext with the FILE key (no per-object key)."""
    return aes_cbc_decrypt(file_key, data)


def encrypt_object_v5(file_key: bytes, data: bytes,
                      iv: bytes = b"\x00" * 16) -> bytes:
    return aes_cbc_encrypt(file_key, iv, data)
