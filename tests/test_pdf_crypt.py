"""pdf_crypt: pinned public test vectors + PDF security-handler roundtrips."""

import pytest

from docvision_spark.kernel import pdf_crypt as pc


def test_rc4_vectors():
    # canonical RC4 vectors (Wikipedia / original Usenet posting)
    assert pc.rc4(b"Key", b"Plaintext").hex().upper() == "BBF316E8D940AF0AD3"
    assert pc.rc4(b"Wiki", b"pedia").hex().upper() == "1021BF0420"
    assert pc.rc4(b"Secret", b"Attack at dawn").hex().upper() == \
        "45A01F645FC35B383552544B9BF5"
    # symmetric
    assert pc.rc4(b"Key", pc.rc4(b"Key", b"roundtrip")) == b"roundtrip"


def _assert_block_vector(key: bytes, pt: bytes, ct: bytes) -> None:
    # one block with a zero IV: CBC reduces to the bare block cipher
    iv = bytes(16)
    assert pc.aes_cbc_nopad(key, iv, pt, decrypt=False) == ct
    assert pc.aes_cbc_nopad(key, iv, ct, decrypt=True) == pt


def test_aes128_fips197_vector():
    # FIPS-197 Appendix C.1
    _assert_block_vector(
        bytes.fromhex("000102030405060708090a0b0c0d0e0f"),
        bytes.fromhex("00112233445566778899aabbccddeeff"),
        bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a"))


def test_aes128_appendix_b_vector():
    # FIPS-197 Appendix B
    _assert_block_vector(
        bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c"),
        bytes.fromhex("3243f6a8885a308d313198a2e0370734"),
        bytes.fromhex("3925841d02dc09fbdc118597196a0b32"))


def test_cbc_roundtrip_all_lengths():
    key = b"0123456789abcdef"
    iv = bytes(range(16))
    for n in (0, 1, 15, 16, 17, 100, 1000):
        data = bytes((i * 7 + 3) & 0xFF for i in range(n))
        enc = pc.aes_cbc_encrypt(key, iv, data)
        assert len(enc) % 16 == 0 and enc[:16] == iv
        assert pc.aes_cbc_decrypt(key, enc) == data


def test_cbc_sp800_38a_vectors():
    # NIST SP 800-38A F.2.1 (encrypt) / F.2.2 (decrypt) CBC-AES128 vectors
    key = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt = bytes.fromhex(
        "6bc1bee22e409f96e93d7e117393172a"
        "ae2d8a571e03ac9c9eb76fac45af8e51")
    ct = bytes.fromhex(
        "7649abac8119b246cee98e9b12e9197d"
        "5086cb9b507219ee95db113a917678b2")
    assert pc.aes_cbc_nopad(key, iv, pt, decrypt=False) == ct
    assert pc.aes_cbc_nopad(key, iv, ct, decrypt=True) == pt
    # the padded forms: encrypt pads, so its output extends ct by one
    # block; decrypt strips that pad block again
    enc = pc.aes_cbc_encrypt(key, iv, pt)
    assert enc[:16] == iv and enc[16:16 + len(ct)] == ct
    assert len(enc) == 16 + len(ct) + 16
    assert pc.aes_cbc_decrypt(key, enc) == pt


def test_user_password_check_roundtrip():
    id0 = b"\x01" * 16
    for r, n in ((2, 5), (3, 16), (4, 16)):
        p = -44
        o = pc.compute_o(b"owner-secret", b"", r, n)
        key = pc.file_key(b"", o, p, id0, n, r)
        u = pc.compute_u(key, id0, r)
        got = pc.check_user_password(b"", o, u, p, id0, n, r)
        assert got == key
        # wrong password rejected
        assert pc.check_user_password(b"wrong", o, u, p, id0, n, r) is None


def test_nonempty_user_password_rejects_empty():
    id0 = b"\x02" * 16
    o = pc.compute_o(b"owner", b"hunter2", 3, 16)
    key = pc.file_key(b"hunter2", o, -44, id0, 16, 3)
    u = pc.compute_u(key, id0, 3)
    assert pc.check_user_password(b"", o, u, -44, id0, 16, 3) is None
    assert pc.check_user_password(b"hunter2", o, u, -44, id0, 16, 3) == key


def test_object_crypt_roundtrip():
    fkey = bytes(range(16))
    data = b"BT /F1 11 Tf (hello encrypted world) Tj ET" * 20
    for aes in (False, True):
        enc = pc.encrypt_object(fkey, 7, 0, data, aes)
        assert enc != data
        assert pc.decrypt_object(fkey, 7, 0, enc, aes) == data
        # a different object id yields a different key: corrupt plaintext
        # or (AES) a detected pad mismatch
        try:
            assert pc.decrypt_object(fkey, 8, 0, enc, aes) != data
        except pc.AesPaddingError:
            assert aes


def test_aes_192_256_fips_vectors():
    # FIPS-197 Appendix C.2 / C.3
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    _assert_block_vector(
        bytes.fromhex("000102030405060708090a0b0c0d0e0f1011121314151617"),
        pt, bytes.fromhex("dda97ca4864cdfe06eaf70a0ec0d7191"))
    _assert_block_vector(
        bytes.fromhex("000102030405060708090a0b0c0d0e0f"
                      "101112131415161718191a1b1c1d1e1f"),
        pt, bytes.fromhex("8ea2b7ca516745bfeafc49904b496089"))


def test_v5_user_entries_roundtrip_r5_and_r6():
    fkey = bytes(range(32))
    for r in (5, 6):
        u, ue = pc.make_v5_user_entries(b"", fkey, r, b"VSALT678", b"KSALT678")
        assert len(u) == 48 and len(ue) == 32
        assert pc.check_user_password_v5(b"", u, ue, r) == fkey
        assert pc.check_user_password_v5(b"nope", u, ue, r) is None
    # nonempty user password rejects the empty attempt
    u, ue = pc.make_v5_user_entries(b"secret", fkey, 6, b"V" * 8, b"K" * 8)
    assert pc.check_user_password_v5(b"", u, ue, 6) is None
    assert pc.check_user_password_v5(b"secret", u, ue, 6) == fkey


def test_v5_object_crypt_uses_file_key_directly():
    fkey = bytes(range(32))
    data = b"BT (aesv3 stream content) Tj ET" * 11
    enc = pc.encrypt_object_v5(fkey, data, iv=b"\x07" * 16)
    assert pc.decrypt_object_v5(fkey, enc) == data
    # wrong key: either corrupt plaintext or a detected pad mismatch
    try:
        assert pc.decrypt_object_v5(bytes(32), enc) != data
    except pc.AesPaddingError:
        pass


def test_cbc_decrypt_garbage_is_safe():
    assert pc.aes_cbc_decrypt(b"0123456789abcdef", b"short") == b""
    # whole-block garbage with an invalid pad byte now raises the typed
    # signal (round-3 advice: wrong-key decrypts must not yield silently
    # empty pages) — unless the random last byte happens to be a valid pad
    try:
        out = pc.aes_cbc_decrypt(b"0123456789abcdef", b"x" * 33)
        assert isinstance(out, bytes)
    except pc.AesPaddingError:
        pass
    with pytest.raises(pc.AesPaddingError):
        # all-zero ciphertext decrypts to a deterministic non-pad tail
        pc.aes_cbc_decrypt(b"0123456789abcdef", bytes(48))
    # only the last pad byte is checked: a corrupt pad whose last byte is
    # in 1..16 strips that many bytes instead of raising
    key, iv = b"0123456789abcdef", bytes(range(16))
    pt = b"corrupt pad \x00\x07\x09\x03"
    enc = iv + pc.aes_cbc_nopad(key, iv, pt, decrypt=False)
    assert pc.aes_cbc_decrypt(key, enc) == pt[:-3]


def test_literal_string_id_decrypts():
    """/ID written as literal strings [(..)(..)] — common in real PDFs —
    must derive the same file key as the hex form; the old hex-only regex
    fell back to id0=b'' and misclassified the doc as pdf_encrypted. The
    escapes follow ISO 32000-1 §7.3.4.2 there and in /O: an unknown escape
    stands for its character, a backslash-EOL adds nothing and a bare CR or
    CRLF reads as one LF."""
    import random
    import re

    from docvision_spark.corpus import make_pdf
    from docvision_spark.kernel.extract import extract

    url = "http://literal-id.example.com/doc4"  # its /ID holds an LF byte
    pdf = make_pdf(url, random.Random(3), "en", force_encrypt="rc4",
                   force_layout15=False)
    m = re.search(rb"/ID \[<([0-9a-f]+)> <([0-9a-f]+)>\]", pdf)
    assert m, "corpus PDF should carry a hex /ID"
    id0 = bytes.fromhex(m.group(1).decode())
    assert b"\n" in id0

    def lit(b: bytes, lf: bytes = b"\\012") -> bytes:
        out = bytearray(b"(")
        for x in b:
            if x == 0x0A:
                out += lf
            elif x in (0x28, 0x29, 0x5C):
                out += b"\\" + bytes([x])
            elif 32 <= x < 127:
                out.append(x)
            else:
                out += ("\\%03o" % x).encode()
        return bytes(out + b")")

    def lit_unknown(b: bytes) -> bytes:
        # every byte that has no escape meaning is written as `\<byte>`
        out = bytearray(b"(")
        for x in b:
            if x in b"nrtbf01234567\r\n":
                out += ("\\%03o" % x).encode()
            else:
                out += b"\\" + bytes([x])
        return bytes(out + b")")

    om = re.search(rb"/O <([0-9a-f]+)>", pdf)
    o = bytes.fromhex(om.group(1).decode())
    o_split = lit(o[:8])[:-1] + b"\\\n" + lit(o[8:])[1:]
    variants = {
        "literal /ID": pdf.replace(
            m.group(0), b"/ID [" + lit(id0) + b" " + lit(id0) + b"]"),
        "unknown-escape /ID": pdf.replace(
            m.group(0), b"/ID [" + lit_unknown(id0) + b" <00>]"),
        "continued /O": pdf.replace(om.group(0), b"/O " + o_split),
        "bare-EOL /ID": pdf.replace(
            m.group(0), b"/ID [" + lit(id0, b"\r\n") + b" " + lit(id0, b"\r")
            + b"]"),
    }
    r_hex = extract(url, pdf)
    assert r_hex.error is None and r_hex.text
    for what, pdf_lit in variants.items():
        assert pdf_lit != pdf, what
        r_lit = extract(url, pdf_lit)
        assert r_lit.error is None, f"{what} misread: {r_lit.error}"
        assert r_lit.text == r_hex.text, what


def test_wrong_key_bad_padding_is_typed_error():
    """AES-256 (V5/R6) doc whose /UE is corrupted: /U auth still passes,
    but the unwrapped file key is wrong. A failed /Perms check (ISO
    32000-2 Algorithm 13) makes any stream pad failure key-level, so every
    such doc must end as the typed pdf_encrypted row, while a corrupted
    /Perms under the right key must still extract. Without /Perms only the
    first stream's CBC pad check guards the key; it looks at the last pad
    byte only, so a wrong key passes it for about 1 stream in 16 and such
    a doc must still end as an error row with no text."""
    import random
    import re

    from docvision_spark.corpus import make_pdf
    from docvision_spark.kernel.extract import extract

    n_pad_checked = 0
    for i in range(8):
        url = f"https://ue-{i}.example.com/doc"
        pdf = make_pdf(url, random.Random(i), "en", force_encrypt="aes256",
                       force_layout15=False, force_type0=False)
        good = extract(url, pdf)
        assert good.error is None
        u = bytes.fromhex(re.search(rb"/U <([0-9a-f]+)>", pdf)
                          .group(1).decode())
        m = re.search(rb"/UE <([0-9a-f]+)>", pdf)
        ue = bytes.fromhex(m.group(1).decode())
        bad_ue = bytes(b ^ 0x5A for b in ue[:4]) + ue[4:]
        good_key = pc.check_user_password_v5(b"", u, ue, 6)
        bad_key = pc.check_user_password_v5(b"", u, bad_ue, 6)
        assert bad_key is not None and bad_key != good_key  # auth passes
        bad = pdf.replace(m.group(0), b"/UE <" + bad_ue.hex().encode() + b">")
        assert extract(url, bad).error == "pdf_encrypted", url
        pm = re.search(rb" /Perms <([0-9a-f]+)>", pdf)
        assert pc.check_perms_v5(good_key, bytes.fromhex(pm.group(1).decode()))
        bad_perms = extract(url, pdf.replace(pm.group(1), pm.group(1)[::-1]))
        assert (bad_perms.error, bad_perms.text) == (None, good.text), url
        r = extract(url, bad.replace(pm.group(0), b""))
        assert r.error is not None and not r.text, (url, r.error)
        streams = re.findall(rb"stream\r?\n(.*?)endstream", pdf, re.S)
        assert streams
        if all(_pad_fails(bad_key, s) for s in streams):
            n_pad_checked += 1
            assert r.error == "pdf_encrypted", (url, r.error)
    assert n_pad_checked >= 4


def _pad_fails(key: bytes, data: bytes) -> bool:
    try:
        pc.decrypt_object_v5(key, data)
    except pc.AesPaddingError:
        return True
    return False


def _hash_r6_independent(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """Deliberately-independent Algorithm 2.B (ISO 32000-2 §7.6.4.3.4)
    reimplementation for cross-checking hash_r6: different loop structure
    (explicit round counter, continue-condition form) and hand-rolled CBC
    chaining of one-block aes_cbc_nopad calls with a zero IV instead of
    one multi-block call. With no downloadable interop PDF offline, two
    structurally different renderings of the spec catching each other's
    off-by-ones is the strongest offline substitute (round-3 advice)."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    round_no = 0
    while True:
        k1 = (password + k + udata) * 64
        # CBC-encrypt k1 with key=K[0:16], iv=K[16:32], no padding —
        # hand-rolled chaining: XOR each block with the previous
        # ciphertext, then encrypt it alone under a zero IV
        prev = k[16:32]
        e = bytearray()
        for off in range(0, len(k1), 16):
            block = bytes(a ^ b for a, b in zip(k1[off:off + 16], prev))
            prev = pc.aes_cbc_nopad(k[:16], bytes(16), block, decrypt=False)
            e += prev
        e = bytes(e)
        digest = {0: hashlib.sha256, 1: hashlib.sha384, 2: hashlib.sha512}[
            sum(e[:16]) % 3]
        k = digest(e).digest()
        round_no += 1
        if round_no < 64:
            continue
        if e[-1] > round_no - 32:
            continue
        return k[:32]


def test_hash_r6_cross_implementation():
    import random

    rng = random.Random(0xA25B)
    for trial in range(4):
        pw = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 16)))
        salt = bytes(rng.randrange(256) for _ in range(8))
        udata = (bytes(rng.randrange(256) for _ in range(48))
                 if trial % 2 else b"")
        assert pc.hash_r6(pw, salt, udata) == _hash_r6_independent(pw, salt, udata)
    # pinned regression vectors, computed with an independent AES
    assert pc.hash_r6(b"user", bytes(range(1, 9))).hex() == (
        "17424b40ead366f7ddef0ff073608aa68ba701714b5cef3409b94c4ffa763726")
    assert pc.hash_r6(b"", bytes(8)).hex() == (
        "439feba099a63d0d035a1e5fb67ff307329189584956425aff2d3bd3d15edc60")


def test_pad_failure_scope_first_stream_vs_later():
    """AES pad-failure policy (round-4 ADVICE): a bad pad on the FIRST
    decrypted stream is a key-level signal -> PdfEncryptedError (typed
    error row); once one stream has decrypted cleanly, a later pad
    failure is per-stream corruption and must degrade to b'' via
    _load_stream instead of reclassifying the document."""
    import pytest

    from docvision_spark.kernel import pdf_crypt as pc
    from docvision_spark.kernel import pdf_text as pt

    key = bytes(range(16))
    good = pc.encrypt_object(key, 7, 0, b"hello stream", True)
    bad = good[:-1] + bytes([good[-1] ^ 0xFF])
    while True:  # ensure the flipped pad really is invalid
        try:
            pc.decrypt_object(key, 7, 0, bad, True)
        except pc.AesPaddingError:
            break
        bad = bad[:-2] + bytes([bad[-2] ^ 0x55]) + bad[-1:]

    # fresh crypt, first stream bad -> document-level typed error
    c = pt._Crypt(key, aes=True)
    with pytest.raises(pt.PdfEncryptedError):
        c.decrypt(7, bad)

    # after one clean decrypt, the same bad stream degrades per-stream
    c2 = pt._Crypt(key, aes=True)
    assert c2.decrypt(7, good) == b"hello stream"
    body = b"7 0 obj <</Length 99>> stream\n" + bad + b"\nendstream endobj"
    assert pt._load_stream(body, 7, c2) == b""
    # and the crypt object still works for subsequent good streams
    assert c2.decrypt(7, good) == b"hello stream"


def test_pad_failure_later_stream_keeps_document(tmp_path):
    """Integration: corrupt the LAST encrypted stream of an AES doc; the
    document must still extract (error is None or a non-encryption error),
    never pdf_encrypted — unless the corrupted stream happened to be the
    first one decrypted, which the planted corpus layout avoids."""
    import random
    import re as _re

    from docvision_spark.corpus import make_pdf
    from docvision_spark.kernel.extract import extract

    enc = make_pdf("https://e.com/pad", random.Random(5), "en",
                   force_layout15=False, force_type0=False,
                   force_encrypt="aes")
    spans = []
    for m in _re.finditer(rb"stream\r?\n(.*?)endstream", enc, _re.S):
        s0, e0 = m.span(1)
        while e0 > s0 and enc[e0 - 1] in (0x0A, 0x0D):  # trailing EOL
            e0 -= 1
        if (e0 - s0) % 16 == 0 and e0 - s0 >= 32:  # iv + >=1 block: AES
            spans.append((s0, e0))
    assert len(spans) >= 2
    s, e = spans[-1]
    corrupted = bytearray(enc)
    corrupted[e - 1] ^= 0xFF
    corrupted[e - 2] ^= 0x55  # kill both valid-pad escapes
    r = extract("https://e.com/pad", bytes(corrupted))
    assert r.error != "pdf_encrypted", r.error
