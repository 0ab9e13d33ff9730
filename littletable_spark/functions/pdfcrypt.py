"""PDF standard security handler (ISO 32000-1 §7.6), pure stdlib+numpy.

Most "encrypted" PDFs on the web are owner-password-only: the USER
password is empty, so any reader can open them — the encryption only
gates editing. Refusing them silently shrinks a text corpus. This
module implements the standard handler for exactly that case:

- Key derivation, Algorithm 2 (§7.6.3.3): MD5 over the padded (empty)
  user password, /O, /P, the first document /ID — with the 50-round
  strengthening for revision ≥ 3.
- /U verification, Algorithms 4/5: wrong-password files still raise
  (→ the upstream ``on_error`` policy), they never emit mojibake.
- Per-object keys, Algorithm 1 (object + generation salt, plus the
  ``sAlT`` suffix for AES).
- Ciphers: RC4 (40..128 bit, /V 1-2, and /V 4 ``/CFM /V2``) and
  AES-128-CBC (``/CFM /AESV2``, leading 16-byte IV, PKCS#7 padding).
- AES-256 (round 13, ``/CFM /AESV3``, V5 R5/R6 — ISO 32000-2 §7.6.4):
  the Algorithm-2.B hardened hash (SHA-256/384/512 chain keyed by
  AES-128-CBC, ≥64 data-dependently-terminated rounds) validates the
  48-byte /U for the empty user password, and the 256-bit file key
  unwraps from /UE (AES-256-CBC, zero IV, no padding); V5 objects use
  the file key directly, no per-object derivation.

The AES core derives its S-box and GF(2⁸) multiplication tables at
import time from the public construction (multiplicative inverse +
affine map) instead of embedding digit tables. The decrypt transform
is numpy-vectorized across all blocks of a stream — CBC DECRYPTION
parallelizes (every block's AES step is independent; the chaining XOR
is a plain shifted-array XOR afterwards), so large streams decrypt at
table-lookup speed rather than per-byte Python. CBC encryption is a
sequential chain, so it runs scalar T-table rounds per block over one
key schedule; it serves Algorithm 2.B and the test-side fixture
writers (tests/test_pdfcodec.py) — the differential that pins this
module.

Files with a real (non-empty) user password keep raising to
``on_error`` in every revision — /U validation fails by construction.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np

__all__ = [
    "PDFCryptor",
    "aes128_cbc_decrypt",
    "aes128_cbc_encrypt",
    "hash_2b",
    "rc4",
]

#: §7.6.3.3 padding string
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


def rc4(key: bytes, data: bytes) -> bytes:
    S = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % klen]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[k] = b ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


# ------------------------------------------------------------------ #
# AES-128 (FIPS 197), tables generated from the public construction


def _gf_tables():
    exp = [0] * 512
    log = [0] * 256
    x = 1
    for i in range(255):
        exp[i] = x
        log[x] = i
        x ^= (x << 1) ^ (0x11B if x & 0x80 else 0)
    for i in range(255, 512):
        exp[i] = exp[i - 255]

    def mul(a, b):
        if a == 0 or b == 0:
            return 0
        return exp[log[a] + log[b]]

    def inv(a):
        return 0 if a == 0 else exp[255 - log[a]]

    sbox = [0] * 256
    for i in range(256):
        b = inv(i)
        s = 0
        for k in range(8):
            bit = (
                (b >> k) ^ (b >> ((k + 4) % 8)) ^ (b >> ((k + 5) % 8))
                ^ (b >> ((k + 6) % 8)) ^ (b >> ((k + 7) % 8))
            ) & 1
            s |= bit << k
        sbox[i] = s ^ 0x63
    inv_sbox = [0] * 256
    for i, s in enumerate(sbox):
        inv_sbox[s] = i
    mul_t = {
        c: np.array([mul(c, i) for i in range(256)], dtype=np.uint8)
        for c in (2, 3, 9, 11, 13, 14)
    }
    return (
        np.array(sbox, dtype=np.uint8),
        np.array(inv_sbox, dtype=np.uint8),
        mul_t,
    )


_SBOX, _INV_SBOX, _MUL = _gf_tables()
_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36)

#: InvShiftRows index permutation over the 16-byte block in
#: COLUMN-major (FIPS state) order: byte i = row i%4, col i//4
_INV_SHIFT = np.array(
    [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3], dtype=np.int64
)


def _expand_key(key: bytes):
    """FIPS-197 key schedule for AES-128/192/256 (Nk = 4/6/8,
    Nr = Nk + 6); returns Nr+1 round keys of 16 bytes."""
    nk = len(key) // 4
    assert len(key) in (16, 24, 32)
    nr = nk + 6
    words = [list(key[i : i + 4]) for i in range(0, len(key), 4)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(words[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [int(_SBOX[b]) for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [int(_SBOX[b]) for b in t]  # AES-256 extra SubWord
        words.append([a ^ b for a, b in zip(words[i - nk], t)])
    rks = []
    for r in range(nr + 1):
        rk = bytes(b for w in words[4 * r : 4 * r + 4] for b in w)
        rks.append(np.frombuffer(rk, dtype=np.uint8))
    return rks


def _inv_mix_columns(s: np.ndarray) -> np.ndarray:
    b = s.reshape(-1, 4, 4)
    a0, a1, a2, a3 = b[:, :, 0], b[:, :, 1], b[:, :, 2], b[:, :, 3]
    m9, m11, m13, m14 = _MUL[9], _MUL[11], _MUL[13], _MUL[14]
    out = np.empty_like(b)
    out[:, :, 0] = m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3]
    out[:, :, 1] = m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3]
    out[:, :, 2] = m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3]
    out[:, :, 3] = m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3]
    return out.reshape(-1, 16)


def _ecb_decrypt_blocks(key: bytes, blocks: np.ndarray) -> np.ndarray:
    rks = _expand_key(key)
    nr = len(rks) - 1
    s = blocks ^ rks[nr]
    for r in range(nr - 1, 0, -1):
        s = s[:, _INV_SHIFT]
        s = _INV_SBOX[s]
        s = s ^ rks[r]
        s = _inv_mix_columns(s)
    s = s[:, _INV_SHIFT]
    s = _INV_SBOX[s]
    return s ^ rks[0]


def aes128_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """§7.6.2: ``data`` = 16-byte IV + ciphertext; strips PKCS#7.
    (Name kept from round 12; the core now also takes 24/32-byte keys,
    so the AESV3 path reuses it verbatim.)"""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("bad AES-CBC payload length")
    arr = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    plain = _ecb_decrypt_blocks(key, arr[1:])
    plain ^= arr[:-1]  # CBC chain: previous ciphertext block (IV first)
    out = plain.tobytes()
    padlen = out[-1]
    if not 1 <= padlen <= 16:
        raise ValueError("bad AES-CBC padding")
    return out[:-padlen]


def aes128_cbc_encrypt(key: bytes, iv: bytes, plain: bytes) -> bytes:
    """Fixture-writer direction (PKCS#7 pad, prepend IV)."""
    padlen = 16 - len(plain) % 16
    plain += bytes([padlen]) * padlen
    return iv + _cbc_encrypt_nopad(key, iv, plain)


def _encrypt_tables():
    """Encrypt-round T-tables over the S-box: ``te[r][x]`` is the
    MixColumns column (big-endian word) that S-box output ``S[x]``
    contributes from state row ``r``, so one round is 16 lookups and
    XORs per block."""
    m2, m3 = _MUL[2], _MUL[3]
    te0 = [(int(m2[v]) << 24) | (int(v) << 16) | (int(v) << 8) | int(m3[v])
           for v in _SBOX]
    tes = [te0]
    for _ in range(3):
        tes.append([((w >> 8) | (w << 24)) & 0xFFFFFFFF for w in tes[-1]])
    return tes, [int(v) for v in _SBOX]


_TE, _SBOX_LIST = _encrypt_tables()


def _cbc_encrypt_nopad(key: bytes, iv: bytes, plain: bytes) -> bytes:
    """Raw CBC encrypt, no padding, IV not prepended — Algorithm 2.B's
    inner step and the /UE-wrap fixture direction. CBC encryption is a
    sequential chain (each block's input is the previous ciphertext),
    so it runs scalar rounds per block over one key schedule instead
    of a vectorized transform of one block at a time."""
    assert len(plain) % 16 == 0
    rk = [
        int.from_bytes(r[i : i + 4].tobytes(), "big")
        for r in _expand_key(key)
        for i in (0, 4, 8, 12)
    ]
    nr = len(rk) // 4 - 1
    te0, te1, te2, te3 = _TE
    sb = _SBOX_LIST
    words = struct.unpack(f">{len(plain) // 4}I", plain)
    c0, c1, c2, c3 = struct.unpack(">4I", iv)
    out = []
    for b in range(0, len(words), 4):
        s0 = words[b] ^ c0 ^ rk[0]
        s1 = words[b + 1] ^ c1 ^ rk[1]
        s2 = words[b + 2] ^ c2 ^ rk[2]
        s3 = words[b + 3] ^ c3 ^ rk[3]
        for k in range(4, 4 * nr, 4):
            # SubBytes + ShiftRows + MixColumns + AddRoundKey: output
            # column c takes row r from input column (c + r) % 4
            s0, s1, s2, s3 = (
                te0[s0 >> 24] ^ te1[(s1 >> 16) & 255]
                ^ te2[(s2 >> 8) & 255] ^ te3[s3 & 255] ^ rk[k],
                te0[s1 >> 24] ^ te1[(s2 >> 16) & 255]
                ^ te2[(s3 >> 8) & 255] ^ te3[s0 & 255] ^ rk[k + 1],
                te0[s2 >> 24] ^ te1[(s3 >> 16) & 255]
                ^ te2[(s0 >> 8) & 255] ^ te3[s1 & 255] ^ rk[k + 2],
                te0[s3 >> 24] ^ te1[(s0 >> 16) & 255]
                ^ te2[(s1 >> 8) & 255] ^ te3[s2 & 255] ^ rk[k + 3],
            )
        k = 4 * nr  # final round: no MixColumns
        c0, c1, c2, c3 = (
            (sb[s0 >> 24] << 24 | sb[(s1 >> 16) & 255] << 16
             | sb[(s2 >> 8) & 255] << 8 | sb[s3 & 255]) ^ rk[k],
            (sb[s1 >> 24] << 24 | sb[(s2 >> 16) & 255] << 16
             | sb[(s3 >> 8) & 255] << 8 | sb[s0 & 255]) ^ rk[k + 1],
            (sb[s2 >> 24] << 24 | sb[(s3 >> 16) & 255] << 16
             | sb[(s0 >> 8) & 255] << 8 | sb[s1 & 255]) ^ rk[k + 2],
            (sb[s3 >> 24] << 24 | sb[(s0 >> 16) & 255] << 16
             | sb[(s1 >> 8) & 255] << 8 | sb[s2 & 255]) ^ rk[k + 3],
        )
        out += (c0, c1, c2, c3)
    return struct.pack(f">{len(out)}I", *out)


def _cbc_decrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Raw CBC decrypt, no padding — the /UE file-key unwrap
    (ISO 32000-2 §7.6.4.4.8: AES-256, zero IV, no padding)."""
    assert len(data) % 16 == 0 and data
    arr = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    plain = _ecb_decrypt_blocks(key, arr)
    prev = np.vstack([np.frombuffer(iv, dtype=np.uint8), arr[:-1]])
    return (plain ^ prev).tobytes()


def hash_2b(pwd: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B — the revision-6 hardened
    hash: an SHA-256/384/512 chain keyed by an AES-128-CBC encryption
    of the repeated input, at least 64 rounds, data-dependent stop."""
    k = hashlib.sha256(pwd + salt + udata).digest()
    i = 0
    while True:
        k1 = (pwd + k + udata) * 64
        e = _cbc_encrypt_nopad(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


# ------------------------------------------------------------------ #
# standard security handler


class PDFCryptor:
    """Decryptor for one document: derives the file key from the
    /Encrypt dictionary fields (empty user password), verifies /U,
    and hands out per-object ``decrypt(objnum, gen, data)``.

    Revisions 5 (deprecated Adobe extension) and 6 (ISO 32000-2,
    /AESV3) take the V5 path: the 48-byte /U carries the password
    hash + validation and key salts, the empty-user-password hash is
    Algorithm 2.B (R6) or a single SHA-256 (R5), and the 256-bit file
    key unwraps from /UE via AES-256-CBC (zero IV, no padding). V5
    objects encrypt with the FILE key directly — no per-object
    derivation. (/Perms consistency is not re-verified: /P gates
    editing permissions, not text extraction.)"""

    def __init__(
        self,
        *,
        v: int,
        r: int,
        length_bits: int,
        o_entry: bytes,
        u_entry: bytes,
        p: int,
        id0: bytes,
        aes: bool,
        encrypt_metadata: bool = True,
        ue_entry: bytes | None = None,
    ):
        self.v5 = r in (5, 6)
        if self.v5:
            if len(u_entry) < 48:
                raise ValueError("PDF R5/R6 /U entry shorter than 48 bytes")
            vsalt = u_entry[32:40]
            ksalt = u_entry[40:48]
            if r == 6:
                expect = hash_2b(b"", vsalt)
            else:
                expect = hashlib.sha256(vsalt).digest()
            if expect != u_entry[:32]:
                raise ValueError("encrypted PDF: user password required")
            if ue_entry is None or len(ue_entry) < 32:
                raise ValueError("PDF R5/R6 missing /UE key material")
            ik = hash_2b(b"", ksalt) if r == 6 else hashlib.sha256(
                ksalt
            ).digest()
            self.key = _cbc_decrypt_nopad(ik, b"\x00" * 16, ue_entry[:32])
            self.aes = True
            return
        if v not in (1, 2, 4) or r not in (2, 3, 4):
            raise ValueError(f"unsupported PDF encryption V={v} R={r}")
        self.aes = aes
        keylen = 5 if r == 2 else length_bits // 8
        if not 5 <= keylen <= 16:
            raise ValueError(f"bad PDF key length {length_bits}")
        # Algorithm 2: file encryption key from the (empty) user pw
        h = hashlib.md5()
        h.update(PAD)
        h.update(o_entry[:32])
        h.update(struct.pack("<i", p))
        h.update(id0)
        if r >= 4 and not encrypt_metadata:
            h.update(b"\xff\xff\xff\xff")
        digest = h.digest()
        if r >= 3:
            for _ in range(50):
                digest = hashlib.md5(digest[:keylen]).digest()
        self.key = digest[:keylen]
        # Algorithms 4/5: verify /U — reject non-empty user passwords
        if r == 2:
            expect = rc4(self.key, PAD)
            ok = expect == u_entry[:32]
        else:
            d = hashlib.md5(PAD + id0).digest()
            d = rc4(self.key, d)
            for i in range(1, 20):
                step_key = bytes(b ^ i for b in self.key)
                d = rc4(step_key, d)
            ok = d[:16] == u_entry[:16]
        if not ok:
            raise ValueError("encrypted PDF: user password required")

    def object_key(self, num: int, gen: int) -> bytes:
        if self.v5:
            return self.key  # V5: the file key encrypts every object
        h = hashlib.md5()
        h.update(self.key)
        h.update(struct.pack("<I", num)[:3])
        h.update(struct.pack("<I", gen)[:2])
        if self.aes:
            h.update(b"sAlT")
        return h.digest()[: min(len(self.key) + 5, 16)]

    def decrypt(self, num: int, gen: int, data: bytes) -> bytes:
        k = self.object_key(num, gen)
        if self.aes:
            return aes128_cbc_decrypt(k, data)
        return rc4(k, data)

    def encrypt(self, num: int, gen: int, data: bytes, iv: bytes = b"\x00" * 16) -> bytes:
        """Fixture-writer direction."""
        k = self.object_key(num, gen)
        if self.aes:
            return aes128_cbc_encrypt(k, iv, data)
        return rc4(k, data)
