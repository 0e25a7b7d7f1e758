"""PDF standard security handler — RC4 + AES-128/256 from the spec.

Encrypted PDFs are routine in scanned-archive corpora (the reference's
NCSE domain ingests arbitrary PDFs via pdf2image, which delegates
decryption to poppler — reference ``send_to_lm_functions.py``; this
engine has no poppler, so the handler is implemented from the public
ISO 32000-1 spec, §7.6).  Everything here is deterministic pure
computation over bytes; no randomness (IVs are derived by the caller).

Scope — the Standard security handler with an EMPTY USER PASSWORD (the
overwhelmingly common "encrypted but world-readable" case):

- ``/V 1`` RC4 40-bit, ``/V 2`` RC4 ``/Length``-bit (Algorithms 2-6)
- ``/V 4`` crypt filters ``/V2`` (RC4) and ``/AESV2`` (AES-128-CBC,
  16-byte IV prefix, PKCS#7 padding)
- ``/V 5 /R 6`` ``/AESV3`` (AES-256-CBC, no per-object key; the
  Algorithm-2.B iterated hash)

Anything else (non-Standard filters, real passwords, ``/R 5`` interim
Adobe extension) raises ``ValueError`` / ``NotImplementedError`` loudly
per the codec-family contract.

AES is implemented from FIPS-197 (S-box, key expansion, inverse
cipher); RC4 from its public description.  Both are known-answer
tested (FIPS-197 appendix vectors, the classic RC4 "Key"/"Plaintext"
vector) in ``tests/test_pdf.py``.
"""

from __future__ import annotations

import hashlib
import struct

# §7.6.3.3 — the 32-byte padding string
PAD = bytes(
    [
        0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
        0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
        0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
        0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
    ]
)


# ------------------------------------------------------------------- RC4
def rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: encrypt == decrypt)."""
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# ------------------------------------------------------- AES (FIPS-197)
def _aes_sbox() -> tuple[bytes, bytes]:
    # build the S-box from the field inverse + affine map (FIPS-197 §5.1.1)
    p, q, inv = 1, 1, [0] * 256
    # generate multiplicative inverses via the 3/0xf6 generator trick
    for _ in range(255):
        p = p ^ ((p << 1) & 0xFF) ^ (0x1B if p & 0x80 else 0)
        q ^= q << 1
        q ^= q << 2
        q ^= q << 4
        q &= 0xFF
        if q & 0x80:
            q ^= 0x09
        inv[p] = q
    sbox = bytearray(256)
    for x in range(256):
        c = inv[x] if x else 0
        s = c
        for _ in range(4):
            c = ((c << 1) | (c >> 7)) & 0xFF
            s ^= c
        sbox[x] = s ^ 0x63
    isbox = bytearray(256)
    for x, v in enumerate(sbox):
        isbox[v] = x
    return bytes(sbox), bytes(isbox)


_SBOX, _ISBOX = _aes_sbox()


def _xtime(a: int) -> int:
    return ((a << 1) ^ 0x1B) & 0xFF if a & 0x80 else a << 1


def _gmul(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a = _xtime(a)
        b >>= 1
    return r


# multiplication tables for MixColumns / InvMixColumns
_MUL = {n: bytes(_gmul(x, n) for x in range(256)) for n in (2, 3, 9, 11, 13, 14)}


def _expand_key(key: bytes) -> list[bytes]:
    nk = len(key) // 4
    nr = nk + 6
    w = [key[4 * i : 4 * i + 4] for i in range(nk)]
    rcon = 1
    for i in range(nk, 4 * (nr + 1)):
        t = w[i - 1]
        if i % nk == 0:
            t = bytes(
                (_SBOX[t[1]] ^ rcon, _SBOX[t[2]], _SBOX[t[3]], _SBOX[t[0]])
            )
            rcon = _xtime(rcon)
        elif nk > 6 and i % nk == 4:
            t = bytes(_SBOX[b] for b in t)
        w.append(bytes(a ^ b for a, b in zip(w[i - nk], t)))
    return [b"".join(w[4 * r : 4 * r + 4]) for r in range(nr + 1)]


# T-tables: the classic fused SubBytes+ShiftRows+MixColumns formulation
# (one 32-bit lookup per state byte per round) — the standard software
# speedup, derived entirely from the FIPS-197 tables above.
def _make_ttables() -> list[list[int]]:
    t0 = []
    for x in range(256):
        s = _SBOX[x]
        t0.append(
            (_MUL[2][s] << 24) | (s << 16) | (s << 8) | _MUL[3][s]
        )
    # tN is t0 rotated right by 8*N bits
    tabs = [t0]
    for n in range(1, 4):
        prev = tabs[-1]
        tabs.append([((w >> 8) | ((w & 0xFF) << 24)) for w in prev])
    return tabs


_T0, _T1, _T2, _T3 = _make_ttables()


def _words(b: bytes) -> tuple[int, int, int, int]:
    return (
        int.from_bytes(b[0:4], "big"),
        int.from_bytes(b[4:8], "big"),
        int.from_bytes(b[8:12], "big"),
        int.from_bytes(b[12:16], "big"),
    )


def _encrypt_words(
    rkw: list[tuple[int, int, int, int]], s0: int, s1: int, s2: int, s3: int
) -> tuple[int, int, int, int]:
    k = rkw[0]
    s0 ^= k[0]
    s1 ^= k[1]
    s2 ^= k[2]
    s3 ^= k[3]
    nr = len(rkw) - 1
    t0, t1, t2, t3 = _T0, _T1, _T2, _T3
    for rnd in range(1, nr):
        k0, k1, k2, k3 = rkw[rnd]
        u0 = t0[s0 >> 24] ^ t1[(s1 >> 16) & 0xFF] ^ t2[(s2 >> 8) & 0xFF] ^ t3[s3 & 0xFF] ^ k0
        u1 = t0[s1 >> 24] ^ t1[(s2 >> 16) & 0xFF] ^ t2[(s3 >> 8) & 0xFF] ^ t3[s0 & 0xFF] ^ k1
        u2 = t0[s2 >> 24] ^ t1[(s3 >> 16) & 0xFF] ^ t2[(s0 >> 8) & 0xFF] ^ t3[s1 & 0xFF] ^ k2
        u3 = t0[s3 >> 24] ^ t1[(s0 >> 16) & 0xFF] ^ t2[(s1 >> 8) & 0xFF] ^ t3[s2 & 0xFF] ^ k3
        s0, s1, s2, s3 = u0, u1, u2, u3
    # final round: SubBytes + ShiftRows + AddRoundKey, no MixColumns
    sb = _SBOX
    k0, k1, k2, k3 = rkw[nr]
    o0 = ((sb[s0 >> 24] << 24) | (sb[(s1 >> 16) & 0xFF] << 16) | (sb[(s2 >> 8) & 0xFF] << 8) | sb[s3 & 0xFF]) ^ k0
    o1 = ((sb[s1 >> 24] << 24) | (sb[(s2 >> 16) & 0xFF] << 16) | (sb[(s3 >> 8) & 0xFF] << 8) | sb[s0 & 0xFF]) ^ k1
    o2 = ((sb[s2 >> 24] << 24) | (sb[(s3 >> 16) & 0xFF] << 16) | (sb[(s0 >> 8) & 0xFF] << 8) | sb[s1 & 0xFF]) ^ k2
    o3 = ((sb[s3 >> 24] << 24) | (sb[(s0 >> 16) & 0xFF] << 16) | (sb[(s1 >> 8) & 0xFF] << 8) | sb[s2 & 0xFF]) ^ k3
    return o0, o1, o2, o3


def _encrypt_block(rk: list[bytes], block: bytes) -> bytes:
    rkw = [_words(k) for k in rk]
    out = _encrypt_words(rkw, *_words(block))
    return b"".join(w.to_bytes(4, "big") for w in out)


def aes_ecb_encrypt_block(key: bytes, block: bytes) -> bytes:
    """Single-block AES-ECB (the /Perms entry of V5 dictionaries)."""
    if len(block) != 16:
        raise ValueError("ECB block must be 16 bytes")
    return _encrypt_block(_expand_key(key), block)


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes, pad: bool = True) -> bytes:
    """AES-CBC; ``pad=True`` applies PKCS#7 (PDF uses it for both
    strings and streams).  Returns ciphertext WITHOUT the IV prefix."""
    if pad:
        n = 16 - len(data) % 16
        data = data + bytes([n]) * n
    elif len(data) % 16:
        raise ValueError("unpadded CBC input must be a block multiple")
    rkw = [_words(k) for k in _expand_key(key)]
    out = bytearray(len(data))
    p0, p1, p2, p3 = _words(iv)
    enc = _encrypt_words
    for i in range(0, len(data), 16):
        b0, b1, b2, b3 = _words(data[i : i + 16])
        p0, p1, p2, p3 = enc(rkw, b0 ^ p0, b1 ^ p1, b2 ^ p2, b3 ^ p3)
        out[i : i + 16] = (
            (p0 << 96) | (p1 << 64) | (p2 << 32) | p3
        ).to_bytes(16, "big")
    return bytes(out)


# vectorized inverse cipher: CBC decryption is the corpus-scale hot
# path (reading encrypted archives) and parallelizes perfectly — all
# blocks run the inverse cipher at once (numpy lookups over an (N, 16)
# state), then XOR against the ciphertext shifted by one block.
# column-major flat state: InvShiftRows index (i - 4*(i%4)) mod 16
_INV_SHIFT = bytes((i - 4 * (i % 4)) & 15 for i in range(16))


def _inv_cipher_blocks(rk: list[bytes], blocks: "np.ndarray") -> "np.ndarray":
    import numpy as np

    isbox = np.frombuffer(_ISBOX, dtype=np.uint8)
    shift = np.frombuffer(_INV_SHIFT, dtype=np.uint8)
    m9, m11, m13, m14 = (
        np.frombuffer(_MUL[n], dtype=np.uint8) for n in (9, 11, 13, 14)
    )
    keys = [np.frombuffer(k, dtype=np.uint8) for k in rk]
    nr = len(rk) - 1
    s = blocks ^ keys[nr]
    for rnd in range(nr - 1, -1, -1):
        s = isbox[s[:, shift]]  # InvShiftRows + InvSubBytes
        s ^= keys[rnd]
        if rnd > 0:  # InvMixColumns on each column of every block
            c = s.reshape(-1, 4, 4)  # (N, col, row)
            a0, a1, a2, a3 = c[:, :, 0], c[:, :, 1], c[:, :, 2], c[:, :, 3]
            s = np.stack(
                [
                    m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3],
                    m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3],
                    m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3],
                    m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3],
                ],
                axis=2,
            ).reshape(-1, 16)
    return s


def aes_cbc_decrypt(key: bytes, iv: bytes, data: bytes, pad: bool = True) -> bytes:
    if len(data) % 16:
        raise ValueError(f"CBC ciphertext length {len(data)} not a block multiple")
    import numpy as np

    ct = np.frombuffer(data, dtype=np.uint8).reshape(-1, 16)
    plain = _inv_cipher_blocks(_expand_key(key), ct)
    # XOR with the previous ciphertext block (IV for the first)
    plain[1:] ^= ct[:-1]
    plain[0] ^= np.frombuffer(iv, dtype=np.uint8)
    out = bytearray(plain.tobytes())
    if pad:
        if not out:
            raise ValueError("empty CBC plaintext cannot carry padding")
        n = out[-1]
        if not 1 <= n <= 16 or out[-n:] != bytes([n]) * n:
            raise ValueError("bad CBC padding (wrong key or corrupt data)")
        del out[-n:]
    return bytes(out)


# ----------------------------------------- legacy (R2-4) key algorithms
def compute_key(
    password: bytes,
    o_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    nbytes: int,
    encrypt_metadata: bool = True,
) -> bytes:
    """Algorithm 2: the file encryption key from the user password."""
    h = hashlib.md5((password + PAD)[:32])
    h.update(o_entry[:32])
    h.update(struct.pack("<i", p if p < 2**31 else p - 2**32))
    h.update(id0)
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:nbytes]).digest()
    return key[:nbytes]


def compute_o(owner_pw: bytes, user_pw: bytes, r: int, nbytes: int) -> bytes:
    """Algorithm 3: the /O entry (empty owner password falls back to
    the user password per spec)."""
    base = owner_pw if owner_pw else user_pw
    h = hashlib.md5((base + PAD)[:32]).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    rc4key = h[:nbytes]
    val = rc4(rc4key, (user_pw + PAD)[:32])
    if r >= 3:
        for i in range(1, 20):
            val = rc4(bytes(b ^ i for b in rc4key), val)
    return val


def compute_u(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithms 4 (R2) / 5 (R>=3): the /U entry."""
    if r == 2:
        return rc4(key, PAD)
    val = hashlib.md5(PAD + id0).digest()
    val = rc4(key, val)
    for i in range(1, 20):
        val = rc4(bytes(b ^ i for b in key), val)
    return val + b"\x00" * 16  # 16 bytes of arbitrary padding


def verify_user_password(
    password: bytes,
    o_entry: bytes,
    u_entry: bytes,
    p: int,
    id0: bytes,
    r: int,
    nbytes: int,
    encrypt_metadata: bool = True,
) -> bytes | None:
    """Algorithm 6: returns the file key if ``password`` opens the
    document, else None (R>=3 compares only the first 16 bytes)."""
    key = compute_key(password, o_entry, p, id0, r, nbytes, encrypt_metadata)
    expect = compute_u(key, id0, r)
    ok = expect == u_entry[:32] if r == 2 else expect[:16] == u_entry[:16]
    return key if ok else None


def object_key(file_key: bytes, num: int, gen: int, aes: bool) -> bytes:
    """Algorithm 1 step b: the per-object key (R<=4 only; V5 uses the
    file key directly)."""
    h = hashlib.md5(
        file_key
        + struct.pack("<I", num)[:3]
        + struct.pack("<I", gen)[:2]
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[: min(len(file_key) + 5, 16)]


# ------------------------------------------------- V5 / R6 (AES-256)
def hash_2b(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """Algorithm 2.B (ISO 32000-2 / Adobe ExtensionLevel 8): the
    iterated SHA-256/384/512 + AES-128-CBC hash used by /R 6."""
    k = hashlib.sha256(password + salt + udata).digest()
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1, pad=False)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def compute_r6_entries(
    password: bytes, file_key: bytes, validation_salt: bytes, key_salt: bytes
) -> tuple[bytes, bytes]:
    """R6 /U and /UE from a chosen file key and salts (writer side)."""
    u = hash_2b(password, validation_salt) + validation_salt + key_salt
    ikey = hash_2b(password, key_salt)
    ue = aes_cbc_encrypt(ikey, b"\x00" * 16, file_key, pad=False)
    return u, ue


def verify_r6_user_password(
    password: bytes, u_entry: bytes, ue_entry: bytes
) -> bytes | None:
    """R6 Algorithm 11 + key unwrap: returns the 32-byte file key if
    ``password`` validates against /U, else None."""
    if len(u_entry) < 48:
        raise ValueError(f"/U entry too short for R6: {len(u_entry)} bytes")
    vsalt, ksalt = u_entry[32:40], u_entry[40:48]
    if hash_2b(password, vsalt) != u_entry[:32]:
        return None
    ikey = hash_2b(password, ksalt)
    return aes_cbc_decrypt(ikey, b"\x00" * 16, ue_entry[:32], pad=False)


# ------------------------------------------------------------ handler
class StandardSecurityHandler:
    """Per-object encrypt/decrypt once the file key is established.

    ``method`` is one of ``rc4`` (V1/V2, and V4 /V2 crypt filter),
    ``aes128`` (V4 /AESV2), ``aes256`` (V5 /AESV3)."""

    def __init__(self, file_key: bytes, method: str):
        if method not in ("rc4", "aes128", "aes256"):
            raise ValueError(f"unknown crypt method {method!r}")
        self.file_key = file_key
        self.method = method

    def _key_for(self, num: int, gen: int) -> bytes:
        if self.method == "aes256":
            return self.file_key
        return object_key(self.file_key, num, gen, self.method == "aes128")

    def decrypt(self, data: bytes, num: int, gen: int = 0) -> bytes:
        key = self._key_for(num, gen)
        if self.method == "rc4":
            return rc4(key, data)
        if len(data) < 16:
            raise ValueError("AES stream shorter than its IV")
        return aes_cbc_decrypt(key, data[:16], data[16:])

    def encrypt(
        self, data: bytes, num: int, gen: int = 0, iv: bytes | None = None
    ) -> bytes:
        key = self._key_for(num, gen)
        if self.method == "rc4":
            return rc4(key, data)
        if iv is None:
            # deterministic IV: unique per (object, plaintext); CBC needs
            # unpredictability against adaptive attackers, which a
            # fixture writer does not face — documented trade-off
            iv = hashlib.md5(struct.pack("<I", num) + data).digest()
        return iv + aes_cbc_encrypt(key, iv, data)
