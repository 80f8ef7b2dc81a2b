"""Minimal AES (FIPS-197) for PDF AESV2 stream decryption — stdlib +
table generation from first principles, no crypto library (the cipher
is public math).

Scope: AES-128/192/256 block encrypt/decrypt + CBC with the PKCS#7
padding PDF's AESV2 crypt filter uses (spec §7.6.2: per-object stream
data = 16-byte IV ‖ ciphertext). The S-box is GENERATED (GF(2^8)
inverse through exp/log tables + the affine transform) rather than
typed in, and the implementation is pinned to the FIPS-197 Appendix C
known-answer vector in tests — an INDEPENDENT check, not a
self-roundtrip.

This is a fixture/connector-scale implementation (pure Python, ~1 MB/s);
for bulk encrypted corpora, swap in a real crypto provider behind the
same function signatures.
"""

from __future__ import annotations


def _xtime(a: int) -> int:
    a <<= 1
    return (a ^ 0x11B) & 0xFF if a & 0x100 else a


# GF(2^8) exp/log over generator 3, then the S-box via inverse + affine
_EXP = [0] * 256
_LOG = [0] * 256
_x = 1
for _i in range(255):
    _EXP[_i] = _x
    _LOG[_x] = _i
    _x ^= _xtime(_x)  # multiply by 3 = x * (1 + 2)


def _ginv(a: int) -> int:
    # exponent arithmetic is mod 255 (the multiplicative group order);
    # without the mod, inv(1) would index the unset _EXP[255]
    return 0 if a == 0 else _EXP[(255 - _LOG[a]) % 255]


def _rotl8(a: int, n: int) -> int:
    return ((a << n) | (a >> (8 - n))) & 0xFF


SBOX = [0] * 256
for _a in range(256):
    _s = _ginv(_a)
    SBOX[_a] = _s ^ _rotl8(_s, 1) ^ _rotl8(_s, 2) ^ _rotl8(_s, 3) ^ _rotl8(_s, 4) ^ 0x63
INV_SBOX = [0] * 256
for _a, _s in enumerate(SBOX):
    INV_SBOX[_s] = _a

_RCON = [0x01]
for _i in range(13):
    _RCON.append(_xtime(_RCON[-1]))


def _gmul(a: int, b: int) -> int:
    if a == 0 or b == 0:
        return 0
    return _EXP[(_LOG[a] + _LOG[b]) % 255]


def _expand_key(key: bytes) -> list[list[int]]:
    """Round keys as flat 16-byte state lists (FIPS-197 §5.2)."""
    nk = len(key) // 4
    if nk not in (4, 6, 8):
        raise ValueError(f"AES key must be 16/24/32 bytes, got {len(key)}")
    nr = nk + 6
    words = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = list(words[i - 1])
        if i % nk == 0:
            t = t[1:] + t[:1]
            t = [SBOX[b] for b in t]
            t[0] ^= _RCON[i // nk - 1]
        elif nk > 6 and i % nk == 4:
            t = [SBOX[b] for b in t]
        words.append([a ^ b for a, b in zip(words[i - nk], t)])
    return [sum(words[4 * r : 4 * r + 4], []) for r in range(nr + 1)]


def _mix_columns(st: list[int], inv: bool) -> list[int]:
    out = [0] * 16
    co = (0x0E, 0x0B, 0x0D, 0x09) if inv else (0x02, 0x03, 0x01, 0x01)
    for c in range(4):
        col = st[4 * c : 4 * c + 4]
        for r in range(4):
            out[4 * c + r] = (
                _gmul(co[0], col[r])
                ^ _gmul(co[1], col[(r + 1) % 4])
                ^ _gmul(co[2], col[(r + 2) % 4])
                ^ _gmul(co[3], col[(r + 3) % 4])
            )
    return out


_SHIFT = [0, 5, 10, 15, 4, 9, 14, 3, 8, 13, 2, 7, 12, 1, 6, 11]
_INV_SHIFT = [0, 13, 10, 7, 4, 1, 14, 11, 8, 5, 2, 15, 12, 9, 6, 3]


def aes_encrypt_block(key: bytes, block: bytes) -> bytes:
    rk = _expand_key(key)
    st = [b ^ k for b, k in zip(block, rk[0])]
    for rnd in range(1, len(rk) - 1):
        st = [SBOX[b] for b in st]
        st = [st[_SHIFT[i]] for i in range(16)]
        st = _mix_columns(st, inv=False)
        st = [b ^ k for b, k in zip(st, rk[rnd])]
    st = [SBOX[b] for b in st]
    st = [st[_SHIFT[i]] for i in range(16)]
    return bytes(b ^ k for b, k in zip(st, rk[-1]))


def aes_decrypt_block(key: bytes, block: bytes) -> bytes:
    rk = _expand_key(key)
    st = [b ^ k for b, k in zip(block, rk[-1])]
    for rnd in range(len(rk) - 2, 0, -1):
        st = [st[_INV_SHIFT[i]] for i in range(16)]
        st = [INV_SBOX[b] for b in st]
        st = [b ^ k for b, k in zip(st, rk[rnd])]
        st = _mix_columns(st, inv=True)
    st = [st[_INV_SHIFT[i]] for i in range(16)]
    st = [INV_SBOX[b] for b in st]
    return bytes(b ^ k for b, k in zip(st, rk[0]))


def aes_cbc_decrypt(key: bytes, data: bytes, strip_padding: bool = True) -> bytes:
    """CBC decrypt where ``data`` = IV ‖ ciphertext (the PDF AESV2
    stream layout); PKCS#7 padding stripped when well-formed."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("AES-CBC data must be IV + non-empty whole blocks")
    iv, ct = data[:16], data[16:]
    out = bytearray()
    prev = iv
    for i in range(0, len(ct), 16):
        blk = ct[i : i + 16]
        out.extend(b ^ p for b, p in zip(aes_decrypt_block(key, blk), prev))
        prev = blk
    if strip_padding and out:
        pad = out[-1]
        if 1 <= pad <= 16 and all(b == pad for b in out[-pad:]):
            del out[-pad:]
    return bytes(out)


def aes_cbc_encrypt(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """CBC encrypt with PKCS#7 padding; returns IV ‖ ciphertext (the
    PDF AESV2 layout). Exists for fixtures/round-trip tests."""
    pad = 16 - (len(plaintext) % 16)
    pt = plaintext + bytes([pad]) * pad
    out = bytearray(iv)
    prev = iv
    for i in range(0, len(pt), 16):
        blk = bytes(b ^ p for b, p in zip(pt[i : i + 16], prev))
        prev = aes_encrypt_block(key, blk)
        out.extend(prev)
    return bytes(out)


def aes_cbc_encrypt_raw(key: bytes, iv: bytes, plaintext: bytes) -> bytes:
    """CBC encrypt with NO padding and NO IV prefix (the plaintext must
    be whole blocks). Used by the ISO 32000-2 Algorithm 2.B hardened
    hash, whose inner AES-128-CBC step is unpadded by definition."""
    if len(plaintext) % 16:
        raise ValueError("raw CBC needs whole 16-byte blocks")
    out = bytearray()
    prev = iv
    for i in range(0, len(plaintext), 16):
        blk = bytes(b ^ p for b, p in zip(plaintext[i : i + 16], prev))
        prev = aes_encrypt_block(key, blk)
        out.extend(prev)
    return bytes(out)


def aes_cbc_decrypt_raw(key: bytes, iv: bytes, ciphertext: bytes) -> bytes:
    """CBC decrypt with an EXPLICIT IV and no padding strip — the
    /V 5 file-key unwrap (decrypting /UE with a zero IV) is unpadded."""
    if len(ciphertext) % 16 or not ciphertext:
        raise ValueError("raw CBC needs whole non-empty 16-byte blocks")
    out = bytearray()
    prev = iv
    for i in range(0, len(ciphertext), 16):
        blk = ciphertext[i : i + 16]
        out.extend(b ^ p for b, p in zip(aes_decrypt_block(key, blk), prev))
        prev = blk
    return bytes(out)


def pdf2_hardened_hash(password: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B — the /R 6 iterated hash.

    K starts as SHA-256(password ‖ salt ‖ udata); each round encrypts
    64 repetitions of (password ‖ K ‖ udata) with AES-128-CBC (key =
    K[0:16], IV = K[16:32], no padding), picks SHA-256/384/512 by
    (sum of the first 16 ciphertext bytes) mod 3, and stops once at
    least 64 rounds ran AND the last ciphertext byte ≤ round - 32.
    Returns the first 32 bytes of the final K. ``udata`` is the 48-byte
    /U string when hashing the OWNER password; empty for the user
    password (the only case the empty-user-password handler needs)."""
    import hashlib

    k = hashlib.sha256(password + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (password + k + udata) * 64
        e = aes_cbc_encrypt_raw(k[:16], k[16:32], k1)
        k = {
            0: hashlib.sha256,
            1: hashlib.sha384,
            2: hashlib.sha512,
        }[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]
