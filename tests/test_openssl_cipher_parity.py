"""r8: the engine and writer delegate their AES-CBC / RC4 BLOCK PRIMITIVES
to OpenSSL (`cryptography`) when the wheel is importable, keeping their
own pure-Python ciphers as the spec reference and bare-image fallback.
This pins the two paths bit-identical on both sides, across key sizes,
data lengths and random inputs — so the delegation can never change what
any query computes, and a cluster image without the wheel computes the
same bytes slower."""

from __future__ import annotations

import random

from pdf_extraction_ai_agent_spark.fixtures import minipdf
from pdf_extraction_ai_agent_spark.operators import pdftext


def _rand(rng: random.Random, n: int) -> bytes:
    return bytes(rng.getrandbits(8) for _ in range(n))


def test_wheel_present_and_probed():
    # the sandbox image carries the wheel; both probes must find it
    assert pdftext._openssl(), "engine OpenSSL probe failed"
    assert minipdf._w_openssl(), "writer OpenSSL probe failed"


def test_engine_aes_cbc_parity(no_openssl):
    rng = random.Random(4242)
    for ksz in (16, 24, 32):
        for blocks in (1, 2, 10, 65):
            key, iv = _rand(rng, ksz), _rand(rng, 16)
            data = _rand(rng, 16 * blocks)
            pure_e = pdftext._aes_cbc_encrypt_nopad(key, iv, data)
            pure_d = pdftext._aes_cbc_decrypt_nopad(key, iv, pure_e)
            aes_cbc, _ = _fresh_engine_probe()
            assert aes_cbc(key, iv, data, True) == pure_e
            assert aes_cbc(key, iv, pure_e, False) == pure_d == data


def test_writer_aes_cbc_parity(no_openssl):
    rng = random.Random(777)
    aes_cbc, _ = _fresh_writer_probe()
    for ksz in (16, 32):
        for blocks in (1, 3, 40):
            key, iv = _rand(rng, ksz), _rand(rng, 16)
            data = _rand(rng, 16 * blocks)
            assert aes_cbc(key, iv, data, True) == minipdf._aes_cbc_core(
                key, iv, data
            )


def test_rc4_parity(no_openssl):
    rng = random.Random(99)
    _, arc4_e = _fresh_engine_probe()
    _, arc4_w = _fresh_writer_probe()
    for klen in (5, 8, 16):
        for n in (0, 1, 17, 300):
            key, data = _rand(rng, klen), _rand(rng, n)
            pure_e = pdftext._rc4(key, data)
            pure_w = minipdf.rc4(key, data)
            assert pure_e == pure_w  # the two pure twins agree
            assert arc4_e(key, data) == pure_e
            assert arc4_w(key, data) == pure_w


def test_hash_2b_same_under_both_paths(monkeypatch):
    # Algorithm 2.B (the KDF the delegation accelerates) must produce the
    # same hash on the fast and pure paths, on BOTH sides
    pw, salt = b"parity-pw", b"saltsalt"
    # __wrapped__ bypasses the lru caches so the pure path really recomputes
    fast_e = pdftext._hash_2b_compute.__wrapped__(pw, salt)
    fast_w = minipdf._hash_2b_impl(pw, salt)
    monkeypatch.setattr(pdftext, "_OPENSSL", False)
    monkeypatch.setattr(minipdf, "_W_OPENSSL", False)
    assert pdftext._hash_2b_compute.__wrapped__(pw, salt) == fast_e
    assert minipdf._hash_2b_impl(pw, salt) == fast_w
    assert fast_e == fast_w  # and the twins agree with each other


def _fresh_engine_probe():
    from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4
    from cryptography.hazmat.primitives.ciphers import (
        Cipher, algorithms, modes,
    )

    def aes_cbc(key, iv, data, encrypt):
        c = Cipher(algorithms.AES(key), modes.CBC(iv))
        op = c.encryptor() if encrypt else c.decryptor()
        return op.update(data) + op.finalize()

    def arc4(key, data):
        return Cipher(ARC4(key), mode=None).encryptor().update(data)

    return aes_cbc, arc4


_fresh_writer_probe = _fresh_engine_probe
