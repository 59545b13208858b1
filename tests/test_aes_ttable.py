"""r8 optimization pin: the 32-bit T-table AES fast paths (engine
big-endian words, writer little-endian words) are bit-identical to the
writer's per-byte cipher, on both key sizes, and the two independent
codebases still agree with each other (twin invariant — neither imports
the other's logic; this test is the only place their outputs meet).

Every test runs with OpenSSL disabled (``no_openssl``): with the wheel
present both CBC helpers delegate to it and never reach the T-tables."""

from __future__ import annotations

import random

import pytest

from pdf_extraction_ai_agent_spark.fixtures import minipdf as mp
from pdf_extraction_ai_agent_spark.operators import pdftext as pt

pytestmark = pytest.mark.usefixtures("no_openssl")


def _ref_cbc_encrypt_bytewise(key: bytes, iv: bytes, data: bytes) -> bytes:
    rks = mp._aes_round_keys(key)
    prev, out = iv, bytearray()
    for at in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[at : at + 16], prev))
        prev = mp._aes_encrypt_block(rks, blk)
        out += prev
    return bytes(out)


def test_ttable_aes_matches_byte_reference_and_twin():
    rnd = random.Random(1234)
    for _ in range(40):
        klen = rnd.choice([16, 32])
        key = bytes(rnd.randrange(256) for _ in range(klen))
        iv = bytes(rnd.randrange(256) for _ in range(16))
        data = bytes(rnd.randrange(256) for _ in range(16 * rnd.randrange(1, 12)))
        ref = _ref_cbc_encrypt_bytewise(key, iv, data)
        assert pt._aes_cbc_encrypt_nopad(key, iv, data) == ref
        assert mp._aes_cbc_core(key, iv, data) == ref
        assert pt._aes_cbc_decrypt_nopad(key, iv, ref) == data


def test_ttable_aes_stream_payload_roundtrip():
    rnd = random.Random(99)
    for klen in (16, 32):
        key = bytes(rnd.randrange(256) for _ in range(klen))
        iv = bytes(rnd.randrange(256) for _ in range(16))
        for n in (0, 1, 15, 16, 17, 300):
            data = bytes(rnd.randrange(256) for _ in range(n))
            enc = mp.aes_cbc_encrypt(key, iv, data)
            assert pt._aes_cbc_decrypt(key, enc) == data


def test_fips197_vectors():
    """FIPS-197 Appendix C known-answer vectors through both pure-Python
    T-table paths (engine and writer) and the writer's per-byte cipher."""
    assert not pt._openssl() and not mp._w_openssl()
    key128 = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    pt128 = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct128 = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    key256 = bytes.fromhex(
        "000102030405060708090a0b0c0d0e0f101112131415161718191a1b1c1d1e1f"
    )
    ct256 = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    zero_iv = bytes(16)
    for key, ct in ((key128, ct128), (key256, ct256)):
        assert pt._aes_cbc_encrypt_nopad(key, zero_iv, pt128) == ct
        assert mp._aes_cbc_core(key, zero_iv, pt128) == ct
        assert _ref_cbc_encrypt_bytewise(key, zero_iv, pt128) == ct
        assert pt._aes_cbc_decrypt_nopad(key, zero_iv, ct) == pt128
