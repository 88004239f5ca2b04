"""Property-based roundtrips for P10 TDE column decryption.

The decrypter and these properties share one cipher implementation
(OpenSSL via `cryptography`), so the properties verify the ORACLE
LAYOUT code, not the cipher: for arbitrary plaintext, key material,
algorithm and layout options, a column encrypted into the documented
Oracle layout [ct | mac? | salt-iv?] (OraCdcTdeColumnDecrypter.java:
160-178) is decrypted back to the exact plaintext — across
AES-128/192/256 and 3DES-168, SHA1/NOMAC, salted and unsalted, and the
INTALG-3 GCM layout; any single-bit tag tamper is caught; and a column
shorter than its suffix is rejected.

The independent anchor for the cipher itself is the golden suite in
tests/test_vector_sqlredo_tde.py::TestTdeGoldenVectors: the reference's
JCE AES vectors (OraCdcTdeColumnDecrypterTest.java), the JCE DESede
vectors, the FIPS 46-3 single-DES vector and the OpenSSL GCM goldens.
Both legs are required.
"""

from __future__ import annotations

import pytest
from cryptography.hazmat.decrepit.ciphers.algorithms import TripleDES
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from oracdc_spark.functions.tde import (
    ENCALG_3DES168,
    ENCALG_AES128,
    ENCALG_AES192,
    ENCALG_AES256,
    INTALG_GCM,
    INTALG_NOMAC,
    INTALG_SHA1,
    _KEY_LEN,
    OraTdeColumnDecrypter,
)

_SETTINGS = dict(max_examples=30, deadline=None)


def _orcl_pad(pt: bytes, block: int) -> bytes:
    """Oracle block padding: pad byte k repeated k times, full block
    when already aligned (the layout the goldens exhibit — 14-byte
    plaintext -> 16-byte ciphertext with k=2)."""
    k = block - (len(pt) % block) or block
    return pt + bytes([k]) * k


def _encrypt_layout(pt, blob, enc_alg, int_alg, salt, iv_seed):
    """Independent (OpenSSL) construction of the Oracle column layout."""
    key = bytes(blob)[0x10 : 0x10 + _KEY_LEN[enc_alg]]
    block = 8 if enc_alg == ENCALG_3DES168 else 16
    iv = bytes((iv_seed + i) % 256 for i in range(block)) if salt else bytes(block)
    alg = TripleDES(key) if enc_alg == ENCALG_3DES168 else algorithms.AES(key)
    enc = Cipher(alg, modes.CBC(iv)).encryptor()
    ct = enc.update(_orcl_pad(pt, block)) + enc.finalize()
    if int_alg == INTALG_SHA1:
        # decrypter strips the 20-byte MAC without verifying (like the
        # reference) — arbitrary bytes exercise exactly that
        ct += bytes((i * 3) % 256 for i in range(20))
    if salt:
        ct += iv
    return ct


@given(
    pt=st.binary(max_size=100),
    enc_alg=st.sampled_from(
        [ENCALG_3DES168, ENCALG_AES128, ENCALG_AES192, ENCALG_AES256]
    ),
    int_alg=st.sampled_from([INTALG_SHA1, INTALG_NOMAC]),
    salt=st.booleans(),
    key_seed=st.integers(min_value=0, max_value=255),
    iv_seed=st.integers(min_value=0, max_value=255),
)
@settings(**_SETTINGS)
def test_cbc_layout_roundtrip(pt, enc_alg, int_alg, salt, key_seed, iv_seed):
    blob = bytes((key_seed + 7 * i) % 256 for i in range(0x10 + 0x20))
    layout = _encrypt_layout(pt, blob, enc_alg, int_alg, salt, iv_seed)
    dec = OraTdeColumnDecrypter(blob, enc_alg, int_alg)
    assert dec.decrypt(layout, salt=salt) == pt


@given(
    pt=st.binary(max_size=100),
    enc_alg=st.sampled_from([ENCALG_AES128, ENCALG_AES192, ENCALG_AES256]),
    salt=st.booleans(),
    key_seed=st.integers(min_value=0, max_value=255),
    iv_seed=st.integers(min_value=0, max_value=255),
    tamper=st.one_of(st.none(), st.integers(min_value=0, max_value=127)),
)
@settings(**_SETTINGS)
def test_gcm_column_layout_roundtrip(pt, enc_alg, salt, key_seed, iv_seed, tamper):
    """INTALG 3 layout [ct | tag 0x10 | salt-iv 0x10]: OpenSSL-encrypted
    columns decrypt back exactly; ANY single-bit tag tamper raises."""
    blob = bytes((key_seed + 7 * i) % 256 for i in range(0x10 + 0x20))
    key = blob[0x10 : 0x10 + _KEY_LEN[enc_alg]]
    iv = bytes((iv_seed + i) % 256 for i in range(16)) if salt else bytes(16)
    enc = Cipher(algorithms.AES(key), modes.GCM(iv)).encryptor()
    ct = enc.update(_orcl_pad(pt, 16)) + enc.finalize()
    tag = bytearray(enc.tag)
    if tamper is not None:
        tag[tamper // 8] ^= 1 << (tamper % 8)
    layout = ct + bytes(tag) + (iv if salt else b"")
    dec = OraTdeColumnDecrypter(blob, enc_alg, INTALG_GCM)
    if tamper is None:
        assert dec.decrypt(layout, salt=salt) == pt
    else:
        with pytest.raises(ValueError, match="tag mismatch"):
            dec.decrypt(layout, salt=salt)


@given(
    enc_alg=st.sampled_from(
        [ENCALG_3DES168, ENCALG_AES128, ENCALG_AES192, ENCALG_AES256]
    ),
    int_alg=st.sampled_from([INTALG_SHA1, INTALG_NOMAC, INTALG_GCM]),
    salt=st.booleans(),
    n=st.integers(min_value=0, max_value=35),  # longest suffix: 16 + 20
)
# lengths that once decrypted a negative-length slice into b'' or garbage
@example(enc_alg=ENCALG_AES256, int_alg=INTALG_SHA1, salt=True, n=18)
@example(enc_alg=ENCALG_AES256, int_alg=INTALG_SHA1, salt=True, n=26)
@example(enc_alg=ENCALG_AES256, int_alg=INTALG_SHA1, salt=True, n=34)
@example(enc_alg=ENCALG_3DES168, int_alg=INTALG_SHA1, salt=True, n=14)
@example(enc_alg=ENCALG_3DES168, int_alg=INTALG_SHA1, salt=True, n=18)
@settings(**_SETTINGS)
def test_column_shorter_than_suffix_raises(enc_alg, int_alg, salt, n):
    """Every column shorter than its salt-IV + MAC/tag suffix raises
    ValueError instead of decrypting a negative-length slice."""
    # GCM is an AES mode: the 3DES combination is rejected at construction
    assume(not (int_alg == INTALG_GCM and enc_alg == ENCALG_3DES168))
    block = 8 if enc_alg == ENCALG_3DES168 else 16
    mac = {INTALG_SHA1: 20, INTALG_NOMAC: 0, INTALG_GCM: 16}[int_alg]
    assume(n < (block if salt else 0) + mac)
    dec = OraTdeColumnDecrypter(bytes(0x30), enc_alg, int_alg)
    with pytest.raises(ValueError, match="shorter"):
        dec.decrypt(bytes(range(n)), salt=salt)
