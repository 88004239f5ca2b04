"""TDE column decryption (P10, SURVEY §2.4).

Reference: internals/OraCdcTdeColumnDecrypter.java decrypts
encrypted/salted column bytes with the wallet-decrypted data key
*before* type decode (wired through GenericDecoders.java:170-207),
through the platform's cipher provider (JCE).

Spark-first restatement: the cipher is the platform provider here too —
OpenSSL via `cryptography` — called from an Arrow-batched pandas UDF,
the cold decode hop of the change feed, placed like the LOB inflate
UDF.  This module keeps only the Oracle-specific parts: the wallet-blob
key parse, the [ct | mac | salt-iv] layout split, the tolerant Oracle
pad strip and the ENC$.ENCALG/INTALG validation.  The decrypted bytes
compose with the byte decoders downstream:

    value = ora_number_to_double(F.hex(tde_decrypt_udf(blob, 4, 1, True)("enc")))

Executor-side dependency: ``cryptography`` >= 43 (TripleDES lives in
``hazmat.decrepit`` from that release on).
"""

from __future__ import annotations

from cryptography.exceptions import InvalidTag
from cryptography.hazmat.decrepit.ciphers.algorithms import TripleDES
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

# ---------------------------------------------------------------------------
# Oracle TDE column layout (OraCdcTdeColumnDecrypter.java:157-196)
# ---------------------------------------------------------------------------
#
#     [ ciphertext | MAC | salt-IV ]
#
# * salted columns carry their CBC IV as the LAST 16 bytes (8 for 3DES):
#   the reference computes the IV offset before subtracting the MAC
#   (:160-168), so the integrity bytes sit BETWEEN ciphertext and IV;
#   no-salt columns use an all-zero IV (:169-174);
# * integrity suffix: SHA-1 MAC = 0x14 bytes, GCM tag = 0x10, NOMAC = 0
#   (:175-178); MACs are stripped, not verified (:186 doFinal over the
#   ciphertext only);
# * plaintext padding is PKCS7-shaped but tolerated ABSENT: pad byte k
#   (1..16) repeated k times strips; anything else passes through
#   (`padOrclBytes` :197-233);
# * the wallet-decrypted data key carries a 16-byte header before the
#   actual key; key length 0x10/0x18/0x18/0x20 for ENCALG 2 (AES128) /
#   1 (3DES168) / 3 (AES192) / 4 (AES256) (:80-101).
#
# Spark's builtin aes_decrypt offers no CBC/NoPadding combination and a
# 12-byte GCM IV (Oracle's is 16), so the cipher runs in the UDF:
# AES or 3DES (DESede) in CBC with no padding for INTALG 1/2, and
# AES-GCM with the 16-byte salt-IV for INTALG 3.  The reference's own
# GCM branch is dead as written (it hands JCE a tagless ciphertext with
# the tag region as AAD and can never verify); this engine implements
# the evident intent, see decrypt() below.

ENCALG_3DES168 = 1
ENCALG_AES128 = 2
ENCALG_AES192 = 3
ENCALG_AES256 = 4
INTALG_SHA1 = 1
INTALG_NOMAC = 2
INTALG_GCM = 3


def orcl_unpad(plaintext: bytes) -> bytes:
    """padOrclBytes (:197-233): strip pad byte k (1..16) repeated k
    times; tolerate absent padding (return unchanged)."""
    if not plaintext:
        return plaintext
    k = plaintext[-1]
    if 1 <= k <= 16 and len(plaintext) >= k and all(
        b == k for b in plaintext[-k:]
    ):
        return plaintext[:-k]
    return plaintext


_KEY_LEN = {
    ENCALG_3DES168: 0x18,
    ENCALG_AES128: 0x10,
    ENCALG_AES192: 0x18,
    ENCALG_AES256: 0x20,
}


def data_key_from_wallet_blob(blob: bytes, enc_alg: int = ENCALG_AES128) -> bytes:
    """Wallet-decrypted data key blob → cipher key: skip the 16-byte
    header, take the algorithm's key length
    (OraCdcTdeColumnDecrypter.java:80-101)."""
    return blob[0x10 : 0x10 + _KEY_LEN[enc_alg]]


class OraTdeColumnDecrypter:
    """Python mirror of OraCdcTdeColumnDecrypter: construct from the
    wallet-decrypted data-key blob + ENC$.ENCALG/INTALG, then
    ``decrypt(column_bytes, salt)``.

    Verified byte-for-byte against the reference's public test vectors
    (OraCdcTdeColumnDecrypterTest.java) for AES-256/SHA-1/salt,
    AES-256/NOMAC/no-salt and AES-192/SHA-1 both ways."""

    def __init__(self, dec_data_key: bytes, enc_alg: int, int_alg: int):
        if enc_alg not in _KEY_LEN:
            raise ValueError(f"unknown ENC$.ENCALG {enc_alg}")
        if int_alg not in (INTALG_SHA1, INTALG_NOMAC, INTALG_GCM):
            raise ValueError(f"unknown ENC$.INTALG {int_alg}")
        if int_alg == INTALG_GCM and enc_alg == ENCALG_3DES168:
            # GCM is an AES mode; the reference's cipher selection pins
            # 3DES to DESede/CBC regardless of INTALG (:104-110)
            raise ValueError("INTALG GCM requires an AES ENCALG")
        key = data_key_from_wallet_blob(bytes(dec_data_key), enc_alg)
        self._int_alg = int_alg
        if enc_alg == ENCALG_3DES168:
            # ENCALG 1: DESede/CBC/NoPadding, 8-byte blocks and IV
            # (OraCdcTdeColumnDecrypter.java:62-72,102-107,160-173)
            self._alg = TripleDES(key)
        else:
            self._alg = algorithms.AES(key)
        self._block = self._alg.block_size // 8

    def decrypt(self, column_data: bytes, salt: bool) -> bytes:
        data = bytes(column_data)
        ct_len = len(data)
        if salt:
            # salted columns carry the CBC IV as the LAST block-size
            # bytes (16 for AES, 8 for 3DES — reference :160-168)
            ct_len -= self._block
            iv = data[ct_len:]
        else:
            iv = bytes(self._block)
        if self._int_alg == INTALG_SHA1:
            ct_len -= 0x14
        elif self._int_alg == INTALG_GCM:
            ct_len -= 0x10
        if ct_len < 0:
            raise ValueError(
                f"TDE column of {len(data)} bytes is shorter than its "
                "salt-IV and MAC/tag suffix"
            )
        ct = data[:ct_len]
        if self._int_alg == INTALG_GCM:
            # INTALG 3 layout: [ct | tag 0x10 | salt-iv 0x10] (reference
            # :160-178).  The shipped JCE branch cannot succeed as
            # written — it hands doFinal a tag-LESS ciphertext while
            # passing the tag region as updateAAD (:177-183; JCE GCM
            # requires ciphertext‖tag), so every call ends in
            # AEADBadTagException; no vector exists in its suite.  This
            # engine implements the evident INTENT: standard SP 800-38D
            # AES-GCM over the documented layout — the 16-byte salt-IV
            # (zero IV when unsalted), the 0x10 suffix VERIFIED as the
            # tag over the ciphertext, empty AAD.  Divergence (reference
            # always-throws vs verified decrypt) noted in COVERAGE.md.
            tag = data[ct_len : ct_len + 0x10]
            dec = Cipher(self._alg, modes.GCM(iv, tag)).decryptor()
            try:
                plain = dec.update(ct) + dec.finalize()
            except InvalidTag:
                raise ValueError("GCM tag mismatch") from None
        else:
            dec = Cipher(self._alg, modes.CBC(iv)).decryptor()
            plain = dec.update(ct) + dec.finalize()
        return orcl_unpad(plain)


def tde_decrypt_udf(dec_data_key: bytes, enc_alg: int, int_alg: int, salt: bool):
    """Arrow-batched pandas UDF decrypting a binary TDE column — the
    cold decode hop, placed like the LOB-inflate UDF (behind the
    existing feed shuffles, zero extra exchanges)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    dec = OraTdeColumnDecrypter(dec_data_key, enc_alg, int_alg)

    @pandas_udf(BinaryType())
    def _udf(data):
        # (untyped signature: the module's future-annotations would turn
        # pd.Series hints into unresolvable strings for the UDF inferrer)
        return data.map(lambda b: None if b is None else dec.decrypt(b, salt))

    return _udf
