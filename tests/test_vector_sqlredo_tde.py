"""P9 VECTOR golden vectors, P1 SQL_REDO parsing, P10 TDE compose."""

import math

import pyspark.sql.functions as F
import pytest

from oracdc_spark.functions.sql_redo import parse_sql_redo
from oracdc_spark.functions.vector import decode_vector, decode_vector_struct

# golden fixtures from VectorTest.java:55-100 (hex data constants)
F64_HEX = (
    "00 70 00 01 01 0c 00 80 00 01 00 00 00 01 00 00 00 21 24 b0 00 5b 48 90 00 55 "
    "00 00 51 01 db 00 00 12 03 00 00 00 08 c0 1d 8f d3 14 33 d1 4e c0 00 cc cc cc cc "
    "cc cd c0 06 66 66 66 66 66 66 bf 50 62 4d d2 f1 a9 fc bf 60 62 4d d2 f1 a9 fc c0 "
    "0c 00 00 00 00 00 00 c0 10 7a e1 47 ae 14 7a c0 0c f5 c2 8f 5c 28 f6 bf c9 99 99 "
    "99 99 99 9a"
).replace(" ", "")
F32_HEX = (
    "00 70 00 01 01 0c 00 80 00 01 00 00 00 01 00 00 00 21 24 ad 00 37 48 90 00 31 "
    "00 00 2d 01 db 00 00 12 02 00 00 00 07 c0 1d 8d 0d 89 58 b5 f2 c0 06 66 66 c0 33 "
    "33 33 ba 83 12 6f bb 03 12 6f c0 60 00 00 c0 83 d7 0a c0 67 ae 14"
).replace(" ", "")
I8_HEX = (
    "00 70 00 01 01 0c 00 80 00 01 00 00 00 01 00 00 00 21 24 95 00 20 48 90 00 1a "
    "00 00 16 01 db 00 00 12 04 00 00 00 05 c0 52 8a 5d f5 ca cd 27 0a 14 1e 28 32"
).replace(" ", "")


class TestVector:
    def test_float32_seven_elements(self):
        d = decode_vector(F32_HEX)
        assert d["count"] == 7 and len(d["values"]) == 7
        # L2 norm header must match the decoded elements
        norm = math.sqrt(sum(v * v for v in d["values"]))
        assert abs(norm - d["norm"]) < 1e-5
        assert abs(d["values"][0] - 2.1) < 1e-6

    def test_float64_eight_elements(self):
        d = decode_vector(F64_HEX)
        assert d["count"] == 8 and len(d["values"]) == 8
        norm = math.sqrt(sum(v * v for v in d["values"]))
        assert abs(norm - d["norm"]) < 1e-12

    def test_int8_five_elements(self):
        d = decode_vector(I8_HEX)
        assert d["values"] == [10.0, 20.0, 30.0, 40.0, 50.0]
        assert abs(d["norm"] - math.sqrt(5500)) < 1e-9

    def test_struct_form_one_field_set(self):
        s = decode_vector_struct(F32_HEX)
        assert s["F"] is not None and s["D"] is None and s["I"] is None and s["B"] is None
        s64 = decode_vector_struct(F64_HEX)
        assert s64["D"] is not None and s64["F"] is None


class TestSqlRedo:
    def test_insert(self):
        r = parse_sql_redo(
            """insert into "SCOTT"."DEPT"("DEPTNO","DNAME","RAW_COL") """
            """values ('10','SALES',HEXTORAW('c10b'))"""
        )
        assert r["op"] == 1 and r["owner"] == "SCOTT" and r["table"] == "DEPT"
        assert r["after"] == {"DEPTNO": "10", "DNAME": "SALES", "RAW_COL": "c10b"}

    def test_update_with_null_and_quote(self):
        r = parse_sql_redo(
            """update "SCOTT"."DEPT" set "DNAME" = 'O''BRIEN', "LOC" = NULL """
            """where "DEPTNO" = '10' and "LOC" IS NULL"""
        )
        assert r["op"] == 3
        assert r["after"] == {"DNAME": "O'BRIEN", "LOC": None}
        assert r["before"] == {"DEPTNO": "10", "LOC": None}

    def test_delete(self):
        r = parse_sql_redo(
            """delete from "SCOTT"."DEPT" where "DEPTNO" = '10' and "DNAME" = 'SALES';"""
        )
        assert r["op"] == 2 and r["before"]["DEPTNO"] == "10"

    def test_unknown_raises(self):
        with pytest.raises(ValueError):
            parse_sql_redo("merge into t using s on (1=1)")


class TestTde:
    @pytest.mark.slow
    def test_roundtrip_then_decode(self, spark):
        from oracdc_spark.functions.decoders import encode_number

        key = F.lit("0123456789abcdef")  # 16-byte AES key
        num = encode_number("1234.56")
        df = spark.createDataFrame([(num,)], "payload binary").coalesce(1)
        enc = df.select(F.aes_encrypt("payload", key, F.lit("GCM")).alias("enc"))
        dec = enc.select(F.aes_decrypt("enc", key, F.lit("GCM")).alias("dec"))
        got = dec.first().dec
        assert bytes(got) == num
        # compose with the type decoder (the reference's decrypt→decode chain)
        from oracdc_spark.functions.decoders import ora_number_to_double

        out = dec.select(ora_number_to_double(F.hex("dec")).alias("v")).first()
        assert out.v == 1234.56


class TestVectorBool:
    """BINARY vector (element type 5, KafkaConnectDecoders.java:704-709):
    bit-packed dims, 8 per byte, MSB-first."""

    @staticmethod
    def _payload(bits):
        import struct as _struct

        from oracdc_spark.functions.vector import ELEM_BOOL, MAGIC

        count = len(bits)
        packed = bytearray((count + 7) // 8)
        for j, b in enumerate(bits):
            if b:
                packed[j // 8] |= 1 << (7 - j % 8)
        # L2 norm of a binary vector = sqrt(popcount), as BINARY_DOUBLE
        norm = sum(bits) ** 0.5
        raw = _struct.pack(">d", norm)
        norm_enc = bytes([raw[0] ^ 0x80]) + raw[1:]  # positive: flip MSB
        return (
            bytes([MAGIC, 0, 0, 0, ELEM_BOOL])
            + _struct.pack(">I", count)
            + norm_enc
            + bytes(packed)
        ).hex()

    def test_bool_roundtrip(self):
        bits = [True, False, True, True, False, False, True, False,
                True, True, False, False, True, False, False, True]
        d = decode_vector(self._payload(bits))
        assert d["count"] == 16
        assert d["values"] == bits
        assert abs(d["norm"] - sum(bits) ** 0.5) < 1e-12

    def test_struct_form_sets_B(self):
        s = decode_vector_struct(self._payload([True] * 8))
        assert s["B"] == [True] * 8
        assert s["F"] is None and s["D"] is None and s["I"] is None


class TestTdeGoldenVectors:
    """The reference's own public test vectors
    (OraCdcTdeColumnDecrypterTest.java) through the Python mirror:
    the wallet data-key blob, the [ct || mac || salt-iv] layout, the
    zero-IV no-salt path and the tolerant Oracle pad strip, byte-exact."""

    # wallet-decrypted data-key blobs (test :50, :114, :158)
    BLOB_AES256_SHA1 = bytes.fromhex(
        "8AC759A42F0D447528014DEA2E9830631B3EB88E529DDE924D658AC280138F9D"
        "21342A1AE4323EB0E70060DEE6F1C030CC5064D1DA70E70F9D49416A39B2EADE"
        "449CB91F0C0C0C0C0C0C0C0C0C0C0C0C"
    )
    BLOB_AES256_NOMAC = bytes.fromhex(
        "8AC759A42F0D447528014DEA2E983063CE874BD9AC7DD1D3116F1ACB0733F83F"
        "B6A725765986FF72F3436E8C5DBB15B24628FCEC8F1803B9ADFDD31CEFAF6124"
        "9A7C283D0C0C0C0C0C0C0C0C0C0C0C0C"
    )
    BLOB_AES192_SHA1 = bytes.fromhex(
        "8AC759A42F0D447528014DEA2E983063CC5D432F4C62F8297E1C62068F06AD68"
        "54322095944A21C4901B9F6305D655437A58D87AEABD7C81B062A60504040404"
    )

    @staticmethod
    def _hx(s):
        return bytes.fromhex(s.replace(" ", ""))

    def test_aes256_sha1_salt(self):
        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        dec = OraTdeColumnDecrypter(self.BLOB_AES256_SHA1, 4, 1)
        cases = [
            # two DIFFERENT ciphertexts (distinct salts) → same plaintext
            ("2a 1a 58 1d 67 44 5f fe 2d 42 09 ee fd bd 53 10 11 56 76 90 66 53"
             " d5 de 29 28 9d 77 ca 5e ab 69 42 58 88 da 42 74 b5 d7 24 f7 ad 0b"
             " 08 93 80 74 48 7f 65 af", b"ABCDEFGHIJKLMN"),
            ("66 ec 00 e3 44 5b ec 46 d7 f8 cb 68 3c f2 9b ef 99 7a 24 2c 19 57"
             " 87 fd 03 67 2f 8a b6 0a 97 6d 2a 05 39 40 e7 13 92 f1 13 b1 52 c4"
             " 02 b3 5c a9 26 57 bd 14", b"ABCDEFGHIJKLMN"),
            ("a5 6d 27 a2 66 78 08 da 42 d6 0d 04 df 54 2d d0 f0 7a 2f e5 b0 ee"
             " 7e 2c ba f0 a0 28 42 54 38 e7 c5 74 1c 9b 39 f1 a3 38 23 26 82 f4"
             " df 5b 67 12 a8 0c 74 a6 64 a5 d5 0b eb 26 4d dd af 3a 41 65 83 1c"
             " 7c 1f d2 6c c9 f0 30 03 5b 87 88 47 c4 38 b8 3a 83 77",
             b"ABCDEFGHIJKLMN==================="),
            ("b1 18 f8 9b 54 7b 40 85 e8 99 4a 4a bd 84 df 85 f6 02 f8 f0 4a 7a"
             " ba 19 b5 15 d9 f2 05 50 b8 db 9f 12 aa d0 24 21 94 21 73 35 47 0b"
             " b1 fa 4a fb 7b 79 f9 75", b"abcdefghijklmn"),
            ("cd 34 03 93 b0 c2 84 f6 80 24 57 4c 64 81 76 5d 30 23 4b b8 b2 52"
             " 88 98 85 f8 b5 e3 0b e0 97 e7 c5 ad 9c 78 f0 ec 06 6e 8c 0f cb 76"
             " 3f 56 57 49 c0 c4 25 03", b"OPQRSTUVWXYZ"),
            ("a9 6c 84 fd ea f1 59 4c d9 db a6 3b 33 e2 9d f2 11 a0 3b 21 f3 50"
             " c1 d2 82 2e 01 d3 0f 9e 3f 17 d9 07 74 d9 81 5b b3 88 a8 7a ba f7"
             " 9c 78 96 18 98 55 85 d2", b"0123456789"),
        ]
        for ct_hex, plain in cases:
            assert dec.decrypt(self._hx(ct_hex), salt=True) == plain

    def test_aes256_nomac_nosalt(self):
        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        dec = OraTdeColumnDecrypter(self.BLOB_AES256_NOMAC, 4, 2)
        cases = [
            ("8c f7 16 10 a8 a8 2e 47 9b c3 36 7f 8f 1e 14 ba", b"ABCDEFGHIJKLMN"),
            ("77 cf 17 21 31 5a 45 23 c5 9c f6 89 54 83 54 37 8e 30 e6 23 70 bd"
             " aa 3d e1 db 51 7b 62 71 5a 9a 4c 69 74 d4 98 e2 c5 b4 74 af 86 12"
             " 57 92 c7 c8", b"ABCDEFGHIJKLMN==================="),
            ("53 79 40 af 91 fe 37 bd 49 d8 e2 84 a8 b7 50 b4", b"abcdefghijklmn"),
            ("7f 22 ac b3 d7 37 36 04 59 93 19 15 b4 6e 19 48", b"OPQRSTUVWXYZ"),
            ("da 06 e4 5b 3c 1f 87 6f 54 be 5b 13 11 65 27 cc", b"0123456789"),
        ]
        for ct_hex, plain in cases:
            assert dec.decrypt(self._hx(ct_hex), salt=False) == plain

    def test_aes192_sha1_both_salt_forms(self):
        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        dec = OraTdeColumnDecrypter(self.BLOB_AES192_SHA1, 3, 1)
        assert dec.decrypt(self._hx(
            "d0 81 04 ba 02 44 ca 29 94 ce f5 3f 76 eb 2b 02 27 85 a9 ec 66 63"
            " c5 0b d1 77 d9 34 4f ed 6c a3 9f 19 83 44 33 db d9 e2 20 4f 20 f1"
            " ee 77 4a e9 b3 f4 38 20"), salt=True) == b"ABCDEFGHIJKLMN"
        assert dec.decrypt(self._hx(
            "e8 50 6d 55 1d 0b c2 a3 6c b5 c0 56 3d b6 f7 be 65 9f 14 29 d1 9d"
            " b8 ae 59 1d e7 e5 b2 aa c8 97 8c 43 17 94"), salt=False) == b"ABCDEFGHIJKLMN"
        assert dec.decrypt(self._hx(
            "91 e9 f9 03 1f 49 ed aa b9 a6 14 16 72 cd 3c 3e 04 37 62 f5 67 3d"
            " 97 98 a4 87 8b 32 25 65 20 8d e9 af a7 ff 3b b4 83 f2 89 d8 4e 0f"
            " b9 c6 53 59 24 dd 04 3c d3 be 64 ac 92 85 7b 31 c9 74 3d 8d 97 52"
            " da f1"), salt=False) == b"ABCDEFGHIJKLMN==================="

    def test_unsupported_algorithms_raise(self):
        import pytest as _pytest

        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        with _pytest.raises(ValueError):
            OraTdeColumnDecrypter(bytes(0x30), 9, 1)
        # GCM is an AES mode — the 3DES ENCALG combination is rejected
        with _pytest.raises(ValueError, match="AES"):
            OraTdeColumnDecrypter(bytes(0x30), 1, 3)

    # -- INTALG 3 (GCM): SP 800-38D AES-GCM with Oracle's 16-byte IV ----

    def test_gcm_tde_column_goldens(self):
        """INTALG 3 column decrypt over independently generated goldens:
        [ct | tag 0x10 | salt-iv 0x10] layout, zero-IV unsalted path."""
        import __spark_entry__ as e
        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        for _, blob, enc_alg, int_alg, salt, col, plain in e._TDE_GCM_GOLDENS:
            d = OraTdeColumnDecrypter(bytes.fromhex(blob), enc_alg, int_alg)
            assert d.decrypt(bytes.fromhex(col), salt).decode() == plain

    def test_gcm_tde_tamper_detected(self):
        import pytest as _pytest

        import __spark_entry__ as e
        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        _, blob, enc_alg, int_alg, salt, col, _ = e._TDE_GCM_GOLDENS[0]
        data = bytearray(bytes.fromhex(col))
        data[0] ^= 0x80  # flip a ciphertext bit → GHASH must catch it
        d = OraTdeColumnDecrypter(bytes.fromhex(blob), enc_alg, int_alg)
        with _pytest.raises(ValueError, match="tag mismatch"):
            d.decrypt(bytes(data), salt)

    # -- ENCALG 1 (3DES168): DESede/CBC/NoPadding, 8-byte blocks/IV ------
    # Golden vectors generated with Java 17 JCE
    # Cipher.getInstance("DESede/CBC/NoPadding") — the exact provider the
    # reference constructs (OraCdcTdeColumnDecrypter.java:105).

    _3DES_KEY = bytes.fromhex(
        "030a11181f262d343b424950575e656c737a81888f969da4"
    )
    _3DES_PT = b"Oracle TDE 3DES Column!!"

    def _3des_blob(self):
        # wallet data-key blob: 16-byte header + 24-byte key
        return bytes(0x10) + self._3DES_KEY

    def test_3des_no_salt_nomac(self):
        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        ct0 = bytes.fromhex(
            "aa9381d57254dbabb064c3f3129514bd0dd5da4463f2b5ac"
        )
        dec = OraTdeColumnDecrypter(self._3des_blob(), 1, 2)
        assert dec.decrypt(ct0, salt=False) == self._3DES_PT

    def test_3des_salted_sha1(self):
        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        ct = bytes.fromhex(
            "76c935c285fee069c371f8c1dff93754a2b6431ebec81e3f"
        )
        iv = bytes.fromhex("0011223344556677")
        mac = bytes(range(20))  # stripped, never verified (reference :186)
        dec = OraTdeColumnDecrypter(self._3des_blob(), 1, 1)
        assert dec.decrypt(ct + mac + iv, salt=True) == self._3DES_PT

    def test_3des_oracle_padding_stripped(self):
        from cryptography.hazmat.decrepit.ciphers.algorithms import TripleDES
        from cryptography.hazmat.primitives.ciphers import Cipher, modes

        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        pt, pad = b"AB", bytes([6] * 6)
        enc = Cipher(TripleDES(self._3DES_KEY), modes.CBC(bytes(8))).encryptor()
        ct = enc.update(pt + pad) + enc.finalize()
        dec = OraTdeColumnDecrypter(self._3des_blob(), 1, 2)
        assert dec.decrypt(ct, salt=False) == pt

    def test_single_des_fips_vector(self):
        """FIPS 46-3 single-DES vector through the ENCALG 1 decrypter:
        EDE with K1=K2=K3 is single DES, and one unsalted NOMAC block
        under the zero IV is the raw block decrypt."""
        from oracdc_spark.functions.tde import OraTdeColumnDecrypter

        k = bytes.fromhex("133457799BBCDFF1")
        ct = bytes.fromhex("85E813540F0AB405")
        dec = OraTdeColumnDecrypter(bytes(0x10) + k * 3, 1, 2)
        assert dec.decrypt(ct, salt=False) == bytes.fromhex("0123456789ABCDEF")

    def test_orcl_pad_tolerates_absent_padding(self):
        from oracdc_spark.functions.tde import orcl_unpad

        assert orcl_unpad(b"ABCD" + bytes([2, 2])) == b"ABCD"
        assert orcl_unpad(b"no-padding-here!") == b"no-padding-here!"
        assert orcl_unpad(bytes([3, 3, 3])) == b""

    def test_decrypt_udf_plumbing(self, spark):
        """The Arrow UDF decrypts a binary column batch-wise."""
        from oracdc_spark.functions.tde import tde_decrypt_udf

        ct = self._hx(
            "8c f7 16 10 a8 a8 2e 47 9b c3 36 7f 8f 1e 14 ba"
        )
        df = spark.createDataFrame([(1, ct), (2, None)], "id int, e binary")
        udf = tde_decrypt_udf(self.BLOB_AES256_NOMAC, 4, 2, salt=False)
        out = {r.id: (bytes(r.p) if r.p is not None else None)
               for r in df.select("id", udf("e").alias("p")).collect()}
        assert out == {1: b"ABCDEFGHIJKLMN", 2: None}


class TestTdeColumnLayout:
    """Oracle TDE column image layout (ct || mac || salt-iv) round-trips
    through the Arrow decrypt UDF on Spark
    (OraCdcTdeColumnDecrypter.java:157-196): OpenSSL-encrypted salted
    columns, with and without the SHA-1 MAC, decrypt back exactly."""

    KEY = bytes(range(16))  # AES128 data key

    def _roundtrip(self, spark, plains, int_alg, mac):
        from cryptography.hazmat.primitives import padding
        from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

        from oracdc_spark.functions.tde import ENCALG_AES128, tde_decrypt_udf

        rows = []
        for i, pt in plains.items():
            iv = bytes((i * 11 + j) % 256 for j in range(16))
            padder = padding.PKCS7(128).padder()
            enc = Cipher(algorithms.AES(self.KEY), modes.CBC(iv)).encryptor()
            ct = enc.update(padder.update(pt) + padder.finalize()) + enc.finalize()
            rows.append((i, ct + mac + iv))
        df = spark.createDataFrame(rows, "id int, e binary")
        udf = tde_decrypt_udf(bytes(0x10) + self.KEY, ENCALG_AES128, int_alg, salt=True)
        out = df.select("id", udf("e").alias("p")).collect()
        return {r.id: bytes(r.p) for r in out}

    def test_salted_sha1_roundtrip(self, spark):
        from oracdc_spark.functions.tde import INTALG_SHA1

        plains = {1: b"c1024a153351", 2: b"hello TDE world"}
        mac = bytes(range(100, 120))  # stripped, never verified
        assert self._roundtrip(spark, plains, INTALG_SHA1, mac) == plains

    def test_salted_nomac_roundtrip(self, spark):
        from oracdc_spark.functions.tde import INTALG_NOMAC

        plains = {1: b"\x00\x01\x02\x03binary"}
        assert self._roundtrip(spark, plains, INTALG_NOMAC, b"") == plains

    def test_wallet_blob_key_extraction(self):
        from oracdc_spark.functions.tde import data_key_from_wallet_blob

        from oracdc_spark.functions.tde import ENCALG_AES128, ENCALG_AES256

        blob = bytes(16) + bytes(range(32)) + b"tail"
        assert data_key_from_wallet_blob(blob, ENCALG_AES128) == bytes(range(16))
        assert data_key_from_wallet_blob(blob, ENCALG_AES256) == bytes(range(32))
