"""Charset-aware text layer over byte-transparent cells."""

from pyspark.sql import functions as F

from binlog_spark.operators.charset import (charset_decode_column,
                                            decode_text_columns)


def _one(spark, raw_bytes: bytes, collation: int):
    cell = raw_bytes.decode("latin-1")  # byte-transparent engine cell
    df = spark.createDataFrame([(cell,)], "c string")
    out = df.select(charset_decode_column(F.col("c"), collation).alias("c"))
    return out.collect()[0].c


def test_cp1251_and_gbk_pandas_path(spark):
    assert _one(spark, "данные".encode("cp1251"), 51) == "данные"
    assert _one(spark, "数据".encode("gbk"), 28) == "数据"


def test_latin1_stays_cp1252(spark):
    # MySQL latin1 is cp1252: 0x80 is the euro sign, not a C1 control
    assert _one(spark, b"caf\xe9 \x80", 8) == "café €"


def test_utf8_collation_is_identity(spark):
    # the decode path (codec.to_text) already tried UTF-8 first, so a
    # UTF-8 collation cell IS proper text — identity, no Python stage.
    # (The r3 JVM round-trip encode('ISO-8859-1') mangled any real
    # UTF-8 text with >U+FF code points into '?'.)
    df = spark.createDataFrame([("héllo",), ("привет",)], "c string")
    out = df.select(charset_decode_column(F.col("c"), 45).alias("c"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert [r.c for r in out.collect()] == ["héllo", "привет"]


def test_cp1251_bytes_that_form_valid_utf8_recover_exactly(spark):
    # r3 ADVICE regression: cp1251 Cyrillic pairs are VALID UTF-8, so the
    # engine's to_text decoded them as UTF-8 (>U+FF chars); recovery must
    # re-encode via UTF-8 — the old encode('latin-1','replace') gave '?'
    raw = "да".encode("cp1251")          # 0xE4 0xE0 — invalid UTF-8
    assert _one(spark, raw, 51) == "да"
    utf8ish = b"\xd0\xb0\xd0\xb1"        # valid UTF-8 "аб"; to_text arm
    cell = utf8ish.decode("utf-8")       # what to_text actually yields
    df = spark.createDataFrame([(cell,)], "c string")
    out = df.select(charset_decode_column(F.col("c"), 51).alias("c"))
    # cp1251 re-interpretation of the recovered wire bytes 0xD0B0D0B1
    assert out.collect()[0].c == utf8ish.decode("cp1251")


def test_binary_collation_is_identity(spark):
    blob = bytes(range(256)).decode("latin-1")
    df = spark.createDataFrame([(blob,)], "c string")
    out = decode_text_columns(df, {"c": 63})  # binary: stay bytes
    assert out.collect()[0].c == blob


def test_corrupt_cell_substitutes_not_fails(spark):
    # a lone GBK lead byte must not kill the job — substitution, like
    # the JVM decode() path
    assert "�" in _one(spark, b"\x81", 28)
    # unknown collation id (MySQL 8.0 family): identity, stay-bytes
    blob = "data\xe9"
    df = spark.createDataFrame([(blob,)], "c string")
    assert decode_text_columns(df, {"c": 255}).collect()[0].c == blob


def test_multi_column_map(spark):
    df = spark.createDataFrame(
        [("данные".encode("cp1251").decode("latin-1"),
          "ascii ok")], "a string, b string")
    out = decode_text_columns(df, {"a": 51, "b": 11})
    row = out.collect()[0]
    assert (row.a, row.b) == ("данные", "ascii ok")


# --------------------------------------------------- decode-at-source (r5)
def test_charset_at_source_both_kernels_cp1251():
    """r4 ADVICE directive 5: columns whose schema provider declares a
    known non-UTF-8 collation decode AT SOURCE with the real codec —
    including the case post-hoc re-interpretation cannot recover: wire
    bytes that are valid UTF-8 (0xC3 0xA9 = cp1251 'Г©' but UTF-8 'é' —
    U+00E9-only text is attributed to the latin-1 arm by
    recover_wire_bytes, yielding cp1251 of 0xE9 = 'щ' instead).
    The columnar kernel and the decode oracle must agree and both must
    yield the cp1251 interpretation of the exact wire bytes."""
    import pandas as pd

    from tests.decode_oracle import decode_oracle
    from tests.test_colsplit import (_custom_world, make_meta,
                                     to_batch, norm)
    from binlog_spark.operators import colsplit as CS
    from binlog_spark.operators import decode as D
    from binlog_spark.wire import constants as C
    from binlog_spark.wire.collations import COLLATION_TO_ID

    cid = COLLATION_TO_ID["cp1251_general_ci"]
    cols = [("id", C.TYPE_LONG, 0, False),
            ("txt", C.TYPE_VARCHAR, 80, False)]
    # equal-length ASCII placeholders, then patch the REAL wire bytes in
    # (the generator's cell encoder is UTF-8 and cannot emit case 3)
    wire_cases = {
        "1": (b"A1", b"\xd0\xb0"),   # valid UTF-8 'а'; cp1251 'Р°'
        "2": (b"B2", b"\xc3\xa9"),   # valid UTF-8 'é'; cp1251 'Г©'
        "3": (b"C3", "да".encode("cp1251")),   # invalid UTF-8
    }
    rows = [(None, {"id": k, "txt": ph.decode()})
            for k, (ph, _) in wire_cases.items()]
    frames, _registry = _custom_world(cols, [(C.E_WRITE_ROWS_V2, rows)])
    patched = []
    for f, p_, et, fr in frames:
        if et == C.E_WRITE_ROWS_V2:
            for ph, wire in wire_cases.values():
                assert ph in fr and len(ph) == len(wire)
                fr = fr.replace(ph, wire)
        patched.append((f, p_, et, fr))
    # schema provider declares the column charset: 3-tuple registry rows
    registry = {("d1", "t1"): [[("id", False, None), ("txt", False, cid)]]}
    meta = make_meta(patched)

    # oracle
    pdf = pd.DataFrame(
        {"file": [f for f, _, _, _ in patched],
         "pos": [p_ for _, p_, _, _ in patched],
         "etype": [et for _, _, et, _ in patched],
         "frame": [fr for _, _, _, fr in patched]})
    ref = decode_oracle(pdf, D.build_decode_context(meta, registry))
    # columnar kernel
    outs = list(CS.decode_batch_arrow(
        to_batch(patched), D.build_decode_context(meta, registry)))
    got = pd.concat([rb.to_pandas() for rb in outs], ignore_index=True)
    assert norm(ref) == norm(got)

    by_id = {dict(m)["id"]: dict(m)["txt"]
             for m in got[got["kind"] == "change"]["after"]}
    want = {k: wire.decode("cp1251")
            for k, (_, wire) in wire_cases.items()}
    assert by_id == want
    assert want["2"] == "Г©" and want["3"] == "да"

    # and WITHOUT a declared collation the byte-transparent contract is
    # unchanged (utf-8 arm for valid pairs, latin-1 for case 3)
    plain = {("d1", "t1"): [[("id", False), ("txt", False)]]}
    ref2 = decode_oracle(pdf, D.build_decode_context(meta, plain))
    got2 = pd.concat([rb.to_pandas() for rb in CS.decode_batch_arrow(
        to_batch(patched), D.build_decode_context(meta, plain))],
        ignore_index=True)
    assert norm(ref2) == norm(got2)
    by_id2 = {dict(m)["id"]: dict(m)["txt"]
              for m in ref2[ref2["kind"] == "change"]["after"]}
    assert by_id2["1"] == "\u0430" and by_id2["2"] == "\u00e9"
    assert by_id2["3"] == b"\xe4\xe0".decode("latin-1")
