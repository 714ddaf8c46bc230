"""Golden decode cases (FIXTURES §4): hand-frozen payloads with exact
expected values — the reference's literal-input parser-test style
(/root/reference/test/parsers/log-parser.test.ts:32-42 exact equality,
test/etl/deploy-etl.test.ts:91-101 golden arrays).

The literals below were computed by an independent Python implementation
(base64 + struct + hashlib), NOT by the engine under test.
"""

from pyspark.sql import functions as F

from ore_etl_spark.operators.decode import decode_events

from tests.oracles import decode_events_pandas

GOLDEN_VALID = [
    # (name, payload, version, content_len, sha256)
    ("simple", "AQAAAAsAAABoZWxsbyB3b3JsZA==", 1, 11,
     "b94d27b9934d3e08a52e52d7da7dabfac484efe37a5380ee9088f7ace2efcde9"),
    ("empty", "AAAAAAAAAAA=", 0, 0,
     "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"),
    ("unicode", "BwAAABcAAABuYcOvdmUgY2Fmw6kg4oCUIOS9oOWlvQ==", 7, 23,
     "6fffca39d9faf91849c539d5eac01febf50914e7e2fd1fa4f8496f375c635fdc"),
    ("max_version", "/////wEAAAB4", 4294967295, 1,
     "2d711642b726b04401627ca9fbac32f5c8530fb1903cc4db02258717921a4881"),
]

GOLDEN_INVALID = [
    ("truncated", "AQAAAA"),            # 4-byte body, header incomplete
    ("badlen", "AQAAAGMAAABoZWxsbw=="),  # header says 99, body is 5
    ("notb64", "!!not-base64!!"),
    ("null", None),
]


def _frame(spark):
    rows = [(n, p) for n, p in
            [(c[0], c[1]) for c in GOLDEN_VALID] + GOLDEN_INVALID]
    return spark.createDataFrame(rows, "name string, payload string")


def _check(rows_by_name):
    for name, payload, version, clen, sha in GOLDEN_VALID:
        r = rows_by_name[name]
        assert r["is_valid"], name
        assert r["payload_version"] == version, name
        assert r["content_len"] == clen, name
        assert r["content_sha256"] == sha, name
    for name, _ in GOLDEN_INVALID:
        r = rows_by_name[name]
        assert not r["is_valid"], name
        assert r["content"] is None and r["content_sha256"] is None, name


def test_golden_jvm_decode(spark):
    out = decode_events(_frame(spark)).collect()
    _check({r["name"]: r for r in out})


def test_golden_pandas_decode(spark):
    out = decode_events_pandas(_frame(spark)).collect()
    _check({r["name"]: r for r in out})


def test_golden_unicode_content_roundtrip(spark):
    out = {r["name"]: r for r in decode_events(_frame(spark)).collect()}
    assert out["unicode"]["content"] == "naïve café — 你好"
    # char length != byte length for multi-byte content; content_len is BYTES
    assert out["unicode"]["content_len"] == 23
    assert len(out["unicode"]["content"]) == 15


def test_golden_sha_matches_spark_sha2(spark):
    """The engine's content_sha256 equals sha2(content) recomputed from the
    decoded string — the per-row invariant the oracle checks (ascii only;
    for multi-byte content the invariant is over the raw bytes)."""
    df = decode_events(_frame(spark)).filter(F.col("is_valid"))
    mismatch = df.filter(
        (F.col("name") != "unicode")
        & (F.sha2(F.coalesce(F.col("content"), F.lit("")), 256)
           != F.col("content_sha256"))
    ).count()
    assert mismatch == 0
