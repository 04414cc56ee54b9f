"""The numpy xxh64 twins equal Spark's ``xxhash64`` (seed 42) bit for bit:
longs at the int64 limits, an int literal folded into running hashes, and
UTF-8 strings on each side of the 8- and 32-byte phase boundaries."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from afspark.functions.xxh64 import (
    xxh64_ascii_sliding,
    xxh64_buf,
    xxh64_int,
    xxh64_longs,
)

LONGS = [
    0, 1, -1, 7, -8, 42, 2**31 - 1, -(2**31), 2**32, 123_456_789_012,
    -987_654_321_098, 2**62, 2**63 - 1, -(2**63), -(2**63) + 1,
]

ASCII = "the quick brown fox jumps over the lazy dog 0123456789 ABCDEFGHIJKLMNOP"
# 1-, 2-, 3- and 4-byte UTF-8 characters, so a byte length can end mid-phase
UTF8 = "zürich ©é→ 東京 €100 🙂 naïve ñ 中文字符 emoji 🚀🌍 ok"


def _strings():
    out = []
    for src in (ASCII, UTF8):
        for nchar in (0, 1, 3, 5, 7, 8, 9, 12, 16, 20, 31, 32, 33, 40, 47, 64):
            s = src[:nchar]
            if s not in out:
                out.append(s)
    out.append(UTF8 * 3)  # >= 32 bytes with several 32-byte stripes
    return out


def test_xxh64_longs_equal_spark(spark):
    df = spark.createDataFrame([(v,) for v in LONGS], "v long")
    got = df.select("v", F.xxhash64("v").alias("h")).collect()
    vals = np.array([r.v for r in got], dtype=np.int64)
    assert xxh64_longs(vals).tolist() == [r.h for r in got]


def test_xxh64_int_fold_equals_spark(spark):
    """An IntegerType literal folded after a long column: Spark seeds the
    int's hash with the long's hash, as ``xxh64_int`` does."""
    lanes = [0, 1, 5, 63, -1, 2**31 - 1, -(2**31)]
    df = spark.createDataFrame([(v,) for v in LONGS], "v long")
    rows = df.select(
        "v", *[F.xxhash64("v", F.lit(i).cast("int")).alias(f"h{k}") for k, i in enumerate(lanes)]
    ).collect()
    seeds = xxh64_longs(np.array([r.v for r in rows], dtype=np.int64))
    for k, i in enumerate(lanes):
        assert xxh64_int(i, seeds).tolist() == [r[f"h{k}"] for r in rows]


def test_xxh64_buf_equals_spark_on_utf8(spark):
    strings = _strings()
    nbytes = {len(s.encode()) for s in strings}
    # every length class is covered: < 8, 8-31 and >= 32 bytes, ASCII and not
    assert any(n < 8 for n in nbytes) and any(8 <= n < 32 for n in nbytes)
    assert any(n >= 32 for n in nbytes)
    assert any(len(s.encode()) != len(s) for s in strings)
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in strings:
        assert xxh64_buf(s.encode("utf-8")) == got[s], s


@pytest.mark.parametrize("k", [1, 3, 4, 5, 7, 8, 9, 12, 16, 24, 31])
def test_xxh64_ascii_sliding_equals_spark_substrings(spark, k):
    text = ASCII
    df = spark.createDataFrame([(text,)], "t string")
    n = len(text) - k + 1
    row = df.select(
        *[F.xxhash64(F.substring("t", i, k)).alias(f"h{i}") for i in range(1, n + 1)]
    ).first()
    got = xxh64_ascii_sliding(np.frombuffer(text.encode(), dtype=np.uint8), k)
    assert got.tolist() == [row[f"h{i}"] for i in range(1, n + 1)]
    # the scalar path agrees with the sliding one on the same windows
    assert got[0] == xxh64_buf(text[:k].encode())


def test_xxh64_ascii_sliding_rejects_32_byte_windows():
    with pytest.raises(ValueError, match="k < 32"):
        xxh64_ascii_sliding(np.zeros(40, dtype=np.uint8), 32)
