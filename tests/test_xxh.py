"""Pure-Python XXH64 vs Spark's xxhash64 expression: bit-equality.

SnapshotState.buckets_for prunes parquet bucket directories with a driver-side
hash; if it EVER disagreed with build.bucket_expr (the JVM XXH64 used to
place postings at build time), term lookups would silently scan the wrong
directory and return empty postings — so this test is the load-bearing
contract for the Spark-free query hot path. Covers every tail-length
class of the algorithm (0..33+ bytes: the 32-byte stripe loop, 8-byte
rounds, the 4-byte step, byte tail) plus unicode and token-ish strings.
"""

from __future__ import annotations

import random
import string

from pyspark.sql import functions as F

from excelastic_spark.build import bucket_expr
from excelastic_spark.xxh import term_bucket, xxhash64_signed


def _cases() -> list[str]:
    rng = random.Random(7)
    cases = [
        "",
        "a",
        "import",
        "return",
        "a" * 3,
        "b" * 4,
        "c" * 7,
        "d" * 8,
        "e" * 9,
        "f" * 31,
        "g" * 32,
        "h" * 33,
        "i" * 64,
        "j" * 100,
        "naïve",
        "数据库",
        "λconfig",
        "term_with_underscores_and_1234567890",
    ]
    for n in range(0, 40):
        cases.append(
            "".join(rng.choices(string.ascii_lowercase + "_0123456789", k=n))
        )
    return cases


def test_xxhash64_matches_spark(spark):
    cases = _cases()
    rows = (
        spark.createDataFrame([(c,) for c in cases], ["s"])
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    got = {r["s"]: r["h"] for r in rows}
    for c in cases:
        assert xxhash64_signed(c.encode("utf-8")) == got[c], repr(c)


def test_term_bucket_matches_bucket_expr(spark):
    cases = [c for c in _cases() if c]
    for nb in (4, 8, 16, 32, 101):
        rows = (
            spark.createDataFrame([(c,) for c in cases], ["term"])
            .select("term", bucket_expr(F.col("term"), nb).alias("b"))
            .collect()
        )
        got = {r["term"]: r["b"] for r in rows}
        for c in cases:
            assert term_bucket(c, nb) == got[c], (repr(c), nb)
