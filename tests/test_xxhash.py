"""Parity of the pure-Python XXH64 with Spark's F.xxhash64 (seed 42)."""

from __future__ import annotations

import random
import string

import pytest
from pyspark.sql import functions as F

from sparkgrep.functions.xxhash import term_bucket, xxhash64


@pytest.mark.smoke
def test_xxhash64_matches_spark(spark):
    rng = random.Random(7)
    words = [""] + [
        "".join(rng.choices(string.ascii_lowercase + string.digits, k=rng.randint(1, 40)))
        for _ in range(200)
    ] + ["東京", "naïve", "a" * 100, "x" * 31, "y" * 32, "z" * 33]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for w in words:
        assert xxhash64(w) == got[w], w


def test_term_bucket_matches_spark_pmod(spark):
    words = ["table", "the", "hash", "東京", "zz9"]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {
        r["s"]: r["b"]
        for r in df.select("s", F.pmod(F.xxhash64("s"), F.lit(8)).alias("b")).collect()
    }
    for w in words:
        assert term_bucket(w, 8) == got[w]
