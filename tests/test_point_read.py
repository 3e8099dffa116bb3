"""Point lookups route keys to buckets on the driver.

``read_keys``/``files_for_keys`` compute each key's bucket with a Python port
of Spark's XXH64 (``_key_bucket``) instead of a Spark job. These tests pin

- bit-exact parity of the port with the writers' ``_bucket_col`` over every
  XXH64 tail branch, non-ASCII keys and several bucket counts;
- that a lookup starts no Spark job before its caller acts on the result,
  and still returns exactly the resolved live rows.
"""

import datetime as dt
import random
import time

import pandas as pd
from pyspark.sql import functions as F

from changedatacapture_spark.sinks.lake import (
    LakeTable,
    _bucket_col,
    _key_bucket,
    _xxhash64,
)

_N_BUCKETS = (1, 4, 16, 64, 1000)

# printable ranges without surrogates: ASCII, Latin-1, Cyrillic, CJK, emoji
_CODEPOINT_RANGES = [
    (0x20, 0x7E),
    (0xA0, 0xFF),
    (0x400, 0x4FF),
    (0x4E00, 0x9FFF),
    (0x1F300, 0x1F64F),
]


def _parity_keys() -> list[str]:
    rng = random.Random(20240101)
    keys = []
    # every UTF-8 byte length 0..64 (all XXH64 stripe/8/4/1-byte tails), ASCII
    for n in range(65):
        keys += ["".join(chr(rng.randint(0x21, 0x7E)) for _ in range(n)) for _ in range(40)]
    # mixed-width strings: 1- to 4-byte UTF-8 characters, up to ~160 bytes
    for _ in range(5000):
        chars = []
        for _ in range(rng.randint(1, 40)):
            lo, hi = rng.choice(_CODEPOINT_RANGES)
            chars.append(chr(rng.randint(lo, hi)))
        keys.append("".join(chars))
    # bench-shaped urls
    keys += [f"https://site-{i % 97}.example.com/page/{i:06d}" for i in range(2500)]
    keys += ["", "é", "😀", "日本語", "a" * 31, "a" * 32, "a" * 33]
    return keys


def test_driver_bucket_routing_matches_spark(spark):
    keys = _parity_keys()
    assert len(keys) >= 10_000
    assert {len(k.encode("utf-8")) for k in keys} >= set(range(65))
    # an Arrow-backed frame: ~10k rows without a Python-worker job
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(keys)), "url": keys}), "i int, url string"
    )
    rows = df.select(
        "i",
        F.xxhash64("url").alias("h"),
        *[_bucket_col("url", n).alias(f"b{n}") for n in _N_BUCKETS],
    ).collect()
    assert len(rows) == len(keys)
    bad = []
    for r in rows:
        k = keys[r["i"]]
        if _xxhash64(k.encode("utf-8")) != r["h"]:
            bad.append((k, "hash"))
        bad += [(k, n) for n in _N_BUCKETS if _key_bucket(k, n) != r[f"b{n}"]]
    assert not bad, f"{len(bad)} mismatches, first: {bad[:5]}"


_SCHEMA = "url string, warc_ts timestamp, pos long, op string, is_deleted int, text string"


def _multi_delta_lake(spark, path):
    """Five epochs on 4 buckets: three insert epochs, one update epoch and
    one delete epoch, so every bucket stacks several delta files."""
    t = LakeTable(path, key="url", n_buckets=4)
    ts = dt.datetime(2024, 1, 1)
    for e in range(3):
        rows = [
            (f"u{e}_{i}", ts + dt.timedelta(seconds=e), e * 100 + i, "c", 0, f"v{e}_{i}")
            for i in range(12)
        ]
        t.merge_lww(spark, spark.createDataFrame(rows, _SCHEMA), epoch_id=e)
    upd = [(f"u0_{i}", ts + dt.timedelta(seconds=50), 500 + i, "u", 0, f"new{i}") for i in range(4)]
    t.merge_lww(spark, spark.createDataFrame(upd, _SCHEMA), epoch_id=3)
    dels = [(f"u1_{i}", ts + dt.timedelta(seconds=60), 600 + i, "d", 1, None) for i in range(4)]
    t.merge_lww(spark, spark.createDataFrame(dels, _SCHEMA), epoch_id=4)
    return t


def _jobs_in_group(sc, group: str) -> list[int]:
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_point_read_starts_no_job_until_collect(spark, tmp_path):
    t = _multi_delta_lake(spark, str(tmp_path / "pages"))
    assert max(len(v) for v in t.bucket_files().values()) >= 3
    sc = spark.sparkContext
    probe = ["u0_1", "u0_9", "u1_2", "u1_7", "u2_5", "never-written"]
    lookup_group = f"point-read-lookup-{time.time_ns()}"
    collect_group = f"point-read-collect-{time.time_ns()}"
    try:
        sc.setJobGroup(lookup_group, "read_keys and files_for_keys")
        files = t.files_for_keys(spark, probe)
        single = t.read_keys(spark, ["u2_5"])
        df = t.read_keys(spark, probe)
        sc.setJobGroup(collect_group, "collect the lookups")
        got = {r["url"]: r["text"] for r in df.collect()}
        got_single = [(r["url"], r["text"]) for r in single.collect()]
        # the status store is fed asynchronously but in order: once the
        # collect's jobs are visible, any lookup job would be too
        deadline = time.monotonic() + 30
        while not _jobs_in_group(sc, collect_group) and time.monotonic() < deadline:
            time.sleep(0.05)
        assert _jobs_in_group(sc, collect_group), "status tracker saw no collect job"
        assert _jobs_in_group(sc, lookup_group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    assert got == {"u0_1": "new1", "u0_9": "v0_9", "u1_7": "v1_7", "u2_5": "v2_5"}
    assert got_single == [("u2_5", "v2_5")]
    # the same rows the full resolved read serves for those urls
    full = {
        r["url"]: r["text"]
        for r in t.read(spark).where(F.col("url").isin(probe)).collect()
    }
    assert got == full
    # the lookup scans a strict subset of the lake's files
    assert 0 < len(files) < sum(len(v) for v in t.bucket_files().values())
