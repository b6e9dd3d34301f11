"""Iceberg-parity string-bounds truncation (round-7, VERDICT r6 item 4).

Long string stats must not bloat piece JSONs: persisted bounds are
prefix-truncated (lower) / prefix-incremented (upper) to ≤ 17 chars,
and the widened interval must stay CONSERVATIVE — a file holding a
matching row can never be pruned, for every pruning op.
"""

import datetime as dt
import json
import os
import random
import string

import pytest
from pyspark.sql import types as T

from gene_etl_spark.lake.table import (
    STRING_BOUND_MAX_LEN,
    LakeTable,
    _bounds_may_match,
    _truncate_string_bounds,
    _truncate_upper_string,
)


# ------------------------------------------------------------------ #
# unit: the truncation helpers
# ------------------------------------------------------------------ #
def test_short_strings_pass_through():
    lo, hi = _truncate_string_bounds("abc", "xyz")
    assert (lo, hi) == ("abc", "xyz")


def test_lower_is_prefix_upper_is_incremented():
    s_lo = "a" * 40
    s_hi = "m" * 40
    lo, hi = _truncate_string_bounds(s_lo, s_hi)
    assert lo == "a" * STRING_BOUND_MAX_LEN and lo <= s_lo
    assert hi == "m" * (STRING_BOUND_MAX_LEN - 1) + "n" and hi >= s_hi
    assert len(lo) <= STRING_BOUND_MAX_LEN and len(hi) <= STRING_BOUND_MAX_LEN


def test_upper_increment_carries_past_maximal_chars():
    # last prefix char is U+10FFFF: the increment must move left
    s = "ab" + chr(0x10FFFF) * (STRING_BOUND_MAX_LEN - 2) + "tail"
    up = _truncate_upper_string(s)
    assert up == "ac"
    assert up >= s[:STRING_BOUND_MAX_LEN] and up > s[: len(up)]


def test_upper_increment_skips_surrogate_gap():
    s = "x" + chr(0xD7FF) + "y" * 40  # 0xD7FF + 1 lands in the surrogate range
    up = _truncate_upper_string(s)
    assert up >= s[:STRING_BOUND_MAX_LEN]
    assert not any(0xD800 <= ord(c) <= 0xDFFF for c in up)


def test_pathological_all_max_falls_back_to_full_value():
    s = chr(0x10FFFF) * 20
    assert _truncate_upper_string(s) == s  # cannot widen upward — keep exact


def test_property_truncated_bounds_always_contain_originals():
    rng = random.Random(7)
    alphabet = string.ascii_letters + string.digits + "é漢\U0001F600"
    for _ in range(500):
        vals = [
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 60)))
            for _ in range(rng.randint(1, 8))
        ]
        lo, hi = min(vals), max(vals)
        t_lo, t_hi = _truncate_string_bounds(lo, hi)
        assert t_lo <= lo and t_hi >= hi
        # every pruning op stays conservative on the widened interval
        for v in vals:
            assert _bounds_may_match([t_lo, t_hi], "=", v)
            assert _bounds_may_match([t_lo, t_hi], "between", (v, v))


# ------------------------------------------------------------------ #
# e2e: persisted bounds through a real merge
# ------------------------------------------------------------------ #
SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _piece_bytes(path: str) -> int:
    total = 0
    pdir = os.path.join(path, "_manifests", "pieces")
    if os.path.isdir(pdir):
        for f in os.listdir(pdir):
            total += os.path.getsize(os.path.join(pdir, f))
    return total


@pytest.fixture()
def long_text_table(spark, tmp_path):
    tbl = LakeTable.create(
        spark, str(tmp_path / "lt"), SCHEMA, ["k"], 4, stats_cols=["body"]
    )
    # ~1000-char bodies with per-key distinct prefixes: within the
    # parquet writer's stats-retention range, far past our 16-char cap
    rows = [
        (f"k{i:03d}", f"prefix-{i:03d}-" + "x" * 1000, dt.datetime(2026, 1, 1), i + 1, "I")
        for i in range(32)
    ]
    upd = spark.createDataFrame(
        rows, "k string, body string, ts timestamp, _lsn long, _op string"
    )
    tbl.merge(upd, batch_id="seed", op_col="_op", lsn_col="_lsn",
              start_lsn=1, end_lsn=33)
    return tbl


def test_persisted_bounds_are_truncated_and_metadata_stays_small(long_text_table):
    tbl = long_text_table
    seen = 0
    # base file entries carry {col: bounds} under "cols"
    ents = [e for es in tbl.manifest["entries"].values() for e in es]
    for e in ents:
        b = e.get("cols", {}).get("body")
        if not b or b[0] is None:
            continue
        seen += 1
        assert len(b[0]) <= STRING_BOUND_MAX_LEN
        assert len(b[1]) <= STRING_BOUND_MAX_LEN
    assert seen > 0  # bounds actually persisted (and truncated)
    # metadata footprint: with 1KB bodies un-truncated bounds would put
    # ~2KB per file into the pieces; truncated they are tens of bytes
    assert _piece_bytes(tbl.path) < 20_000


def test_where_on_long_strings_stays_exact_and_still_prunes(long_text_table):
    tbl = long_text_table
    # straddle the truncation boundary on purpose: the predicate value
    # shares the persisted 16-char prefix with its file
    want = "prefix-007-" + "x" * 1000
    got = tbl.read(where=[("body", "=", want)]).collect()
    assert len(got) == 1 and got[0].k == "k007"
    rep = tbl.prune_report([("body", "=", want)])
    assert rep["skipped_files"] > 0  # distinct prefixes still refute
    # range straddling many prefixes: identical to a full-scan filter
    full = {
        r.k
        for r in tbl.read().where("body >= 'prefix-010' and body < 'prefix-020'").collect()
    }
    pruned = {
        r.k
        for r in tbl.read(
            where=[("body", ">=", "prefix-010"), ("body", "<", "prefix-020")]
        ).collect()
    }
    assert pruned == full and len(full) == 10


# two-tier test policy (round 7): this module is in the smoke tier
pytestmark = pytest.mark.smoke


def test_distributed_footer_stats_match_driver_loop(long_text_table):
    """VERDICT r6 item 4 (distributed half): the executor-side stats
    collection must produce exactly the driver loop's output."""
    tbl = long_text_table
    files = {b: list(fs) for b, fs in dict(tbl.manifest["files"]).items()}
    prev = LakeTable.DISTRIBUTED_STATS_MIN_FILES
    try:
        LakeTable.DISTRIBUTED_STATS_MIN_FILES = 10**9
        serial = tbl._file_entries(files)
        LakeTable.DISTRIBUTED_STATS_MIN_FILES = 1
        dist = tbl._file_entries(files)
    finally:
        LakeTable.DISTRIBUTED_STATS_MIN_FILES = prev
    assert serial == dist
    ents = [e for es in serial.values() for e in es]
    assert ents and all("key" in e for e in ents), "key bounds expected"
    assert all(len(e["cols"]["body"]) == 4 for e in ents)  # null counts too
