"""Piece-backed manifests: content-addressed per-bucket file entries.

The 10^10-file metadata property (round 5): a snapshot manifest is a
small pointer map; each bucket's file entries (path, base/delta, key,
LSN and column bounds) live in an immutable content-addressed piece
file shared structurally across snapshots. These tests pin:

- commit metadata write cost ∝ touched buckets (untouched pointers are
  byte-identical reuses of the parent's),
- snapshot manifests stay small and piece storage stays ~flat as the
  commit count grows,
- lazy reads: a point lookup / bucket-pruned read loads only its own
  bucket's piece,
- a manifest of any other format is refused on load,
- vacuum reclaims pieces no live snapshot references, and piece loss on
  an expired snapshot fails loudly rather than reading wrong data.
"""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import types as T

from gene_etl_spark.lake import maintenance as mt
from gene_etl_spark.lake.table import (
    MANIFEST_DIR,
    MANIFEST_FORMAT,
    PIECE_DIR,
    LakeTable,
)

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _upd(spark, rows, lsn0=1):
    return spark.createDataFrame(
        [
            (c, t, x, dt.datetime(2026, 1, 1), lsn0 + i, op)
            for i, (c, t, x, op) in enumerate(rows)
        ],
        "conv_id string, turn_idx int, text string, ts timestamp,"
        " _lsn long, _op string",
    )


def _merge(tbl, spark, rows, bid, lsn0, **kw):
    return tbl.merge(
        _upd(spark, rows, lsn0),
        batch_id=bid,
        op_col="_op",
        lsn_col="_lsn",
        start_lsn=lsn0,
        end_lsn=lsn0 + len(rows),
        **kw,
    )


def _raw(tbl, v):
    with open(os.path.join(tbl.path, MANIFEST_DIR, f"v{v}.json")) as f:
        return json.load(f)


@pytest.fixture()
def seeded(spark, tmp_path):
    """16-bucket table seeded so every bucket has content, then updated
    by a run of single-conversation (≈single-bucket) commits."""
    path = str(tmp_path / "lake")
    tbl = LakeTable.create(spark, path, SCHEMA, ["conv_id", "turn_idx"], 16)
    seed = [(f"conv-{i}", 0, f"seed-{i}", "I") for i in range(64)]
    _merge(tbl, spark, seed, "seed", 1)
    for k in range(6):
        _merge(
            tbl,
            spark,
            [(f"conv-{k}", 1, f"edit-{k}", "U")],
            f"b{k}",
            100 + 10 * k,
        )
    return tbl


def test_manifest_is_pointer_map_and_untouched_pointers_reused(seeded):
    raw_prev, raw_last = _raw(seeded, 6), _raw(seeded, 7)
    for raw in (raw_prev, raw_last):
        assert raw["format"] == MANIFEST_FORMAT and "pieces" in raw
        for field in ("entries", "files", "deltas"):
            assert field not in raw
    # the last commit touched one conversation -> at most a couple of
    # buckets changed pointers; everything else is a byte-identical reuse
    changed = [
        b for b, ent in raw_last["pieces"].items() if raw_prev["pieces"].get(b) != ent
    ]
    assert 1 <= len(changed) <= 2, changed
    # reuse means the piece FILE is shared, not rewritten: pointer paths
    # for unchanged buckets are identical strings
    same = set(map(tuple, raw_prev["pieces"].values())) & set(
        map(tuple, raw_last["pieces"].values())
    )
    assert len(same) >= len(raw_last["pieces"]) - 2


def test_commit_metadata_bytes_scale_with_touch_not_table(seeded):
    """A single-bucket commit's NEW metadata bytes (manifest + newly
    created pieces) stay far below the table's full piece inventory."""
    pdir = os.path.join(seeded.path, PIECE_DIR)
    before = {f: os.path.getsize(os.path.join(pdir, f)) for f in os.listdir(pdir)}
    _merge(seeded, seeded.spark, [("conv-3", 2, "tail", "U")], "tail", 999)
    after = {f: os.path.getsize(os.path.join(pdir, f)) for f in os.listdir(pdir)}
    new_bytes = sum(sz for f, sz in after.items() if f not in before)
    new_bytes += os.path.getsize(
        os.path.join(seeded.path, MANIFEST_DIR, f"v{seeded.version}.json")
    )
    total_piece_bytes = sum(after.values())
    assert new_bytes < total_piece_bytes / 3, (new_bytes, total_piece_bytes)


def test_point_lookup_loads_single_piece(spark, seeded):
    fresh = LakeTable.load(spark, seeded.path)
    fresh._piece_cache = {}
    got = fresh.lookup("conv-3").count()
    assert got >= 1
    assert len(fresh._piece_cache) == 1
    # bucket-pruned read: still just that bucket's piece
    from pyspark.sql import functions as F

    from gene_etl_spark.functions import bucket_of

    fresh2 = LakeTable.load(spark, seeded.path)
    fresh2._piece_cache = {}
    b = int(
        fresh2.spark.range(1)
        .select(bucket_of(F.lit("conv-3"), fresh2.num_buckets).alias("b"))
        .collect()[0]["b"]
    )
    fresh2.read(buckets=[b]).count()
    assert len(fresh2._piece_cache) == 1


def test_unknown_manifest_format_is_refused(spark, seeded):
    """A manifest of any other format (e.g. the old inline maps) fails
    loudly on load instead of reading as an empty or partial table."""
    m = seeded.manifest
    inline = {
        **{k: v for k, v in m.items() if k not in ("pieces", "format", "entries")},
        "files": {b: list(fs) for b, fs in m["files"].items()},
        "deltas": {},
        "version": m["version"] + 1,
        "parent": m["version"],
    }
    with open(
        os.path.join(seeded.path, MANIFEST_DIR, f"v{inline['version']}.json"), "w"
    ) as f:
        json.dump(inline, f)
    with pytest.raises(ValueError, match="format None"):
        LakeTable.load(spark, seeded.path)


def test_vacuum_reclaims_unreferenced_pieces(spark, seeded):
    # compaction + expiry strand the early snapshots' pieces
    mt.compact(seeded)
    mt.expire_snapshots(seeded, keep_last=1)
    res = mt.vacuum(seeded, older_than_sec=0)
    assert res["removed_pieces"] >= 1
    # live read still whole; every live pointer resolves
    fresh = LakeTable.load(spark, seeded.path)
    assert fresh.read().count() == 70  # 64 seeds + 6 turn-1 upserts
    for rel, _fl in (fresh.manifest.get("pieces") or {}).values():
        assert os.path.exists(os.path.join(fresh.path, rel))
    # an expired snapshot's file maps now fail loudly on access
    expired = [h for h in fresh.history() if h["version"] == 0]
    if expired and (expired[0].get("pieces") or {}):
        with pytest.raises((FileNotFoundError, KeyError)):
            dict(expired[0]["files"])


def test_mor_deltas_ride_pieces(spark, tmp_path):
    path = str(tmp_path / "mor")
    tbl = LakeTable.create(spark, path, SCHEMA, ["conv_id", "turn_idx"], 8)
    _merge(tbl, spark, [(f"c{i}", 0, f"s{i}", "I") for i in range(8)], "seed", 1)
    _merge(tbl, spark, [("c1", 0, "v2", "U")], "d1", 100, mode="mor")
    _merge(tbl, spark, [("c1", 0, None, "D")], "d2", 200, mode="mor")
    raw = _raw(tbl, 3)
    flagged = [b for b, ent in raw["pieces"].items() if "d" in ent[1]]
    assert len(flagged) == 1
    fresh = LakeTable.load(spark, tbl.path)
    assert fresh.delta_buckets() == [int(flagged[0])]
    rows = {r.conv_id for r in fresh.read().collect()}
    assert "c1" not in rows and len(rows) == 7
    # change feed across the piece-backed chain (pointer-diff fast path)
    from gene_etl_spark.lake.changes import read_changes

    ch = read_changes(fresh, 1).collect()
    assert {(r.conv_id, r._change_op) for r in ch} == {("c1", "U"), ("c1", "D")}
