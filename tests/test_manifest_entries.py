"""The writer invariant of the manifest's file entries, as a test.

Every commit kind leaves a snapshot whose per-bucket entries are
complete and whose untouched buckets are the parent's pieces verbatim:

- every base entry has key and LSN bounds plus bounds for each declared
  ``stats_cols`` column (pruning depends on them),
- every delta entry has LSN bounds (the fast MoR resolve proof),
- every entry's file exists and each path appears once,
- each bucket the commit did not touch keeps the parent's piece pointer
  (``_emit_raw`` pointer-copies them; a writer that changed one without
  declaring it touched would lose the change).
"""

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from gene_etl_spark.lake import maintenance as mt
from gene_etl_spark.lake import wap
from gene_etl_spark.lake.table import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("score", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _upd(spark, rows):
    return spark.createDataFrame(
        [
            (lsn, op, conv, turn, f"t{lsn}", lsn * 10, dt.datetime(2024, 1, 1))
            for (lsn, op, conv, turn) in rows
        ],
        "lsn long, op string, conv_id string, turn_idx int, text string,"
        " score long, ts timestamp",
    )


def _merge(tbl, spark, rows, batch_id, **kw):
    lsns = [r[0] for r in rows]
    return tbl.merge(
        _upd(spark, rows), batch_id=batch_id,
        start_lsn=min(lsns) - 1, end_lsn=max(lsns), **kw,
    )


@pytest.fixture()
def tbl(spark, tmp_path):
    """8 buckets of CoW base files, then one MoR append on two convs."""
    t = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, ["conv_id", "turn_idx"], 8,
        stats_cols=["score", "text"],
    )
    _merge(t, spark, [(i + 1, "I", f"c{i}", 0) for i in range(24)], "seed")
    _merge(t, spark, [(100, "U", "c1", 0), (101, "D", "c2", 0)], "d1", mode="mor")
    return t


def _race(table, winner_fn):
    """``winner_fn`` commits just before ``table``'s next manifest link."""
    orig = table._write_manifest
    fired = []

    def racy(manifest, **kwargs):
        if not fired:
            fired.append(True)
            winner_fn()
        return orig(manifest, **kwargs)

    table._write_manifest = racy


def _commit(kind, tbl, spark):
    if kind == "cow":
        _merge(tbl, spark, [(200, "U", "c3", 0), (201, "I", "c1", 5)], "b")
    elif kind == "mor":
        _merge(tbl, spark, [(200, "U", "c3", 0)], "b", mode="mor")
    elif kind == "compact":
        mt.compact(tbl)
    elif kind == "rebucket":
        mt.rebucket(tbl, 4)
    elif kind == "rollback":
        v = tbl.version
        _merge(tbl, spark, [(200, "U", "c3", 0)], "bad")
        mt.rollback(tbl, v)
    elif kind == "mor_rebased":
        loser = LakeTable.load(spark, tbl.path)
        winner = LakeTable.load(spark, tbl.path)
        _race(loser, lambda: _merge(winner, spark, [(300, "U", "c1", 0)], "w", mode="mor"))
        res = _merge(loser, spark, [(301, "U", "c1", 1), (302, "U", "c5", 0)], "l", mode="mor")
        assert res.snapshot_version == tbl.version == 4  # rebased past the winner
    else:  # wap_publish
        _merge(tbl, spark, [(200, "U", "c3", 0)], "b", stage_id="s1")
        wap.publish_staged(tbl, "s1")
    tbl._manifest_cache = None


@pytest.mark.parametrize(
    "kind",
    ["cow", "mor", "compact", "rebucket", "rollback", "mor_rebased", "wap_publish"],
)
def test_every_commit_kind_keeps_entries_complete(spark, tbl, kind):
    _commit(kind, tbl, spark)
    m = tbl.manifest
    raw = tbl._read_manifest_raw(m["version"])
    parent_pieces = tbl._read_manifest_raw(m["parent"])["pieces"]

    paths = []
    for ents in m["entries"].values():
        for e in ents:
            paths.append(e["path"])
            assert os.path.exists(os.path.join(tbl.path, e["path"])), e
            assert len(e["lsn"]) == 2, e
            assert e["content"] in ("base", "delta"), e
            if e["content"] == "base":
                assert len(e["key"]) == 2, e
                assert set(e["cols"]) == {"score", "text"}, e
    assert paths and len(paths) == len(set(paths))

    summary = m["summary"]
    touched = {
        str(b)
        for b in summary.get("touched_buckets") or summary.get("compacted_buckets")
    }
    untouched = [b for b in parent_pieces if b not in touched]
    for b in untouched:
        assert raw["pieces"].get(b) == parent_pieces[b], b
    if kind != "rebucket":  # a rebucket touches every bucket
        assert untouched
