"""Tombstone journal: late slices can never resurrect deleted keys.

The hole (found as a 1-in-3 flake in the streaming retention test):
Spark's FileStreamSource orders files by mtime, and an mtime tie/
inversion delivered tranche N+1 (carrying a delete) BEFORE tranche N
(carrying an earlier update of the same key). In CoW the delete leaves
no row for the merge's (lsn, ts) guard to compare against, so the late
update re-inserted the key. The fix is the Kafka delete.retention.ms
analogue: every merge journals its delete events (key, _lsn, _ts) under
`_tombstones/`, and incoming rows lose to journal entries with strictly
higher (lsn, ts). These tests pin:

- CoW and post-compaction MoR late slices stay deleted; genuinely newer
  upserts still resurrect,
- guard strictness matches the row-level LWW guard (equal (lsn, ts) =
  same event = no-op),
- journal self-pruning for in-order slices (min_lsn filter),
- prune_tombstones folds dirs / applies the retention window,
- rollback discards rolled-back versions' journal entries,
- the original streaming bug, forced DETERMINISTICALLY via inverted
  tranche mtimes, is dead.
"""

import datetime as dt
import os

import pytest
from pyspark.sql import types as T

from gene_etl_spark.lake import maintenance as mt
from gene_etl_spark.lake.table import TOMBSTONE_DIR, LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _upd(spark, rows):
    """rows: (conv_id, turn_idx, text, lsn, op[, ts_day])"""
    return spark.createDataFrame(
        [
            (c, t, x, dt.datetime(2026, 1, r[5] if len(r) > 5 else 1), lsn, op)
            for r in rows
            for (c, t, x, lsn, op) in [r[:5]]
        ],
        "conv_id string, turn_idx int, text string, ts timestamp,"
        " _lsn long, _op string",
    )


def _merge(tbl, spark, rows, bid, **kw):
    lsns = [r[3] for r in rows]
    return tbl.merge(
        _upd(spark, rows),
        batch_id=bid,
        op_col="_op",
        lsn_col="_lsn",
        start_lsn=min(lsns) - 1,
        end_lsn=max(lsns),
        **kw,
    )


def _keys(tbl):
    return {
        (r.conv_id, r.turn_idx)
        for r in tbl.read().select("conv_id", "turn_idx").collect()
    }


@pytest.fixture()
def cow(spark, tmp_path):
    tbl = LakeTable.create(
        spark, str(tmp_path / "cow"), SCHEMA, ["conv_id", "turn_idx"], 8
    )
    _merge(tbl, spark, [(f"c{i}", 0, f"s{i}", 1 + i, "I") for i in range(8)], "seed")
    return tbl


def test_cow_late_slice_cannot_resurrect(cow, spark):
    _merge(cow, spark, [("c3", 0, None, 900, "D")], "del")
    assert ("c3", 0) not in _keys(cow)
    assert cow.tombstone_dirs()  # the delete was journaled

    # late slice: an update of c3 below the delete's LSN — stays deleted
    _merge(cow, spark, [("c3", 0, "late", 775, "U")], "late")
    assert ("c3", 0) not in _keys(cow)

    # a genuinely newer upsert resurrects, as it must
    _merge(cow, spark, [("c3", 0, "new", 950, "U")], "new")
    assert ("c3", 0) in _keys(cow)
    got = cow.read().where("conv_id = 'c3'").collect()
    assert len(got) == 1 and got[0].text == "new"


def test_guard_strictness_matches_row_lww(cow, spark):
    _merge(cow, spark, [("c5", 0, None, 900, "D", 3)], "del")
    # exact replay of the delete event inside a different batch: equal
    # (lsn, ts) = same event = no-op, never a crash or a rewrite
    _merge(cow, spark, [("c5", 0, None, 900, "D", 3)], "replay")
    assert ("c5", 0) not in _keys(cow)
    # same LSN, strictly later ts: outranks the tombstone (mirror of the
    # row-level u_wins tie-break)
    _merge(cow, spark, [("c5", 0, "tiewin", 900, "U", 4)], "tiewin")
    assert ("c5", 0) in _keys(cow)
    # same LSN, ts equal to the tombstone's: loses
    _merge(cow, spark, [("c6", 0, None, 910, "D", 3)], "del6")
    _merge(cow, spark, [("c6", 0, "tielose", 910, "U", 3)], "tielose")
    assert ("c6", 0) not in _keys(cow)


def test_mor_post_compaction_late_slice(spark, tmp_path):
    tbl = LakeTable.create(
        spark, str(tmp_path / "mor"), SCHEMA, ["conv_id", "turn_idx"], 8
    )
    _merge(tbl, spark, [(f"c{i}", 0, f"s{i}", 1 + i, "I") for i in range(8)], "seed")
    _merge(tbl, spark, [("c2", 0, None, 900, "D")], "del", mode="mor")
    # compaction folds the delta tombstone away — the journal remembers
    mt.compact(tbl, max_files_per_bucket=10**9)
    assert not tbl.delta_buckets()
    _merge(tbl, spark, [("c2", 0, "late", 700, "U")], "late", mode="mor")
    assert ("c2", 0) not in _keys(tbl)
    _merge(tbl, spark, [("c2", 0, "new", 950, "U")], "new", mode="mor")
    assert ("c2", 0) in _keys(tbl)


def test_in_order_slices_prune_the_journal_read(cow, spark):
    _merge(cow, spark, [("c1", 0, None, 500, "D")], "del")
    # an in-order slice can only be outranked by tombstones above its
    # start LSN; the cached footer bounds prove there are none, so the
    # guard builds NO plan at all (round 7: previously parquet pushdown
    # pruned every row but the merge still paid a scan+agg+broadcast
    # job per batch)
    assert cow.read_tombstones(min_lsn=500) is None
    assert cow.read_tombstones(min_lsn=499).count() == 1


def test_prune_folds_dirs_and_applies_window(cow, spark):
    for i, lsn in enumerate((300, 400, 500, 600)):
        _merge(cow, spark, [(f"c{i}", 0, None, lsn, "D")], f"d{i}")
    assert len(cow.tombstone_dirs()) == 4
    res = mt.prune_tombstones(cow, max_dirs=2)
    assert res["pruned"] and res["kept_tombstones"] == 4
    assert len(cow.tombstone_dirs()) == 1
    # guard still active after the fold
    _merge(cow, spark, [("c2", 0, "late", 450, "U")], "late")
    assert ("c2", 0) not in _keys(cow)

    # retention window: tombstones at or below before_lsn are dropped —
    # slices later than the window lose resurrection-safety (the
    # documented Kafka delete.retention.ms contract)
    res = mt.prune_tombstones(cow, before_lsn=600)
    assert res["kept_tombstones"] == 0 and not cow.tombstone_dirs()
    _merge(cow, spark, [("c3", 0, "beyond", 450, "U")], "beyond")
    assert ("c3", 0) in _keys(cow)


def test_rollback_discards_rolled_back_tombstones(cow, spark):
    v_good = cow.version
    _merge(cow, spark, [("c4", 0, None, 900, "D")], "bad-del")
    assert cow.tombstone_dirs()
    mt.rollback(cow, v_good)
    assert not cow.tombstone_dirs()
    assert ("c4", 0) in _keys(cow)
    # the rolled-back delete no longer suppresses lower-LSN upserts
    _merge(cow, spark, [("c4", 0, "redo", 800, "U")], "redo")
    got = cow.read().where("conv_id = 'c4'").collect()
    assert len(got) == 1 and got[0].text == "redo"


def test_stream_out_of_order_file_delivery(spark, tmp_path):
    """The original flake, forced deterministically: tranche-0007 gets a
    LATER mtime than tranche-0008, so the file source delivers the
    delete-carrying tranche first and the update-carrying one late."""
    from gene_etl_spark.config import IngestConfig
    from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
    from gene_etl_spark.sources.simulate import generate_change_stream
    from gene_etl_spark.streaming.stream import ingest_stream

    wd = str(tmp_path)
    events = os.path.join(wd, "events")
    # seed 13: (conv_000006, 8) has U@775 in tranche-0007, D@900 in
    # tranche-0008 — the pair the flake resurrected
    generate_change_stream(
        events, n_convs=20, max_turns=10, n_events=1500, seed=13, n_tranches=15
    )
    now = 1_800_000_000
    for i in range(15):
        os.utime(os.path.join(events, f"tranche-{i:04d}.parquet"), (now + i, now + i))
    t7, t8 = (os.path.join(events, f"tranche-{i:04d}.parquet") for i in (7, 8))
    os.utime(t8, (now + 7, now + 7))
    os.utime(t7, (now + 8, now + 8))  # 0008 now sorts before 0007
    cfg = IngestConfig(
        lake_path=os.path.join(wd, "lake"),
        events_path=events,
        ledger_path=os.path.join(wd, "ledger"),
        metrics_path=os.path.join(wd, "metrics"),
        validation_path=os.path.join(wd, "validation"),
        num_buckets=4,
    )
    out = ingest_stream(
        spark, cfg, os.path.join(wd, "ckpt"), max_files_per_trigger=1
    )
    assert out["epochs"] == 15
    # prove the forcing worked: some later epoch committed an EARLIER
    # LSN slice (otherwise this test pins nothing)
    from gene_etl_spark.ledger import Ledger

    entries = Ledger(cfg.ledger_path).committed()
    by_epoch = sorted((e["stream_epoch"], e["start_lsn"]) for e in entries)
    starts = [s for _, s in by_epoch]
    assert starts != sorted(starts), "mtime inversion did not reorder delivery"
    table = LakeTable.load(spark, cfg.lake_path)
    assert_replay_equal(table.read().toPandas(), materialize_expected(events))
    assert os.path.isdir(os.path.join(cfg.lake_path, TOMBSTONE_DIR))


def test_large_journal_guard_shuffles_never_force_broadcasts(cow, spark, monkeypatch):
    """Round-7 scale posture: past the size cutoff the guard must not
    force-broadcast the journal aggregate (an unboundedly grown journal
    would OOM the hot apply path) — and must still guard identically."""
    from gene_etl_spark.lake import merge as mg

    _merge(cow, spark, [("c9", 0, None, 800, "D")], "del9")
    monkeypatch.setattr(mg, "TOMBSTONE_BROADCAST_MAX_BYTES", 0)

    # plan pin: with the auto-broadcast threshold off, the only way the
    # journal aggregate could be broadcast is the (removed) forced hint
    upd = _upd(spark, [("c9", 0, "late", 700, "U"), ("cX", 0, "new", 701, "I")])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with pytest.warns(UserWarning, match="broadcast cutoff"):
            guarded = mg._tombstone_guard(
                cow, upd, ["conv_id", "turn_idx"], "_op", "_lsn", "ts", 699
            )
        plan = guarded._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        # guard-result equality with the broadcast path: the late c9
        # update is dropped, the unrelated insert survives
        got = {(r.conv_id, r.turn_idx) for r in guarded.collect()}
        assert got == {("cX", 0)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # end-to-end through merge: still guarded on the shuffle path
    with pytest.warns(UserWarning, match="broadcast cutoff"):
        _merge(cow, spark, [("c9", 0, "late2", 750, "U")], "late2")
    assert ("c9", 0) not in _keys(cow)


# two-tier test policy (round 7): this module is in the smoke tier
pytestmark = pytest.mark.smoke
