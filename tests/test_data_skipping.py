"""read(where=...) data skipping on persisted per-file column bounds.

The 100 TB property: a selective predicate over a declared stats column
(or the bucketing key) never OPENS the non-matching base files — the
decision is made driver-side from manifest metadata (one piece load per
bucket), the Iceberg column-metrics analogue. These tests pin:

- bounds persisted by CoW merges skip refuted files; the residual
  filter keeps results identical to a full-scan filter,
- key-column pruning works with no declared stats_cols (entry key bounds),
- delta-carrying buckets are NEVER pruned (an unmatched base row may be
  updated INTO the predicate — resolution precedes filtering),
- compact / rebucket / rollback all carry or recompute column bounds,
- files without bounds for a referenced column are kept (conservative),
- where-vocabulary validation errors.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gene_etl_spark.lake import maintenance as mt
from gene_etl_spark.lake.table import LakeTable, _bounds_may_match

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("score", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

N_CONVS = 8
TURNS = 6


def _upd(spark, rows, lsn0=1):
    return spark.createDataFrame(
        [
            (c, t, s, dt.datetime(2026, 1, 1), lsn0 + i, op)
            for i, (c, t, s, op) in enumerate(rows)
        ],
        "conv_id string, turn_idx int, score long, ts timestamp,"
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


def _seed_rows():
    # conversation i carries scores in [1000*i, 1000*i + TURNS) — per-
    # bucket files get tight, mutually disjoint score bounds, so a
    # selective score predicate refutes every other conversation's file
    return [
        (f"conv-{i}", t, 1000 * i + t, "I")
        for i in range(N_CONVS)
        for t in range(TURNS)
    ]


@pytest.fixture()
def seeded(spark, tmp_path):
    path = str(tmp_path / "lake")
    tbl = LakeTable.create(
        spark, path, SCHEMA, ["conv_id", "turn_idx"], 64,
        stats_cols=["score"],
    )
    _merge(tbl, spark, _seed_rows(), "seed", 1)
    return tbl


def _base_entries(tbl):
    return [
        e
        for ents in tbl.manifest["entries"].values()
        for e in ents
        if e["content"] == "base"
    ]


def _expected(tbl, where_col):
    return sorted(
        tbl.read().where(where_col).select("conv_id", "turn_idx", "score")
        .collect()
    )


def test_stats_cols_persisted_and_pruning_is_lossless(seeded):
    assert seeded.stats_cols == ["score"]
    # every base file carries score bounds
    all_files = [r for fs in seeded.manifest["files"].values() for r in fs]
    ents = _base_entries(seeded)
    assert all_files and sorted(e["path"] for e in ents) == sorted(all_files)
    assert all("score" in e.get("cols", {}) for e in ents)

    where = [("score", "between", (2000, 2005))]
    rep = seeded.prune_report(where)
    assert rep["unprunable_dirty_files"] == 0
    assert rep["kept_files"] == 1  # only conv-2's file can match
    assert rep["skipped_files"] == len(all_files) - 1

    got = sorted(
        seeded.read(where=where).select("conv_id", "turn_idx", "score")
        .collect()
    )
    assert got == _expected(seeded, F.col("score").between(2000, 2005))
    assert len(got) == TURNS and {r.conv_id for r in got} == {"conv-2"}


def test_every_op_in_the_where_vocabulary(seeded):
    cases = [
        ([("score", "=", 3002)], F.col("score") == 3002),
        ([("score", "<", 1001)], F.col("score") < 1001),
        ([("score", "<=", 1001)], F.col("score") <= 1001),
        ([("score", ">", 6004)], F.col("score") > 6004),
        ([("score", ">=", 6004)], F.col("score") >= 6004),
        ([("score", "in", [0, 4003, 99999])], F.col("score").isin(0, 4003, 99999)),
        # conjunction straddling two files -> both kept, others skipped
        (
            [("score", ">=", 1000), ("score", "<", 2002)],
            (F.col("score") >= 1000) & (F.col("score") < 2002),
        ),
    ]
    n_files = sum(len(fs) for fs in seeded.manifest["files"].values())
    for where, col in cases:
        rep = seeded.prune_report(where)
        assert rep["skipped_files"] > 0, where
        assert rep["kept_files"] + rep["skipped_files"] == n_files
        got = sorted(
            seeded.read(where=where)
            .select("conv_id", "turn_idx", "score").collect()
        )
        assert got == _expected(seeded, col), where


def test_predicate_refuting_everything_reads_zero_files(seeded):
    where = [("score", ">", 10**9)]
    rep = seeded.prune_report(where)
    assert rep["kept_files"] == 0 and rep["skipped_files"] > 0
    assert seeded.read(where=where).count() == 0


def test_key_column_pruning_needs_no_stats_cols(spark, tmp_path):
    tbl = LakeTable.create(
        spark, str(tmp_path / "lake2"), SCHEMA, ["conv_id", "turn_idx"], 64
    )
    _merge(tbl, spark, _seed_rows(), "seed", 1)
    assert tbl.stats_cols == []
    where = [("conv_id", "=", "conv-3")]
    rep = tbl.prune_report(where)
    assert rep["kept_files"] == 1 and rep["skipped_files"] > 0
    got = sorted(tbl.read(where=where).select("conv_id", "turn_idx").collect())
    assert len(got) == TURNS and all(r.conv_id == "conv-3" for r in got)
    # a non-key, non-stats column: no bounds anywhere -> keep all,
    # residual filter still yields the right rows
    rep2 = tbl.prune_report([("score", "=", 3002)])
    assert rep2["skipped_files"] == 0
    assert tbl.read(where=[("score", "=", 3002)]).count() == 1


def test_mor_dirty_bucket_is_never_pruned(seeded, spark):
    # move conv-5 turn 0 INTO conv-2's score range via a MoR delta: the
    # base file's bounds say [5000, 5005] and would refute the
    # predicate, but the bucket now carries a delta so it must be read
    # and resolved before filtering
    _merge(
        tbl := seeded, spark, [("conv-5", 0, 2001, "U")], "drift", 100,
        mode="mor",
    )
    where = [("score", "between", (2000, 2005))]
    rep = tbl.prune_report(where)
    assert rep["unprunable_dirty_files"] >= 1
    got = sorted(
        tbl.read(where=where).select("conv_id", "turn_idx", "score").collect()
    )
    assert ("conv-5", 0, 2001) in [(r.conv_id, r.turn_idx, r.score) for r in got]
    assert len(got) == TURNS + 1
    # and the updated row must NOT still match its old range
    assert tbl.read(where=[("score", "between", (5000, 5000))]).count() == 0


def test_compact_and_rebucket_recompute_col_stats(seeded, spark):
    _merge(seeded, spark, [("conv-1", 99, 1099, "I")], "extra", 200)
    mt.compact(seeded, max_files_per_bucket=1)
    where = [("score", "between", (2000, 2005))]
    rep = seeded.prune_report(where)
    assert rep["kept_files"] == 1 and rep["skipped_files"] > 0
    assert seeded.read(where=where).count() == TURNS

    mt.rebucket(seeded, 16)
    rep = seeded.prune_report(where)
    assert rep["skipped_files"] > 0
    assert seeded.read(where=where).count() == TURNS


def test_sorted_sized_compaction_makes_stats_disjoint(spark, tmp_path):
    """Composition with `compact(sort_cols=, target_file_size_bytes=)`:
    clustering by the stats column gives per-file DISJOINT score bounds,
    so a point predicate prunes to exactly one file even when a bucket
    holds many — the sort-then-skip layout a 100 TB table would run."""
    tbl = LakeTable.create(
        spark, str(tmp_path / "lakeZ"), SCHEMA, ["conv_id", "turn_idx"], 1,
        stats_cols=["score"],
    )
    rows = [(f"conv-{i}", t, 100 * i + t, "I") for i in range(32) for t in range(4)]
    _merge(tbl, spark, rows, "seed", 1)
    mt.compact(tbl, target_file_size_bytes=4096, sort_cols=["score"])
    n_files = sum(len(fs) for fs in tbl.manifest["files"].values())
    assert n_files > 1  # the sized rewrite actually split the bucket
    bounds = sorted(tuple(e["cols"]["score"][:2]) for e in _base_entries(tbl))
    assert len(bounds) == n_files
    for (_, hi), (lo2, _) in zip(bounds, bounds[1:]):
        assert hi < lo2  # disjoint score ranges across files
    rep = tbl.prune_report([("score", "=", 1702)])
    assert rep["kept_files"] == 1 and rep["skipped_files"] == n_files - 1
    got = tbl.read(where=[("score", "=", 1702)]).collect()
    assert [(r.conv_id, r.turn_idx) for r in got] == [("conv-17", 2)]


def test_rollback_carries_col_stats(seeded, spark):
    v_good = seeded.version
    # widen conv-0's bounds into conv-2's range, then roll back
    _merge(seeded, spark, [("conv-0", 0, 2003, "U")], "bad", 300)
    where = [("score", "between", (2000, 2005))]
    assert seeded.prune_report(where)["kept_files"] == 2
    mt.rollback(seeded, v_good)
    rep = seeded.prune_report(where)
    assert rep["kept_files"] == 1 and rep["skipped_files"] > 0
    got = seeded.read(where=where)
    assert got.count() == TURNS
    assert got.where(F.col("conv_id") == "conv-0").count() == 0


def test_time_travel_reads_skip_with_historical_stats(seeded, spark):
    v1 = seeded.version
    # move conv-2 turn 0 out of its old range; the historical manifest's
    # column bounds still prune for the v1 read
    _merge(seeded, spark, [("conv-2", 0, 999_000, "U")], "move", 400)
    where = [("score", "between", (2000, 2005))]
    live = seeded.read(where=where).count()
    past = mt.read_at_version(seeded, v1, where=where).count()
    assert (live, past) == (TURNS - 1, TURNS)
    rep_past = seeded.prune_report(
        where, manifest=seeded._read_manifest(v1)
    )
    assert rep_past["kept_files"] == 1 and rep_past["skipped_files"] > 0


def test_null_count_stats_prune_null_predicates(spark, tmp_path):
    # one conv per bucket-ish: NULL-score convs produce all-null files,
    # valued convs zero-null files; mixed files (hash collisions) stay
    # unskippable in BOTH directions — the asserts derive expectations
    # from the persisted counts, so they hold under any bucket layout
    tbl = LakeTable.create(
        spark, str(tmp_path / "lake"), SCHEMA, ["conv_id", "turn_idx"], 16,
        stats_cols=["score"],
    )
    rows = [(f"null-{i}", t, None, "I") for i in range(3) for t in range(4)]
    rows += [(f"val-{i}", t, 100 * i + t, "I") for i in range(3) for t in range(4)]
    _merge(tbl, spark, rows, "seed", 1)

    ents = {e["path"]: e["cols"]["score"] for e in _base_entries(tbl)}
    assert sorted(ents) == sorted(r for fs in tbl.manifest["files"].values() for r in fs)
    assert all(len(e) == 4 for e in ents.values())  # nulls from the same pass
    all_null = {r for r, e in ents.items() if e[2] == e[3]}
    no_null = {r for r, e in ents.items() if e[2] == 0}
    assert all_null and no_null  # the layout produced both file classes
    assert all(e[:2] == [None, None] for r, e in ents.items() if r in all_null)

    rep = tbl.prune_report([("score", "is_null", None)])
    assert rep["skipped_files"] == len(no_null)
    assert tbl.read(where=[("score", "is_null", None)]).count() == 12

    rep = tbl.prune_report([("score", "not_null", None)])
    assert rep["skipped_files"] == len(all_null)
    assert tbl.read(where=[("score", "not_null", None)]).count() == 12

    # comparison predicates refute all-null files even without min/max
    rep = tbl.prune_report([("score", ">=", 0)])
    assert rep["skipped_files"] >= len(all_null)
    assert tbl.read(where=[("score", ">=", 0)]).count() == 12


def test_bounds_may_match_null_vocabulary():
    from gene_etl_spark.lake.table import _bounds_may_match as m

    assert m([1, 5], "is_null", None)  # legacy entry: no null info -> keep
    assert m([1, 5], "not_null", None)
    assert not m([1, 5, 0, 10], "is_null", None)  # proven zero nulls -> skip
    assert m([1, 5, 2, 10], "is_null", None)
    assert m([1, 5, 2, 10], "not_null", None)
    assert not m([None, None, 10, 10], "not_null", None)  # all-null -> skip
    assert not m([None, None, 10, 10], ">=", 3)  # null-rejecting op, all null
    assert m([None, None, 4, 10], ">=", 3)  # bounds unknown, rows exist -> keep
    assert m([1, 5, 10, 10], "is_null", None)


def test_where_validation_errors(seeded):
    for bad in (
        [("score", "!=", 1)],
        [("score", "in", 5)],
        [("score", "between", (1,))],
        [("score", "=")],
        [("score", "is_null", 5)],
        [("score", "not_null", 0)],
    ):
        with pytest.raises(ValueError):
            seeded.prune_report(bad)


def test_runner_declares_stats_cols_end_to_end(spark, tmp_path):
    import os

    from gene_etl_spark.config import IngestConfig
    from gene_etl_spark.runner import CdcIngestRunner
    from gene_etl_spark.sources.simulate import generate_change_stream

    base = str(tmp_path / "e2e")
    generate_change_stream(
        os.path.join(base, "events"), n_convs=20, max_turns=10,
        n_events=1200, seed=11, n_tranches=2,
    )
    cfg = IngestConfig(
        lake_path=os.path.join(base, "lake"),
        events_path=os.path.join(base, "events"),
        ledger_path=os.path.join(base, "ledger"),
        metrics_path=os.path.join(base, "metrics"),
        validation_path=os.path.join(base, "validation"),
        num_buckets=8, slice_lsn_width=600,
        stats_cols=("turn_idx",),
    )
    runner = CdcIngestRunner(spark, cfg)
    runner.run()
    tbl = runner.table
    assert tbl.stats_cols == ["turn_idx"]
    # bounds landed for the ingested files; an out-of-range predicate
    # reads zero files, an in-range one matches the full-scan filter
    rep = tbl.prune_report([("turn_idx", ">", 10**6)])
    assert rep["kept_files"] == 0 and rep["skipped_files"] > 0
    where = [("turn_idx", "between", (0, 1))]
    got = tbl.read(where=where).count()
    assert got == tbl.read().where("turn_idx between 0 and 1").count() > 0


def test_bounds_may_match_is_conservative_on_type_surprises():
    assert _bounds_may_match([1, 5], "=", "not-an-int") is True
    assert _bounds_may_match([1, 5], "=", 3) is True
    assert _bounds_may_match([1, 5], "=", 9) is False
    assert _bounds_may_match([1, 5], "in", [0, 6]) is False
    assert _bounds_may_match([1, 5], "between", (5, 9)) is True
    assert _bounds_may_match([1, 5], "between", (6, 9)) is False


# two-tier test policy (round 7): this module is in the smoke tier
pytestmark = pytest.mark.smoke
