"""Incremental change reads (CDF) + point lookup: the lake consumed AS
a change stream, and bucket-pruned point queries."""

import os

from pyspark.sql import functions as F

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.lake.changes import CHANGE_OP_COL, VERSION_COL, read_changes
from gene_etl_spark.lake.maintenance import compact
from gene_etl_spark.lake.table import LakeTable
from gene_etl_spark.oracle import materialize_expected
from gene_etl_spark.runner import CdcIngestRunner
from gene_etl_spark.sources.simulate import generate_change_stream


def _cfg(base, **kw):
    d = dict(
        lake_path=os.path.join(base, "lake"),
        events_path=os.path.join(base, "events"),
        ledger_path=os.path.join(base, "ledger"),
        metrics_path=os.path.join(base, "metrics"),
        validation_path=os.path.join(base, "validation"),
        num_buckets=8,
        slice_lsn_width=750,
    )
    d.update(kw)
    return IngestConfig(**d)


def _replay_changes_to_state(changes_rows):
    """Apply the change feed in (version, lsn) order; the result must be
    the final table state — the consumer contract."""
    state = {}
    for r in sorted(changes_rows, key=lambda r: (r[VERSION_COL], r["_lsn"] or 0)):
        key = (r.conv_id, r.turn_idx)
        if r[CHANGE_OP_COL] == "D":
            state.pop(key, None)
        else:
            state[key] = r.text
    return state


def _expected_state(events_path):
    exp = materialize_expected(events_path)
    return {
        (r.conv_id, r.turn_idx): r.text for r in exp.itertuples(index=False)
    }


def _ingest(spark, workdir, mode):
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=30, max_turns=15,
        n_events=3000, seed=13, n_tranches=4,
    )
    cfg = _cfg(workdir, merge_mode=mode)
    runner = CdcIngestRunner(spark, cfg)
    runner.run()
    return runner, cfg


def test_cow_change_feed_replays_to_final_state(spark, workdir):
    runner, cfg = _ingest(spark, workdir, "cow")
    table = runner.table
    ch = read_changes(table, 0)
    rows = ch.collect()
    assert rows
    # every version in (0, v] contributes, each key at most once/version
    per_version_keys = {}
    for r in rows:
        k = (r[VERSION_COL], r.conv_id, r.turn_idx)
        assert k not in per_version_keys, "key emitted twice in one commit"
        per_version_keys[k] = True
    assert _replay_changes_to_state(rows) == _expected_state(cfg.events_path)
    # incremental consumption composes: (0,2] + (2,v] == (0,v]
    first = read_changes(table, 0, 2).collect()
    rest = read_changes(table, 2).collect()
    assert _replay_changes_to_state(first + rest) == _expected_state(
        cfg.events_path
    )


def test_mor_change_feed_is_the_deltas_and_replays(spark, workdir):
    runner, cfg = _ingest(spark, workdir, "mor")
    table = runner.table
    ch = read_changes(table, 0)
    rows = ch.collect()
    # MoR: the feed is exactly the deduped applied slices (one row per
    # key per batch), deletes included as 'D'
    assert any(r[CHANGE_OP_COL] == "D" for r in rows)
    assert _replay_changes_to_state(rows) == _expected_state(cfg.events_path)

    # compaction folds files but changes no logical rows: empty feed
    v = table.version
    compact(table, max_files_per_bucket=10**9)
    assert read_changes(table, v).count() == 0
    # and replaying across the compaction commit still works
    assert _replay_changes_to_state(
        read_changes(table, 0).collect()
    ) == _expected_state(cfg.events_path)


def test_point_lookup_prunes_to_one_bucket(spark, workdir):
    runner, cfg = _ingest(spark, workdir, "cow")
    table = runner.table
    some_key = table.read().select("conv_id").first()["conv_id"]

    got = table.lookup(some_key)
    expected = table.read().where(F.col("conv_id") == some_key)
    g = {(r.conv_id, r.turn_idx): r.text for r in got.collect()}
    e = {(r.conv_id, r.turn_idx): r.text for r in expected.collect()}
    assert g == e and g

    # the scan really is bucket-pruned: only one bucket's files are read
    all_files = set(table.read().inputFiles())
    touched = set(got.inputFiles())
    assert touched and touched < all_files
    # every touched file belongs to a single bucket directory
    buckets_seen = {
        seg for f in touched for seg in f.split("/") if seg.startswith("bucket_id=")
    }
    assert len(buckets_seen) == 1


def test_point_lookup_skips_files_by_key_bounds(spark, workdir):
    """Inside a bucket, the per-file key [min, max] bounds recorded at
    commit time (range-partitioned write → key-sorted file ranges) let a
    point lookup skip sibling files — the Iceberg column-bounds play."""
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=60, max_turns=10,
        n_events=3000, seed=41, n_tranches=2,
    )
    cfg = _cfg(workdir, num_buckets=1, slice_lsn_width=3000)  # one bucket
    runner = CdcIngestRunner(spark, cfg)
    runner.run()
    table = runner.table
    bucket_files = table.manifest["files"]["0"]
    assert len(bucket_files) >= 2  # range partitioner spread the bucket
    ents = table.manifest["entries"]["0"]
    assert [e["path"] for e in ents] == bucket_files
    assert all("key" in e for e in ents)  # bounds recorded per file

    key = table.read().select("conv_id").orderBy("conv_id").first()["conv_id"]
    got = table.lookup(key)
    e = {
        (r.conv_id, r.turn_idx): r.text
        for r in table.read().where(F.col("conv_id") == key).collect()
    }
    g = {(r.conv_id, r.turn_idx): r.text for r in got.collect()}
    assert g == e and g
    assert len(got.inputFiles()) < len(bucket_files)  # files skipped


def test_read_changes_cost_is_range_width_not_table_lifetime(spark, workdir):
    """A consumer reading one commit's changes must never walk the whole
    manifest chain (an index refresh over a 10^4-commit table would pay
    O(lifetime) manifest opens per refresh): read_changes does targeted
    per-version loads and never calls table.history()."""
    runner, cfg = _ingest(spark, workdir, "mor")
    table = runner.table
    v = table.version
    assert v >= 2

    calls = {"history": 0}
    orig = type(table).history

    def counting(self):
        calls["history"] += 1
        return orig(self)

    type(table).history = counting
    try:
        rows = read_changes(table, v - 1, v).collect()
    finally:
        type(table).history = orig
    assert rows  # the last commit's changes came back
    assert calls["history"] == 0
