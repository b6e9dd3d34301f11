"""Merge-on-read mode: replay equality, tombstone resolution, resume,
compaction folding, time travel, vacuum safety."""

import pytest
import os

from pyspark.sql import functions as F

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.lake.maintenance import (
    compact,
    expire_snapshots,
    read_at_version,
    vacuum,
)
from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
from gene_etl_spark.runner import CdcIngestRunner
from gene_etl_spark.sources.simulate import generate_change_stream


def make_cfg(base, **kw):
    d = dict(
        lake_path=os.path.join(base, "lake"),
        events_path=os.path.join(base, "events"),
        ledger_path=os.path.join(base, "ledger"),
        metrics_path=os.path.join(base, "metrics"),
        validation_path=os.path.join(base, "validation"),
        num_buckets=8,
        slice_lsn_width=1000,
        merge_mode="mor",
    )
    d.update(kw)
    return IngestConfig(**d)


def test_mor_replay_equality_and_compaction(spark, workdir):
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=40, max_turns=20,
        n_events=4000, seed=42, n_tranches=6,
    )
    cfg = make_cfg(workdir)
    runner = CdcIngestRunner(spark, cfg)
    summary = runner.run()
    assert summary["n_batches"] == 4
    expected = materialize_expected(cfg.events_path)

    table = runner.table
    # pure MoR so far: base empty, everything in deltas; reads resolve
    assert table.delta_buckets()
    assert all(not v for v in table.manifest["files"].values()) or not table.manifest["files"]
    assert_replay_equal(table.read().toPandas(), expected)

    # deletes are tombstones in deltas until compaction; resolution hides them
    deltas_have_tombstones = (
        table._scan(table._files_for(kind="deltas"), table._physical_schema())
        .count()
    )
    assert deltas_have_tombstones > len(expected)  # superseded + tombstone rows present

    # compaction folds deltas into base; state identical; deltas cleared
    compact(table, max_files_per_bucket=10**9)  # only delta-driven
    assert not table.delta_buckets()
    assert_replay_equal(table.read().toPandas(), expected)

    # post-compaction MoR merge on top of a real base still resolves
    extra = runner.source.read_slice(0, 1000).where(F.col("op") != "D").limit(0)
    # (no-op slice; just assert read path stays consistent)
    assert_replay_equal(table.read().toPandas(), expected)

    # time travel to the pre-compaction MoR snapshot resolves deltas
    pre_compact_version = table.version - 1
    assert_replay_equal(read_at_version(table, pre_compact_version).toPandas(), expected)

    # vacuum with live deltas must not remove anything still referenced
    expire_snapshots(table, keep_last=1)
    vacuum(table)
    assert_replay_equal(table.read().toPandas(), expected)


def test_mor_resume_and_fencing(spark, workdir):
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=30, max_turns=15,
        n_events=3000, seed=9, n_tranches=4,
    )
    cfg = make_cfg(workdir, slice_lsn_width=750)
    r1 = CdcIngestRunner(spark, cfg)
    r1.run(max_batches=2)
    r2 = CdcIngestRunner(spark, cfg)
    rest = r2.run()
    assert rest["resume_lsn"] == 1500 and rest["n_batches"] == 2
    assert_replay_equal(
        r2.table.read().toPandas(), materialize_expected(cfg.events_path)
    )
    # replay of a committed range is fenced
    res = r2.apply_batch(0, 750)
    assert res["skipped"]


def test_mor_read_resolves_only_delta_buckets(spark, workdir):
    """The read path partitions buckets into delta-carrying vs clean:
    clean buckets scan base files directly (no LWW aggregate), so one
    delta-carrying bucket never forces a full-table groupBy on a wide
    read."""
    from gene_etl_spark.plans import formatted_plan

    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=30, max_turns=10,
        n_events=2000, seed=33, n_tranches=2,
    )
    # batch 1 as CoW: base files across 64 buckets
    cfg_cow = make_cfg(
        workdir, slice_lsn_width=1000, merge_mode="cow", num_buckets=64
    )
    r1 = CdcIngestRunner(spark, cfg_cow)
    r1.apply_batch(0, 1000)
    # a narrow MoR slice: deltas land in a subset of buckets
    cfg_mor = make_cfg(workdir, slice_lsn_width=1000, num_buckets=64)
    r2 = CdcIngestRunner(spark, cfg_mor)
    r2.apply_batch(1000, 1100)
    table = r2.table
    dirty = set(table.delta_buckets())
    assert dirty
    clean = [b for b in range(64) if b not in dirty]
    assert clean  # the slice must not have touched every bucket

    # clean-bucket read: pure scan, no resolve aggregate
    assert "Aggregate" not in formatted_plan(table.read(buckets=clean[:4]))
    # full read: resolve aggregate present (for the dirty buckets only)
    assert "Aggregate" in formatted_plan(table.read())
    # and the union'd read is still exactly the oracle state
    assert_replay_equal(
        table.read().toPandas(),
        materialize_expected(cfg_mor.events_path, up_to_lsn=1100),
    )


def test_mor_fast_resolve_anti_joins_fresh_deltas(spark, workdir):
    """When the manifest's per-file LSN bounds prove every delta row
    postdates every base row (the in-contract case), the read resolves
    via broadcast anti-join — the base is never pushed through the LWW
    aggregate; only the small delta set is."""
    from gene_etl_spark.plans import formatted_plan

    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=30, max_turns=10,
        n_events=2000, seed=37, n_tranches=2,
    )
    r1 = CdcIngestRunner(spark, make_cfg(workdir, merge_mode="cow"))
    r1.apply_batch(0, 1000)  # base files carry LSN bounds
    r2 = CdcIngestRunner(spark, make_cfg(workdir, merge_mode="mor"))
    r2.apply_batch(1000, 2000)  # fresh deltas, provably newer
    table = r2.table
    ents = [e for es in table.manifest["entries"].values() for e in es]
    assert ents and all("lsn" in e for e in ents)
    plan = formatted_plan(table.read())
    # the slow path has no join at all; the fast path anti-joins the base
    # against broadcast delta keys
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert_replay_equal(
        table.read().toPandas(), materialize_expected(cfg_events(workdir))
    )


def cfg_events(workdir):
    return os.path.join(workdir, "events")


def test_mor_interop_with_cow(spark, workdir):
    """A CoW merge over a table carrying MoR deltas folds and clears them."""
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=20, max_turns=10,
        n_events=2000, seed=21, n_tranches=2,
    )
    cfg = make_cfg(workdir, slice_lsn_width=1000)
    runner = CdcIngestRunner(spark, cfg)
    runner.apply_batch(0, 1000)  # MoR delta
    assert runner.table.delta_buckets()

    # switch to CoW for the second slice
    cfg2 = make_cfg(workdir, slice_lsn_width=1000, merge_mode="cow")
    r2 = CdcIngestRunner(spark, cfg2)
    r2.run()
    assert not r2.table.delta_buckets()  # CoW folded + cleared the deltas
    assert_replay_equal(
        r2.table.read().toPandas(), materialize_expected(cfg.events_path)
    )


# two-tier test policy (round 7): this module is in the smoke tier
pytestmark = pytest.mark.smoke
