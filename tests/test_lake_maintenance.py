"""Lake maintenance: time travel, compaction, snapshot expiry, vacuum."""

import pytest
import os

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


def _build(spark, workdir, n_events=3000, slice_width=750):
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=30, max_turns=15,
        n_events=n_events, seed=5, n_tranches=4,
    )
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=os.path.join(workdir, "events"),
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8, slice_lsn_width=slice_width,
    )
    runner = CdcIngestRunner(spark, cfg)
    runner.run()
    return runner, cfg


def test_time_travel_and_maintenance(spark, workdir):
    runner, cfg = _build(spark, workdir)
    table = runner.table
    v_final = table.version
    expected = materialize_expected(cfg.events_path)

    # time travel: version 1 state equals the oracle truncated to batch 1
    v1 = read_at_version(table, 1).toPandas()
    assert_replay_equal(v1, materialize_expected(cfg.events_path, up_to_lsn=750))

    # compaction: consolidates files, preserves content, new snapshot
    before_files = sum(len(v) for v in table.manifest["files"].values())
    res = compact(table, max_files_per_bucket=1)
    assert table.version == v_final + 1
    after_files = sum(len(v) for v in table.manifest["files"].values())
    assert after_files <= before_files
    assert all(len(v) <= 1 for v in table.manifest["files"].values())
    assert_replay_equal(table.read().toPandas(), expected)

    # vacuum: superseded bucket rewrites are reclaimable once snapshots
    # expire; live files survive
    expire_snapshots(table, keep_last=1)
    # default grace window protects just-written files of a concurrent
    # in-flight commit (manifest not yet linked): nothing is reclaimed
    assert vacuum(table)["removed_files"] == 0
    # single-writer maintenance passes 0: superseded rewrites reclaimed
    stats = vacuum(table, older_than_sec=0.0)
    assert stats["removed_files"] > 0
    assert_replay_equal(table.read().toPandas(), expected)

    # fencing history survives expiry: committed batches still known
    assert len(table.committed_batches()) >= 4
    assert runner.ledger.resume_lsn(table) == 3000


def test_timestamp_time_travel(spark, workdir):
    import pytest

    from gene_etl_spark.lake.maintenance import read_at_ts, version_at

    runner, cfg = _build(spark, workdir)
    table = runner.table
    history = table.history()
    by_version = {m["version"]: m["committed_at_ms"] for m in history}
    v_final = table.version

    # at the final commit's wall-clock: the final snapshot
    assert version_at(table, by_version[v_final]) == v_final
    # the far future resolves to the latest snapshot too
    assert version_at(table, by_version[v_final] + 10**9) == v_final
    # each live snapshot's own timestamp resolves to it or a later
    # same-instant commit, never an earlier one
    for v, ms in by_version.items():
        assert version_at(table, ms) >= v
    # before the very first snapshot (v0, table create) there is
    # nothing to read
    v_first = min(by_version)
    with pytest.raises(ValueError, match="no live snapshot"):
        version_at(table, by_version[v_first] - 1)

    # content: reading at the final timestamp equals the live read
    assert_replay_equal(
        read_at_ts(table, by_version[v_final]).toPandas(),
        materialize_expected(cfg.events_path),
    )

    # expired snapshots stop resolving (their data pins are gone)
    expire_snapshots(table, keep_last=1)
    with pytest.raises(ValueError, match="no live snapshot"):
        version_at(table, by_version[1])
    assert version_at(table, by_version[v_final]) == v_final


def test_sized_sorted_compaction_and_lookup_pruning(spark, workdir):
    """target_file_size_bytes: compaction splits a bucket into several
    KEY-SORTED files with disjoint per-file key bounds, so a point
    lookup prunes to exactly one file — the 100 GB-bucket shape (one
    file per bucket would be one unsplittable write task)."""
    from pyspark.sql import functions as F

    from gene_etl_spark.functions import bucket_of

    runner, cfg = _build(spark, workdir)
    table = runner.table
    expected = materialize_expected(cfg.events_path)

    compact(table, target_file_size_bytes=16 * 1024)  # tiny target: force splits
    m = table.manifest
    files_map = {b: list(fs) for b, fs in (m.get("files") or {}).items()}
    multi = {b: fs for b, fs in files_map.items() if len(fs) > 1}
    assert multi, "tiny target must split at least one bucket"

    # range-sliced: per-file key bounds are disjoint (boundaries may touch)
    for b in multi:
        bounds = sorted(tuple(e["key"]) for e in m["entries"][b])
        assert len(bounds) == len(multi[b])
        for (_, hi1), (lo2, _) in zip(bounds, bounds[1:]):
            assert lo2 >= hi1

    # content identical through the sized rewrite
    assert_replay_equal(table.read().toPandas(), expected)

    # a lookup in a multi-file bucket scans exactly one file
    checked = 0
    for key in expected["conv_id"].drop_duplicates().head(20):
        b = (
            spark.range(1)
            .select(bucket_of(F.lit(key), table.num_buckets).alias("b"))
            .collect()[0]["b"]
        )
        if str(b) not in multi:
            continue
        hits = table.lookup(key)
        assert len(hits.inputFiles()) == 1
        assert hits.count() > 0
        checked += 1
        if checked >= 3:
            break
    assert checked >= 1


# two-tier test policy (round 7): this module is in the smoke tier
pytestmark = pytest.mark.smoke
