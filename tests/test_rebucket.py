"""Partition-spec evolution (maintenance.rebucket): mid-stream bucket
count change must preserve content exactly, clear deltas, flip the
manifest's num_buckets so every later merge/lookup self-propagates the
new layout, and be spanned silently by the CDC change feed."""

import os

import pytest

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.lake.changes import read_changes
from gene_etl_spark.lake.maintenance import rebucket
from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
from gene_etl_spark.runner import CdcIngestRunner
from gene_etl_spark.sources.simulate import generate_change_stream


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_rebucket_mid_stream(spark, workdir, mode):
    events = os.path.join(workdir, "events")
    generate_change_stream(events, n_convs=40, n_events=6000, seed=23)
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=events,
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=4, slice_lsn_width=750,
        merge_mode=mode,
    )
    runner = CdcIngestRunner(spark, cfg)
    runner.run(max_batches=4)
    t = runner.table
    v_before = t.version

    res = rebucket(t, 16)
    assert res["rebucketed"] and res["num_buckets"] == 16
    assert t.num_buckets == 16
    m = t.manifest
    assert m["summary"]["operation"] == "rebucket"
    assert m["summary"]["from_num_buckets"] == 4
    assert not any(m.get("deltas", {}).values())  # deltas folded
    assert all(0 <= int(b) < 16 for b in m["files"])
    assert_replay_equal(
        t.read().toPandas(), materialize_expected(events, up_to_lsn=3000)
    )

    # a no-op rebucket commits nothing
    v_mid = t.version
    assert rebucket(t, 16) == {"rebucketed": False, "snapshot_version": v_mid}

    # ingest continues under the NEW layout and full replay still holds
    runner.run()
    assert t.version > v_mid
    assert_replay_equal(t.read().toPandas(), materialize_expected(events))

    # point lookup prunes at the new count and agrees with the full scan
    full = t.read().toPandas()
    conv = full["conv_id"].iloc[0]
    got = t.lookup(conv).toPandas()
    exp = full[full["conv_id"] == conv]
    assert len(got) == len(exp) and set(got["turn_idx"]) == set(exp["turn_idx"])

    # the change feed spans the rebucket commit silently: only
    # merge-commit versions appear, and the feed doesn't raise
    ch = read_changes(t, from_version=v_before).toPandas()
    assert v_mid not in set(ch["_commit_version"])
    assert len(ch) > 0

    with pytest.raises(ValueError, match=">= 1"):
        rebucket(t, 0)
