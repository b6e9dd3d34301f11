"""Snapshot tags: immutable named refs with retention pinning.

A tag pins its snapshot through ``expire_snapshots`` (never expired)
and therefore through ``vacuum`` (its manifest stays live, so its data
files and pieces stay referenced) — the audit/reproducibility mechanism
("the exact corpus a training run read") over a long CDC history.
Dropping the tag returns the snapshot to normal retention.
"""

import os

import pytest

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.lake.maintenance import (
    drop_tag,
    expire_snapshots,
    list_tags,
    read_at_version,
    read_tag,
    tag,
    vacuum,
)
from gene_etl_spark.runner import CdcIngestRunner
from gene_etl_spark.sources.simulate import generate_change_stream


def _build(spark, workdir, mode="cow"):
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=30, max_turns=15,
        n_events=3000, seed=17, n_tranches=4,
    )
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=os.path.join(workdir, "events"),
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8, slice_lsn_width=750,
        merge_mode=mode,
    )
    runner = CdcIngestRunner(spark, cfg)
    runner.run()
    return runner.table


def test_tag_pins_through_expiry_and_vacuum(spark, workdir):
    table = _build(spark, workdir)
    assert table.version >= 3  # several batches to expire across
    pinned_state = read_at_version(table, 1).toPandas()

    rec = tag(table, "audit-v1", version=1)
    assert rec["version"] == 1
    assert list_tags(table)["audit-v1"]["version"] == 1

    # aggressive retention: keep only the latest snapshot — everything
    # older expires EXCEPT the tagged version
    out = expire_snapshots(table, keep_last=0)
    assert 1 in out["tag_pinned"]
    assert os.path.exists(table._manifest_path(1))
    assert not os.path.exists(table._manifest_path(0))

    # vacuum with no grace window: the tagged snapshot's files survive
    # because its manifest is still live
    vacuum(table, older_than_sec=0)
    again = read_tag(table, "audit-v1").toPandas()
    key = ["conv_id", "turn_idx"]
    assert (
        again.sort_values(key).reset_index(drop=True)["text"].tolist()
        == pinned_state.sort_values(key).reset_index(drop=True)["text"].tolist()
    )

    # dropping the tag releases the pin: expiry takes the snapshot, and
    # a later read of it fails loudly (vacuumed-data contract)
    drop_tag(table, "audit-v1")
    expire_snapshots(table, keep_last=0)
    assert not os.path.exists(table._manifest_path(1))
    vacuum(table, older_than_sec=0)
    with pytest.raises(Exception):
        read_at_version(table, 1).toPandas()

    # current state unaffected throughout
    assert table.read().count() > 0


def test_tag_immutability_and_validation(spark, workdir):
    table = _build(spark, workdir, mode="mor")
    tag(table, "release")
    with pytest.raises(ValueError, match="already exists"):
        tag(table, "release", version=0)
    with pytest.raises(ValueError, match="not a live snapshot"):
        tag(table, "ghost", version=table.version + 99)
    with pytest.raises(ValueError, match="invalid tag name"):
        tag(table, "../escape")
    with pytest.raises(ValueError, match="no tag"):
        drop_tag(table, "absent")
    with pytest.raises(ValueError, match="no tag"):
        read_tag(table, "absent")
    # re-point by drop + re-tag; MoR tagged read resolves deltas
    drop_tag(table, "release")
    tag(table, "release", version=1)
    assert read_tag(table, "release").count() > 0
    # refs dir never confuses manifest listing
    assert table.version == table.history()[-1]["version"]
