"""Streaming ingest racing lake maintenance (round-6 item 7).

The batch soak (test_soak_maintenance.py) interleaves merge × maintenance
on one thread; this drives REAL ``ingest_stream`` epochs with maintenance
ops fired between epochs from a SEPARATE LakeTable handle (the external
maintainer shape) while the stream holds its own handle across epochs:

- compaction / expiry / vacuum / tags between epochs must be invisible
  to the stream (merge re-reads the manifest at entry, so a long-lived
  handle sees maintenance committed between its epochs);
- a rebucket between epochs flips ``num_buckets`` under the stream's
  live handle — the next merge derives the NEW bucketing from the
  manifest and self-propagates, no refusal, no restart;
- a rebucket racing a merge MID-FLIGHT (between the merge's manifest
  read and its commit — injected via ``pre_commit_gate``) MUST be
  refused by ``commit_with_rebase``'s num_buckets check, never
  committed under the old layout, and the retried merge lands clean;
- after drain the final table equals the pure-python LWW oracle, and
  tagged snapshots still read their capture-time state after a purge.
"""

import os

import pytest

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.lake import maintenance as mt
from gene_etl_spark.lake.table import LakeTable
from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
from gene_etl_spark.sources.simulate import generate_change_stream
from gene_etl_spark.streaming.stream import ingest_stream


class MaintenanceInjector:
    """Quacks like a rollup (``refresh()`` after every committed epoch)
    but runs one maintenance op per epoch through a FRESH LakeTable
    handle, exactly like an external maintenance job would."""

    def __init__(self, spark, lake_path, plan):
        self.spark = spark
        self.lake_path = lake_path
        self.plan = list(plan)
        self.fired: list[str] = []
        self.tag_states: dict[str, dict] = {}

    def _state(self, t):
        return {
            (r.conv_id, r.turn_idx): r.text
            for r in t.read().select("conv_id", "turn_idx", "text").collect()
        }

    def refresh(self):
        if not self.plan:
            return
        op = self.plan.pop(0)
        t = LakeTable.load(self.spark, self.lake_path)
        if op == "compact":
            mt.compact(t)
        elif op == "rebucket":
            mt.rebucket(t, 8 if t.num_buckets == 4 else 4)
        elif op == "retention":
            mt.expire_snapshots(t, keep_last=2)
            mt.vacuum(t, older_than_sec=0.0)
        elif op.startswith("tag:"):
            name = op.split(":", 1)[1]
            mt.tag(t, name)
            self.tag_states[name] = self._state(t)
        self.fired.append(op)


@pytest.mark.parametrize(
    "plan",
    [
        # maintenance the stream must simply span
        ["compact", "retention", "tag:mid", "compact", "retention"],
        # rebucket under the live stream handle: self-propagates
        ["compact", "rebucket", "retention", "tag:mid", "compact"],
    ],
    ids=["benign", "rebucket"],
)
def test_stream_epochs_interleaved_with_maintenance(spark, workdir, plan):
    events = os.path.join(workdir, "events")
    generate_change_stream(
        events, n_convs=25, max_turns=10, n_events=2400, seed=21, n_tranches=8
    )
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=events,
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=4,
    )
    ckpt = os.path.join(workdir, "ckpt")
    inj = MaintenanceInjector(spark, cfg.lake_path, plan)

    # between-epoch maintenance self-propagates: merge re-reads the
    # manifest at entry, so NO epoch is refused and no restart happens
    ingest_stream(spark, cfg, ckpt, max_files_per_trigger=1, rollups=[inj])

    table = LakeTable.load(spark, cfg.lake_path)
    expected = materialize_expected(events)
    assert_replay_equal(table.read().toPandas(), expected)
    assert inj.fired, "injector never ran"

    # a rebucketed run must actually have flipped the layout and kept
    # committing under it
    if "rebucket" in inj.fired:
        assert table.num_buckets == 8

    # fenced replay: a fresh-checkpoint stream over the ingested lake is
    # a no-op (LSN floor), maintenance commits notwithstanding
    out = ingest_stream(spark, cfg, os.path.join(workdir, "ckpt2"))
    assert out["epochs"] == 0
    assert_replay_equal(table.read().toPandas(), expected)

    # tagged snapshot still reads its capture-time state after a purge
    mt.expire_snapshots(table, keep_last=1)
    mt.vacuum(table, older_than_sec=0.0)
    for name, want in inj.tag_states.items():
        got = {
            (r.conv_id, r.turn_idx): r.text
            for r in mt.read_tag(table, name)
            .select("conv_id", "turn_idx", "text")
            .collect()
        }
        assert got == want, f"tag {name} diverged after purge"


def test_rebucket_mid_merge_is_refused_then_retries_clean(spark, workdir):
    """TRUE race: a rebucket lands between a merge's manifest read and
    its commit (injected via pre_commit_gate). commit_with_rebase must
    refuse — files bucketed under the old layout can never enter the
    new-layout chain — and the retried merge (fresh manifest) lands."""
    import datetime as dt

    from pyspark.sql import types as T

    from gene_etl_spark.lake.table import CommitConflict

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(workdir, "lake"), schema, ["conv_id", "turn_idx"], 4
    )

    def _batch(rows, lo, hi, bid):
        df = spark.createDataFrame(
            [
                (lsn, "I", c, ti, x, dt.datetime(2024, 1, 1))
                for (lsn, c, ti, x) in rows
            ],
            "lsn long, op string, conv_id string, turn_idx int, text string,"
            " ts timestamp",
        )
        return dict(updates=df, batch_id=bid, start_lsn=lo, end_lsn=hi)

    t.merge(**_batch([(1, "a", 0, "x"), (2, "b", 0, "y")], 0, 2, "b1"))

    def gate():  # fires after bucket discovery, before any write/commit
        other = LakeTable.load(spark, t.path)
        mt.rebucket(other, 8)

    kw = _batch([(3, "c", 0, "z")], 2, 3, "b2")
    with pytest.raises(CommitConflict, match="num_buckets"):
        t.merge(pre_commit_gate=gate, **kw)

    # the refused merge left no trace: state is pre-b2, layout is new
    assert t.num_buckets == 8  # fresh read sees the rebucket
    state = {(r.conv_id, r.turn_idx) for r in t.read().collect()}
    assert state == {("a", 0), ("b", 0)}
    assert "b2" not in t.committed_batches()

    # retry under the new layout lands clean
    t.merge(**_batch([(3, "c", 0, "z")], 2, 3, "b2"))
    state = {(r.conv_id, r.turn_idx) for r in t.read().collect()}
    assert state == {("a", 0), ("b", 0), ("c", 0)}
