"""Structured Streaming ingest: drain the binlog via availableNow and
assert the final lake state equals the oracle; rerun must be a no-op."""

import pytest
import os

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
from gene_etl_spark.sources.simulate import generate_change_stream
from gene_etl_spark.streaming.stream import ingest_stream


def test_streaming_ingest_equals_oracle(spark, workdir):
    generate_change_stream(
        os.path.join(workdir, "events"),
        n_convs=30,
        max_turns=15,
        n_events=3000,
        seed=11,
        n_tranches=6,
    )
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=os.path.join(workdir, "events"),
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8,
    )
    ckpt = os.path.join(workdir, "ckpt")
    summary = ingest_stream(spark, cfg, ckpt, max_files_per_trigger=2)
    assert summary["events"] == 3000
    assert summary["epochs"] >= 2  # several micro-batches, not one

    from gene_etl_spark.lake.table import LakeTable

    table = LakeTable.load(spark, cfg.lake_path)
    assert_replay_equal(
        table.read().toPandas(), materialize_expected(cfg.events_path)
    )

    # drain again with the same checkpoint: no new epochs, state unchanged
    v = table.version
    again = ingest_stream(spark, cfg, ckpt, max_files_per_trigger=2)
    assert again["events"] == 0
    assert LakeTable.load(spark, cfg.lake_path).version == v

    # stream commits record real LSN bounds: a later batch run resumes at
    # the stream's high-water mark instead of replaying the log from -1
    from gene_etl_spark.ledger import Ledger

    assert Ledger(cfg.ledger_path).resume_lsn(table) == 3000
    assert table.max_committed_end_lsn() == 3000

    # a NEW checkpoint restarts epoch ids at 0; the LSN floor (the same
    # reconciled resume point batch runs use) drops the already-applied
    # log up front, so the fresh stream is a clean no-op — never an
    # unfenced replay (which on CoW could resurrect a tombstoned key
    # depending on epoch boundaries). State unchanged, nothing applied.
    fresh = ingest_stream(
        spark, cfg, os.path.join(workdir, "ckpt2"), max_files_per_trigger=2
    )
    assert fresh["events"] == 0  # floored at the resume point, not replayed
    table2 = LakeTable.load(spark, cfg.lake_path)
    assert table2.version == v
    assert_replay_equal(
        table2.read().toPandas(), materialize_expected(cfg.events_path)
    )


def test_binlog_source_sees_appended_tranches(spark, workdir):
    """A long-lived runner tailing a growing log must see tranches added
    after its first read (the file listing is never cached)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from gene_etl_spark.sources.binlog import BinlogSource

    ev_dir = os.path.join(workdir, "events")
    generate_change_stream(
        ev_dir, n_convs=10, max_turns=5, n_events=400, seed=7, n_tranches=2,
        evolve_at_frac=0.0,
    )
    src = BinlogSource(spark, ev_dir)
    first_max = src.max_lsn()
    assert first_max == 400
    assert src.plan_batches(0, 200)[-1][1] == 400

    # append a tranche with higher LSNs (same physical schema)
    t = pq.read_table(os.path.join(ev_dir, sorted(os.listdir(ev_dir))[-1]))
    t = t.set_column(
        t.schema.get_field_index("lsn"),
        "lsn",
        pc.add(t["lsn"], 1000),
    )
    pq.write_table(t, os.path.join(ev_dir, "zzz-appended.parquet"))

    assert src.max_lsn() > first_max
    assert src.plan_batches(first_max, 10_000) != []
    hi = src.max_lsn()
    got = src.read_slice(first_max, hi).count()
    assert got == t.num_rows


def test_streaming_pre_gate_rejects_bad_ops_before_any_write(spark, workdir):
    """A streaming epoch passes the batch runner's hard pre-gate: an
    ``op='X'`` event raises ValidationError, and the lake stays at its
    prior version with no new data file."""
    import datetime as dt

    import pyspark.sql.types as T

    from gene_etl_spark.lake.table import LakeTable
    from gene_etl_spark.validate import ValidationError

    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_ts", T.TimestampType()),
        ]
    )
    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, "U", "c0", 0, "user", "hi", t, t),
        (2, "X", "c0", 1, "user", "bad", t, t),  # invalid op
    ]
    ev_dir = os.path.join(workdir, "events")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(ev_dir)
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=ev_dir,
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8,
    )
    with pytest.raises(ValidationError, match="valid_ops"):
        ingest_stream(spark, cfg, os.path.join(workdir, "ckpt"))
    assert LakeTable.load(spark, cfg.lake_path).version == 0
    files = []
    for _root, _d, fs in os.walk(os.path.join(cfg.lake_path, "data")):
        files += [f for f in fs if f.endswith(".parquet")]
    assert files == []


# two-tier test policy (round 7): this module is in the smoke tier
pytestmark = pytest.mark.smoke
