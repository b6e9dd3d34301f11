"""End-to-end CDC replay tests — the north-rule correctness gate.

Replay the simulated binlog batch-wise through the engine and assert the
final lake state equals the independent DuckDB oracle materialization
under per-turn text equality with stable (conv_id, turn_idx) ordering.
"""

import os

import pytest

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
from gene_etl_spark.runner import CdcIngestRunner, CrashInjected
from gene_etl_spark.sources.simulate import generate_change_stream


def make_config(base: str, **kw) -> IngestConfig:
    defaults = dict(
        lake_path=os.path.join(base, "lake"),
        events_path=os.path.join(base, "events"),
        ledger_path=os.path.join(base, "ledger"),
        metrics_path=os.path.join(base, "metrics"),
        validation_path=os.path.join(base, "validation"),
        num_buckets=8,
        slice_lsn_width=1000,
    )
    defaults.update(kw)
    return IngestConfig(**defaults)


@pytest.fixture()
def stream(workdir):
    info = generate_change_stream(
        os.path.join(workdir, "events"),
        n_convs=40,
        max_turns=20,
        n_events=4000,
        seed=42,
        n_tranches=6,
    )
    return info


def lake_to_pandas(runner):
    return runner.table.read().toPandas()


def test_replay_equality(spark, workdir, stream):
    cfg = make_config(workdir)
    runner = CdcIngestRunner(spark, cfg)
    summary = runner.run()
    assert summary["n_batches"] == 4
    assert summary["events_read"] == stream["n_events"]

    expected = materialize_expected(cfg.events_path)
    assert_replay_equal(lake_to_pandas(runner), expected)

    # schema evolution materialized: `tool` exists even though early
    # tranches physically lack it
    assert "tool" in runner.table.schema.fieldNames()


def test_exactly_once_fencing_and_idempotent_merge(spark, workdir, stream):
    cfg = make_config(workdir)
    runner = CdcIngestRunner(spark, cfg)
    runner.run()
    v_before = runner.table.version
    expected = materialize_expected(cfg.events_path)

    # replaying any committed batch is fenced to a no-op
    res = runner.apply_batch(0, 1000)
    assert res["skipped"] and "fenced" in res["reason"]
    assert runner.table.version == v_before

    # even a forced (fence-bypassing) re-merge of the latest applied slice
    # converges via the cross-batch LWW guard: zero changes, state equal.
    # (Unfenced replay of *older* slices after later deletes is out of
    # contract — fencing + monotone slices is the contract, as in Iceberg.)
    from gene_etl_spark.operators.dedup import lww_dedup

    sl = runner.source.read_slice(3000, 4000)
    forced = runner.table.merge(lww_dedup(sl), batch_id="forced-replay")
    assert forced.inserts == 0 and forced.updates == 0 and forced.deletes == 0
    assert_replay_equal(lake_to_pandas(runner), expected)


def test_resume_from_checkpoint(spark, workdir, stream):
    cfg = make_config(workdir)
    r1 = CdcIngestRunner(spark, cfg)
    partial = r1.run(max_batches=2)
    assert partial["n_batches"] == 2

    # "process killed" — a brand-new runner resumes from the ledger
    r2 = CdcIngestRunner(spark, cfg)
    rest = r2.run()
    assert rest["resume_lsn"] == 2000
    assert rest["n_batches"] == 2
    assert_replay_equal(lake_to_pandas(r2), materialize_expected(cfg.events_path))


def test_crash_between_lake_commit_and_ledger(spark, workdir, stream):
    """A crash after the lake snapshot commit but before the ledger write
    must not double-apply: resume reconciles against the snapshot chain."""
    cfg = make_config(workdir)
    r1 = CdcIngestRunner(spark, cfg)
    r1.apply_batch(0, 1000)
    r1.crash_after_merge = True
    with pytest.raises(CrashInjected):
        r1.apply_batch(1000, 2000)

    r2 = CdcIngestRunner(spark, cfg)
    # batch (1000,2000] is committed in the lake but absent from the ledger
    assert r2.ledger.max_committed_end_lsn() == 1000
    assert r2.ledger.resume_lsn(r2.table) == 2000
    summary = r2.run()
    assert summary["resume_lsn"] == 2000
    assert_replay_equal(lake_to_pandas(r2), materialize_expected(cfg.events_path))


def test_metrics_accounting(spark, workdir, stream):
    cfg = make_config(workdir)
    runner = CdcIngestRunner(spark, cfg)
    summary = runner.run()

    rollup = {r["batch_id"]: r.asDict() for r in runner.metrics.batch_summary().collect()}
    for b in summary["batches"]:
        m = rollup[b["batch_id"]]
        applied = (m["inserts"] or 0) + (m["updates"] or 0) + (m["deletes"] or 0) + (m["noops"] or 0)
        # accounting invariant: reads = LWW-dropped + applied actions
        assert m["events_read"] == m["dedup_dropped"] + applied
        assert m["events_read"] == b["events_read"]

    # validation log recorded pre+post rows for each batch, all passed
    vlog = runner.validator.read_log().toPandas()
    assert vlog["passed"].all()
    assert set(vlog["stage"].unique()) == {"pre", "post"}


def test_medium_scale_replay_with_autocompact(spark, workdir):
    """100k-event MoR replay with threshold auto-compaction (any bucket
    past one delta file is rewritten): the maintenance path must never
    change query results."""
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=800, max_turns=30,
        n_events=100_000, seed=13, n_tranches=8,
    )
    cfg = make_config(
        workdir, slice_lsn_width=25_000, num_buckets=16,
        merge_mode="mor", compact_delta_files_per_bucket=1,
    )
    runner = CdcIngestRunner(spark, cfg)
    summary = runner.run()
    assert summary["n_batches"] == 4
    assert_replay_equal(lake_to_pandas(runner), materialize_expected(cfg.events_path))
    # compaction actually ran (snapshots: 4 merges + >=1 compact)
    ops = [m["summary"].get("operation") for m in runner.table.history()]
    assert "compact" in ops


def test_bucket_pruned_merge(spark, workdir):
    """A merge touching few conversations rewrites only those buckets."""
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=64, max_turns=10,
        n_events=3000, seed=7, n_tranches=2, evolve_at_frac=0.0,
    )
    cfg = make_config(workdir, slice_lsn_width=10**9, num_buckets=16)
    runner = CdcIngestRunner(spark, cfg)
    runner.run()
    files_before = dict(runner.table.manifest["files"])

    # a single-conversation update slice
    from pyspark.sql import functions as F

    one = runner.source.read_slice(0, 10**9).where(F.col("conv_id") == "conv_000003")
    from gene_etl_spark.operators.dedup import lww_dedup

    upd = lww_dedup(one).withColumn("lsn", F.col("lsn") + F.lit(10**6))
    res = runner.table.merge(upd, batch_id="point-update")
    assert len(res.touched_buckets) == 1
    after = runner.table.manifest["files"]
    changed = [b for b in after if after[b] != files_before.get(b)]
    assert changed == [str(res.touched_buckets[0])]


def test_fused_pre_gate_rejects_bad_ops_before_any_write(spark, workdir):
    """The single-pass slice apply must keep the hard-gate contract: a slice with an invalid op raises ValidationError
    from the observed sums and the lake stays at its prior version with
    no new data files."""
    import pyspark.sql.types as T

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
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, "U", "c0", 0, "user", "hi", t, t),
        (2, "X", "c0", 1, "user", "bad", t, t),  # invalid op
    ]
    ev_dir = os.path.join(workdir, "events")
    os.makedirs(ev_dir, exist_ok=True)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(ev_dir)
    cfg = make_config(workdir)
    runner = CdcIngestRunner(spark, cfg)
    v0 = runner.table.version
    with pytest.raises(ValidationError):
        runner.apply_batch(0, 10)
    assert runner.table.version == v0
    # no data files appeared under the lake beyond the empty v0 create
    data_dir = os.path.join(cfg.lake_path, "data")
    files = []
    for root, _d, fs in os.walk(data_dir):
        files += [f for f in fs if f.endswith(".parquet")]
    assert files == []


def test_pre_checks_records_duplicate_lsn_without_gating(spark, workdir):
    """The explicit pre-check audit counts duplicated LSNs: the soft
    ``lsn_unique`` check is recorded as failed, and does not gate."""
    import pyspark.sql.types as T

    from gene_etl_spark.validate import Validator

    schema = T.StructType(
        [
            T.StructField("lsn", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
        ]
    )
    rows = [(1, "U", "c0", 0), (2, "U", "c0", 1), (2, "D", "c0", 2)]
    slice_df = spark.createDataFrame(rows, schema).coalesce(1)
    v = Validator(spark, os.path.join(workdir, "validation"))
    results = v.pre_checks(slice_df, ["conv_id", "turn_idx"], 0, 10, "dup-lsn")
    by_name = {r["check_name"]: r for r in results}
    assert not by_name["lsn_unique"]["passed"]
    assert not by_name["lsn_unique"]["critical"]
    assert all(r["passed"] for r in results if r["critical"])
    logged = v.read_log().toPandas().set_index("check_name")
    assert not logged.loc["lsn_unique", "passed"]


# two-tier test policy (round 7): this module is in the smoke tier
pytestmark = pytest.mark.smoke
