"""Round-3 hardening (round-2 ADVICE items): legacy stream-fence
compat, parent-None rebase safety, JSON-safe manifest stats, and the
broken-chain error on the CoW change feed."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import types as T

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.lake.changes import read_changes
from gene_etl_spark.lake.table import CommitConflict, LakeTable, _file_footer_stats
from gene_etl_spark.operators.dedup import lww_dedup
from gene_etl_spark.sources.binlog import BinlogSource
from gene_etl_spark.sources.simulate import generate_change_stream
from gene_etl_spark.streaming.stream import ingest_stream

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _cfg(workdir):
    return IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=os.path.join(workdir, "events"),
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8,
    )


def _legacy_fenced_lake(spark, cfg, end_lsn):
    """Apply the log's (0, end_lsn] slice under the PRE-namespacing fence
    key format ('stream-epoch-0'), as a round-1 stream deployment did."""
    src = BinlogSource(spark, cfg.events_path)
    sl = src.read_slice(0, end_lsn)
    payload = lww_dedup(sl, key_cols=cfg.key_cols, order_cols=("lsn", "ts"))
    table = LakeTable.create(
        spark,
        cfg.lake_path,
        T.StructType(
            [
                f
                for f in sl.schema.fields
                if f.name not in ("op", "lsn", "event_ts")
            ]
        ),
        key_cols=list(cfg.key_cols),
        num_buckets=cfg.num_buckets,
    )
    table.merge(
        payload, batch_id="stream-epoch-0", start_lsn=0, end_lsn=end_lsn
    )
    return table


def test_legacy_stream_fence_same_slice_is_fenced(spark, workdir):
    """A lake fenced by the old un-namespaced key, resumed by the new
    code: epoch 0 of a fresh run covering the SAME LSN slice must be
    recognized as already applied (no re-merge)."""
    generate_change_stream(
        os.path.join(workdir, "events"),
        n_convs=10,
        max_turns=5,
        n_events=400,
        seed=3,
        n_tranches=1,
        evolve_at_frac=0.0,
    )
    cfg = _cfg(workdir)
    table = _legacy_fenced_lake(spark, cfg, end_lsn=400)
    v = table.version

    # one tranche + availableNow = one epoch (id 0) covering (0, 400]
    summary = ingest_stream(spark, cfg, os.path.join(workdir, "ckpt"))
    assert summary["events"] == 0  # fenced by the legacy record
    assert LakeTable.load(spark, cfg.lake_path).version == v


def test_legacy_stream_fence_different_slice_applies(spark, workdir):
    """The legacy key must NOT fence an epoch whose slice differs — a
    fresh checkpoint restarts epoch ids at 0, and swallowing its first
    epoch was the very bug the namespaced key fixed."""
    generate_change_stream(
        os.path.join(workdir, "events"),
        n_convs=10,
        max_turns=5,
        n_events=400,
        seed=3,
        n_tranches=1,
        evolve_at_frac=0.0,
    )
    cfg = _cfg(workdir)
    # legacy run only reached lsn 200; the new epoch 0 covers (0, 400]
    table = _legacy_fenced_lake(spark, cfg, end_lsn=200)
    v = table.version

    summary = ingest_stream(spark, cfg, os.path.join(workdir, "ckpt"))
    # the NEW slice (200, 400] applies — not swallowed by the legacy
    # epoch-0 fence; the already-applied (0, 200] is dropped by the
    # resume-point LSN floor rather than replayed (r5: the floor made
    # unfenced replay of applied slices a non-event on this surface)
    assert summary["events"] == 200
    final = LakeTable.load(spark, cfg.lake_path)
    assert final.version > v

    from gene_etl_spark.oracle import assert_replay_equal, materialize_expected

    assert_replay_equal(
        final.read().toPandas(), materialize_expected(cfg.events_path)
    )


def _upd(spark, rows):
    return spark.createDataFrame(
        [
            (lsn, op, conv, turn, text, dt.datetime(2024, 1, 1, 0, 0, lsn % 60))
            for (lsn, op, conv, turn, text) in rows
        ],
        "lsn long, op string, conv_id string, turn_idx int, text string, ts timestamp",
    )


def test_rebase_with_parent_none_checks_all_history(spark, workdir):
    """A parentless commit attempt (writer thought it was creating the
    table) that loses the race must be validated against ALL existing
    commits — an empty winners list would skip the duplicate-batch and
    bucket-overlap checks and rebase blindly."""
    t = LakeTable.create(spark, f"{workdir}/lake", SCHEMA, ["conv_id", "turn_idx"], 8)
    t.merge(_upd(spark, [(1, "I", "c0", 0, "a0")]), batch_id="seed")
    seed_buckets = t.manifest["summary"]["touched_buckets"]

    def attempt(batch_id):
        return {
            "version": 0,
            "parent": None,
            "schema": json.loads(SCHEMA.json()),
            "key_cols": ["conv_id", "turn_idx"],
            "num_buckets": 8,
            "entries": {},
            "properties": {"batch_id": batch_id},
            "summary": {"operation": "merge", "touched_buckets": seed_buckets},
        }

    # duplicate batch_id across the race -> refused
    with pytest.raises(CommitConflict, match="committed concurrently"):
        t.commit_with_rebase(attempt("seed"), touched_buckets=seed_buckets)
    # overlapping CoW buckets across the race -> refused
    with pytest.raises(CommitConflict, match="rebase unsafe"):
        t.commit_with_rebase(attempt("other"), touched_buckets=seed_buckets)


def test_file_stats_json_safe_for_typed_columns(spark, workdir):
    """Parquet stats for timestamp/binary columns come back as Python
    datetimes/bytes — not JSON-serializable. They must be skipped inside
    the collector so stats can never fail a manifest commit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = LakeTable.create(spark, f"{workdir}/lake", SCHEMA, ["conv_id", "turn_idx"], 8)
    rel = "data/statprobe.parquet"
    pq.write_table(
        pa.table(
            {
                "ts": [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)],
                "blob": [b"\x00\x01", b"\x02\x03"],
                "conv_id": ["a", "b"],
            }
        ),
        os.path.join(t.path, rel),
    )
    path = os.path.join(t.path, rel)
    for col in ("ts", "blob"):
        stats = _file_footer_stats(path, [col], set())
        json.dumps(stats)  # must never raise
        assert stats == {}  # typed bounds are skipped, not coerced lossily
    # plain string keys still produce usable bounds, in the file entry too
    stats = _file_footer_stats(path, ["conv_id"], set())
    json.dumps(stats)
    assert stats["conv_id"] == ["a", "b"]
    (entry,) = t._file_entries({"0": [rel]})["0"]
    json.dumps(entry)
    assert entry["key"] == ["a", "b"]


def test_source_snapshot_lineage_recorded_and_reconciles(spark, workdir):
    """Every committed batch carries a SourceSnapshot lineage record
    (contributing tranche files pruned by LSN bounds, schema hash), and
    the per-batch events_read totals reconcile with the log."""
    from gene_etl_spark.ledger import Ledger
    from gene_etl_spark.runner import CdcIngestRunner

    gen = generate_change_stream(
        os.path.join(workdir, "events"),
        n_convs=20,
        max_turns=8,
        n_events=2000,
        seed=5,
        n_tranches=4,
        evolve_at_frac=0.0,
    )
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=os.path.join(workdir, "events"),
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8,
        slice_lsn_width=500,
    )
    runner = CdcIngestRunner(spark, cfg)
    summary = runner.run()
    assert summary["n_batches"] >= 1

    all_files = {os.path.basename(f) for f in runner.source.files()}
    entries = Ledger(cfg.ledger_path).committed()
    assert entries
    schema_hashes = set()
    total = 0
    for e in entries:
        snap = e.get("source_snapshot")
        assert snap, f"ledger row {e['batch_id']} missing source_snapshot"
        assert snap["n_files"] == len(snap["files"]) >= 1
        assert set(snap["files"]) <= all_files
        schema_hashes.add(snap["schema_hash"])
        total += e["events_read"]
    assert len(schema_hashes) == 1  # stable source schema identity
    assert total == 2000  # row-count reconciliation with the log

    # LSN-bound pruning: with 4 LSN-ordered tranches and 4 slices, no
    # batch should claim the whole directory fed it
    n_per_batch = sorted(len(e["source_snapshot"]["files"]) for e in entries)
    assert n_per_batch[0] < len(all_files)


def test_read_changes_missing_parent_reports_broken_chain(spark, workdir):
    """A CoW commit whose parent manifest is gone (expired past
    retention) must raise the clear broken-chain error on the change
    feed, not a KeyError from reading a placeholder manifest."""
    t = LakeTable.create(spark, f"{workdir}/lake", SCHEMA, ["conv_id", "turn_idx"], 8)
    t.merge(_upd(spark, [(1, "I", "c0", 0, "a0")]), batch_id="b1")
    t.merge(_upd(spark, [(2, "U", "c0", 0, "a1")]), batch_id="b2")
    os.remove(os.path.join(t.path, "_manifests", "v1.json"))
    t2 = LakeTable.load(spark, f"{workdir}/lake")
    with pytest.raises(ValueError, match="missing from the manifest chain"):
        read_changes(t2, from_version=1, to_version=2).collect()
