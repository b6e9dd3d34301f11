"""JSONL binlog format: the same engine, fed a newline-delimited-JSON
change feed (Kafka/Debezium-style) with a declared schema, must
produce the identical final state as the oracle computed from the
original parquet tranches — schema evolution included."""

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import types as T

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
from gene_etl_spark.runner import CdcIngestRunner
from gene_etl_spark.sources.binlog import BinlogSource
from gene_etl_spark.sources.simulate import generate_change_stream

BINLOG_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("event_ts", T.TimestampNTZType()),
        T.StructField("tool", T.StringType()),
    ]
)


def _to_jsonl(src_dir: str, dst_dir: str) -> None:
    os.makedirs(dst_dir, exist_ok=True)
    for f in sorted(glob.glob(os.path.join(src_dir, "*.parquet"))):
        pdf = pq.read_table(f).to_pandas()
        out = os.path.join(
            dst_dir, os.path.basename(f).replace(".parquet", ".jsonl")
        )
        pdf.to_json(out, orient="records", lines=True, date_format="iso")


def test_jsonl_binlog_replays_to_oracle_state(spark, workdir):
    pq_dir = os.path.join(workdir, "events_pq")
    jl_dir = os.path.join(workdir, "events_jsonl")
    generate_change_stream(
        pq_dir, n_convs=30, max_turns=15, n_events=3000, seed=19, n_tranches=4
    )
    _to_jsonl(pq_dir, jl_dir)

    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=jl_dir,
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8,
        slice_lsn_width=750,
        source_format="jsonl",
        source_schema_json=BINLOG_SCHEMA.json(),
    )
    runner = CdcIngestRunner(spark, cfg)
    summary = runner.run()
    assert summary["n_batches"] == 4
    # oracle materializes from the ORIGINAL parquet tranches: the format
    # change must be invisible to the final state
    assert_replay_equal(
        runner.table.read().toPandas(), materialize_expected(pq_dir)
    )

    # schema evolution groups work for jsonl too: pre-evolution tranches
    # physically lack `tool` and read back as nulls
    src = runner.source
    assert len(src._groups()) == 2
    sl = src.read_slice(0, 3000)
    assert "tool" in sl.columns
    assert sl.where("tool is null").count() > 0


def test_jsonl_streaming_ingest(spark, workdir):
    from gene_etl_spark.lake.table import LakeTable
    from gene_etl_spark.streaming.stream import ingest_stream

    pq_dir = os.path.join(workdir, "events_pq")
    jl_dir = os.path.join(workdir, "events_jsonl")
    generate_change_stream(
        pq_dir, n_convs=20, max_turns=10, n_events=2000, seed=31, n_tranches=4
    )
    _to_jsonl(pq_dir, jl_dir)
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=jl_dir,
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8,
        merge_mode="mor",
        source_format="jsonl",
        source_schema_json=BINLOG_SCHEMA.json(),
    )
    s = ingest_stream(spark, cfg, os.path.join(workdir, "ckpt"), max_files_per_trigger=2)
    assert s["events"] == 2000
    assert_replay_equal(
        LakeTable.load(spark, cfg.lake_path).read().toPandas(),
        materialize_expected(pq_dir),
    )


def test_jsonl_source_requires_schema(spark, workdir):
    import pytest

    with pytest.raises(ValueError, match="explicit schema"):
        BinlogSource(spark, workdir, fmt="jsonl")
    with pytest.raises(ValueError, match="source_schema_json"):
        IngestConfig(source_format="jsonl").validate()
