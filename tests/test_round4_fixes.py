"""Round-4 behavior pins: read_slice file pruning, one-pass footer
stats, interleaved packing ids, the rewritten dup-line-chars fold, and
streaming-maintained ANN via the epoch refresh hook."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gene_etl_spark.sources.binlog import BinlogSource
from gene_etl_spark.sources.simulate import generate_change_stream


def test_read_slice_prunes_tranche_files(spark, workdir):
    """A narrow LSN slice must plan a scan over only the tranche files
    whose footer bounds overlap it — not the whole log."""
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=50, max_turns=20,
        n_events=20_000, seed=3, n_tranches=10,
    )
    src = BinlogSource(spark, os.path.join(workdir, "events"))
    all_files = set(src.files())
    sl = src.read_slice(0, 2000)
    planned = {f.replace("file:", "") for f in sl.inputFiles()}
    assert planned  # something to read
    assert len(planned) < len(all_files)  # pruning actually happened
    # correctness unaffected: the slice still returns exactly its rows
    n = sl.count()
    full = spark.read.parquet(os.path.join(workdir, "events")).where(
        (F.col("lsn") > 0) & (F.col("lsn") <= 2000)
    )
    assert n == full.count()


def test_file_entries_one_footer_pass_matches_single_column(spark, workdir):
    from gene_etl_spark.lake.table import LSN_COL, LakeTable, _file_footer_stats
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(workdir, "lake"), schema,
        key_cols=["conv_id", "turn_idx"], num_buckets=4,
    )
    import datetime as dt

    rows = [(f"c{i % 7}", i, f"t{i}", "U", i + 1, dt.datetime(2024, 1, 1))
            for i in range(200)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, op string, lsn long, ts timestamp"
    )
    t.merge(df, batch_id="b1", start_lsn=0, end_lsn=200)
    m = t.manifest
    bucket_files = {b: fs for b, fs in m["files"].items() if fs}
    entries = t._file_entries(bucket_files)
    for b, ents in entries.items():
        assert [e["path"] for e in ents] == bucket_files[b]
        for e in ents:
            path = os.path.join(t.path, e["path"])
            assert e["key"] == _file_footer_stats(path, ["conv_id"], set())["conv_id"]
            assert e["lsn"] == _file_footer_stats(path, [LSN_COL], set())[LSN_COL]
    assert entries  # LSN stats actually recorded
    # the committed entries are the ones the footer pass builds
    assert {b: list(m["entries"][b]) for b in bucket_files} == entries


def test_packing_ids_unique_across_many_bins_per_group(spark):
    """Interleaved bin ids: two groups each packing many bins never
    collide (the round-3 shift scheme capped bins per group)."""
    from gene_etl_spark.operators.packing import pack_sequences

    # num_groups=2, window=10, every doc size 10 -> one bin per doc:
    # each group packs ~500 bins; ids must stay globally unique
    docs = spark.createDataFrame(
        [(i, 10) for i in range(1000)], "doc_id long, n_tokens long"
    )
    packed = pack_sequences(docs, 10, num_groups=2).collect()
    ids = [r.bin_id for r in packed]
    assert len(set(ids)) == len(ids) == 1000
    assert all(r.bin_fill == 10 and not r.oversize for r in packed)


def test_dup_line_char_frac_run_fold_edges(spark):
    """The sorted-run rewrite of duplicated-line chars: triples, two
    distinct duplicate groups, and all-unique lines."""
    from gene_etl_spark.operators.repetition import repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "aa\nbb\naa\nbb\naa"),       # aa x3 (6), bb x2 (4); all dup
            (2, "xx\nyy\nzz"),               # no dups
            (3, "longline\nlongline\nshort"),  # 16 of 21 chars dup
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_signals(docs).collect()}
    assert out[1].dup_line_char_frac == 1.0
    assert out[2].dup_line_char_frac == 0.0
    assert out[3].dup_line_char_frac == round(16 / 21, 6)


def test_streaming_epoch_hook_maintains_ann_index(spark, workdir):
    """ingest_stream's refresh hook is duck-typed: an IvfVectorIndex
    passed as a rollup is kept current epoch by epoch; the final index
    equals a from-scratch rebuild."""
    import pyspark.sql.types as T

    from gene_etl_spark.config import IngestConfig
    from gene_etl_spark.lake.ann_index import IvfVectorIndex
    from gene_etl_spark.lake.table import LakeTable
    from gene_etl_spark.streaming.stream import ingest_stream

    dim = 6
    rng = np.random.default_rng(11)
    import datetime as dt

    rows = [
        (f"v", i, [float(x) for x in rng.standard_normal(dim)], "U", i + 1,
         dt.datetime(2024, 1, 1, 0, 0, i % 60))
        for i in range(60)
    ]
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
            T.StructField("op", T.StringType()),
            T.StructField("lsn", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    ev_dir = os.path.join(workdir, "events")
    spark.createDataFrame(rows, schema).repartition(3).write.parquet(ev_dir)
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=ev_dir,
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=4,
        key_cols=("conv_id", "turn_idx"),
        source_schema_json=schema.json(),
    )
    # pre-create the lake so the index can bind to it before the stream
    table = LakeTable.create(
        spark, cfg.lake_path,
        T.StructType([f for f in schema.fields if f.name in ("conv_id", "turn_idx", "embedding", "ts")]),
        key_cols=["conv_id", "turn_idx"], num_buckets=4,
    )
    # composite base key: the index takes the unique component explicitly
    base_keyed = LakeTable.load(spark, cfg.lake_path)
    idx = IvfVectorIndex(
        spark, os.path.join(workdir, "ann"), base_keyed, dim=dim, n_bits=3,
        vec_key="turn_idx",
    )
    out = ingest_stream(
        spark, cfg, os.path.join(workdir, "ckpt"),
        max_files_per_trigger=1, rollups=[idx],
    )
    assert out["epochs"] >= 2  # hook fired per epoch
    fresh = IvfVectorIndex(
        spark, os.path.join(workdir, "ann_fresh"), base_keyed, dim=dim, n_bits=3,
        vec_key="turn_idx",
    )
    fresh.refresh()
    a = {(r.cell, r.turn_idx) for r in idx.table.read().collect()}
    b = {(r.cell, r.turn_idx) for r in fresh.table.read().collect()}
    assert a == b and len(a) == 60
