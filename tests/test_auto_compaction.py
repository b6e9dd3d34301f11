"""MoR auto-compaction policy (round-4 verdict item 6): at 10^10
events nobody calls compact() by hand — the runner loop triggers it
when a bucket's delta-file count exceeds the configured threshold.
Across 50 batches the files-scanned-per-read must stay bounded (≤ 1
base + K deltas per bucket) and replay equality vs the DuckDB oracle
must hold through the interleaved compaction commits."""

import os

import duckdb

from gene_etl_spark import IngestConfig
from gene_etl_spark.runner import CdcIngestRunner
from gene_etl_spark.sources.simulate import generate_change_stream

K = 3
N_BATCHES = 50


def test_policy_bounds_read_amplification_over_50_batches(spark, workdir):
    events = os.path.join(workdir, "events")
    generate_change_stream(events, n_convs=120, n_events=25_000, seed=17)
    cfg = IngestConfig(
        lake_path=os.path.join(workdir, "lake"),
        events_path=events,
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=8,
        slice_lsn_width=500,  # 25k events / 500 → 50 batches
        merge_mode="mor",
        compact_delta_files_per_bucket=K,
    )
    runner = CdcIngestRunner(spark, cfg)
    t = runner.table

    max_scan_files = 0
    applied = 0
    for _ in range(N_BATCHES):
        s = runner.run(max_batches=1)
        if s["n_batches"] == 0:
            break
        applied += s["n_batches"]
        t._manifest_cache = None
        m = t.manifest
        deltas = m.get("deltas", {}) or {}
        per_bucket = [
            len(m["files"].get(b, [])) + len(deltas.get(b, []))
            for b in {*m["files"], *deltas}
        ]
        max_scan_files = max(max_scan_files, max(per_bucket, default=0))
    assert applied == N_BATCHES

    # bounded read amplification: never more than 1 base + (K+1) deltas
    # per bucket (K+1 transiently inside a batch, ≤ K after the policy
    # pass), NOT 50 deltas
    assert max_scan_files <= 1 + K + 1, max_scan_files
    final_deltas = t.manifest.get("deltas", {}) or {}
    assert all(len(f) <= K for f in final_deltas.values())

    # the policy actually fired (compaction commits in the chain)
    compacts = 0
    for v in range(1, t.version + 1):
        try:
            m = t._read_manifest(v)
        except Exception:
            continue
        if m.get("summary", {}).get("operation") == "compact":
            compacts += 1
    assert compacts >= 3

    # replay equality vs the DuckDB oracle through all the compaction
    actual = (
        t.read()
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = (
        duckdb.sql(
            f"""
        with e as (select * from read_parquet('{events}/*.parquet',
                                              union_by_name=true)),
        r as (select *, row_number() over (partition by conv_id, turn_idx
                                           order by lsn desc, ts desc) rn
              from e)
        select conv_id, turn_idx, text from r
        where rn = 1 and op <> 'D' order by conv_id, turn_idx
        """
        )
        .df()
        .reset_index(drop=True)
    )
    assert len(actual) == len(exp)
    assert (actual["text"].values == exp["text"].values).all()


def test_salted_delta_write_file_count_is_pinned(spark, workdir):
    """With shuffle partitions above num_buckets / 2 the MoR delta write
    salts each bucket over nsplit = ceil(2 * shuffle / num_buckets)
    write tasks, so one commit can add up to nsplit delta files to a
    bucket. Pin that bound, and that the threshold policy brings every
    bucket back to at most K delta files. The salt reuses the bucket's
    key hash, so it splits a bucket only when nsplit does not divide
    num_buckets — 4 buckets at 6 shuffle partitions give nsplit 3."""
    import datetime as dt

    from pyspark.sql import types as T

    from gene_etl_spark.lake import maintenance as mt
    from gene_etl_spark.lake.table import LakeTable

    num_buckets, shuffle, nsplit, k = 4, 6, 3, 2
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("text", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    t = LakeTable.create(
        spark, os.path.join(workdir, "lake"), schema, ["conv_id", "turn_idx"],
        num_buckets,
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    try:
        most = 0
        for batch in range(3):
            lsn0 = batch * 1000
            rows = [
                (lsn0 + i + 1, "U", f"c{i % 40}", i // 40, f"b{batch}",
                 dt.datetime(2024, 1, 1))
                for i in range(200)
            ]
            upd = spark.createDataFrame(
                rows,
                "lsn long, op string, conv_id string, turn_idx int,"
                " text string, ts timestamp",
            )
            before = {b: len(fs) for b, fs in t.manifest["deltas"].items()}
            t.merge(upd, batch_id=f"b{batch}", mode="mor",
                    start_lsn=lsn0, end_lsn=lsn0 + 200)
            added = [
                len(fs) - before.get(b, 0) for b, fs in t.manifest["deltas"].items()
            ]
            assert max(added) <= nsplit, added
            most = max(most, max(added))
        assert most > 1  # the salted split actually ran
        mt.compact_if_needed(t, max_delta_files=k)
        assert all(len(fs) <= k for fs in t.manifest["deltas"].values())
        assert t.read().where("text = 'b2'").count() == 200
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
