"""CDC engine queries for the driver gate.

``cdc_replay`` derives a deterministic change stream from the `events`
test table, replays it batch-wise through the REAL engine (lake format,
max_by LWW dedup, copy-on-write MERGE, ledger, fencing) into a temp
warehouse, and returns the final lake state. The DuckDB oracle states
the same last-writer-wins materialization in pure SQL — so the whole
ingest path is value-hash-gated by the driver, not just rows-checked.

Derivation (identical in Spark and SQL):
    conv_id  = 'u' || user_id
    turn_idx = event_id % 40
    lsn      = event_id + 1
    op       = 'D' if event_type='error' and value < 50 else 'U'
    role     = event_type
    text     = props || '#' || floor(value * 10)
    ts       = ts
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def derived_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.select(
        (F.col("event_id") + 1).cast("long").alias("lsn"),
        F.when(
            (F.col("event_type") == "error") & (F.col("value") < 50), F.lit("D")
        ).otherwise(F.lit("U")).alias("op"),
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        F.pmod(F.col("event_id"), F.lit(40)).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.concat(
            F.col("props"), F.lit("#"), F.floor(F.col("value") * 10).cast("string")
        ).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
        F.col("ts").alias("event_ts"),
    )


def _replay_through_engine(spark: SparkSession, sf_dir: str, **cfg_kw) -> DataFrame:
    from gene_etl_spark.config import IngestConfig
    from gene_etl_spark.runner import CdcIngestRunner

    base = tempfile.mkdtemp(prefix="cdc_replay_")
    try:
        events_dir = os.path.join(base, "events")
        derived_change_events(spark, sf_dir).repartition(4).write.parquet(events_dir)

        max_lsn = spark.read.parquet(events_dir).agg(F.max("lsn")).collect()[0][0]
        defaults = dict(
            lake_path=os.path.join(base, "lake"),
            events_path=events_dir,
            ledger_path=os.path.join(base, "ledger"),
            metrics_path=os.path.join(base, "metrics"),
            validation_path=os.path.join(base, "validation"),
            num_buckets=16,
            slice_lsn_width=max(1, int(max_lsn) // 4),  # 4-5 batches
        )
        defaults.update(cfg_kw)
        cfg = IngestConfig(**defaults)
        runner = CdcIngestRunner(spark, cfg)
        runner.run()
        out = runner.table.read().select("conv_id", "turn_idx", "role", "text", "ts")
        # materialize before the temp warehouse is deleted
        pdf = out.toPandas()
        return spark.createDataFrame(pdf, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_cdc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write replay through the full engine."""
    return _replay_through_engine(spark, sf_dir, merge_mode="cow")


def q_cdc_replay_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read replay (delta appends + resolve-on-read) with
    mid-run threshold compaction (any bucket past one delta file is
    rewritten) — the write-optimized engine path, value-gated against
    the same pure-SQL oracle."""
    return _replay_through_engine(
        spark, sf_dir, merge_mode="mor", compact_delta_files_per_bucket=1
    )


def q_cdc_replay_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming replay: readStream → foreachBatch through the
    batch runner's slice-apply core, availableNow drain."""
    from gene_etl_spark.config import IngestConfig
    from gene_etl_spark.lake.table import LakeTable
    from gene_etl_spark.streaming.stream import ingest_stream

    base = tempfile.mkdtemp(prefix="cdc_stream_")
    try:
        events_dir = os.path.join(base, "events")
        derived_change_events(spark, sf_dir).repartition(4).write.parquet(events_dir)
        cfg = IngestConfig(
            lake_path=os.path.join(base, "lake"),
            events_path=events_dir,
            ledger_path=os.path.join(base, "ledger"),
            metrics_path=os.path.join(base, "metrics"),
            validation_path=os.path.join(base, "validation"),
            num_buckets=16,
            merge_mode="mor",
        )
        ingest_stream(spark, cfg, os.path.join(base, "ckpt"), max_files_per_trigger=2)
        table = LakeTable.load(spark, cfg.lake_path)
        out = table.read().select("conv_id", "turn_idx", "role", "text", "ts")
        pdf = out.toPandas()
        return spark.createDataFrame(pdf, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_CDC_REPLAY = """
WITH derived AS (
  SELECT (event_id + 1)::BIGINT AS lsn,
         CASE WHEN event_type = 'error' AND value < 50 THEN 'D' ELSE 'U' END AS op,
         'u' || user_id::VARCHAR AS conv_id,
         (event_id % 40)::INTEGER AS turn_idx,
         event_type AS role,
         props || '#' || FLOOR(value * 10)::BIGINT::VARCHAR AS text,
         ts
  FROM events
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY lsn DESC, ts DESC) AS rn
  FROM derived
)
SELECT conv_id, turn_idx, role, text, ts
FROM ranked WHERE rn = 1 AND op <> 'D'
"""


def q_cdc_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental change feed (CDF) out of the lake: replay the derived
    stream through the MoR engine (pure delta commits, no compaction),
    then read back EVERY commit's changes via read_changes(0). Each MoR
    commit streams its deduped slice verbatim, so the feed equals the
    per-slice LWW winners — which the DuckDB oracle states in pure SQL
    (slice = ceil(lsn / width), winner per (slice, key), op as U/D)."""
    from gene_etl_spark.config import IngestConfig
    from gene_etl_spark.lake.changes import CHANGE_OP_COL, VERSION_COL, read_changes
    from gene_etl_spark.runner import CdcIngestRunner

    base = tempfile.mkdtemp(prefix="cdc_changes_")
    try:
        events_dir = os.path.join(base, "events")
        derived_change_events(spark, sf_dir).repartition(4).write.parquet(events_dir)
        max_lsn = spark.read.parquet(events_dir).agg(F.max("lsn")).collect()[0][0]
        cfg = IngestConfig(
            lake_path=os.path.join(base, "lake"),
            events_path=events_dir,
            ledger_path=os.path.join(base, "ledger"),
            metrics_path=os.path.join(base, "metrics"),
            validation_path=os.path.join(base, "validation"),
            num_buckets=16,
            slice_lsn_width=max(1, int(max_lsn) // 4),
            merge_mode="mor",
        )
        runner = CdcIngestRunner(spark, cfg)
        runner.run()
        # snapshot v == slice number: the chain is create(v0) then one
        # pure-delta commit per slice, in slice order
        out = read_changes(runner.table, 0).select(
            "conv_id",
            "turn_idx",
            F.col("_lsn").cast("long").alias("lsn"),
            F.col(CHANGE_OP_COL).alias("change_op"),
            F.col(VERSION_COL).cast("long").alias("slice"),
        )
        pdf = out.toPandas()
        return spark.createDataFrame(pdf, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_CDC_CHANGES = """
WITH derived AS (
  SELECT (event_id + 1)::BIGINT AS lsn,
         CASE WHEN event_type = 'error' AND value < 50 THEN 'D' ELSE 'U' END AS op,
         'u' || user_id::VARCHAR AS conv_id,
         (event_id % 40)::INTEGER AS turn_idx,
         ts
  FROM events
), w AS (
  SELECT GREATEST(MAX(lsn) // 4, 1)::BIGINT AS width FROM derived
), sliced AS (
  SELECT d.*, ((lsn - 1) // width + 1)::BIGINT AS slice FROM derived d, w
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY slice, conv_id, turn_idx
                               ORDER BY lsn DESC, ts DESC) AS rn
  FROM sliced
)
SELECT conv_id, turn_idx, lsn,
       CASE WHEN op = 'D' THEN 'D' ELSE 'U' END AS change_op,
       slice
FROM ranked WHERE rn = 1
"""


def q_rollup_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-rollup maintenance, value-gated end-to-end (round-4,
    verdict item 5): replay the derived change stream through the REAL
    engine slice by slice, refreshing a per-role rollup (turn count +
    total text chars — the reference's per-cohort summary view shape,
    models.py:268-283) after EVERY committed batch via the change-feed
    dirty-group path (lake/rollup.py). The returned final rollup state
    must equal the DuckDB oracle's FULL recompute over the LWW winners —
    i.e. N incremental refreshes == one full rebuild, the defining
    invariant of incremental view maintenance."""
    from gene_etl_spark.config import IngestConfig
    from gene_etl_spark.lake.rollup import ContinuousRollup
    from gene_etl_spark.runner import CdcIngestRunner

    base = tempfile.mkdtemp(prefix="rollup_refresh_")
    try:
        events_dir = os.path.join(base, "events")
        derived_change_events(spark, sf_dir).repartition(4).write.parquet(events_dir)
        max_lsn = spark.read.parquet(events_dir).agg(F.max("lsn")).collect()[0][0]
        cfg = IngestConfig(
            lake_path=os.path.join(base, "lake"),
            events_path=events_dir,
            ledger_path=os.path.join(base, "ledger"),
            metrics_path=os.path.join(base, "metrics"),
            validation_path=os.path.join(base, "validation"),
            num_buckets=16,
            slice_lsn_width=max(1, int(max_lsn) // 4),
            merge_mode="cow",
        )
        runner = CdcIngestRunner(spark, cfg)
        roll = ContinuousRollup(
            spark,
            os.path.join(base, "rollup_role"),
            runner.table,
            group_cols=["role"],
            agg_exprs=[
                F.count(F.lit(1)).cast("long").alias("n_turns"),
                F.sum(F.length("text")).cast("long").alias("total_chars"),
            ],
            num_buckets=4,
        )
        for lo, hi in runner.source.plan_batches(0, cfg.slice_lsn_width, None):
            runner.apply_batch(lo, hi)
            roll.refresh()  # folds exactly this batch's dirty groups
        out = roll.read().select("role", "n_turns", "total_chars")
        pdf = out.toPandas()
        return spark.createDataFrame(pdf, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


SQL_ROLLUP_REFRESH = """
WITH derived AS (
  SELECT (event_id + 1)::BIGINT AS lsn,
         CASE WHEN event_type = 'error' AND value < 50 THEN 'D' ELSE 'U' END AS op,
         'u' || user_id::VARCHAR AS conv_id,
         (event_id % 40)::INTEGER AS turn_idx,
         event_type AS role,
         props || '#' || FLOOR(value * 10)::BIGINT::VARCHAR AS text,
         ts
  FROM events
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY lsn DESC, ts DESC) AS rn
  FROM derived
)
SELECT role, COUNT(*)::BIGINT AS n_turns, SUM(LENGTH(text))::BIGINT AS total_chars
FROM ranked WHERE rn = 1 AND op <> 'D'
GROUP BY 1
"""


def q_lww_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted two-phase LWW dedup operator itself (skew path forced),
    oracle-checked against a plain window dedup in SQL."""
    from gene_etl_spark.operators.dedup import lww_dedup

    ev = derived_change_events(spark, sf_dir)
    return lww_dedup(
        ev, key_cols=("conv_id", "turn_idx"), order_cols=("lsn", "ts"), num_salts=8
    ).select("conv_id", "turn_idx", "lsn", "op", "text")


SQL_LWW_DEDUP_SALTED = """
WITH derived AS (
  SELECT (event_id + 1)::BIGINT AS lsn,
         CASE WHEN event_type = 'error' AND value < 50 THEN 'D' ELSE 'U' END AS op,
         'u' || user_id::VARCHAR AS conv_id,
         (event_id % 40)::INTEGER AS turn_idx,
         props || '#' || FLOOR(value * 10)::BIGINT::VARCHAR AS text,
         ts
  FROM events
)
SELECT conv_id, turn_idx, lsn, op, text
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                               ORDER BY lsn DESC, ts DESC) AS rn
  FROM derived
) WHERE rn = 1
"""


def q_dedup_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-maintained dedup index, value-gated end-to-end (round-4,
    session 2): build the documents corpus as a LakeTable through THREE
    engine commits whose churn converges to the parquet state —
    slice 1 inserts ⅔ of the corpus with ⅓ of it CORRUPTED plus ghost
    docs, slice 2 inserts the rest and DELETES the ghosts, slice 3
    re-upserts the corrupted third with its true text (band moves) —
    refreshing the CorpusDedupIndex (lake/dedup_index.py) after EVERY
    commit, then probe a derived batch (verbatim copies / token-appended
    near-dups / reversed-text misses) against the index. The DuckDB
    oracle restates the probe joins over a FULL re-sketch of the final
    corpus: N incremental refreshes (with tombstoned ghosts and
    re-sketched edits) must equal one clean build, and the probe
    decisions are the deterministic MinHash/fingerprint matches."""
    import pyspark.sql.types as T

    from gene_etl_spark.lake.dedup_index import CorpusDedupIndex
    from gene_etl_spark.lake.table import LakeTable

    base = tempfile.mkdtemp(prefix="dedup_index_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang", "text"
        )
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("lang", T.StringType(), True),
                T.StructField("text", T.StringType(), True),
            ]
        )
        table = LakeTable.create(
            spark, os.path.join(base, "docs"), schema,
            key_cols=["doc_id"], num_buckets=8,
        )
        idx = CorpusDedupIndex(spark, os.path.join(base, "dix"), table)

        def commit(df, bid: str, lsn: int) -> None:
            table.merge(
                df.withColumn("lsn", F.lit(lsn).cast("long")).withColumn(
                    "ts", F.lit(None).cast("timestamp")
                ),
                batch_id=bid, start_lsn=lsn - 1, end_lsn=lsn,
            )
            idx.refresh()

        m3 = F.pmod(F.col("doc_id"), F.lit(3))
        ghosts = docs.where(m3 == 0).select(
            (F.col("doc_id") + 9000000).alias("doc_id"),
            F.col("lang"),
            F.concat(F.lit("ghost doc "), F.col("doc_id").cast("string")).alias("text"),
        )
        s1 = (
            docs.where(m3 < 2)
            .select(
                "doc_id",
                "lang",
                F.when(m3 == 1, F.lit("corrupted placeholder text"))
                .otherwise(F.col("text"))
                .alias("text"),
            )
            .unionByName(ghosts)
            .withColumn("op", F.lit("U"))
        )
        commit(s1, "s1", 1)
        s2 = (
            docs.where(m3 == 2)
            .select("doc_id", "lang", "text")
            .withColumn("op", F.lit("U"))
            .unionByName(
                ghosts.select(
                    "doc_id", "lang", F.lit(None).cast("string").alias("text")
                ).withColumn("op", F.lit("D"))
            )
        )
        commit(s2, "s2", 2)
        s3 = (
            docs.where(m3 == 1)
            .select("doc_id", "lang", "text")
            .withColumn("op", F.lit("U"))
        )
        commit(s3, "s3", 3)

        m5 = F.pmod(F.col("doc_id"), F.lit(5))
        probe = (
            docs.where(m5 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
            .unionByName(
                docs.where(m5 == 1).select(
                    (F.col("doc_id") + 2000000).alias("doc_id"),
                    F.concat(
                        F.col("text"), F.lit(" zyx wvu tsr qpo nml")
                    ).alias("text"),
                )
            )
            .unionByName(
                docs.where(m5 == 2).select(
                    (F.col("doc_id") + 3000000).alias("doc_id"),
                    F.reverse(F.col("text")).alias("text"),
                )
            )
        )
        out = idx.probe(probe).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "match_kind",
            F.col("match_id").cast("long").alias("match_id"),
        )
        pdf = out.toPandas()
        # release the probe's cached sketch: this battery runs 49 more
        # queries in the same session (CLAUDE.md sketch-cache rule)
        idx.release()
        return spark.createDataFrame(pdf, out.schema)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _sql_sketch_cte(src: str, p: str) -> str:
    """CTE block re-sketching source ``src`` (doc_id, text) with the
    engine's MinHash constants (queries/common.py): emits ``{p}_fp``
    (doc_id, fp) and ``{p}_bands`` (doc_id, band, bucket, fp)."""
    from gene_etl_spark.queries.common import (
        BAND_SIZE,
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        NUM_HASHES,
        TOKEN_P,
    )

    num_bands = NUM_HASHES // BAND_SIZE
    hs = f"(('0x' || substr(md5(sh), 1, 15))::BIGINT % {TOKEN_P})"
    mins = ",\n         ".join(
        f"MIN(({MINHASH_A[i]} * {hs} + {MINHASH_B[i]}) % {MINHASH_P})::BIGINT AS mh{i}"
        for i in range(NUM_HASHES)
    )
    band_selects = []
    for band in range(num_bands):
        concat = " || '_' || ".join(
            f"mh{i}::VARCHAR" for i in range(band * BAND_SIZE, (band + 1) * BAND_SIZE)
        )
        band_selects.append(
            f"SELECT doc_id, {band} AS band, "
            f"('0x' || substr(md5({concat}), 1, 15))::BIGINT AS bucket FROM {p}_sig"
        )
    return rf"""
{p}_norm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM {src}
),
{p}_fp AS (
  SELECT doc_id, ('0x' || substr(md5(norm), 1, 15))::BIGINT AS fp FROM {p}_norm
),
{p}_arr AS (
  SELECT doc_id, string_split(norm, ' ') AS arr FROM {p}_norm
),
{p}_sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(arr)), i -> arr[i] || ' ' || arr[i+1])) AS sh
  FROM {p}_arr WHERE len(arr) >= 2
),
{p}_sig AS (
  SELECT doc_id,
         {mins}
  FROM {p}_sh GROUP BY doc_id
),
{p}_bands AS (
  SELECT b.doc_id, b.band, b.bucket, f.fp
  FROM ({' UNION ALL '.join(band_selects)}) b
  JOIN {p}_fp f USING (doc_id)
)"""


SQL_DEDUP_INDEX_PROBE = (
    "WITH corpus AS (\n"
    "  SELECT doc_id::BIGINT AS doc_id, text FROM documents\n"
    "), probe AS (\n"
    "  SELECT (doc_id + 1000000)::BIGINT AS doc_id, text\n"
    "  FROM corpus WHERE doc_id % 5 = 0\n"
    "  UNION ALL\n"
    "  SELECT (doc_id + 2000000)::BIGINT, text || ' zyx wvu tsr qpo nml'\n"
    "  FROM corpus WHERE doc_id % 5 = 1\n"
    "  UNION ALL\n"
    "  SELECT (doc_id + 3000000)::BIGINT, reverse(text)\n"
    "  FROM corpus WHERE doc_id % 5 = 2\n"
    "),"
    + _sql_sketch_cte("corpus", "c")
    + ","
    + _sql_sketch_cte("probe", "p")
    + """,
exact AS (
  SELECT p.doc_id, 'exact' AS match_kind, MIN(c.doc_id)::BIGINT AS match_id
  FROM p_fp p JOIN c_fp c USING (fp)
  GROUP BY 1
),
near AS (
  SELECT pb.doc_id, 'near' AS match_kind, MIN(cb.doc_id)::BIGINT AS match_id
  FROM p_bands pb
  JOIN c_bands cb ON pb.band = cb.band AND pb.bucket = cb.bucket
                 AND cb.fp <> pb.fp
  WHERE pb.doc_id NOT IN (SELECT doc_id FROM exact)
  GROUP BY 1
)
SELECT doc_id, match_kind, match_id FROM exact
UNION ALL
SELECT doc_id, match_kind, match_id FROM near
"""
)


QUERIES = {
    "cdc_replay": q_cdc_replay,
    "cdc_replay_mor": q_cdc_replay_mor,
    "cdc_replay_stream": q_cdc_replay_stream,
    "cdc_changes": q_cdc_changes,
    "rollup_refresh": q_rollup_refresh,
    "dedup_index_probe": q_dedup_index_probe,
    "lww_dedup_salted": q_lww_dedup_salted,
}

ORACLES = {
    "cdc_replay": SQL_CDC_REPLAY,
    "cdc_replay_mor": SQL_CDC_REPLAY,
    "cdc_replay_stream": SQL_CDC_REPLAY,
    "cdc_changes": SQL_CDC_CHANGES,
    "rollup_refresh": SQL_ROLLUP_REFRESH,
    "dedup_index_probe": SQL_DEDUP_INDEX_PROBE,
    "lww_dedup_salted": SQL_LWW_DEDUP_SALTED,
}
