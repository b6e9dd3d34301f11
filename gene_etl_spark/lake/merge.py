"""Copy-on-write MERGE INTO for LakeTable.

Semantics (the Iceberg MERGE the north rule names, SURVEY.md §2.3 J7):

    MERGE INTO lake t USING updates u
    ON t.conv_id = u.conv_id AND t.turn_idx = u.turn_idx
    WHEN MATCHED AND u._wins AND u.op = 'D' THEN DELETE
    WHEN MATCHED AND u._wins                THEN UPDATE SET *
    WHEN NOT MATCHED AND u.op != 'D'        THEN INSERT *

where ``u._wins`` is the cross-batch last-writer-wins guard
``(u.lsn, u.ts) >= (t._lsn, t.ts)`` — so even a disordered replay of
already-applied slices converges to the same state (idempotence beyond
fencing).

Scale properties:
- The target scan is pruned to the buckets the update slice touches
  (collected as a tiny list of ints ≤ num_buckets).
- The join shuffles on the key; AQE skew-join plus the caller's max_by
  dedup (map-side combine collapses a hot key before the shuffle) keep
  hot conversations from serializing a task.
- The rewrite repartitions on (bucket_id, conv_id) so every output file
  is bucket-pure while hot buckets still fan out across tasks.
- Per-partition lineage counters come from the same joined plan (one
  target scan, persisted) — reference analogue of success/fail
  accounting at etl/persist.py:60-87.

``updates`` must be key-deduped first (operators.dedup.lww_dedup_agg); merge
asserts nothing and trusts the contract, like Iceberg's MERGE requires a
unique source key (cardinality check left to the caller).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

BUCKET_COL = "bucket_id"

# Guard-side journal broadcast cutoff — mirrors the 32 MB delta cutoff
# the MoR fast resolve uses (table.py): below it the folded per-key max
# comfortably fits every executor; above it broadcasting an unboundedly
# grown journal risks OOM in the hot apply path, so the guard joins by
# shuffle instead.
TOMBSTONE_BROADCAST_MAX_BYTES = 32 * 1024 * 1024


def _tombstone_guard(
    table, upd: DataFrame, key_cols, op_col, lsn_col, ts_col, start_lsn
) -> DataFrame:
    """Drop incoming rows outranked by a journaled delete — the Kafka
    ``delete.retention.ms`` analogue. A LATE slice (out-of-order file
    delivery in the stream source, an unfenced replay) can carry an
    upsert whose key a higher-LSN batch already deleted; in CoW the
    deleted row is gone, so the row-level LWW guard has nothing to
    compare against and the key would resurrect. The journal remembers
    every delete's (key, lsn, ts); strictness mirrors ``u_wins`` (an
    equal-(lsn, ts) event is the same event — a replayed delete resolves
    to a no-op, never a resurrect). Reads only tombstones with
    ``_lsn > start_lsn`` — for in-order slices the cached footer bounds
    prove the journal irrelevant driver-side, so the guard costs one
    listdir and builds NO plan at all (previously the row pushdown
    pruned everything but the merge still paid a scan+agg+broadcast job
    per batch).

    The per-key max aggregate is broadcast only while the journal's
    on-disk size stays under ``TOMBSTONE_BROADCAST_MAX_BYTES`` — the
    same size-aware cutoff the MoR fast resolve uses. Past it (an
    unbounded-retention table with heavy churn) the guard switches to a
    shuffle join: slower per batch but never a driver/executor OOM, and
    a loud hint to set ``tombstone_retention_lsns``."""
    tdf = table.read_tombstones(min_lsn=start_lsn)
    if tdf is None:
        return upd
    TK = "__tk_"
    agg = tdf.groupBy(*[F.col(k).alias(TK + k) for k in key_cols]).agg(
        F.max(F.struct(F.col("_lsn"), F.col("_ts"))).alias("__tomb")
    )
    small_enough = table.tombstone_bytes() <= TOMBSTONE_BROADCAST_MAX_BYTES
    if not small_enough:
        import warnings

        warnings.warn(
            "tombstone journal exceeds the broadcast cutoff "
            f"({TOMBSTONE_BROADCAST_MAX_BYTES >> 20} MB); the merge guard "
            "falls back to a shuffle join — bound the journal with "
            "IngestConfig.tombstone_retention_lsns / "
            "maintenance.prune_tombstones",
            stacklevel=2,
        )
    else:
        agg = F.broadcast(agg)
    cond = None
    for k in key_cols:
        c = F.col(k).eqNullSafe(F.col(TK + k))
        cond = c if cond is None else cond & c
    u_lsn = F.col(lsn_col).cast("long")
    u_ts = (
        F.col(ts_col).cast("timestamp")
        if ts_col in upd.columns
        else F.lit(None).cast("timestamp")
    )
    t_lsn, t_ts = F.col("__tomb._lsn"), F.col("__tomb._ts")
    keep = (
        F.col("__tomb").isNull()
        | (u_lsn > t_lsn)
        | ((u_lsn == t_lsn) & F.coalesce(u_ts > t_ts, F.lit(False)))
    )
    return (
        upd.join(agg, cond, "left")
        .where(keep)
        .drop("__tomb", *[TK + k for k in key_cols])
    )


def _journal_tombstones(
    table, upd: DataFrame, key_cols, op_col, lsn_col, ts_col, version
) -> None:
    """Append the slice's delete events to the tombstone journal. Runs
    over the already-persisted slice (one tiny job), BEFORE the manifest
    link — like data files, a losing/crashed commit can leave orphan
    tombstones, which only ever suppress events older than a delete the
    batch will re-commit on replay (conservative, self-healing)."""
    import uuid as _uuid

    from gene_etl_spark.lake.table import TOMBSTONE_DIR

    ts_expr = (
        F.col(ts_col).cast("timestamp")
        if ts_col in upd.columns
        else F.lit(None).cast("timestamp")
    )
    out = os.path.join(
        table.path,
        TOMBSTONE_DIR,
        f"d-v{version:06d}-{_uuid.uuid4().hex[:8]}",
    )
    (
        upd.where(F.col(op_col) == "D")
        .select(
            *[F.col(k) for k in key_cols],
            F.col(lsn_col).cast("long").alias("_lsn"),
            ts_expr.alias("_ts"),
        )
        # repartition, not coalesce: coalesce(1) folds the filter into a
        # single task that reads every cached partition serially; the
        # shuffle costs a few journal-row-sized blocks and keeps the
        # delete filter parallel
        .repartition(1)
        .write.mode("overwrite")
        .parquet(out)
    )


def _counters_agg(merged: DataFrame, key_cols: list[str]) -> DataFrame:
    """Per-partition lineage counters + output-key uniqueness in one pass
    over the cached join output. The full_outer join hash-partitions by
    the key, so per-partition countDistinct sums to the exact global
    distinct — the post-validation uniqueness check costs no extra scan."""
    survivor = ~F.col("__action").isin("delete", "noop")
    key0, key_rest = key_cols[0], key_cols[1:]
    return merged.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.sum((F.col("__action") == "insert").cast("long")).alias("inserts"),
        F.sum((F.col("__action") == "update").cast("long")).alias("updates"),
        F.sum((F.col("__action") == "delete").cast("long")).alias("deletes"),
        F.sum(F.col("__action").isin("noop", "stale").cast("long")).alias("noops"),
        F.sum(survivor.cast("long")).alias("n_out"),
        F.countDistinct(
            F.when(survivor, F.col(key0)),
            *[F.when(survivor, F.col(k)) for k in key_rest],
        ).alias("n_out_keys"),
    )


def _evolve_schema(table, updates: DataFrame, op_col: str, lsn_col: str):
    """Additive schema evolution: payload columns of the update slice
    that the table lacks extend its schema as nullable fields (old files
    read them back as null). Returns (evolved schema, new fields)."""
    schema = table.schema
    known = {op_col, lsn_col, "event_ts", BUCKET_COL, *schema.fieldNames()}
    new_fields = [
        T.StructField(f.name, f.dataType, True)
        for f in updates.schema.fields
        if f.name not in known
    ]
    return T.StructType(list(schema.fields) + new_fields), new_fields


@dataclass
class MergeResult:
    snapshot_version: int
    touched_buckets: list[int]
    inserts: int = 0
    updates: int = 0
    deletes: int = 0
    noops: int = 0  # deletes of absent keys + stale (LWW-lost) events
    total_rows: int = 0
    output_rows: int = 0  # rows written for the touched buckets
    output_keys: int = 0  # distinct keys among them (uniqueness invariant)
    wall_ms: int = 0
    partition_counters: list[dict] = field(default_factory=list)
    timings: dict = field(default_factory=dict)
    # WAP: set when the merge was parked as a staged (unpublished)
    # snapshot — snapshot_version is then provisional until publish
    stage_id: str | None = None


def merge_into(
    table,
    updates: DataFrame,
    *,
    batch_id: str | None = None,
    op_col: str = "op",
    lsn_col: str = "lsn",
    ts_col: str = "ts",
    start_lsn: int | None = None,
    end_lsn: int | None = None,
    mode: str = "cow",
    pre_commit_gate=None,
    stage_id: str | None = None,
) -> MergeResult:
    """mode='cow' rewrites touched buckets (read-optimized); mode='mor'
    appends per-bucket delta files with ops+LSNs retained (write-
    optimized: merge cost ∝ the slice, never the table — the 10^10-event
    design point; reads resolve LWW over base∪deltas until compaction
    folds them in).

    ``pre_commit_gate`` (optional callable) is invoked after the first
    job over the update slice (bucket discovery — the point where
    DataFrame.observe metrics on the slice become available) and BEFORE
    any data file or manifest is written: raising from it aborts the
    merge with the lake untouched. This is what lets the runner fuse
    pre-validation into the dedup pass instead of scanning the slice
    twice.

    ``stage_id`` switches the commit to write-audit-publish staging: the
    merge runs in full (data files, pieces, counters) but the snapshot
    is parked under ``_manifests/staged/{stage_id}.json`` instead of
    entering the version chain — invisible to readers until
    ``lake.wap.publish_staged`` commits it (or ``abandon_staged`` drops
    it). Complements ``pre_commit_gate``: the gate aborts on slice-level
    metrics before anything is written; WAP lets an auditor query the
    REAL merged files before they become the table."""
    if mode == "mor":
        return _merge_mor(
            table, updates, batch_id=batch_id, op_col=op_col, lsn_col=lsn_col,
            ts_col=ts_col, start_lsn=start_lsn, end_lsn=end_lsn,
            pre_commit_gate=pre_commit_gate, stage_id=stage_id,
        )
    from gene_etl_spark.lake.table import LSN_COL

    t0 = time.time()
    # plan against the CURRENT manifest, not this handle's cache: a
    # long-lived handle (a stream across epochs) must see maintenance
    # committed between its merges — compaction supersedes files our
    # stale plan would re-derive, and a rebucket flips the bucketing the
    # merge derives. Sequential interleavings thus self-propagate;
    # commit_with_rebase still refuses the truly-concurrent races
    # (mid-merge rebucket / overlapping CoW rewrite).
    table._manifest_cache = None
    manifest = table.manifest
    key_cols = table.key_cols
    num_buckets = table.num_buckets

    evolved_schema, new_fields = _evolve_schema(table, updates, op_col, lsn_col)
    payload_cols = [f.name for f in evolved_schema.fields]

    # ---- bucket the update slice; prune the target scan -----------------
    timings: dict[str, float] = {}
    tp = time.time()
    upd = updates.withColumn(BUCKET_COL, table.bucket_expr())
    upd = _tombstone_guard(
        table, upd, key_cols, op_col, lsn_col, ts_col, start_lsn
    )
    upd = upd.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # one job: touched buckets + whether the slice carries deletes
        # (gates the tombstone-journal write)
        brows = (
            upd.groupBy(BUCKET_COL)
            .agg(F.max((F.col(op_col) == "D").cast("int")).alias("has_d"))
            .collect()
        )
        touched = sorted(r[BUCKET_COL] for r in brows)
        slice_has_deletes = any(r["has_d"] for r in brows)
        if pre_commit_gate is not None:
            pre_commit_gate()
    except BaseException:
        upd.unpersist()
        raise
    timings["dedup_buckets_sec"] = round(time.time() - tp, 3)

    target = table.read(buckets=touched, include_meta=True)
    # align target to the evolved schema (old rows read nulls for new cols)
    for f in new_fields:
        if f.name not in target.columns:
            target = target.withColumn(f.name, F.lit(None).cast(f.dataType))

    TP, UP = "__t_", "__u_"
    t_side = target.select(
        *[F.col(c).alias(TP + c) for c in payload_cols + [LSN_COL]],
        F.lit(True).alias(TP + "exists"),
    )
    u_cols = []
    for c in payload_cols:
        if c in upd.columns:
            u_cols.append(F.col(c).alias(UP + c))
        else:  # update slice predates a column the table already has
            u_cols.append(F.lit(None).cast(evolved_schema[c].dataType).alias(UP + c))
    u_side = upd.select(
        *u_cols,
        F.col(op_col).alias(UP + "op"),
        F.col(lsn_col).cast("long").alias(UP + "lsn"),
        F.lit(True).alias(UP + "exists"),
    )

    cond = None
    for k in key_cols:
        c = F.col(TP + k).eqNullSafe(F.col(UP + k))
        cond = c if cond is None else (cond & c)
    joined = t_side.join(u_side, cond, "full_outer")

    t_exists = F.coalesce(F.col(TP + "exists"), F.lit(False))
    u_exists = F.coalesce(F.col(UP + "exists"), F.lit(False))
    u_lsn, t_lsn = F.col(UP + "lsn"), F.col(TP + LSN_COL)
    u_ts, t_ts = F.col(UP + ts_col), F.col(TP + ts_col)
    is_delete = F.col(UP + "op") == F.lit("D")

    # strict guard: an event with the same (lsn, ts) as the applied row is
    # the same event — exact replays resolve to no-ops, not rewrites
    u_wins = u_exists & (
        ~t_exists
        | (u_lsn > t_lsn)
        | ((u_lsn == t_lsn) & F.coalesce(u_ts > t_ts, F.lit(False)))
    )
    action = (
        F.when(~u_exists, F.lit("keep"))
        .when(~u_wins, F.lit("stale"))
        .when(is_delete & t_exists, F.lit("delete"))
        .when(is_delete, F.lit("noop"))
        .when(t_exists, F.lit("update"))
        .otherwise(F.lit("insert"))
    )
    take_u = u_wins & ~is_delete
    out_cols = [
        F.when(take_u, F.col(UP + c)).otherwise(F.col(TP + c)).alias(c)
        for c in payload_cols
    ] + [F.when(take_u, u_lsn).otherwise(t_lsn).alias(LSN_COL)]

    merged = joined.select(*out_cols, action.alias("__action")).persist(
        StorageLevel.MEMORY_AND_DISK
    )

    # ---- rewrite touched buckets (bucket-pure files, hot buckets fan out)
    version = manifest["version"] + 1
    rel_commit = table._new_commit_dir(version)
    abs_commit = os.path.join(table.path, rel_commit)
    survivors = (
        merged.where(~F.col("__action").isin("delete", "noop"))
        .drop("__action")
        .withColumn(BUCKET_COL, table.bucket_expr())
    )
    # Range-partition on (bucket, key): each write task covers a contiguous
    # bucket range, so file count stays ~O(tasks + buckets) instead of
    # O(tasks × buckets), while hot buckets still span multiple tasks.
    # (At cluster scale pair with spark.sql.files.maxRecordsPerFile to cap
    # individual file size.)
    shuffle_n = max(
        len(touched), int(table.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    )
    tp = time.time()
    (
        survivors.repartitionByRange(shuffle_n, F.col(BUCKET_COL), F.col(key_cols[0]))
        .write.partitionBy(BUCKET_COL)
        .mode("overwrite")
        .parquet(abs_commit)
    )
    timings["rewrite_sec"] = round(time.time() - tp, 3)
    tp = time.time()

    counters = _counters_agg(merged, key_cols).collect()
    timings["counters_sec"] = round(time.time() - tp, 3)
    merged.unpersist()
    if slice_has_deletes:
        _journal_tombstones(
            table, upd, key_cols, op_col, lsn_col, ts_col, version
        )
    upd.unpersist()

    # ---- commit the new snapshot ----------------------------------------
    # the touched buckets' entries are replaced by the just-written files'
    # (one footer pass: key, LSN and stats_cols bounds); a CoW rewrite
    # resolves any MoR deltas for its buckets (the target read folds them
    # in), so their delta entries go too. Untouched buckets stay lazy and
    # _emit_raw pointer-copies their pieces: commit metadata cost is ∝
    # the batch's write footprint even on a table with millions of files.
    added = table._file_entries(table._list_bucket_files(abs_commit, rel_commit))
    entries = manifest["entries"].updated(
        {str(b): added.get(str(b), []) for b in touched}
    )

    res = MergeResult(snapshot_version=version, touched_buckets=touched)
    for row in counters:
        d = row.asDict()
        res.partition_counters.append(d)
        res.inserts += d["inserts"] or 0
        res.updates += d["updates"] or 0
        res.deletes += d["deletes"] or 0
        res.noops += d["noops"] or 0
        res.output_rows += d["n_out"] or 0
        res.output_keys += d["n_out_keys"] or 0

    prev_rows = manifest["summary"].get("total_rows")
    res.total_rows = (
        prev_rows + res.inserts - res.deletes if prev_rows is not None else None
    )

    import json as _json

    new_manifest = {
        "version": version,
        "parent": manifest["version"],
        "schema": _json.loads(evolved_schema.json()),
        "key_cols": key_cols,
        "num_buckets": num_buckets,
        "stats_cols": list(manifest.get("stats_cols") or []),
        "entries": entries,
        "properties": {
            "batch_id": batch_id,
            "start_lsn": start_lsn,
            "end_lsn": end_lsn,
        },
        "summary": {
            "operation": "merge",
            "total_rows": res.total_rows,
            "inserts": res.inserts,
            "updates": res.updates,
            "deletes": res.deletes,
            "noops": res.noops,
            "touched_buckets": touched,
        },
        "committed_at_ms": int(time.time() * 1000),
    }
    if stage_id is not None:
        table._commit_staged(new_manifest, touched, stage_id)
        res.stage_id = stage_id
    else:
        committed = table.commit_with_rebase(new_manifest, touched)
        res.snapshot_version = committed["version"]
    res.wall_ms = int((time.time() - t0) * 1000)
    res.timings = timings
    return res


def _merge_mor(
    table,
    updates: DataFrame,
    *,
    batch_id: str | None,
    op_col: str,
    lsn_col: str,
    start_lsn: int | None,
    end_lsn: int | None,
    ts_col: str = "ts",
    pre_commit_gate=None,
    stage_id: str | None = None,
) -> MergeResult:
    """Merge-on-read: append the (deduped) slice as per-bucket delta
    files — payload + _lsn + _op, tombstones included. No target scan,
    no rewrite: write volume is exactly the slice. Readers and
    compaction resolve LWW over base∪deltas (LakeTable.read), so
    out-of-order arrivals and delete/re-insert races resolve by LSN even
    across disordered batches — stronger than the CoW guard, which
    cannot compare against a tombstone it already erased."""
    import json as _json

    from gene_etl_spark.lake.table import DELTA, LSN_COL, OP_COL

    t0 = time.time()
    # current manifest, not the handle's cache — see the CoW path's note
    table._manifest_cache = None
    manifest = table.manifest
    key_cols = table.key_cols
    timings: dict[str, float] = {}

    evolved_schema, _ = _evolve_schema(table, updates, op_col, lsn_col)
    payload_cols = [f.name for f in evolved_schema.fields]

    tp = time.time()
    delta_cols = []
    types = {f.name: f.dataType for f in evolved_schema.fields}
    for c in payload_cols:
        if c in updates.columns:
            delta_cols.append(F.col(c))
        else:
            delta_cols.append(F.lit(None).cast(types[c]).alias(c))
    upd = updates.select(
        *delta_cols,
        F.col(lsn_col).cast("long").alias(LSN_COL),
        F.col(op_col).alias(OP_COL),
    ).withColumn(BUCKET_COL, table.bucket_expr())
    # tombstone-journal guard: delta resolution is LWW over base∪deltas,
    # but COMPACTION folds tombstones away — a late slice arriving after
    # a compaction has the same resurrect hole as CoW, so MoR guards and
    # journals uniformly
    upd = _tombstone_guard(
        table, upd, key_cols, OP_COL, LSN_COL, ts_col, start_lsn
    )
    upd = upd.persist(StorageLevel.MEMORY_AND_DISK)

    # per-partition lineage counters on the delta itself (deduped input:
    # one row per key, so rows == distinct keys by contract, asserted).
    # The touched-bucket set rides the SAME aggregation (collect_set of
    # <= num_buckets ints per partition) instead of a second
    # distinct+collect job over the cached delta — one pass, one job.
    key0, key_rest = key_cols[0], key_cols[1:]
    try:
        counters = (
            upd.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.sum((F.col(OP_COL) != "D").cast("long")).alias("updates"),
                F.sum((F.col(OP_COL) == "D").cast("long")).alias("deletes"),
                F.count(F.lit(1)).alias("n_out"),
                F.countDistinct(F.col(key0), *[F.col(k) for k in key_rest]).alias(
                    "n_out_keys"
                ),
                F.collect_set(F.col(BUCKET_COL)).alias("_buckets"),
            )
            .collect()
        )
        if pre_commit_gate is not None:
            pre_commit_gate()
    except BaseException:
        upd.unpersist()
        raise
    touched = sorted({b for r in counters for b in r["_buckets"]})
    timings["dedup_buckets_sec"] = round(time.time() - tp, 3)

    version = manifest["version"] + 1
    rel_commit = table._new_commit_dir(version)
    abs_commit = os.path.join(table.path, rel_commit)
    tp = time.time()
    shuffle_n = max(
        len(touched), int(table.spark.conf.get("spark.sql.shuffle.partitions", "32"))
    )
    # Hash-partition the delta write instead of repartitionByRange: the
    # range partitioner samples its input (an extra job over the cached
    # slice EVERY batch) purely to balance — but post-dedup delta rows
    # are near-uniform across buckets (the key hash spreads them), so a
    # hash exchange gives the same file count (one file per touched
    # bucket when buckets >= tasks) without the sampling pass. When the
    # cluster is wider than the bucket count, a deterministic key-hash
    # salt splits each bucket across ~shuffle_n/num_buckets tasks so
    # write parallelism never caps at num_buckets (guide §2.5:
    # deterministic synthetic keys, never rand()).
    nsplit = -(-2 * shuffle_n // max(table.num_buckets, 1))  # ceil
    if nsplit > 1:
        salt = F.pmod(F.xxhash64(F.col(key_cols[0])), F.lit(nsplit))
        parted = upd.repartition(shuffle_n, F.col(BUCKET_COL), salt)
    else:
        parted = upd.repartition(shuffle_n, F.col(BUCKET_COL))
    (
        parted.write.partitionBy(BUCKET_COL)
        .mode("overwrite")
        .parquet(abs_commit)
    )
    timings["delta_write_sec"] = round(time.time() - tp, 3)
    if sum(int(r["deletes"] or 0) for r in counters) > 0:
        _journal_tombstones(
            table, upd, key_cols, OP_COL, LSN_COL, ts_col, version
        )
    upd.unpersist()

    # the new delta entries (LSN bounds: they prove delta/base
    # disjointness for the fast resolve) are appended to the touched
    # buckets' entries; only those buckets' pieces load, the rest
    # pointer-copy at _emit_raw — the MoR commit's driver-side metadata
    # cost is ∝ the slice, like its write volume
    added = table._file_entries(
        table._list_bucket_files(abs_commit, rel_commit), DELTA
    )
    parent = manifest["entries"]
    entries = parent.updated(
        {str(b): parent.get(str(b), []) + added.get(str(b), []) for b in touched}
    )

    res = MergeResult(snapshot_version=version, touched_buckets=touched)
    for row in counters:
        d = row.asDict()
        d.pop("_buckets", None)  # plumbing for the fused bucket set
        d.setdefault("inserts", 0)
        d.setdefault("noops", 0)
        res.partition_counters.append(d)
        res.updates += d["updates"] or 0
        res.deletes += d["deletes"] or 0
        res.output_rows += d["n_out"] or 0
        res.output_keys += d["n_out_keys"] or 0
    res.total_rows = None  # unknown until read/compaction resolves

    new_manifest = {
        "version": version,
        "parent": manifest["version"],
        "schema": _json.loads(evolved_schema.json()),
        "key_cols": key_cols,
        "num_buckets": table.num_buckets,
        "stats_cols": list(manifest.get("stats_cols") or []),
        "entries": entries,
        "properties": {
            "batch_id": batch_id,
            "start_lsn": start_lsn,
            "end_lsn": end_lsn,
        },
        "summary": {
            "operation": "merge-mor",
            "total_rows": None,
            "upserts": res.updates,
            "deletes": res.deletes,
            "touched_buckets": touched,
        },
        "committed_at_ms": int(time.time() * 1000),
    }
    if stage_id is not None:
        table._commit_staged(new_manifest, touched, stage_id, append_only=True)
        res.stage_id = stage_id
    else:
        committed = table.commit_with_rebase(new_manifest, touched, append_only=True)
        res.snapshot_version = committed["version"]
    res.wall_ms = int((time.time() - t0) * 1000)
    res.timings = timings
    return res
