"""Structured Streaming ingest surface.

``readStream`` over the binlog directory → ``foreachBatch`` handing each
epoch to the batch runner's own slice-apply core
(``CdcIngestRunner.apply_slice``: pre-gate, max_by LWW dedup, MERGE, WAP,
metrics, post-checks, ledger) and maintenance step
(``CdcIngestRunner.maintain``) — SURVEY.md §2.10: streaming is sugar
over the same LSN-slice application. Exactly-once composes from three
layers:

- Spark's streaming checkpoint tracks which files each epoch consumed;
- each epoch's MERGE is fenced by ``batch_id =
  stream-{checkpoint_fingerprint}-epoch-{id}`` in the lake snapshot
  chain, so a replayed epoch (post-crash, same checkpoint) is skipped.
  The fence key is namespaced by the checkpoint directory because Spark
  restarts epoch numbering at 0 for a new/changed checkpoint — an
  unnamespaced ``stream-epoch-0`` from an earlier run would silently
  swallow the new run's first epochs. Lakes fenced by the legacy
  pre-namespacing key remain protected: a legacy record fences an epoch
  when it committed the identical LSN slice (see ``apply_epoch``);
- the per-row ``(lsn, ts)`` guard in the MERGE makes even a forced
  re-apply converge.

Each committed epoch records its actual ``[min_lsn, max_lsn]`` in both
the ledger and the snapshot properties, so a subsequent *batch* run's
``Ledger.resume_lsn()`` reconciles correctly after stream-only ingest
instead of replanning the whole log from scratch.

Late/out-of-order data: intra-epoch disorder is resolved by the LWW
dedup; cross-epoch disorder by the MERGE guard (a later-arriving lower
LSN loses to the applied row). Every epoch additionally drops events at
or below the reconciled resume point (``Ledger.resume_lsn`` over ledger
∪ snapshot chain — the same contract batch resume uses), so a
fresh-checkpoint stream over an already-ingested lake skips the log
instead of replaying it: the CoW corner where an unfenced replay's
older insert could resurrect a tombstoned key is dead on this surface.
The residual CoW limit matches the batch contract for genuinely NEW
events (monotone-ish source ordering; Parquet file streams are consumed
in modification-time order, which the tranche writer provides).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.runner import CdcIngestRunner


def ingest_stream(
    spark: SparkSession,
    config: IngestConfig,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_sec: float = 600.0,
    rollups: list | None = None,
    wap_auditors: dict | None = None,
) -> dict:
    """Run an availableNow streaming ingest over the change log; returns
    a summary once the stream drains.

    ``rollups``: optional incrementally-maintained consumers refreshed
    after every committed epoch — anything with a fenced ``refresh()``
    fed by the lake's change feed: ContinuousRollup instances
    (streaming-maintained materialized views), IvfVectorIndex
    (streaming-maintained ANN), CorpusDedupIndex (streaming-maintained
    dedup sketches), and multi-stage chains like
    pipeline.ConversationDedupChain (conv lake → document rollup →
    dedup index, each leg fenced) all qualify. Each epoch's MERGE
    lands, then its change rows fold into the consumer (refresh is
    fenced, so a replayed epoch re-folds nothing).

    A failed gate (pre-check, post-check or WAP audit) stops the query
    and is re-raised as itself, e.g. ``ValidationError``. Under
    ``wap_audit`` the failed epoch's stage is abandoned, so the epoch
    replays (and re-audits) when the same checkpoint restarts."""
    runner = CdcIngestRunner(spark, config)
    runner.wap_auditors = wap_auditors or {}
    table, ledger = runner.table, runner.ledger
    applied = {"epochs": 0, "events": 0}
    if config.wap_audit:
        # orphan wap-* stages from a crash between stage and publish are
        # swept here, exactly as the batch runner does at run() start
        runner._sweep_orphan_stages()

    import hashlib

    ckpt_fp = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode("utf-8")
    ).hexdigest()[:8]

    # LSN floor: everything at or below the reconciled resume point
    # (ledger ∪ snapshot chain — the SAME contract batch resume uses) is
    # already applied, so each epoch drops it up front. This makes a
    # fresh-checkpoint stream over an already-ingested lake a no-op
    # instead of an unfenced replay — the CoW corner where a replayed
    # older insert could resurrect a tombstoned key (epoch-boundary-
    # dependent, formerly documented out of contract) is now dead on the
    # streaming surface. Computed once at stream start: the engine is
    # single-writer per ledger, and this stream's own epochs only ever
    # carry LSNs above it.
    floor_lsn = ledger.resume_lsn(table)
    failures: list[Exception] = []

    def apply_epoch(df, epoch_id: int) -> None:
        batch_id = f"stream-{ckpt_fp}-epoch-{epoch_id}"
        committed = table.committed_batches()
        if batch_id in committed:
            return  # fenced: epoch replayed after a crash (same checkpoint)
        # compat with lakes fenced by the pre-namespacing key format
        # ("stream-epoch-{id}"): such a record fences this epoch ONLY if
        # it committed the exact same LSN slice — an unconditional match
        # would re-swallow a NEW checkpoint's restarted epoch numbering
        # (the very bug the namespaced key fixed), so the slice bounds
        # disambiguate "legacy run replayed" from "fresh run, same id".
        legacy = committed.get(f"stream-epoch-{epoch_id}")
        from pyspark.sql import functions as F
        from pyspark.storagelevel import StorageLevel

        cached = df.where(F.col("lsn") > F.lit(floor_lsn)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            bounds = cached.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("lsn").alias("lo"),
                F.max("lsn").alias("hi"),
            ).collect()[0]
            n = bounds["n"]
            if n == 0:
                return
            # (start, end] convention shared with the batch planner: the
            # recorded range makes Ledger.resume_lsn() land at this
            # epoch's high-water mark for any later batch run
            start_lsn, end_lsn = int(bounds["lo"]) - 1, int(bounds["hi"])
            if (
                legacy
                and legacy.get("start_lsn") == start_lsn
                and legacy.get("end_lsn") == end_lsn
            ):
                return  # fenced by a legacy-format commit of this same slice
            runner.apply_slice(
                cached, start_lsn, end_lsn, batch_id,
                ledger_extra={"stream_epoch": epoch_id},
            )
            applied["epochs"] += 1
            applied["events"] += n
            for r in rollups or []:
                r.refresh()
            runner.maintain()
        except Exception as e:
            failures.append(e)  # re-raised as itself once the query stops
            raise
        finally:
            cached.unpersist()

    reader = spark.readStream.schema(runner.source.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = (
        reader.parquet(config.events_path)
        if config.source_format == "parquet"
        else reader.json(config.events_path)
    )

    query = (
        stream.writeStream.foreachBatch(apply_epoch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.time()
    try:
        query.awaitTermination(timeout_sec)
    except Exception:
        if failures:
            raise failures[-1] from None
        raise
    if query.isActive:
        query.stop()
    return {
        "epochs": applied["epochs"],
        "events": applied["events"],
        "wall_sec": time.time() - t0,
        "final_snapshot": table.version,
    }
