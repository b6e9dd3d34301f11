"""CdcIngestRunner — the batch ingest loop and the one slice-apply core.

The Spark re-expression of the reference's 7-phase pipeline
(etl/__init__.py:40-110), per SURVEY.md §3.1: read ledger → read LSN
slice → validate (pre) → LWW dedup (max_by aggregate) → MERGE INTO lake
→ validate (post) → append lineage + metrics → commit ledger.

``apply_slice`` is that pipeline for one slice and ``maintain`` is the
per-batch maintenance policy; the batch loop (``run``/``apply_batch``)
and the streaming surface (``streaming/stream.py``) both call them, so
the two surfaces share every gate, metric and retention rule.

Exactly-once: a batch slice (start, end] is applied at most once —
fencing consults both the ledger and the lake snapshot chain, so a crash
between the lake commit and the ledger write does not double-apply
(SURVEY.md §7.4). Replay of a committed batch is a recorded no-op
(reference analogue: skip-if-exists counted as success,
etl/persist.py:164-177).
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession

from gene_etl_spark.config import IngestConfig, config_hash
from gene_etl_spark.lake.table import LakeTable
from gene_etl_spark.ledger import Ledger
from gene_etl_spark.metrics import MetricsTable
from gene_etl_spark.operators.dedup import lww_dedup_agg
from gene_etl_spark.sources.binlog import BinlogSource
from gene_etl_spark.validate import Validator

RESERVED_EVENT_COLS = ("op", "lsn", "event_ts")


class CrashInjected(RuntimeError):
    """Raised by the test-only crash hook between lake commit and ledger."""


class CdcIngestRunner:
    def __init__(self, spark: SparkSession, config: IngestConfig):
        config.validate()
        self.spark = spark
        self.config = config
        self.config_hash = config_hash(config)
        src_schema = None
        if config.source_schema_json:
            import json as _json

            import pyspark.sql.types as T

            src_schema = T.StructType.fromJson(_json.loads(config.source_schema_json))
        self.source = BinlogSource(
            spark, config.events_path, schema=src_schema, fmt=config.source_format
        )
        self.ledger = Ledger(config.ledger_path)
        self.metrics = MetricsTable(spark, config.metrics_path)
        self.validator = Validator(
            spark, config.validation_path, fail_on_critical=config.fail_on_critical
        )
        self.table = self._open_table()
        # test hook: raise after the lake snapshot commit, before ledger
        self.crash_after_merge = False
        # WAP audit hooks (wap_audit=True): check-name -> callable taking
        # the staged DataFrame, returning (passed, details); a critical
        # failure abandons the staged snapshot before anyone sees it
        self.wap_auditors: dict = {}

    # ------------------------------------------------------------------ #
    def _open_table(self) -> LakeTable:
        if LakeTable.exists(self.config.lake_path):
            return LakeTable.load(self.spark, self.config.lake_path)
        import pyspark.sql.types as T

        payload_fields = [
            f for f in self.source.schema.fields if f.name not in RESERVED_EVENT_COLS
        ]
        return LakeTable.create(
            self.spark,
            self.config.lake_path,
            T.StructType(payload_fields),
            key_cols=list(self.config.key_cols),
            num_buckets=self.config.num_buckets,
            stats_cols=list(self.config.stats_cols),
        )

    # ------------------------------------------------------------------ #
    def apply_batch(self, start_lsn: int, end_lsn: int) -> dict:
        if self.ledger.is_committed(start_lsn, end_lsn) or self._lake_committed(
            start_lsn, end_lsn
        ):
            return {
                "start_lsn": start_lsn,
                "end_lsn": end_lsn,
                "skipped": True,
                "reason": "already committed (fenced)",
            }
        return self.apply_slice(
            self.source.read_slice(start_lsn, end_lsn),
            start_lsn,
            end_lsn,
            batch_id=uuid.uuid4().hex,
        )

    def apply_slice(
        self,
        slice_df: DataFrame,
        start_lsn: int,
        end_lsn: int,
        batch_id: str,
        ledger_extra: dict | None = None,
    ) -> dict:
        """Apply one (start, end] slice of change events as one batch:
        pre-gate → LWW dedup → MERGE → WAP publish → metrics → post-checks
        → ledger. The caller owns fencing; both the batch loop and the
        streaming epochs call this.

        The slice is scanned ONCE: the pre-validation sums ride the dedup
        job as observed metrics, and the merge's pre_commit_gate fires on
        them after bucket discovery — after the sums exist but before any
        lake file or manifest is written."""
        t0 = time.time()
        phases: dict[str, float] = {}

        stage_id = None
        if self.config.wap_audit:
            from gene_etl_spark.lake import wap

            # deterministic per lsn range: a crash between stage and
            # publish leaves an orphan stage this replay reclaims
            stage_id = f"wap-{start_lsn}-{end_lsn}"
            try:
                wap.abandon_staged(self.table, stage_id)
            except FileNotFoundError:
                pass

        obs = Observation()
        observed_df = slice_df.observe(
            obs,
            *self.validator.pre_check_exprs(
                list(self.config.key_cols), start_lsn, end_lsn
            ),
        )
        deduped = lww_dedup_agg(
            observed_df, key_cols=self.config.key_cols, order_cols=("lsn", "ts")
        )
        observed: dict = {}

        def gate():
            observed.update(obs.get)
            self.validator.pre_checks_from_observation(
                observed, start_lsn, end_lsn, batch_id
            )

        tp = time.time()
        result = self.table.merge(
            deduped,
            batch_id=batch_id,
            start_lsn=start_lsn,
            end_lsn=end_lsn,
            mode=self.config.merge_mode,
            pre_commit_gate=gate,
            stage_id=stage_id,
        )
        events_read = int(observed.get("events_read") or 0)
        phases["merge_sec"] = round(time.time() - tp, 3)
        phases.update(result.timings)

        if self.crash_after_merge:
            raise CrashInjected(f"crash injected after merge of batch {batch_id}")

        if stage_id is not None:
            from gene_etl_spark.lake import wap

            tp = time.time()
            pub = wap.audit_and_publish(
                self.table,
                stage_id,
                validator=self.validator,
                key_cols=list(self.config.key_cols),
                batch_id=batch_id,
                merge_mode=self.config.merge_mode,
                deletes=result.deletes,
                touched_buckets=result.touched_buckets,
                auditors=self.wap_auditors,
            )
            result.snapshot_version = pub["snapshot_version"]
            phases["wap_audit_sec"] = round(time.time() - tp, 3)

        applied = result.inserts + result.updates + result.deletes + result.noops
        wall_ms = int((time.time() - t0) * 1000)
        metric_rows = [
            {
                "batch_id": batch_id,
                "phase": "read",
                "partition_id": -1,
                "events_read": events_read,
                "wall_ms": wall_ms,
            },
            {
                "batch_id": batch_id,
                "phase": "read",
                "partition_id": -1,
                "dedup_dropped": int(events_read - applied),
            },
        ] + [
            {
                "batch_id": batch_id,
                "phase": "apply",
                "partition_id": int(c["partition_id"]),
                "inserts": int(c["inserts"] or 0),
                "updates": int(c["updates"] or 0),
                "deletes": int(c["deletes"] or 0),
                "noops": int(c["noops"] or 0),
                "wall_ms": result.wall_ms,
            }
            for c in result.partition_counters
        ]
        self.metrics.append_rows(metric_rows)
        self.validator.post_checks_from_merge(result, batch_id)
        self.ledger.record(
            batch_id=batch_id,
            start_lsn=start_lsn,
            end_lsn=end_lsn,
            status="committed",
            config_hash=self.config_hash,
            snapshot_version=result.snapshot_version,
            extra={
                "events_read": events_read,
                "applied": applied,
                # SourceSnapshot lineage (reference models.py:166-180):
                # which tranches fed this batch + source schema identity
                "source_snapshot": self.source.snapshot(start_lsn, end_lsn),
                **(ledger_extra or {}),
            },
        )
        return {
            "batch_id": batch_id,
            "start_lsn": start_lsn,
            "end_lsn": end_lsn,
            "events_read": events_read,
            "dedup_dropped": events_read - applied,
            "inserts": result.inserts,
            "updates": result.updates,
            "deletes": result.deletes,
            "noops": result.noops,
            "snapshot_version": result.snapshot_version,
            "wall_ms": wall_ms,
            "phases": phases,
            "skipped": False,
        }

    def maintain(self) -> None:
        """The per-batch maintenance policy, run after each batch or
        epoch. The expiry cadence counts the batches committed to the
        table (its cached fence map), not the batches of one call, so
        short drains such as ``run(max_batches=1)`` still reach the
        retention step."""
        from gene_etl_spark.lake import maintenance as m

        k = self.config.compact_delta_files_per_bucket
        if k is not None:
            # threshold policy: rewrite only buckets whose delta count
            # exceeds K — read amplification stays ≤ 1 base + K deltas
            # per bucket across unbounded ingest
            m.compact_if_needed(self.table, max_delta_files=k)
        ev = self.config.expire_every_n_batches
        if ev and len(self.table.committed_batches()) % ev == 0:
            # metadata retention: live-manifest count stays bounded
            # (expire_keep_last + tag pins) and superseded data files /
            # orphan pieces are reclaimed — without this, lake metadata
            # grows one-per-commit forever. Tagged snapshots and
            # unpublished WAP stages stay pinned.
            m.expire_snapshots(self.table, keep_last=self.config.expire_keep_last)
            m.vacuum(self.table, older_than_sec=self.config.vacuum_grace_sec)
            retain = self.config.tombstone_retention_lsns
            m.prune_tombstones(
                self.table,
                before_lsn=(
                    None
                    if retain is None
                    else self.ledger.max_committed_end_lsn() - retain
                ),
            )
        if self.config.ledger_compact_min_loose is not None:
            self.ledger.compact_if_needed(
                min_loose=self.config.ledger_compact_min_loose
            )

    def _sweep_orphan_stages(self) -> None:
        """Abandon runner-owned (``wap-*``) stages left by a crash between
        stage and publish (see ``wap.sweep_stages``)."""
        from gene_etl_spark.lake import wap

        wap.sweep_stages(self.table)

    def _lake_committed(self, start_lsn: int, end_lsn: int) -> bool:
        return any(
            b.get("start_lsn") == start_lsn and b.get("end_lsn") == end_lsn
            for b in self.table.committed_batches().values()
        )

    # ------------------------------------------------------------------ #
    def run(self, max_batches: int | None = None) -> dict:
        t0 = time.time()
        self._sweep_orphan_stages()
        from_lsn = self.ledger.resume_lsn(self.table)
        plan = self.source.plan_batches(
            from_lsn,
            self.config.slice_lsn_width,
            max_batches or self.config.max_batches,
        )
        batches = []
        for lo, hi in plan:
            batches.append(self.apply_batch(lo, hi))
            self.maintain()
        wall = time.time() - t0
        events = sum(b.get("events_read", 0) for b in batches if not b.get("skipped"))
        return {
            "resume_lsn": from_lsn,
            "n_batches": len(batches),
            "events_read": events,
            "wall_sec": wall,
            "events_per_sec": events / wall if wall > 0 else 0.0,
            "final_snapshot": self.table.version,
            "batches": batches,
        }
