"""Typed, hashable run configuration.

Mirrors the capability of the reference's Pydantic config surface
(reference: etl/config.py:147-224) — typed validated fields plus a stable
SHA-256 config hash stamped into lineage (reference: etl/config.py:194-203)
— re-expressed as a plain dataclass (no external deps).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class IngestConfig:
    """Configuration for one CDC ingest run."""

    # --- storage locations -------------------------------------------------
    lake_path: str = "warehouse/transcripts"
    events_path: str = "warehouse/change_events"
    ledger_path: str = "warehouse/ingest_ledger"
    metrics_path: str = "warehouse/ingest_metrics"
    validation_path: str = "warehouse/validation_log"

    # --- source format -------------------------------------------------------
    # "parquet": columnar tranches; LSN slice predicates prune row groups
    #            (the scale format).
    # "jsonl":   newline-delimited JSON tranches (Kafka/Debezium-style CDC
    #            feeds); JSON carries no types, so source_schema_json
    #            (StructType.json()) is REQUIRED — slice predicates still
    #            push to the scan but prune post-parse, not by row group.
    source_format: str = "parquet"
    source_schema_json: str | None = None

    # --- table layout ------------------------------------------------------
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx")
    num_buckets: int = 64  # bucket(conv_id) partitioning of the lake table
    # payload columns whose per-file [min, max] bounds every commit
    # persists (Iceberg column-metrics analogue) — read(where=...) then
    # skips refuted files driver-side without opening them
    stats_cols: tuple[str, ...] = ()

    # --- merge strategy ------------------------------------------------------
    # "cow": copy-on-write (read-optimized; rewrite ∝ touched buckets)
    # "mor": merge-on-read (write-optimized; append ∝ slice — the
    #        10^10-event design point; pair with
    #        compact_delta_files_per_bucket)
    merge_mode: str = "cow"

    # --- batch planning (reference analogue: batch_size/checkpoint_interval,
    # etl/config.py:88-92) ----------------------------------------------------
    slice_lsn_width: int = 100_000  # events per LSN-bounded batch slice
    max_batches: int | None = None

    # --- validation gates (reference: etl/validate.py:33-137) ---------------
    fail_on_critical: bool = True
    # wap_audit=True: every batch merges as a write-audit-publish STAGED
    # snapshot (real files, invisible to readers), the audit stage runs
    # over the staged read pruned to the touched buckets (built-in key-
    # uniqueness plus any runner.wap_auditors), and only then is the
    # snapshot published atomically. A failed audit abandons the stage —
    # the lake never saw the batch (quarantine-by-default). Stage ids are
    # deterministic per lsn range, so a crash between stage and publish
    # self-heals on replay.
    wap_audit: bool = False

    # --- maintenance ---------------------------------------------------------
    # Threshold policy (the 10^10-event MoR setting): after each batch,
    # compact any bucket holding more than this many MoR delta files —
    # read amplification stays bounded (≤ 1 base + K deltas per bucket)
    # without anyone hand-scheduling maintenance. None = off.
    compact_delta_files_per_bucket: int | None = None
    # Metadata retention (the 10^10-event hygiene policy): every N
    # batches committed to the table (counted across runs and surfaces,
    # not per call), expire snapshots older than the last
    # `expire_keep_last` (tag-pinned versions stay live) and vacuum
    # unreferenced data files + manifest pieces. Without this, manifests/pieces/data accumulate
    # one-per-commit forever. None = off (manual maintenance only).
    expire_every_n_batches: int | None = None
    expire_keep_last: int = 20
    # Vacuum grace window for concurrent writers (Iceberg
    # remove_orphan_files older_than analogue). The batch runner is
    # usually the table's only writer; 0.0 is safe there and reclaims
    # immediately. Raise it when another process may be mid-commit.
    vacuum_grace_sec: float = 0.0
    # Ledger segment compaction: fold loose per-batch checkpoint JSONs
    # into one segment file when more than this many are loose (doubling
    # trigger keeps rewrite work amortized O(1)/batch). None = off.
    ledger_compact_min_loose: int | None = None
    # Tombstone-journal retention window in LSNs (Kafka
    # delete.retention.ms analogue): when the retention step runs,
    # journal entries more than this far below the committed high-water
    # mark are dropped — slices arriving later than the window lose
    # resurrection-safety (out of contract, like a Kafka consumer slower
    # than delete.retention.ms). None = keep every tombstone (the
    # journal still folds to one per-key-max dir for bounded listing).
    tombstone_retention_lsns: int | None = None

    # --- execution ----------------------------------------------------------
    shuffle_partitions: int | None = None  # default: match cores

    def validate(self) -> None:
        """Hard config validation (reference: etl/config.py:46-71 enum checks)."""
        if self.num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        if self.slice_lsn_width < 1:
            raise ValueError("slice_lsn_width must be >= 1")
        if not self.key_cols:
            raise ValueError("key_cols must be non-empty")
        if self.merge_mode not in ("cow", "mor"):
            raise ValueError("merge_mode must be 'cow' or 'mor'")
        if self.source_format not in ("parquet", "jsonl"):
            raise ValueError("source_format must be 'parquet' or 'jsonl'")
        if self.source_format == "jsonl" and not self.source_schema_json:
            raise ValueError("jsonl sources require source_schema_json")
        if self.expire_every_n_batches is not None and self.expire_every_n_batches < 1:
            raise ValueError("expire_every_n_batches must be >= 1")
        if self.tombstone_retention_lsns is not None and self.tombstone_retention_lsns < 1:
            raise ValueError("tombstone_retention_lsns must be >= 1")
        if self.expire_keep_last < 1:
            raise ValueError("expire_keep_last must be >= 1")
        if self.vacuum_grace_sec < 0:
            raise ValueError("vacuum_grace_sec must be >= 0")
        if self.ledger_compact_min_loose is not None and self.ledger_compact_min_loose < 1:
            raise ValueError("ledger_compact_min_loose must be >= 1")


def config_hash(cfg: IngestConfig) -> str:
    """Stable SHA-256 over the canonical JSON dump of the config.

    Reference parity: get_config_hash (etl/config.py:194-203).
    """
    blob = json.dumps(asdict(cfg), sort_keys=True, default=str).encode()
    return hashlib.sha256(blob).hexdigest()
