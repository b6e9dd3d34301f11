"""Pre/post validation gates.

Reference parity (etl/validate.py:33-137): pre-processing checks raise
on critical failure (hard gate, etl/validate.py:80-82); post-processing
checks are recorded but do not raise. Every check is a single Spark
aggregate over the data — one pass, no collects of row data.

Checks:
- pre  (on a batch slice): key columns non-null; op ∈ {I,U,D}; lsn
  within the planned (start, end] bounds; lsn uniqueness.
  (analogue: required-field/metadata checks etl/validate.py:139-243)
- post (on the lake table): key uniqueness (one live row per
  (conv_id, turn_idx), analogue etl/validate.py:447-476); row
  accounting — manifest total_rows equals actual count (analogue
  completeness check etl/validate.py:516-545).
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gene_etl_spark.schemas import VALIDATION_SCHEMA


class ValidationError(RuntimeError):
    pass


class Validator:
    def __init__(self, spark: SparkSession, log_path: str, fail_on_critical: bool = True):
        self.spark = spark
        self.log_path = os.path.abspath(log_path)
        self.fail_on_critical = fail_on_critical
        os.makedirs(self.log_path, exist_ok=True)

    # ------------------------------------------------------------------ #
    def pre_check_counters(
        self,
        slice_df: DataFrame,
        key_cols: list[str],
        start_lsn: int,
        end_lsn: int,
    ) -> list[dict]:
        """One pass over the slice: per-input-partition event counts (the
        read-phase lineage counters) fused with the validation sums.
        dup_lsn is a soft check: the per-partition distinct shortfall
        lower-bounds global duplicates (co-partitioned dups are caught;
        cross-file dups surface later as LWW ties)."""
        null_key = None
        for k in key_cols:
            c = F.col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        rows = (
            slice_df.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.count(F.lit(1)).alias("events_read"),
                F.sum(null_key.cast("long")).alias("null_keys"),
                F.sum((~F.col("op").isin("I", "U", "D")).cast("long")).alias("bad_ops"),
                F.sum(
                    ((F.col("lsn") <= start_lsn) | (F.col("lsn") > end_lsn)).cast("long")
                ).alias("oob_lsn"),
                (F.count(F.lit(1)) - F.countDistinct("lsn")).alias("dup_lsn"),
            )
            .collect()
        )
        return [r.asDict() for r in rows]

    @staticmethod
    def pre_check_exprs(key_cols: list[str], start_lsn: int, end_lsn: int):
        """The pre-validation sums as aggregate Columns for
        ``DataFrame.observe`` — the fused fast path: metrics ride the
        dedup job's own pass over the slice (zero extra scan), and the
        hard gate fires on them before anything is written. countDistinct
        is not observable, so the soft lsn-uniqueness check is left to an
        explicit ``pre_checks`` audit pass."""
        null_key = None
        for k in key_cols:
            c = F.col(k).isNull()
            null_key = c if null_key is None else (null_key | c)
        return [
            F.count(F.lit(1)).alias("events_read"),
            F.sum(null_key.cast("long")).alias("null_keys"),
            F.sum((~F.col("op").isin("I", "U", "D")).cast("long")).alias("bad_ops"),
            F.sum(
                ((F.col("lsn") <= start_lsn) | (F.col("lsn") > end_lsn)).cast("long")
            ).alias("oob_lsn"),
        ]

    def pre_checks_from_observation(
        self,
        metrics: dict,
        start_lsn: int,
        end_lsn: int,
        batch_id: str,
    ) -> list[dict]:
        """Gate on the observed sums (identical hard checks and
        identical raise semantics as ``pre_checks``; runs before any
        lake file is written)."""
        agg = {k: int(metrics.get(k) or 0) for k in
               ("events_read", "null_keys", "bad_ops", "oob_lsn")}
        results = [
            self._result(batch_id, "pre", "non_null_keys", agg["null_keys"] == 0, True, f"null_keys={agg['null_keys']}"),
            self._result(batch_id, "pre", "valid_ops", agg["bad_ops"] == 0, True, f"bad_ops={agg['bad_ops']}"),
            self._result(batch_id, "pre", "lsn_in_bounds", agg["oob_lsn"] == 0, True, f"oob={agg['oob_lsn']} range=({start_lsn},{end_lsn}]"),
        ]
        self._record(results)
        self._gate(results)
        return results

    def pre_checks(
        self,
        slice_df: DataFrame,
        key_cols: list[str],
        start_lsn: int,
        end_lsn: int,
        batch_id: str,
        counters: list[dict] | None = None,
    ) -> list[dict]:
        if counters is None:
            counters = self.pre_check_counters(slice_df, key_cols, start_lsn, end_lsn)
        agg = {
            k: sum(c[k] or 0 for c in counters)
            for k in ("events_read", "null_keys", "bad_ops", "oob_lsn", "dup_lsn")
        }
        results = [
            self._result(batch_id, "pre", "non_null_keys", agg["null_keys"] == 0, True, f"null_keys={agg['null_keys']}"),
            self._result(batch_id, "pre", "valid_ops", agg["bad_ops"] == 0, True, f"bad_ops={agg['bad_ops']}"),
            self._result(batch_id, "pre", "lsn_in_bounds", agg["oob_lsn"] == 0, True, f"oob={agg['oob_lsn']} range=({start_lsn},{end_lsn}]"),
            self._result(batch_id, "pre", "lsn_unique", agg["dup_lsn"] == 0, False, f"dups={agg['dup_lsn']}"),
        ]
        self._record(results)
        self._gate(results)
        return results

    def post_checks_from_merge(self, result, batch_id: str) -> list[dict]:
        """Post-merge invariants derived from the merge's own cached pass —
        zero extra table scans (the 100 TB-safe default; the full-table
        audit below remains available)."""
        applied = result.inserts + result.updates + result.deletes + result.noops
        results = [
            self._result(
                batch_id, "post", "key_uniqueness",
                result.output_rows == result.output_keys, True,
                f"rows={result.output_rows} keys={result.output_keys} buckets={len(result.touched_buckets)}",
            ),
            self._result(
                batch_id, "post", "row_accounting",
                applied >= result.inserts + result.deletes, False,
                f"applied={applied} ins={result.inserts} del={result.deletes}",
            ),
        ]
        self._record(results)
        self._gate(results)
        return results

    def post_checks(
        self, table, batch_id: str, buckets: list[int] | None = None
    ) -> list[dict]:
        """Post-merge invariants, scoped to the buckets the batch touched —
        rows can only have changed there, so the check cost scales with the
        batch, not the table (full-table audit available via buckets=None)."""
        df = table.read(buckets=buckets)
        keys = table.key_cols
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(*[F.col(k) for k in keys]).alias("n_keys"),
        ).collect()[0]
        manifest_rows = table.manifest["summary"].get("total_rows")
        full_scope = buckets is None or len(buckets) == table.num_buckets
        results = [
            self._result(batch_id, "post", "key_uniqueness", agg["n"] == agg["n_keys"], True, f"rows={agg['n']} keys={agg['n_keys']} buckets={'all' if full_scope else len(buckets)}"),
            self._result(batch_id, "post", "row_accounting", (not full_scope) or manifest_rows is None or manifest_rows == agg["n"], False, f"manifest={manifest_rows} actual={agg['n']}"),
        ]
        self._record(results)
        self._gate(results)
        return results

    def audit_staged(
        self,
        staged_df,
        key_cols: list[str],
        batch_id: str,
        auditors: dict | None = None,
        check_uniqueness: bool = True,
        min_rows: int | None = None,
    ) -> list[dict]:
        """WAP audit stage: invariants computed over the STAGED snapshot's
        real merged files BEFORE publish (runner ``wap_audit`` mode). The
        caller prunes ``staged_df`` to the batch's touched buckets, so
        cost ∝ the batch. ``auditors`` maps check-name -> callable taking
        the staged DataFrame and returning (passed, details); an auditor
        that raises records a failed critical check. A critical failure
        gates (raises ValidationError) — the runner then abandons the
        staged snapshot, so the lake never saw the batch.

        Built-ins are mode-aware so no green check is vacuous:
        ``check_uniqueness`` applies to CoW staged files (which could
        physically contain duplicate keys); it is OFF for MoR, where the
        staged read resolves through a key groupBy and is unique by
        construction. ``min_rows`` (parent rows in the touched buckets
        minus the batch's deletes — a valid floor in both modes) catches
        resolution bugs that drop whole groups."""
        agg = staged_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(*[F.col(k) for k in key_cols]).alias("n_keys"),
        ).collect()[0]
        results = []
        if check_uniqueness:
            results.append(
                self._result(
                    batch_id, "audit", "staged_key_uniqueness",
                    agg["n"] == agg["n_keys"], True,
                    f"rows={agg['n']} keys={agg['n_keys']}",
                )
            )
        if min_rows is not None:
            results.append(
                self._result(
                    batch_id, "audit", "staged_row_floor",
                    agg["n"] >= min_rows, True,
                    f"rows={agg['n']} floor={min_rows}",
                )
            )
        for name, fn in (auditors or {}).items():
            try:
                passed, details = fn(staged_df)
            except Exception as e:  # an auditor crash must fail closed
                passed, details = False, f"auditor raised: {e!r}"
            results.append(
                self._result(batch_id, "audit", name, passed, True, str(details))
            )
        if results:  # all built-ins off + no auditors -> nothing to log
            self._record(results)
            self._gate(results)
        return results

    # ------------------------------------------------------------------ #
    def _result(self, batch_id, stage, name, passed, critical, details) -> dict:
        return {
            "batch_id": batch_id,
            "stage": stage,
            "check_name": name,
            "passed": bool(passed),
            "critical": bool(critical),
            "details": details,
            "validated_at": dt.datetime.now(dt.timezone.utc).replace(tzinfo=None),
        }

    def _record(self, results: list[dict]) -> None:
        # driver-side pyarrow append — a few rows per batch, no Spark job
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = {
            "batch_id": pa.array([r["batch_id"] for r in results], pa.string()),
            "stage": pa.array([r["stage"] for r in results], pa.string()),
            "check_name": pa.array([r["check_name"] for r in results], pa.string()),
            "passed": pa.array([r["passed"] for r in results], pa.bool_()),
            "critical": pa.array([r["critical"] for r in results], pa.bool_()),
            "details": pa.array([r["details"] for r in results], pa.string()),
            "validated_at": pa.array([r["validated_at"] for r in results], pa.timestamp("us")),
        }
        pq.write_table(
            pa.table(cols), os.path.join(self.log_path, f"v-{uuid.uuid4().hex}.parquet")
        )

    def _gate(self, results: list[dict]) -> None:
        bad = [r for r in results if r["critical"] and not r["passed"]]
        if bad and self.fail_on_critical:
            raise ValidationError(
                "; ".join(f"{r['stage']}:{r['check_name']} {r['details']}" for r in bad)
            )

    def read_log(self) -> DataFrame:
        try:
            return self.spark.read.schema(VALIDATION_SCHEMA).parquet(self.log_path)
        except Exception:
            return self.spark.createDataFrame([], VALIDATION_SCHEMA)
