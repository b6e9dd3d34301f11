"""wap_audit=True runner mode: every batch stages, audits the real
merged files, then publishes — or quarantines and raises.

Pins: parity with a non-WAP run (both modes), audit-failure quarantine
(lake/ledger untouched, stage abandoned, validation log carries the
audit row), and crash-between-stage-and-publish self-healing via the
deterministic per-lsn-range stage id.
"""

import os

import pandas as pd
import pytest

from gene_etl_spark import IngestConfig
from gene_etl_spark.lake import wap
from gene_etl_spark.lake.table import LakeTable
from gene_etl_spark.runner import CdcIngestRunner, CrashInjected
from gene_etl_spark.sources.simulate import generate_change_stream
from gene_etl_spark.validate import ValidationError


def _cfg(base, tag, **kw):
    return IngestConfig(
        lake_path=f"{base}/lake-{tag}",
        events_path=f"{base}/events",
        ledger_path=f"{base}/ledger-{tag}",
        metrics_path=f"{base}/metrics-{tag}",
        validation_path=f"{base}/validation-{tag}",
        num_buckets=8,
        slice_lsn_width=2000,
        **kw,
    )


def _state(runner):
    df = runner.table.read().select("conv_id", "turn_idx", "text").toPandas()
    return df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


@pytest.fixture()
def events(tmp_path):
    base = str(tmp_path)
    generate_change_stream(f"{base}/events", n_convs=40, n_events=6000, seed=31)
    return base


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_wap_run_matches_plain_run(spark, events, mode):
    plain = CdcIngestRunner(spark, _cfg(events, f"plain-{mode}", merge_mode=mode))
    plain.run()
    audited = CdcIngestRunner(
        spark, _cfg(events, f"wap-{mode}", merge_mode=mode, wap_audit=True)
    )
    summary = audited.run()
    assert len(summary["batches"]) >= 2
    assert all("wap_audit_sec" in b["phases"] for b in summary["batches"])
    pd.testing.assert_frame_equal(_state(plain), _state(audited))
    # nothing left staged; validation log carries passed audit rows
    assert wap.list_staged(audited.table) == {}
    vlog = pd.read_parquet(f"{events}/validation-wap-{mode}")
    audits = vlog[vlog["stage"] == "audit"]
    assert audits["batch_id"].nunique() == len(summary["batches"])
    assert audits["passed"].all()
    # mode-aware built-ins: the floor runs everywhere; uniqueness only
    # where it can actually fail (CoW files), never vacuously (MoR)
    names = set(audits["check_name"])
    assert "staged_row_floor" in names
    assert ("staged_key_uniqueness" in names) == (mode == "cow")


def test_failed_audit_quarantines_batch(spark, events):
    r = CdcIngestRunner(spark, _cfg(events, "reject", wap_audit=True))
    r.wap_auditors["reject_all"] = lambda df: (False, "business rule says no")
    with pytest.raises(ValidationError):
        r.run()
    # quarantined: lake empty of the batch, nothing staged, ledger clean
    assert r.table.version == 0
    assert wap.list_staged(r.table) == {}
    assert r.ledger.committed() == []
    vlog = pd.read_parquet(f"{events}/validation-reject")
    bad = vlog[(vlog["stage"] == "audit") & (~vlog["passed"])]
    assert (bad["check_name"] == "reject_all").any()
    # dropping the rule lets the SAME stream apply cleanly afterwards
    r2 = CdcIngestRunner(spark, _cfg(events, "reject", wap_audit=True))
    r2.run()
    assert r2.table.version >= 1


def test_crash_between_stage_and_publish_self_heals(spark, events):
    cfg = _cfg(events, "crash", wap_audit=True)
    r = CdcIngestRunner(spark, cfg)
    r.crash_after_merge = True  # fires after staging, before audit/publish
    with pytest.raises(CrashInjected):
        r.run()
    # the orphan stage exists and pins its files
    assert len(wap.list_staged(r.table)) == 1
    assert r.table.version == 0
    # a fresh runner replays the slice: abandons the orphan, restages,
    # audits, publishes — end state matches a plain run
    r2 = CdcIngestRunner(spark, cfg)
    r2.run()
    assert wap.list_staged(r2.table) == {}
    plain = CdcIngestRunner(spark, _cfg(events, "plain2"))
    plain.run()
    pd.testing.assert_frame_equal(_state(plain), _state(r2))


# ---------------------------------------------------------------- streaming
# wap_audit on the streaming surface: every epoch stages, audits over the
# real merged files (shared audit_and_publish helper — same mode-aware
# built-ins as the batch runner), and publishes atomically; a failed
# audit quarantines the epoch by failing the query, and the replay after
# the auditor is fixed converges to the plain-stream state.


def _stream_state(spark, lake_path):
    df = (
        LakeTable.load(spark, lake_path)
        .read()
        .select("conv_id", "turn_idx", "text")
        .toPandas()
    )
    return df.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_stream_wap_matches_plain_stream(spark, events):
    from gene_etl_spark.streaming.stream import ingest_stream

    plain_cfg = _cfg(events, "s-plain", merge_mode="mor")
    ingest_stream(spark, plain_cfg, f"{events}/ckpt-s-plain", max_files_per_trigger=2)

    wap_cfg = _cfg(events, "s-wap", merge_mode="mor", wap_audit=True)
    summary = ingest_stream(
        spark, wap_cfg, f"{events}/ckpt-s-wap", max_files_per_trigger=2
    )
    assert summary["epochs"] >= 2
    pd.testing.assert_frame_equal(
        _stream_state(spark, plain_cfg.lake_path),
        _stream_state(spark, wap_cfg.lake_path),
    )
    # nothing left staged; every epoch logged a (mode-aware) audit row
    assert wap.list_staged(LakeTable.load(spark, wap_cfg.lake_path)) == {}
    vlog = pd.read_parquet(f"{events}/validation-s-wap")
    audits = vlog[vlog["stage"] == "audit"]
    assert audits["batch_id"].nunique() == summary["epochs"]
    assert audits["passed"].all()
    names = set(audits["check_name"])
    assert "staged_row_floor" in names
    assert "staged_key_uniqueness" not in names  # MoR: vacuous, omitted


def test_stream_wap_failed_audit_quarantines_epoch(spark, events):
    from gene_etl_spark.streaming.stream import ingest_stream

    cfg = _cfg(events, "s-reject", wap_audit=True)
    ckpt = f"{events}/ckpt-s-reject"
    with pytest.raises(ValidationError):  # the failed audit, as raised
        ingest_stream(
            spark,
            cfg,
            ckpt,
            max_files_per_trigger=2,
            wap_auditors={"reject_all": lambda df: (False, "always fails")},
        )
    table = LakeTable.load(spark, cfg.lake_path)
    assert table.version == 0  # quarantined: the lake never saw the epoch
    assert wap.list_staged(table) == {}  # stage abandoned, not orphaned
    vlog = pd.read_parquet(f"{events}/validation-s-reject")
    bad = vlog[(vlog["stage"] == "audit") & (~vlog["passed"])]
    assert (bad["check_name"] == "reject_all").any()

    # fixing the auditor and resuming the SAME checkpoint replays the
    # quarantined epoch and drains the log to the plain-stream state
    summary = ingest_stream(spark, cfg, ckpt, max_files_per_trigger=2)
    assert summary["events"] == 6000
    plain_cfg = _cfg(events, "s-plain2")
    ingest_stream(spark, plain_cfg, f"{events}/ckpt-s-plain2", max_files_per_trigger=2)
    pd.testing.assert_frame_equal(
        _stream_state(spark, plain_cfg.lake_path),
        _stream_state(spark, cfg.lake_path),
    )
