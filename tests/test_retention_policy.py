"""Automatic metadata retention in the ingest loop (round-6 item 1) and
ledger segment compaction (round-6 item 5).

The 10^10-event hygiene property: manifests, pieces, data files, and
ledger checkpoint JSONs must NOT grow one-per-commit forever. With
``expire_every_n_batches`` + ``ledger_compact_min_loose`` on, a 200+-
batch run ends with a bounded live-manifest count, a bounded ledger
directory, reclaimed data files — and replay equality still holds.
"""

import json
import os

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.ledger import Ledger
from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
from gene_etl_spark.runner import CdcIngestRunner
from gene_etl_spark.sources.simulate import generate_change_stream

MANIFEST_DIR = "_manifests"


def _cfg(workdir, **kw):
    base = dict(
        lake_path=os.path.join(workdir, "lake"),
        events_path=os.path.join(workdir, "events"),
        ledger_path=os.path.join(workdir, "ledger"),
        metrics_path=os.path.join(workdir, "metrics"),
        validation_path=os.path.join(workdir, "validation"),
        num_buckets=4,
    )
    base.update(kw)
    return IngestConfig(**base)


def _live_manifests(lake_path):
    """Live ``v{N}.json`` manifest files only — the manifest dir also
    holds ``fence-v{N}.json`` summaries (and ``*.expired.json``
    tombstones), which are not snapshots."""
    import re

    d = os.path.join(lake_path, MANIFEST_DIR)
    return [f for f in os.listdir(d) if re.fullmatch(r"v\d+\.json", f)]


def test_retention_policy_200_batches(spark, workdir):
    """200+ batches with the retention policy on: bounded metadata,
    reclaimed data files, replay equality, fencing intact."""
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=40, max_turns=12,
        n_events=4400, seed=11, n_tranches=4,
    )
    cfg = _cfg(
        workdir,
        slice_lsn_width=20,          # 4400 / 20 = 220 batches
        merge_mode="mor",
        compact_delta_files_per_bucket=2,
        expire_every_n_batches=10,
        expire_keep_last=15,
        vacuum_grace_sec=0.0,        # runner owns exclusive write access
        ledger_compact_min_loose=16,
    )
    runner = CdcIngestRunner(spark, cfg)
    out = runner.run()
    assert out["n_batches"] >= 200
    table = runner.table

    # live-manifest count bounded: keep_last + at most one expiry
    # cadence of new commits (compaction commits included) + head
    live = _live_manifests(cfg.lake_path)
    assert len(live) <= cfg.expire_keep_last + 4 * cfg.expire_every_n_batches, (
        f"live manifests unbounded: {len(live)}"
    )
    # 220 merge commits + ~interleaved compaction commits happened;
    # the live set must be a small fraction of that
    assert table.version >= 220
    assert len(live) < table.version / 3

    # ledger directory bounded: segments + at most one trigger's worth
    # of loose files (the doubling trigger allows loose ≈ compacted/4)
    ledger_files = [f for f in os.listdir(cfg.ledger_path) if f.endswith(".json")]
    n_seg = sum(1 for f in ledger_files if f.startswith("seg-"))
    assert n_seg >= 1
    assert len(ledger_files) < 100, f"ledger files unbounded: {len(ledger_files)}"

    # data files reclaimed: vacuum ran in-loop, so a fresh dry-run pass
    # finds (almost) nothing left to reclaim, and the on-disk file count
    # is far below one-per-commit growth
    from gene_etl_spark.lake.maintenance import vacuum

    leftover = vacuum(table, dry_run=True, older_than_sec=0.0)
    assert leftover["removed_files"] <= 8  # at most the tail since last expiry
    n_data = sum(len(files) for _, _, files in os.walk(os.path.join(cfg.lake_path, "data")))
    assert n_data < table.version  # not one-per-commit

    # replay equality: final state matches the pure-python oracle
    expected = materialize_expected(cfg.events_path)
    assert_replay_equal(table.read().toPandas(), expected)

    # fencing intact across expiry + ledger compaction: a fresh runner
    # resumes at the end and re-applies nothing
    runner2 = CdcIngestRunner(spark, cfg)
    out2 = runner2.run()
    assert out2["n_batches"] == 0
    assert runner2.ledger.resume_lsn(runner2.table) == 4400
    # per-batch fencing stays cheap: the committed-batch map is served
    # from the incremental fence cache without loading expired pieces
    assert len(runner2.table.committed_batches()) >= 220


def test_retention_cadence_counts_batches_across_runs(spark, workdir, monkeypatch):
    """The expiry cadence counts the table's committed batches, not the
    batches of one call: two ``run(max_batches=1)`` calls with
    ``expire_every_n_batches=2`` expire exactly once."""
    from gene_etl_spark.lake import maintenance

    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=10, max_turns=6,
        n_events=200, seed=5, n_tranches=2,
    )
    cfg = _cfg(workdir, slice_lsn_width=50, expire_every_n_batches=2,
               expire_keep_last=1)
    expired = []
    orig = maintenance.expire_snapshots

    def counting(table, **kw):
        expired.append(table.version)
        return orig(table, **kw)

    monkeypatch.setattr(maintenance, "expire_snapshots", counting)
    CdcIngestRunner(spark, cfg).run(max_batches=1)
    assert expired == []
    CdcIngestRunner(spark, cfg).run(max_batches=1)
    assert expired == [2]


def test_retention_respects_tag_pins(spark, workdir):
    """A tagged snapshot survives the in-loop expiry + vacuum and stays
    readable after hundreds of later commits."""
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=20, max_turns=10,
        n_events=1200, seed=12, n_tranches=2,
    )
    cfg = _cfg(
        workdir,
        slice_lsn_width=20,
        expire_every_n_batches=5,
        expire_keep_last=3,
        vacuum_grace_sec=0.0,
        ledger_compact_min_loose=8,
    )
    runner = CdcIngestRunner(spark, cfg)
    runner.run(max_batches=10)

    from gene_etl_spark.lake.maintenance import read_tag, tag

    tagged_version = runner.table.version
    tag(runner.table, "audit-pin", tagged_version)
    pinned_state = read_tag(runner.table, "audit-pin").toPandas()

    runner.run()  # the remaining ~50 batches, expiry firing throughout
    live = {int(f[1:].split(".")[0]) for f in _live_manifests(cfg.lake_path)}
    assert tagged_version in live  # never expired
    after = read_tag(runner.table, "audit-pin").toPandas()
    assert_replay_equal(after, pinned_state)


def test_ledger_compaction_o1_resume_and_crash_heal(tmp_path):
    """Pure-ledger contract: resume over a 10^3-batch compacted ledger
    reads O(1) files; a crash between segment link and source unlink
    self-heals (dedup now, swept by the next compact)."""
    path = str(tmp_path / "ledger")
    led = Ledger(path)
    for i in range(1000):
        led.record(
            batch_id=f"b{i:04d}", start_lsn=i * 10, end_lsn=(i + 1) * 10,
            status="committed",
        )
    res = led.compact()
    assert res["folded"] == 1000
    names = [f for f in os.listdir(path) if f.endswith(".json")]
    assert len(names) == 1 and names[0].startswith("seg-")

    # fresh instance: one file opened, full fencing state intact
    led2 = Ledger(path)
    assert led2.max_committed_end_lsn() == 10_000
    assert led2.is_committed(0, 10) and led2.is_committed(9990, 10_000)
    assert len(led2.committed()) == 1000
    assert len(led2.__dict__["_entry_cache"]) == 1  # O(1) files read

    # crash window: a duplicate loose file alongside the segment — the
    # view dedups by batch_id; the next compact sweeps the leftover
    led2.record(batch_id="b0000", start_lsn=0, end_lsn=10, status="committed")
    assert len(led2.committed()) == 1000
    led2.record(batch_id="b1000", start_lsn=10_000, end_lsn=10_010, status="committed")
    res2 = led2.compact()
    assert res2["segments_removed"] == 1
    names = [f for f in os.listdir(path) if f.endswith(".json")]
    assert len(names) == 1
    led3 = Ledger(path)
    assert len(led3.committed()) == 1001
    assert led3.max_committed_end_lsn() == 10_010

    # doubling trigger: a handful of fresh loose entries does NOT
    # trigger a rewrite of the 1000-entry segment
    for i in range(5):
        led3.record(
            batch_id=f"c{i}", start_lsn=20_000 + i, end_lsn=20_001 + i,
            status="committed",
        )
    assert led3.compact_if_needed(min_loose=64) is None
    # segment content is valid JSON with sorted entries
    seg = [f for f in os.listdir(path) if f.startswith("seg-")][0]
    with open(os.path.join(path, seg)) as f:
        entries = json.load(f)["entries"]
    ends = [e["end_lsn"] for e in entries]
    assert ends == sorted(ends)


def test_retention_policy_on_streaming_surface(spark, workdir):
    """The same IngestConfig retention knobs govern ingest_stream:
    bounded live manifests + compacted ledger after a many-epoch
    drain, state oracle-exact."""
    from gene_etl_spark.streaming.stream import ingest_stream

    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=20, max_turns=10,
        n_events=1500, seed=13, n_tranches=15,
    )
    cfg = _cfg(
        workdir,
        expire_every_n_batches=3,
        expire_keep_last=4,
        vacuum_grace_sec=0.0,
        ledger_compact_min_loose=4,
    )
    out = ingest_stream(
        spark, cfg, os.path.join(workdir, "ckpt"), max_files_per_trigger=1
    )
    assert out["epochs"] == 15

    live = _live_manifests(cfg.lake_path)
    assert len(live) <= cfg.expire_keep_last + cfg.expire_every_n_batches + 1
    ledger_files = [f for f in os.listdir(cfg.ledger_path) if f.endswith(".json")]
    assert sum(1 for f in ledger_files if f.startswith("seg-")) >= 1
    assert len(ledger_files) <= 10

    from gene_etl_spark.lake.table import LakeTable

    table = LakeTable.load(spark, cfg.lake_path)
    assert_replay_equal(
        table.read().toPandas(), materialize_expected(cfg.events_path)
    )
    # resume still reconciles over the compacted ledger
    out2 = ingest_stream(spark, cfg, os.path.join(workdir, "ckpt2"))
    assert out2["epochs"] == 0


def test_fence_summary_bounds_fresh_process_walk(spark, workdir):
    """Retention writes fence-v{N}.json; a FRESH handle seeds its
    fencing state from it and opens only the post-summary tail — while
    fencing answers stay exactly equal to the full-chain walk."""
    generate_change_stream(
        os.path.join(workdir, "events"), n_convs=15, max_turns=8,
        n_events=600, seed=17, n_tranches=2,
    )
    cfg = _cfg(
        workdir, slice_lsn_width=20,
        expire_every_n_batches=5, expire_keep_last=3, vacuum_grace_sec=0.0,
    )
    runner = CdcIngestRunner(spark, cfg)
    runner.run()  # 30 batches, expiry (and summaries) every 5
    full_batches = runner.table.committed_batches()
    full_max = runner.table.max_committed_end_lsn()
    assert len(full_batches) == 30

    mdir = os.path.join(cfg.lake_path, MANIFEST_DIR)
    fences = [f for f in os.listdir(mdir) if f.startswith("fence-v")]
    assert 1 <= len(fences) <= 2  # pruned to the newest `keep`

    # fresh process: count manifest opens during the cold fence walk
    from gene_etl_spark.lake.table import LakeTable

    fresh = LakeTable.load(spark, cfg.lake_path)
    opened = []
    orig = LakeTable._read_raw_any

    def counting(self, v):
        opened.append(v)
        return orig(self, v)

    LakeTable._read_raw_any = counting
    try:
        assert fresh.committed_batches() == full_batches
        assert fresh.max_committed_end_lsn() == full_max
    finally:
        LakeTable._read_raw_any = orig
    # tail only: everything at or below the summary version was seeded
    # (the last expiry ran at the head, so the tail may be EMPTY — the
    # ideal case: a fresh process rebuilt full fencing state from one
    # summary file and zero manifest opens)
    summary_v = max(int(f[len("fence-v"):-len(".json")]) for f in fences)
    assert all(v > summary_v for v in opened)
    assert len(opened) <= fresh.version - summary_v

    # the summary never confuses the manifest scans
    assert fresh.version == runner.table.version
    assert len(fresh.history()) >= 30
