"""CDC benchmark: drains a seeded binlog into the lake and reads it back.

    python3 perfbench/run.py --workload serve_mor --seed 1 --seconds 6 --trace 0

Workloads (see perfbench/README.md for why each exists; BENCHMARK.json
runs ``ingest_cow`` and ``serve_mor``):

- ``ingest_mor``: merge-on-read drain with wide slices; no maintenance and
  no reads while ingesting.
- ``ingest_cow``: the same stream and slices in copy-on-write.
- ``serve_mor``: merge-on-read with narrow slices, threshold compaction and
  the retention step after every batch, and a seeded read mix (point
  lookups, one full read, one change-feed read) after every commit.

After the ingest window, ``ingest_*`` read the final lake back once with
the same kinds of read, so every workload has read figures.

The change stream comes from ``sources.simulate.generate_change_stream``,
once per seed, cached under ``perfbench/.cache``. Each run writes its lake,
ledger and Spark scratch under a fresh ``perfbench/.runs/<id>`` directory
and deletes it at exit. Outputs are checked against DuckDB
(``perfbench/oracle.py``), outside all timing.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` spans are recorded around every layer call
(``perfbench/spans.py``) and it carries the per-layer metrics. The line
before it reports facts, sample counts and every metric computed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The stream: the shape of bench_cdc.py's stream (30% hot key, 10%
# event-time disorder, `tool` column appearing at 40% of the stream),
# scaled so that a run takes about a minute on 4 vCPUs.
STREAM = {"n_events": 700_000, "n_convs": 8_000, "max_turns": 40, "n_tranches": 16}
NUM_BUCKETS = 16
WARMUP_BATCHES = 2   # JIT and first-touch; excluded from steady state
COLD_BATCHES = 4     # ingest_wall_s: first apply_batch to this batch's commit
HOT_CONV = "conv_000000"

WORKLOADS = {
    # min_steady: steady batches measured at least; probe: the read-back of
    # the final lake after an ingest_* window (lookups, full reads, and
    # read_changes of each of the last this-many commits)
    "ingest_mor": {"mode": "mor", "slice": 100_000, "min_steady": 5, "probe": (16, 2, 3)},
    "ingest_cow": {"mode": "cow", "slice": 100_000, "min_steady": 5, "probe": (16, 6, 4)},
    "serve_mor": {"mode": "mor", "slice": 50_000, "min_steady": 6, "probe": None},
}
# serve_mor: compact buckets holding more than K delta files. Every
# narrow slice touches every bucket, so one compaction falls in each run
# of K + 1 batches; the window is measured in such whole cycles. The read
# mix runs after each commit and before that batch's maintenance.
SERVE_COMPACT_K = 2
SERVE_LOOKUPS = 2      # per steady commit; the hot one leads each cycle
EXPIRE_KEEP_LAST = 8
LEDGER_MIN_LOOSE = 8

E2E_UNITS = {
    "setup_s": "s",
    "jvm_peak_rss_mb": "MB",
    "ingest_events_per_s": "1/s",
    "ingest_wall_s": "s",
    "write_bytes_per_event": "B",
    "live_bytes_per_row": "B",
}
# The info line also carries batch_s_p50, lookup_s_p50, scan_s_p50 and
# changes_s_p50. They are not gated: over ten seeds their spread on
# ingest_cow reached 0.21-0.24 of the median, next to the largest bound
# allowed (0.25). The traced run reports them as per-layer metrics.

SPANNED = (
    "lake.merge",
    "lake.maintenance.compact_if_needed",
    "lake.table.lookup",
    "lake.table.read",
    "lake.changes.read_changes",
)
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "runner.batch_s_p50": "s",
    "sources.plan_batches_s": "s",
    "sources.events_read": "count",
    "lake.merge_s": "s",
    "lake.merge.dedup_buckets_s": "s",
    "lake.merge.write_s": "s",
    "lake.merge.commit_s": "s",
    "lake.merge.files_written": "count",
    "lake.merge.applied_per_event": "ratio",
    "lake.table.manifest_bytes_per_commit": "B",
    "ledger.record_s": "s",
    "metrics.append_rows_s": "s",
    "validate.post_checks_s": "s",
    "lake.maintenance.compact_if_needed_s": "s",
    "lake.maintenance.compacted_buckets": "count",
    "lake.maintenance.bytes_rewritten": "B",
    "lake.maintenance.expire_snapshots_s": "s",
    "lake.maintenance.vacuum_s": "s",
    "ledger.compact_if_needed_s": "s",
    "lake.table.delta_files_per_bucket_max": "count",
    "lake.table.lookup_s": "s",
    "lake.table.lookup_s_p90": "s",
    "lake.table.read_s": "s",
    "lake.changes.read_changes_s": "s",
    "trace.ingest_events_per_s": "1/s",
}
for _span in SPANNED:
    LAYER_UNITS.update({
        f"{_span}.jobs": "count",
        f"{_span}.shuffle_bytes": "B",
        f"{_span}.spill_bytes": "B",
        f"{_span}.task_skew": "ratio",
    })


# ---------------------------------------------------------------------- #
def box() -> tuple[int, str]:
    """Cores and a JVM heap that fit this machine: an eighth of the
    memory limit (cgroup or physical), between 1 and 2 GiB. The runs hold
    well under a GiB of data; a heap the workload fills keeps the JVM's
    peak resident size from following GC timing."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = int(next(l for l in f if l.startswith("MemTotal")).split()[1]) * 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            raw = f.read().strip()
        if raw != "max":
            mem = min(mem, int(raw))
    except OSError:
        pass
    heap_mb = max(1024, min(2048, mem // 8 // (1 << 20)))
    return cores, f"{heap_mb // 256 * 256}m"


def stream_dir(seed: int) -> str:
    """The seed's change stream, generated once and cached."""
    from gene_etl_spark.sources.simulate import generate_change_stream

    tag = f"stream-s{seed}-e{STREAM['n_events']}-c{STREAM['n_convs']}"
    out = os.path.join(HERE, ".cache", tag)
    if not os.path.exists(os.path.join(out, "facts.json")):
        tmp = f"{out}.tmp{os.getpid()}"
        facts = generate_change_stream(
            tmp,
            n_convs=STREAM["n_convs"],
            max_turns=STREAM["max_turns"],
            n_events=STREAM["n_events"],
            n_tranches=STREAM["n_tranches"],
            seed=seed,
        )
        facts.pop("out_dir")
        with open(os.path.join(tmp, "facts.json"), "w") as f:
            json.dump(facts, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    return out


def lake_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def pct(vals: list[float], q: float) -> float:
    s = sorted(vals)
    return s[min(len(s) - 1, int(q * len(s)))]


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = int(next(l for l in f if l.startswith("VmHWM")).split()[1])
    return kb / 1024.0


# ---------------------------------------------------------------------- #
class Bench:
    def __init__(self, args, workdir: str):
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.workdir = workdir
        self.rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {
            k: [] for k in ("batch_s", "lookup_s", "scan_s", "changes_s")
        }
        self.facts: dict = {}
        self.tracer = None
        self.seen_files: dict[str, int] = {}

    # --- bookkeeping --------------------------------------------------- #
    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def call(self, name: str, fn, *a, **kw):
        if self.tracer is None:
            return fn(*a, **kw)
        return self.tracer.call(name, fn, *a, **kw)

    def new_files(self) -> tuple[int, int, int]:
        """(parquet bytes, parquet files, other bytes) written since the
        last call."""
        now = lake_files(self.cfg.lake_path)
        fresh = {p: s for p, s in now.items() if p not in self.seen_files}
        self.seen_files.update(fresh)
        pq = [s for p, s in fresh.items() if p.endswith(".parquet")]
        other = sum(s for p, s in fresh.items()
                    if not p.endswith(".parquet") and not p.endswith(".crc"))
        return sum(pq), len(pq), other

    # --- set-up -------------------------------------------------------- #
    def setup(self, stream: str) -> None:
        from gene_etl_spark.config import IngestConfig
        from gene_etl_spark.runner import CdcIngestRunner
        from gene_etl_spark.session import get_spark

        cores, heap = box()
        self.facts.update(cores=cores, heap=heap)
        scratch = os.path.join(self.workdir, "spark")
        os.makedirs(os.path.join(scratch, "tmp"))
        os.environ["SPARK_LOCAL_DIRS"] = scratch
        os.environ.pop("SPARK_GRAFT_MASTER", None)
        os.environ["SPARK_GRAFT_PREWARM"] = "1"
        # no JVM (the spark-submit launcher included) writes outside the run
        # directory: hsperfdata would go to /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}/tmp"
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            cores=cores,
            shuffle_partitions=cores,
            driver_memory=heap,
            extra_conf={
                "spark.local.dir": scratch,
                "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
                # a heap fixed at its maximum: the resident peak then follows
                # the workload, not the collector's resizing
                "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:-UsePerfData"
                f" -Djava.io.tmpdir={scratch}/tmp",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.get_spark_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        d = self.workdir
        self.cfg = IngestConfig(
            lake_path=f"{d}/lake",
            events_path=stream,
            ledger_path=f"{d}/ledger",
            metrics_path=f"{d}/metrics",
            validation_path=f"{d}/validation",
            num_buckets=NUM_BUCKETS,
            slice_lsn_width=self.w["slice"],
            merge_mode=self.w["mode"],
            shuffle_partitions=cores,
        )
        self.runner = CdcIngestRunner(self.spark, self.cfg)
        self.setup_s = time.perf_counter() - t0
        if self.args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark)
            r = self.runner
            self.tracer.wrap(r.table, "merge", "lake.merge")
            self.tracer.wrap(r.metrics, "append_rows", "metrics.append_rows")
            self.tracer.wrap(r.validator, "post_checks_from_merge", "validate.post_checks")
            self.tracer.wrap(r.ledger, "record", "ledger.record")

    # --- the read mix -------------------------------------------------- #
    def read_mix(self, keys: list[str], end_lsn: int, versions: list[int],
                 scans: int = 1) -> None:
        """Point lookups of ``keys`` (checked against DuckDB at
        ``end_lsn``), ``scans`` full reads, and one ``read_changes`` of
        each commit in ``versions``."""
        from gene_etl_spark.lake.changes import read_changes

        table = self.runner.table
        deltas = table.manifest.get("deltas", {}) or {}
        self.delta_max = max([self.delta_max] + [len(v) for v in deltas.values()])
        for k in keys:
            try:
                t0 = time.perf_counter()
                rows = self.call("lake.table.lookup", lambda: table.lookup(k).collect())
                self.samples["lookup_s"].append(time.perf_counter() - t0)
                got = sorted((r["conv_id"], r["turn_idx"], r["text"]) for r in rows)
                self.op(got == self.oracle.lookup(k, end_lsn), f"lookup {k}@{end_lsn}")
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                self.op(False, f"lookup {k}: {e!r}")
        for _ in range(scans):
            try:
                t0 = time.perf_counter()
                self.call(
                    "lake.table.read",
                    lambda: table.read().write.format("noop").mode("overwrite").save(),
                )
                self.samples["scan_s"].append(time.perf_counter() - t0)
                self.op(True, "scan")
            except Exception as e:  # noqa: BLE001
                self.op(False, f"scan: {e!r}")
        for v in versions:
            try:
                t0 = time.perf_counter()
                n = self.call(
                    "lake.changes.read_changes",
                    lambda: read_changes(table, v - 1, v).count(),
                )
                self.samples["changes_s"].append(time.perf_counter() - t0)
                self.op(n > 0, f"read_changes v{v}")
            except Exception as e:  # noqa: BLE001
                self.op(False, f"read_changes v{v}: {e!r}")

    def lookup_keys(self, n: int, hot: bool) -> list[str]:
        rand = [f"conv_{self.rng.randrange(STREAM['n_convs']):06d}" for _ in range(n)]
        return [HOT_CONV] + rand[1:] if hot else rand

    # --- maintenance --------------------------------------------------- #
    def maintain(self, batch_no: int) -> None:
        from gene_etl_spark.lake import maintenance as m

        table = self.runner.table
        self.new_files()
        res = self.call(
            "lake.maintenance.compact_if_needed",
            m.compact_if_needed, table, max_delta_files=SERVE_COMPACT_K,
        )
        self.compacted.append(res.get("compacted_buckets", 0))
        self.rewritten.append(self.new_files()[0])
        if batch_no % (SERVE_COMPACT_K + 1) == 0:
            self.call("lake.maintenance.expire_snapshots", m.expire_snapshots,
                      table, keep_last=EXPIRE_KEEP_LAST)
            self.call("lake.maintenance.vacuum", m.vacuum, table, older_than_sec=0.0)
            m.prune_tombstones(table, before_lsn=None)
        self.call("ledger.compact_if_needed", self.runner.ledger.compact_if_needed,
                  min_loose=LEDGER_MIN_LOOSE)

    # --- the workload -------------------------------------------------- #
    def run(self) -> None:
        from oracle import Oracle

        self.oracle = Oracle(self.cfg.events_path, os.path.join(self.workdir, "duckdb"))
        serve = self.w["probe"] is None
        self.delta_max = 0
        self.compacted: list[int] = []
        self.rewritten: list[int] = []
        self.batch_walls: list[float] = []
        written = events = applied = 0
        files_written: list[int] = []
        manifest_bytes: list[int] = []
        steady_wall = steady_events = 0.0
        merge_phases: list[dict] = []
        plan = self.call("sources.plan_batches", self.runner.source.plan_batches,
                         0, self.w["slice"])
        cycle = SERVE_COMPACT_K + 1
        t_first = time.perf_counter()
        end_lsn = 0
        for i, (lo, hi) in enumerate(plan, start=1):
            t0 = time.perf_counter()
            try:
                b = self.call("runner.apply_batch", self.runner.apply_batch, lo, hi)
            except Exception as e:  # noqa: BLE001 - the lake is unusable after
                self.op(False, f"batch ({lo}, {hi}]: {e!r}")
                break
            wall = time.perf_counter() - t0
            version = b["snapshot_version"]
            if i == COLD_BATCHES:
                self.facts["ingest_wall_s"] = time.perf_counter() - t_first
            self.op(not b.get("skipped"), f"batch ({lo}, {hi}] skipped")
            end_lsn = hi
            nbytes, nfiles, other = self.new_files()
            written += nbytes
            files_written.append(nfiles)
            manifest_bytes.append(other)
            events += b["events_read"]
            applied += b["inserts"] + b["updates"] + b["deletes"]
            merge_phases.append(b["phases"])
            if serve:
                # reads first: every read then sees delta-carrying buckets
                if i > WARMUP_BATCHES:
                    hot = (i - WARMUP_BATCHES) % cycle == 1
                    self.read_mix(self.lookup_keys(SERVE_LOOKUPS, hot), hi, [version])
                t0 = time.perf_counter()
                self.maintain(i)
                wall += time.perf_counter() - t0
                written += self.rewritten[-1]
            self.batch_walls.append(round(wall, 3))
            if i > WARMUP_BATCHES:
                self.samples["batch_s"].append(wall)
                steady_wall += wall
                steady_events += b["events_read"]
            n_steady = len(self.samples["batch_s"])
            done = i >= COLD_BATCHES and n_steady >= self.w["min_steady"]
            done = done and steady_wall >= self.args.seconds
            if serve:
                done = done and n_steady % cycle == 0
            if done:
                break
        if "ingest_wall_s" not in self.facts:
            self.facts["ingest_wall_s"] = time.perf_counter() - t_first
        self.peak_rss = jvm_peak_rss_mb(self.spark)
        self.end_lsn = end_lsn
        self.facts.update(
            events=events,
            batches=len(merge_phases),
            steady_batches=len(self.samples["batch_s"]),
            batch_walls=self.batch_walls,
            end_lsn=end_lsn,
        )
        if not serve and merge_phases:
            version = self.runner.table.version
            lookups, scans, changes = self.w["probe"]
            self.read_mix(
                self.lookup_keys(lookups, hot=True), end_lsn,
                list(range(version - changes + 1, version + 1)), scans=scans,
            )
            if self.tracer is not None:
                self.maintain(cycle)
        self.check_final()
        self.e2e = {
            "setup_s": self.setup_s,
            "jvm_peak_rss_mb": self.peak_rss,
            "ingest_events_per_s": steady_events / steady_wall if steady_wall else 0.0,
            "batch_s_p50": statistics.median(self.samples["batch_s"] or [0.0]),
            "ingest_wall_s": self.facts["ingest_wall_s"],
            "write_bytes_per_event": written / events if events else 0.0,
            "live_bytes_per_row": self.live_bytes / max(self.facts["live_rows"], 1),
            "lookup_s_p50": statistics.median(self.samples["lookup_s"] or [0.0]),
            "scan_s_p50": statistics.median(self.samples["scan_s"] or [0.0]),
            "changes_s_p50": statistics.median(self.samples["changes_s"] or [0.0]),
        }
        if self.tracer is not None:
            self.layers = self.layer_metrics(
                merge_phases, files_written, manifest_bytes, events, applied
            )

    def check_final(self) -> None:
        """The final lake equals DuckDB's last-writer-wins answer."""
        table = self.runner.table
        rows = table.read().select("conv_id", "turn_idx", "text").toArrow()
        self.facts["live_rows"] = rows.num_rows
        bad = self.oracle.table_mismatches(rows, self.end_lsn)
        self.op(bad == 0, f"final lake: {bad} rows differ")
        m = table.manifest
        files = [f for fs in (m.get("files") or {}).values() for f in fs]
        files += [f for fs in (m.get("deltas") or {}).values() for f in fs]
        self.live_bytes = sum(os.path.getsize(os.path.join(table.path, f)) for f in files)

    def layer_metrics(self, phases, files_written, manifest_bytes, events, applied):
        tr = self.tracer
        # the write phase: MoR's delta write, or CoW's rewrite plus the
        # counters pass over its output
        write = [
            p.get("delta_write_sec", 0.0) + p.get("rewrite_sec", 0.0)
            + p.get("counters_sec", 0.0)
            for p in phases
        ]
        dedup = [p.get("dedup_buckets_sec", 0.0) for p in phases]
        commit = [
            p["merge_sec"] - sum(v for k, v in p.items() if k != "merge_sec")
            for p in phases
        ]
        steady = slice(WARMUP_BATCHES, None)
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        out = {
            "session.get_spark_s": self.get_spark_s,
            "runner.batch_s_p50": self.e2e["batch_s_p50"],
            "sources.plan_batches_s": tr.median("sources.plan_batches"),
            "sources.events_read": events,
            "lake.merge_s": med(
                [r["wall_s"] for r in tr.spans["lake.merge"]][steady]),
            "lake.merge.dedup_buckets_s": med(dedup[steady]),
            "lake.merge.write_s": med(write[steady]),
            "lake.merge.commit_s": med(commit[steady]),
            "lake.merge.files_written": med(files_written[steady]),
            "lake.merge.applied_per_event": applied / events if events else 0.0,
            "lake.table.manifest_bytes_per_commit": med(manifest_bytes[steady]),
            "ledger.record_s": tr.median("ledger.record"),
            "metrics.append_rows_s": tr.median("metrics.append_rows"),
            "validate.post_checks_s": tr.median("validate.post_checks"),
            # maintenance does its work in a few of the calls: per-call means
            "lake.maintenance.compact_if_needed_s": tr.mean(
                "lake.maintenance.compact_if_needed"),
            "lake.maintenance.compacted_buckets": sum(self.compacted),
            "lake.maintenance.bytes_rewritten": sum(self.rewritten),
            "lake.maintenance.expire_snapshots_s": tr.mean(
                "lake.maintenance.expire_snapshots"),
            "lake.maintenance.vacuum_s": tr.mean("lake.maintenance.vacuum"),
            "ledger.compact_if_needed_s": tr.mean("ledger.compact_if_needed"),
            "lake.table.delta_files_per_bucket_max": self.delta_max,
            "lake.table.lookup_s": tr.median("lake.table.lookup"),
            "lake.table.lookup_s_p90": pct(self.samples["lookup_s"] or [0.0], 0.9),
            "lake.table.read_s": tr.median("lake.table.read"),
            "lake.changes.read_changes_s": tr.median("lake.changes.read_changes"),
            "trace.ingest_events_per_s": self.e2e["ingest_events_per_s"],
        }
        for span in SPANNED:
            recs = tr.spans.get(span, [])
            if span == "lake.merge":
                recs = recs[steady]
            agg = statistics.fmean if span.startswith("lake.maintenance") else med
            for field in ("jobs", "shuffle_bytes", "spill_bytes", "task_skew"):
                out[f"{span}.{field}"] = agg([r[field] for r in recs]) if recs else 0.0
        return out

    def report(self) -> dict:
        metrics, units = (
            (self.layers, LAYER_UNITS) if self.tracer is not None
            else (self.e2e, E2E_UNITS)
        )
        info = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "facts": self.facts,
            "samples": {k: len(v) for k, v in self.samples.items()},
            "ops_failed_frac": self.failed / max(self.attempted, 1),
            "failures": self.failures[:10],
            "e2e": self.e2e,
        }
        print(json.dumps(info), flush=True)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }


def stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait until it exits."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "gene_etl_spark")):
        print(f"perfbench: no gene_etl_spark package beside {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    stream = stream_dir(args.seed)
    with open(os.path.join(stream, "facts.json")) as f:
        stream_facts = json.load(f)
    workdir = os.path.join(HERE, ".runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    bench = Bench(args, workdir)
    bench.facts.update(stream_events=stream_facts["n_events"], convs=stream_facts["n_convs"])
    try:
        bench.setup(stream)
        bench.run()
        result = bench.report()
    finally:
        if getattr(bench, "oracle", None) is not None:
            bench.oracle.close()
        if getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
