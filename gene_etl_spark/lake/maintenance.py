"""Lake table maintenance: time travel, compaction, snapshot expiry,
orphan-file vacuum.

The Iceberg-maintenance analogues for the engine's own table format:
long-running CDC ingest accumulates one commit directory per batch, so
compaction rewrites fragmented buckets into single files and vacuum
reclaims data files no live (unexpired) snapshot references.
"""

from __future__ import annotations

import json
import os
import re
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gene_etl_spark.lake.merge import BUCKET_COL
from gene_etl_spark.lake.table import (
    DATA_DIR,
    MANIFEST_DIR,
    PIECE_DIR,
    STAGED_DIR,
    LakeTable,
)


def read_at_version(
    table: LakeTable, version: int, where: list[tuple] | None = None
) -> DataFrame:
    """Time-travel scan of snapshot ``version`` (MoR deltas of that
    snapshot resolve exactly as a live read would). ``where`` gets the
    same column-metrics file skipping as a live ``read(where=...)`` —
    the historical manifest carries its own file entries."""
    return table.read(manifest=table._read_manifest(version), where=where)


def version_at(table: LakeTable, ts_ms: int) -> int:
    """Latest LIVE snapshot committed at or before ``ts_ms`` (the
    Iceberg timestamp-time-travel resolution rule). Expired snapshots
    are never returned — their data pins are gone, so a read against
    them could reference vacuumed files. Raises ``ValueError`` when the
    oldest live snapshot postdates ``ts_ms``."""
    import re

    best = None
    mdir = os.path.join(table.path, MANIFEST_DIR)
    for fn in os.listdir(mdir):
        m = re.fullmatch(r"v(\d+)\.json", fn)
        if not m:
            continue
        with open(os.path.join(mdir, fn)) as f:
            committed = json.load(f).get("committed_at_ms")
        if committed is not None and committed <= ts_ms:
            v = int(m.group(1))
            if best is None or v > best:
                best = v
    if best is None:
        raise ValueError(
            f"no live snapshot of {table.path} at or before ts_ms={ts_ms}"
        )
    return best


def read_at_ts(
    table: LakeTable, ts_ms: int, where: list[tuple] | None = None
) -> DataFrame:
    """Timestamp time travel: scan the snapshot that was current at
    ``ts_ms`` (wall-clock of the commit, not event time — the LSN/event
    dimension travels via ``cdc_changes``/``read_at_version``)."""
    return read_at_version(table, version_at(table, ts_ms), where=where)


REFS_SUBDIR = "refs"
_REF_NAME_RE = None  # compiled lazily (keep module import light)


def _refs_dir(table: LakeTable) -> str:
    return os.path.join(table.path, MANIFEST_DIR, REFS_SUBDIR)


def _ref_path(table: LakeTable, name: str) -> str:
    global _REF_NAME_RE
    if _REF_NAME_RE is None:
        import re

        _REF_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9._-]*")
    if not _REF_NAME_RE.fullmatch(name):
        raise ValueError(
            f"invalid tag name {name!r}: use letters, digits, '.', '_', '-'"
        )
    return os.path.join(_refs_dir(table), f"{name}.json")


def tag(table: LakeTable, name: str, version: int | None = None) -> dict:
    """Create an immutable named ref to a LIVE snapshot (Iceberg tag
    analogue). A tagged snapshot is retention-pinned: ``expire_snapshots``
    never expires it, which transitively keeps its data files and pieces
    out of ``vacuum``'s reach — the mechanism for audit/reproducibility
    holds ("the corpus the run trained on") over a long CDC history.
    Refuses an existing name (tags are immutable; drop first to re-point)
    and a non-live version (an expired snapshot's data pins are gone)."""
    v = table.version if version is None else int(version)
    if not os.path.exists(table._manifest_path(v)):
        raise ValueError(f"version {v} of {table.path} is not a live snapshot")
    path = _ref_path(table, name)
    os.makedirs(_refs_dir(table), exist_ok=True)
    rec = {"name": name, "version": v, "created_at_ms": int(time.time() * 1000)}
    import uuid as _uuid

    tmp = path + f".tmp-{_uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    try:
        # atomic create-if-absent: link() fails on an existing name, so
        # two racing taggers can't silently overwrite each other
        os.link(tmp, path)
    except FileExistsError:
        raise ValueError(
            f"tag {name!r} already exists (points at version "
            f"{list_tags(table)[name]['version']}); drop_tag first"
        ) from None
    finally:
        os.unlink(tmp)
    return rec


def list_tags(table: LakeTable) -> dict[str, dict]:
    """name -> {version, created_at_ms} for every tag on the table."""
    rdir = _refs_dir(table)
    out: dict[str, dict] = {}
    if not os.path.isdir(rdir):
        return out
    for fn in sorted(os.listdir(rdir)):
        if not fn.endswith(".json") or ".tmp-" in fn:
            continue
        with open(os.path.join(rdir, fn)) as f:
            rec = json.load(f)
        out[rec.get("name") or fn[: -len(".json")]] = {
            "version": rec["version"],
            "created_at_ms": rec.get("created_at_ms"),
        }
    return out


def drop_tag(table: LakeTable, name: str) -> dict:
    """Remove a tag; its snapshot becomes expirable (and then vacuumable)
    again under the normal retention rules."""
    path = _ref_path(table, name)
    if not os.path.exists(path):
        raise ValueError(f"no tag {name!r} on {table.path}")
    with open(path) as f:
        rec = json.load(f)
    os.unlink(path)
    return {"dropped": name, "version": rec["version"]}


def read_tag(table: LakeTable, name: str) -> DataFrame:
    """Time-travel scan of the tagged snapshot."""
    tags = list_tags(table)
    if name not in tags:
        raise ValueError(f"no tag {name!r} on {table.path}")
    return read_at_version(table, tags[name]["version"])


ZORDER_BITS = 6  # 64 quantile cells per clustered dimension


def zorder_expr(
    df: DataFrame, cols: list[str], bits_per_dim: int = ZORDER_BITS
) -> F.Column:
    """Z-value (Morton) column for multi-dimensional clustering: each
    column is quantile-ranked into ``2^bits_per_dim`` cells (one
    ``approxQuantile`` pass over ``df``; skew-proof — ranks are
    equi-populated, not min-max scaled), then the per-dimension rank
    bits are interleaved so sorting by the result keeps EVERY clustered
    column's per-file [min, max] bounds tight, not just the leading
    one. The cell boundaries are baked in as literals, so the returned
    expression is a pure row-local function — whole-stage codegen,
    no shuffle, no UDF.

    Numeric/timestamp/date columns rank on their values; string columns
    rank on an order-preserving 6-character prefix radix encoding (each
    codepoint clamped to 255, radix 256 — exact in double space). The
    encoding only shapes LAYOUT, never results: per-file bounds are
    always computed from the real values, so an exotic-unicode tie or
    shared-prefix collapse costs selectivity, not correctness. NULLs
    rank 0 and cluster together in the low corner. Quantile-duplicate
    boundaries (heavy hitters) collapse cells — monotonicity is
    preserved.
    """
    from functools import reduce

    from pyspark.sql import types as T

    if len(cols) < 2:
        raise ValueError("zorder needs >= 2 cluster columns (1 is a plain sort)")
    if bits_per_dim * len(cols) > 60:
        raise ValueError("zorder bits exceed a long: reduce bits_per_dim or cols")
    nums = []
    for c in cols:
        dtype = df.schema[c].dataType
        if not isinstance(
            dtype,
            (
                T.NumericType,
                T.TimestampType,
                T.TimestampNTZType,
                T.DateType,
                T.StringType,
            ),
        ):
            raise ValueError(
                f"zorder column {c!r} has unorderable-for-quantiles type "
                f"{dtype.simpleString()}; numeric/timestamp/date/string only"
            )
        num = F.col(c)
        if isinstance(dtype, T.DateType):
            num = F.unix_date(num)
        elif isinstance(dtype, T.TimestampNTZType):
            # no direct ntz->double cast; the session is pinned UTC so
            # the tz-reinterpretation is the identity
            num = num.cast("timestamp")
        elif isinstance(dtype, T.StringType):
            # coalesce INSIDE the clamp: least() skips nulls, so the
            # old least(ascii(NULL), 255) nesting sent NULL strings to
            # the TOP radix value — contradicting the documented
            # "NULLs rank 0" rule (ADVICE r6; layout-only either way,
            # bounds stay real values and the residual filter always
            # applies)
            num = reduce(
                lambda a, b: a + b,
                [
                    F.least(
                        F.coalesce(F.ascii(F.substring(num, i + 1, 1)), F.lit(0)),
                        F.lit(255),
                    ).cast("double")
                    * float(256 ** (5 - i))
                    for i in range(6)
                ],
            )
        num = num.cast("double")
        nums.append(num)
    n_cells = 1 << bits_per_dim
    probs = [i / n_cells for i in range(1, n_cells)]
    bounds = df.select(
        *[n.alias(f"_zq{i}") for i, n in enumerate(nums)]
    ).approxQuantile(
        [f"_zq{i}" for i in range(len(nums))], probs, 1.0 / (4 * n_cells)
    )
    nd = len(cols)
    terms = []
    # bit placement: dim 0 (the FIRST cluster column) owns the most
    # significant bit within each rank-bit group, so coarse slicing
    # (top z-bits) splits the leading columns first — the lex-order
    # intuition, and what makes few-slices-per-bucket layouts prune the
    # columns the user named first
    for d, (num, bs) in enumerate(zip(nums, bounds)):
        # 0..n_cells-1 rank: count of cell boundaries at or below the value
        rank = (
            reduce(
                lambda a, b: a + b,
                [F.when(num >= F.lit(float(b)), 1).otherwise(0) for b in bs],
            ).cast("long")
            if bs
            else F.lit(0).cast("long")  # all-NULL column: single cell
        )
        for k in range(bits_per_dim):
            terms.append(
                F.shiftleft(
                    F.shiftright(rank, k).bitwiseAND(F.lit(1)),
                    k * nd + (nd - 1 - d),
                )
            )
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def _validate_cluster(cluster: str, sort_cols: list[str] | None) -> None:
    if cluster not in ("lex", "zorder"):
        raise ValueError(f"cluster must be 'lex' or 'zorder', got {cluster!r}")
    if cluster == "zorder":
        if not sort_cols:
            raise ValueError("cluster='zorder' requires sort_cols")
        if len(sort_cols) < 2:
            raise ValueError("zorder needs >= 2 cluster columns (1 is a plain sort)")


def _clustered_write(
    df: DataFrame,
    abs_commit: str,
    base_tasks: int,
    in_bytes: int | None,
    target_file_size_bytes: int | None,
    sort_cols: list[str] | None,
    cluster: str,
    zorder_bits: int,
    default_sort_col: str,
) -> None:
    """Shared rewrite layout for compact/rebucket: hash one-file-per-
    bucket by default; with a size target or sort columns, range-slice
    + sort by the clustering order (lexicographic, or the z-order
    Morton key) so per-file stats bounds stay selective at any file
    count."""
    zcol = "_zorder_key"
    if (target_file_size_bytes or sort_cols) and cluster == "zorder":
        # withColumn silently REPLACES a same-named user column (the
        # later drop would then null that payload out of the rewritten
        # files with no error) — refuse instead (ADVICE r6)
        for reserved in (zcol, "_zorder_slice"):
            if reserved in df.columns:
                raise ValueError(
                    f"cannot z-order a table with a column named {reserved!r}"
                )
    if target_file_size_bytes or sort_cols:
        n_tasks = max(base_tasks, 1)
        if target_file_size_bytes and in_bytes:
            n_tasks = max(n_tasks, -(-in_bytes // target_file_size_bytes))
        if cluster == "zorder":
            # Slice WITHIN each bucket at identical z-boundaries — the
            # top bits of the Morton key (uniform by construction: they
            # are quantile-rank bits). Range-slicing on (bucket, z)
            # directly would land almost every sampled boundary ON a
            # bucket edge once buckets outnumber slices-per-bucket, so
            # each bucket collapses to one full-range file and the
            # selectivity this layout exists for disappears (measured:
            # 8 buckets x 1M rows -> every strip predicate kept 15/15
            # files). Aligned top-bit slices keep every bucket cut the
            # same way with zero extra passes.
            df = df.withColumn(zcol, zorder_expr(df, sort_cols, zorder_bits))
            total_bits = zorder_bits * len(sort_cols)
            want = -(-int(n_tasks) // max(base_tasks, 1))
            s_bits = min(max(want - 1, 0).bit_length(), total_bits)
            zslice = "_zorder_slice"
            df = df.withColumn(
                zslice,
                F.shiftright(F.col(zcol), total_bits - s_bits)
                if s_bits
                else F.lit(0),
            )
            out = (
                df.repartitionByRange(
                    max(base_tasks, 1) << s_bits,
                    F.col(BUCKET_COL),
                    F.col(zslice),
                )
                .sortWithinPartitions(F.col(BUCKET_COL), F.col(zcol))
                # narrow projection after the sort: row order within
                # each task is preserved, synthetic keys never hit disk
                .drop(zcol, zslice)
            )
        else:
            order = [F.col(BUCKET_COL)] + [
                F.col(c) for c in (sort_cols or [default_sort_col])
            ]
            out = df.repartitionByRange(int(n_tasks), *order).sortWithinPartitions(
                *order
            )
    else:
        # hash on bucket alone: every row of a bucket lands in exactly
        # one task, so the rewrite yields exactly one file per bucket
        out = df.repartition(max(base_tasks, 1), F.col(BUCKET_COL))
    out.write.partitionBy(BUCKET_COL).mode("overwrite").parquet(abs_commit)


def _entry_bytes(table: LakeTable, entries) -> int:
    """On-disk bytes of the entries' files (a sized rewrite's input)."""
    paths = (os.path.join(table.path, e["path"]) for e in entries)
    return sum(os.path.getsize(p) for p in paths if os.path.exists(p))


def compact(
    table: LakeTable,
    max_files_per_bucket: int = 1,
    buckets: list[int] | None = None,
    target_file_size_bytes: int | None = None,
    sort_cols: list[str] | None = None,
    cluster: str = "lex",
    zorder_bits: int = ZORDER_BITS,
) -> dict:
    """Rewrite buckets whose base-file count exceeds the target — or
    which carry MoR delta files — into fresh resolved base files; commits
    a new snapshot (row content identical: the read path's LWW resolution
    is what gets folded in). ``buckets`` restricts the rewrite to an
    explicit set (the policy trigger below compacts only the buckets
    that tripped it, not every bucket with a single delta).

    ``target_file_size_bytes``: at scale one-file-per-bucket is wrong
    (a 100 GB bucket must not become one unsplittable write task); when
    set, the rewrite range-partitions each bucket by the sort key into
    ~target-sized, KEY-SORTED files — the task count derives from the
    fragmented buckets' current on-disk bytes (input is already parquet
    with the same codec, so output size ≈ input size). Because the
    files are range-sliced, their per-file key [min, max] bounds are
    disjoint, so a point ``lookup`` prunes to ONE file however many the
    bucket holds. ``sort_cols`` overrides the within-file clustering
    (first column drives the range slicing — multi-column lexicographic
    is the Z-order-lite that keeps several predicates' row-group stats
    selective); default is the bucketing key.

    ``cluster="zorder"``: slice and sort by the bit-interleaved
    quantile-rank z-value of ``sort_cols`` instead of lexicographically
    (the Delta ``OPTIMIZE ZORDER BY`` analogue). Lexicographic order
    only makes the LEADING column's per-file bounds selective — at many
    files per bucket, a predicate on the second column keeps every
    file. Z-order files cover near-square hyperrectangles, so
    ``read(where=...)`` data skipping prunes on ANY clustered column.
    The trade: per-file KEY bounds are no longer disjoint, so point
    lookups in multi-file buckets scan more than one file — choose per
    table whether point or analytical reads dominate. Costs one extra
    pass over the fragmented buckets (the quantile sketch)."""
    _validate_cluster(cluster, sort_cols)
    manifest = table.manifest
    entries = manifest["entries"]
    if buckets is not None:
        fragmented = sorted(set(buckets))
    else:
        fragmented = sorted(
            {
                int(b)
                for b, files in manifest["files"].items()
                if len(files) > max_files_per_bucket
            }
            | {int(b) for b in manifest["deltas"]}
        )
    if not fragmented:
        return {"compacted_buckets": 0, "snapshot_version": manifest["version"]}

    df = table.read(buckets=fragmented, include_meta=True).withColumn(
        BUCKET_COL, table.bucket_expr()
    )
    version = manifest["version"] + 1
    rel_commit = table._new_commit_dir(version)
    abs_commit = os.path.join(table.path, rel_commit)
    in_bytes = None
    if target_file_size_bytes:
        in_bytes = _entry_bytes(
            table, (e for b in fragmented for e in entries.get(str(b), []))
        )
    _clustered_write(
        df, abs_commit, len(fragmented), in_bytes,
        target_file_size_bytes, sort_cols, cluster, zorder_bits,
        table.key_cols[0],
    )
    # rewritten buckets' entries (base and delta) are replaced by the new
    # files'; the rest stay lazy and pointer-copy (compaction rides the
    # ingest loop via the threshold policy — it must not pay O(table)
    # metadata)
    added = table._file_entries(table._list_bucket_files(abs_commit, rel_commit))
    new_manifest = {
        **manifest,
        "version": version,
        "parent": manifest["version"],
        "entries": entries.updated(
            {str(b): added.get(str(b), []) for b in fragmented}
        ),
        "properties": {},
        "summary": {
            "operation": "compact",
            "total_rows": manifest["summary"].get("total_rows"),
            "compacted_buckets": fragmented,
            # layout lineage: which clustering produced these files
            # (Iceberg sort-order metadata analogue, informational)
            **(
                {"clustering": {"cols": list(sort_cols), "mode": cluster}}
                if sort_cols
                else {}
            ),
        },
        "committed_at_ms": int(time.time() * 1000),
    }
    committed = table.commit_with_rebase(new_manifest, fragmented)
    return {
        "compacted_buckets": len(fragmented),
        "snapshot_version": committed["version"],
    }


def rebucket(
    table: LakeTable,
    new_num_buckets: int,
    target_file_size_bytes: int | None = None,
    sort_cols: list[str] | None = None,
    cluster: str = "lex",
    zorder_bits: int = ZORDER_BITS,
) -> dict:
    """Partition-spec evolution: rewrite the table under a new bucket
    count (Iceberg's ``bucket(N, key)`` spec-change analogue) — the
    growth path when data outruns its layout (a table created at 8
    buckets crossing into TB territory wants 64+ so merges, point
    lookups, and index probes keep their per-bucket bounds).

    Necessarily a full-table rewrite (every row re-hashes), committed
    as ONE snapshot: resolved rows (MoR deltas folded) land in fresh
    base files, deltas clear, per-file key/LSN bounds recomputed, and
    the manifest's ``num_buckets`` flips — every subsequent merge and
    lookup derives bucketing from the manifest, so the change is
    self-propagating. The commit touches every bucket, so any
    concurrent commit conflicts and the rebase refuses (safe). The CDC
    change feed spans a ``rebucket`` commit silently (no logical row
    changes), same as compaction — index consumers never notice.

    ``target_file_size_bytes`` / ``sort_cols`` / ``cluster``: same
    layout controls as ``compact`` — a spec evolution is already a
    full-table rewrite, so clustering the new buckets in the SAME pass
    costs one sort instead of a second rewrite (rebucket-then-compact
    would read and write all 100 TB twice).
    """
    if new_num_buckets < 1:
        raise ValueError("new_num_buckets must be >= 1")
    _validate_cluster(cluster, sort_cols)
    manifest = table.manifest
    if new_num_buckets == table.num_buckets:
        return {"rebucketed": False, "snapshot_version": manifest["version"]}

    from gene_etl_spark.functions import bucket_of

    df = table.read(include_meta=True).withColumn(
        BUCKET_COL, bucket_of(table.key_cols[0], new_num_buckets)
    )
    version = manifest["version"] + 1
    rel_commit = table._new_commit_dir(version)
    abs_commit = os.path.join(table.path, rel_commit)
    in_bytes = None
    if target_file_size_bytes:
        in_bytes = _entry_bytes(
            table, (e for ents in manifest["entries"].values() for e in ents)
        )
    _clustered_write(
        df, abs_commit, new_num_buckets, in_bytes,
        target_file_size_bytes, sort_cols, cluster, zorder_bits,
        table.key_cols[0],
    )
    old_buckets = sorted(int(b) for b in manifest["entries"])
    new_manifest = {
        **manifest,
        "version": version,
        "parent": manifest["version"],
        "num_buckets": new_num_buckets,
        "entries": table._file_entries(
            table._list_bucket_files(abs_commit, rel_commit)
        ),
        "properties": {},
        "summary": {
            "operation": "rebucket",
            "total_rows": manifest["summary"].get("total_rows"),
            "from_num_buckets": manifest["num_buckets"],
            "to_num_buckets": new_num_buckets,
            **(
                {"clustering": {"cols": list(sort_cols), "mode": cluster}}
                if sort_cols
                else {}
            ),
            # rebucket rewrites everything: advertise the touched set so
            # a racing CoW loser's overlap check fires (the num_buckets
            # rebase guard is the primary fence; this is belt-and-braces)
            "touched_buckets": old_buckets,
        },
        "committed_at_ms": int(time.time() * 1000),
    }
    committed = table.commit_with_rebase(new_manifest, old_buckets)
    return {
        "rebucketed": True,
        "snapshot_version": committed["version"],
        "num_buckets": new_num_buckets,
    }


def rollback(
    table: LakeTable, version: int | None = None, tag_name: str | None = None
) -> dict:
    """Roll the table back to a live snapshot's content as a NEW commit
    (Iceberg ``rollback_to_snapshot`` analogue) — the recovery path when
    a bad batch published: history is preserved (the bad snapshots stay
    readable until expiry), readers flip atomically, and the CDC change
    feed emits the restoring U/D/UP rows like any CoW commit, so
    downstream index/rollup consumers fold the reversal instead of
    going silently stale (their LWW is by ``(_commit_version, _lsn)``,
    and the restored rows carry the NEW commit version).

    Metadata-only: the target's per-bucket content maps are re-linked
    (content-addressed pieces dedupe against the target's own), no data
    file is rewritten. ``touched`` = buckets whose piece pointers differ
    between current and target (pointer compare, no piece I/O),
    so a concurrent merge on a genuinely-changed bucket refuses via the
    normal rebase rules. Refused across a ``rebucket`` (the target's
    files are numbered under a different layout — rebucket again after
    rolling back). The ingest ledger is NOT rewound: a later runner
    resumes at its recorded LSN high-water mark; replaying the rolled-
    back range is a ledger-level operator decision."""
    if (version is None) == (tag_name is None):
        raise ValueError("pass exactly one of version= / tag_name=")
    if tag_name is not None:
        tags = list_tags(table)
        if tag_name not in tags:
            raise ValueError(f"no tag {tag_name!r} on {table.path}")
        version = tags[tag_name]["version"]
    v_t = int(version)
    manifest = table.manifest
    cur_v = manifest["version"]
    if v_t == cur_v:
        return {"rolled_back": False, "snapshot_version": cur_v}
    if not os.path.exists(table._manifest_path(v_t)):
        raise ValueError(
            f"version {v_t} of {table.path} is not a live snapshot"
        )
    target = table._read_manifest(v_t)
    if target.get("num_buckets") != manifest.get("num_buckets"):
        raise ValueError(
            "rollback across a rebucket is unsupported: the target's files"
            f" are laid out under num_buckets={target.get('num_buckets')},"
            f" current is {manifest.get('num_buckets')} — roll back by"
            " re-running rebucket against the restored state instead"
        )
    pc, pt = manifest["pieces"], target["pieces"]
    touched = sorted(int(b) for b in set(pc) | set(pt) if pc.get(b) != pt.get(b))
    if not touched:
        return {"rolled_back": False, "snapshot_version": cur_v}
    new_manifest = {
        **manifest,  # keeps the CURRENT schema (additive superset)
        "version": cur_v + 1,
        "parent": cur_v,
        "entries": target["entries"],
        "properties": {"batch_id": f"rollback-v{v_t}-from-v{cur_v}"},
        "summary": {
            "operation": "rollback",
            "total_rows": (target.get("summary") or {}).get("total_rows"),
            "rolled_back_to": v_t,
            "touched_buckets": touched,
        },
        "committed_at_ms": int(time.time() * 1000),
    }
    committed = table.commit_with_rebase(new_manifest, touched)
    # rolled-back merges' tombstone-journal entries must go with them:
    # a rolled-back delete would otherwise keep suppressing re-applied
    # lower-LSN upserts. Per-version journal dirs make this exact;
    # folded `d-pruned-*` dirs are version-less and survive (run
    # prune_tombstones before a planned rollback, or accept the
    # conservative suppression until the replayed delete re-commits).
    import re as _re
    import shutil as _shutil

    from gene_etl_spark.lake.table import TOMBSTONE_DIR

    troot = os.path.join(table.path, TOMBSTONE_DIR)
    if os.path.isdir(troot):
        for d in os.listdir(troot):
            m = _re.match(r"d-v(\d+)-", d)
            if m and int(m.group(1)) > v_t:
                _shutil.rmtree(os.path.join(troot, d), ignore_errors=True)
    return {
        "rolled_back": True,
        "snapshot_version": committed["version"],
        "target_version": v_t,
        "touched_buckets": len(touched),
    }


def compact_if_needed(
    table: LakeTable,
    max_delta_files: int = 4,
    max_base_files: int | None = None,
) -> dict:
    """Threshold-triggered compaction — the policy nobody calls by hand
    at 10^10 events (round-4 verdict item 6). Compacts exactly the
    buckets whose MoR delta-file count exceeds ``max_delta_files`` (or
    whose base-file count exceeds ``max_base_files``, when given);
    everything else is left alone, so steady-state cost is one manifest
    inspection per call and a rewrite ∝ the buckets that actually
    fragmented. Wired into the ingest loop via
    ``IngestConfig.compact_delta_files_per_bucket``; the index family
    spans the resulting compaction commits silently (no change rows —
    test-pinned)."""
    manifest = table.manifest
    target = {
        int(b)
        for b, files in manifest["deltas"].items()
        if len(files) > max_delta_files
    }
    if max_base_files is not None:
        target |= {
            int(b)
            for b, files in manifest["files"].items()
            if len(files) > max_base_files
        }
    if not target:
        return {"compacted_buckets": 0, "snapshot_version": manifest["version"]}
    return compact(table, buckets=sorted(target))


def expire_snapshots(table: LakeTable, keep_last: int = 10) -> dict:
    """Mark old snapshots expired (manifests MOVE to the
    ``_manifests/expired/`` subdir, so fencing history is preserved but
    time travel to them is closed — and the hot live-dir listing that
    ``version``/fencing/vacuum anchor on stays bounded by the retention
    policy instead of growing one name per commit forever).

    Tagged versions are retention-pinned: they stay live regardless of
    age, so their data files and pieces remain under vacuum's protection
    until the tag is dropped (Iceberg's ref-aware snapshot expiry)."""
    current = table.version
    cutoff = current - keep_last
    pinned = {rec["version"] for rec in list_tags(table).values()}
    expired = 0
    # One dir listing, then rename only LIVE manifests below the cutoff
    # — after the first expiry the live set is bounded (keep_last + tag
    # pins), so calling this every N batches from the ingest loop costs
    # O(live), never O(total commits). The CURRENT snapshot is always
    # retained (keep_last=0 would otherwise expire the head and brick
    # the table: vacuum could then reclaim the live state's own files).
    mdir = os.path.join(table.path, MANIFEST_DIR)
    live = [
        int(m.group(1))
        for fn in os.listdir(mdir)
        if (m := re.fullmatch(r"v(\d+)\.json", fn))
    ]
    edir = os.path.join(mdir, "expired")
    for v in live:
        if v > cutoff or v == current or v in pinned:
            continue
        os.makedirs(edir, exist_ok=True)
        os.rename(
            table._manifest_path(v), os.path.join(edir, f"v{v}.json")
        )
        expired += 1
    if expired:
        # fence summary at the retention point: a FRESH process seeds
        # its fencing walk from this file and opens only the manifests
        # committed after it — O(live + tail) instead of O(commits)
        table.write_fence_summary()
    return {
        "expired": expired,
        "kept_from": max(cutoff + 1, 0),
        "tag_pinned": sorted(v for v in pinned if v <= cutoff),
    }


def vacuum(
    table: LakeTable, dry_run: bool = False, older_than_sec: float = 600.0
) -> dict:
    """Delete data files not referenced by any live (or expired-but-kept)
    manifest — failed/uncommitted writes and superseded bucket rewrites.

    ``older_than_sec`` is the concurrent-writer grace window (Iceberg
    remove_orphan_files ``older_than`` analogue): a merge in flight in
    another process writes its commit directory *before* its manifest
    hard-link lands, so files younger than the window are never
    reclaimed even though no manifest references them yet. Pass 0 only
    when the caller owns exclusive write access."""
    now = time.time()
    live: set[str] = set()
    live_pieces: set[str] = set()
    mdir = os.path.join(table.path, MANIFEST_DIR)
    sdir = os.path.join(table.path, STAGED_DIR)
    pinning = [
        os.path.join(mdir, fn)
        for fn in os.listdir(mdir)
        if re.fullmatch(r"v\d+\.json", fn)
    ]
    if os.path.isdir(sdir):  # unpublished WAP snapshots pin their files
        pinning += [
            os.path.join(sdir, fn)
            for fn in os.listdir(sdir)
            if fn.endswith(".json") and ".tmp-" not in fn
        ]
    for path in pinning:
        with open(path) as f:
            m = table._inflate(json.load(f))
        for rel, _flags in m["pieces"].values():
            live_pieces.add(os.path.basename(rel))
        for ents in m["entries"].values():
            live.update(e["path"] for e in ents)  # base and MoR delta files
    # piece GC: content-addressed piece files referenced by no live
    # snapshot (orphans of losing/crashed writers, or pinned only by
    # expired snapshots — whose metadata pins die with their data pins).
    # Same concurrent-writer grace window as data files: an in-flight
    # commit writes its pieces before its manifest link lands.
    pieces_removed = 0
    pdir = os.path.join(table.path, PIECE_DIR)
    if os.path.isdir(pdir):
        for fn in os.listdir(pdir):
            full = os.path.join(pdir, fn)
            if (
                fn not in live_pieces
                and now - os.path.getmtime(full) >= older_than_sec
            ):
                pieces_removed += 1
                if not dry_run:
                    os.unlink(full)
    removed = 0
    ddir = os.path.join(table.path, DATA_DIR)
    for root, _dirs, files in os.walk(ddir):
        for fn in files:
            full = os.path.join(root, fn)
            rel = os.path.relpath(full, table.path)
            if rel not in live and now - os.path.getmtime(full) >= older_than_sec:
                removed += 1
                if not dry_run:
                    os.unlink(full)
    if not dry_run:  # drop empty dirs
        for root, dirs, files in list(os.walk(ddir, topdown=False)):
            if not dirs and not files and root != ddir:
                os.rmdir(root)
    return {
        "removed_files": removed,
        "live_files": len(live),
        "removed_pieces": pieces_removed,
    }


def prune_tombstones(
    table: LakeTable,
    before_lsn: int | None = None,
    max_dirs: int = 8,
) -> dict:
    """Bound the tombstone journal (Kafka ``delete.retention.ms``
    analogue): fold per-batch journal dirs into one, keep only the
    per-key max entry, and — when ``before_lsn`` is given — drop
    tombstones at or below it. Events later than the retention window
    are out of contract for resurrection-safety, exactly like a Kafka
    consumer slower than delete.retention.ms. With ``before_lsn=None``
    this is pure hygiene (bounded dir listing, per-key dedup), skipped
    while the journal holds ≤ ``max_dirs`` dirs. Crash between the
    folded write and the old-dir sweep leaves duplicates — harmless to
    the guard's max-aggregation, swept by the next prune."""
    import shutil
    import uuid as _uuid

    from gene_etl_spark.lake.table import TOMBSTONE_DIR

    dirs = table.tombstone_dirs()
    if not dirs or (before_lsn is None and len(dirs) <= max_dirs):
        return {"pruned": False, "dirs": len(dirs)}
    df = table.read_tombstones()
    if before_lsn is not None:
        df = df.where(F.col("_lsn") > int(before_lsn))
    key_cols = table.key_cols
    folded = (
        df.groupBy(*[F.col(k) for k in key_cols])
        .agg(F.max(F.struct(F.col("_lsn"), F.col("_ts"))).alias("m"))
        .select(*key_cols, F.col("m._lsn").alias("_lsn"), F.col("m._ts").alias("_ts"))
        .persist()
    )
    try:
        kept = folded.count()
        if kept > 0:
            out = os.path.join(
                table.path,
                TOMBSTONE_DIR,
                f"d-pruned-{_uuid.uuid4().hex[:8]}",
            )
            # Range-sliced rewrite, sized from the journal's on-disk
            # bytes: one coalesce(1) task over an unboundedly grown
            # journal was the scale hole; slicing on _lsn additionally
            # gives the rewritten files disjoint LSN bounds, so the
            # merge guard's footer prune keeps skipping them file-by-
            # file as the high-water mark advances.
            n_out = max(1, min(1024, table.tombstone_bytes() // (64 << 20)))
            w = folded
            if n_out > 1:
                w = folded.repartitionByRange(n_out, F.col("_lsn"))
            w.write.mode("overwrite").parquet(out)
    finally:
        folded.unpersist()
    for d in dirs:  # captured before the folded write — never sweeps it
        shutil.rmtree(d, ignore_errors=True)
    return {"pruned": True, "dirs": len(dirs), "kept_tombstones": kept}
