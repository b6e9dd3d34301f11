"""Incremental change reads (CDF): consume the lake AS a change stream.

``read_changes(table, from_version, to_version)`` returns the rows
changed by the commits in ``(from_version, to_version]`` with a
``_change_op`` column (``U`` upsert / ``D`` delete) and the committing
snapshot version — the Iceberg incremental-read / Delta change-data-feed
analogue, closing the CDC loop: downstream consumers tail the lake the
same way the lake tails the binlog.

Cost model (the 100 TB property): a MoR commit's freshly added delta
files ARE its change log — no scan beyond the delta itself; a CoW
commit is diffed against its parent over the touched buckets only —
never a full-table scan. Compaction/expiry commits change no logical
rows and are skipped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from gene_etl_spark.lake.table import LSN_COL, OP_COL, LakeTable

CHANGE_OP_COL = "_change_op"
VERSION_COL = "_commit_version"


def _mor_commit_changes(
    table: LakeTable, m: dict, parent: dict, include_preimages: bool = False
) -> DataFrame | None:
    """Delta files ADDED by this commit (diff vs parent) are the change
    rows verbatim: payload + LSN + op. With ``include_preimages``, each
    changed key that existed in the parent snapshot also emits its
    parent-state row as ``UP`` (update/delete preimage) — computed by a
    bucket-pruned read of the parent restricted to the delta's keys, so
    preimage cost ∝ the commit's footprint, never the table."""
    # identical content-addressed piece pointers prove a bucket's delta
    # set is unchanged — only changed buckets' pieces are loaded, so
    # reading ONE commit's changes costs its own footprint, not a walk
    # of the table's file inventory
    prev_pieces = parent.get("pieces") or {}
    candidates = [
        b
        for b, ptr in m["pieces"].items()
        if "d" in ptr[1] and prev_pieces.get(b) != ptr
    ]
    prev_deltas = parent.get("deltas") or {}
    prev = {f for b in candidates for f in prev_deltas.get(b, [])}
    added_by_bucket = {
        b: [f for f in m["deltas"][b] if f not in prev] for b in candidates
    }
    added = [f for fs in added_by_bucket.values() for f in fs]
    if not added:
        return None
    import os

    phys = table._physical_schema(m)
    delta_schema = T.StructType(
        list(phys.fields) + [T.StructField(OP_COL, T.StringType(), True)]
    )
    df = table._scan([os.path.join(table.path, f) for f in added], delta_schema)
    out = df.select(
        *[F.col(f.name) for f in phys.fields],
        F.when(F.col(OP_COL) == "D", F.lit("D")).otherwise(F.lit("U")).alias(
            CHANGE_OP_COL
        ),
    )
    if include_preimages:
        keys = list(m["key_cols"])
        touched = sorted(
            (int(b) for b, fs in added_by_bucket.items() if fs)
        )
        old = table.read(buckets=touched, include_meta=True, manifest=parent)
        for f in phys.fields:  # parent may predate additive columns
            if f.name not in old.columns:
                old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
        # Broadcast the delta's key set only when the commit summary
        # proves it is small; a huge MoR batch (millions of keys) would
        # blow the broadcast/driver limit, so beyond the threshold the
        # semijoin runs un-hinted (AQE picks shuffle vs broadcast from
        # the real post-distinct size).
        summary = m.get("summary", {}) or {}
        n_keys = (summary.get("upserts") or 0) + (summary.get("deletes") or 0)
        delta_keys = df.select(*keys).distinct()
        if 0 < n_keys <= 2_000_000:
            delta_keys = F.broadcast(delta_keys)
        pre = (
            old.join(delta_keys, keys, "leftsemi")
            .select(
                *[F.col(f.name) for f in phys.fields],
                F.lit("UP").alias(CHANGE_OP_COL),
            )
        )
        out = out.unionByName(pre)
    return out


def _cow_commit_changes(
    table: LakeTable, m: dict, parent: dict, include_preimages: bool = False
) -> DataFrame | None:
    """Diff the touched buckets between this commit and its parent:
    a key whose ``_lsn`` changed (or appeared) is an upsert; a key that
    vanished is a delete. Scans only the touched buckets of BOTH
    snapshots — cost ∝ the commit's write footprint, not the table.
    With ``include_preimages``, every changed key that existed in the
    parent (updated OR deleted) additionally emits its parent-state row
    as ``UP`` (the old side of the same diff join — no extra scan).
    CoW delete rows also carry the old payload themselves, but the UP
    row is emitted anyway so the preimage contract is identical across
    CoW and MoR (a MoR tombstone's payload is whatever the writer sent,
    not the old state)."""
    touched = m.get("summary", {}).get("touched_buckets") or []
    if not touched:
        return None
    keys = list(m["key_cols"])
    phys = table._physical_schema(m)
    new = table.read(buckets=touched, include_meta=True, manifest=m)
    old = table.read(buckets=touched, include_meta=True, manifest=parent)
    for f in phys.fields:  # parent may predate additive columns
        if f.name not in old.columns:
            old = old.withColumn(f.name, F.lit(None).cast(f.dataType))
    n = new.select(*[F.col(c).alias(f"__n_{c}") for c in [f.name for f in phys.fields]])
    o = old.select(*[F.col(c).alias(f"__o_{c}") for c in [f.name for f in phys.fields]])
    cond = None
    for k in keys:
        c = F.col(f"__n_{k}").eqNullSafe(F.col(f"__o_{k}"))
        cond = c if cond is None else (cond & c)
    joined = n.join(o, cond, "full_outer")
    n_exists = F.col(f"__n_{keys[0]}").isNotNull()
    o_exists = F.col(f"__o_{keys[0]}").isNotNull()
    changed = (~o_exists) | (F.col(f"__n_{LSN_COL}") != F.col(f"__o_{LSN_COL}"))
    upserts = joined.where(n_exists & changed).select(
        *[F.col(f"__n_{f.name}").alias(f.name) for f in phys.fields],
        F.lit("U").alias(CHANGE_OP_COL),
    )
    deletes = joined.where(o_exists & ~n_exists).select(
        *[F.col(f"__o_{f.name}").alias(f.name) for f in phys.fields],
        F.lit("D").alias(CHANGE_OP_COL),
    )
    out = upserts.unionByName(deletes)
    if include_preimages:
        pre = joined.where(o_exists & (~n_exists | changed)).select(
            *[F.col(f"__o_{f.name}").alias(f.name) for f in phys.fields],
            F.lit("UP").alias(CHANGE_OP_COL),
        )
        out = out.unionByName(pre)
    return out


def read_changes(
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
    include_preimages: bool = False,
) -> DataFrame:
    """Change rows committed by snapshots in ``(from_version,
    to_version]`` (defaults to the current version), with
    ``_change_op`` and ``_commit_version`` columns. Ops: ``U`` (upsert
    postimage), ``D`` (delete, carrying the old payload on the CoW
    path), and — when ``include_preimages`` — ``UP`` (the pre-change
    row of every key that existed before this commit; the Delta CDF
    update_preimage analogue). Preimages let consumers handle
    group-moving updates (e.g. incremental aggregate maintenance needs
    the OLD group dirty too). Order within the frame is unspecified;
    consumers needing replay order sort by (``_commit_version``,
    ``_lsn``) — both are carried."""
    import os

    hi = table.version if to_version is None else to_version

    # Targeted manifest loads, NOT table.history(): a consumer reading
    # (v, v+1] must cost O(range width), never O(table lifetime) — an
    # index refresh over a 10^4-commit table would otherwise re-open
    # every manifest ever committed on each refresh. Expired manifests
    # still resolve (fencing history semantics, same as history()).
    _cache: dict[int, dict | None] = {}

    def _load(v: int) -> dict | None:
        if v not in _cache:
            raw = table._read_raw_any(v)  # live, expired/ subdir, or legacy
            _cache[v] = None if raw is None else table._inflate(raw)
        return _cache[v]

    out: DataFrame | None = None
    for v in range(from_version + 1, hi + 1):
        m = _load(v)
        if m is None:
            raise ValueError(
                f"snapshot v{v} is missing from the manifest chain at {table.path}"
            )
        op = m.get("summary", {}).get("operation")
        parent_v = m.get("parent")
        parent = _load(parent_v) if parent_v is not None else None
        if parent is None:
            # a change-producing commit needs its parent snapshot to
            # diff against — on BOTH paths: the CoW diff reads the
            # parent outright, and the MoR path diffs delta-file sets
            # (an empty placeholder would mis-report the parent's
            # surviving deltas as newly added). Report the broken
            # chain instead of guessing.
            if parent_v is not None and op in ("merge", "merge-mor", "rollback"):
                raise ValueError(
                    f"snapshot v{parent_v} (parent of v{v}) is missing from"
                    f" the manifest chain at {table.path} — expired past the"
                    " retention window; re-baseline the consumer from a full"
                    " snapshot read"
                )
            parent = {"deltas": {}, "files": {}}
        if op == "merge-mor":
            part = _mor_commit_changes(table, m, parent, include_preimages)
        elif op in ("merge", "rollback"):
            # a rollback commit restores older content: the same
            # touched-bucket diff emits the restoring U/D/UP rows, so
            # index/rollup consumers fold the reversal (their LWW is by
            # (_commit_version, _lsn) and these rows carry the NEW
            # commit version) instead of going silently stale
            part = _cow_commit_changes(table, m, parent, include_preimages)
        else:  # create / compact / expiry / rebucket: no logical row changes
            part = None
        if part is None:
            continue
        part = part.withColumn(VERSION_COL, F.lit(v).cast("long"))
        out = part if out is None else out.unionByName(part, allowMissingColumns=True)
    if out is None:
        schema = T.StructType(
            list(table._physical_schema().fields)
            + [
                T.StructField(CHANGE_OP_COL, T.StringType(), True),
                T.StructField(VERSION_COL, T.LongType(), True),
            ]
        )
        return table.spark.createDataFrame([], schema)
    return out
