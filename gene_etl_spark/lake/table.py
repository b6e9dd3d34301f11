"""LakeTable — a minimal Iceberg-style table format over Parquet.

No Iceberg runtime jar is available in this environment, so the engine
ships its own jar-free lake layer with the Iceberg properties the north
rule needs (SURVEY.md §7.4 fallback design):

- **Snapshot isolation / atomic commits**: every commit writes a new
  immutable JSON manifest ``_manifests/v{N}.json`` via tmp-file +
  ``os.link`` (atomic create, fails on conflict). Losing writers rebase
  onto the winner and retry when safe — disjoint CoW buckets and MoR
  delta appends — and refuse otherwise (``commit_with_rebase``, the
  Iceberg optimistic-concurrency retry loop). Readers always see a
  complete manifest or the previous one.
- **Bucketed layout**: data files are grouped by ``bucket_id =
  pmod(xxhash64(conv_id), num_buckets)`` (Iceberg ``bucket(N, conv_id)``
  transform analogue). MERGE rewrites only the buckets touched by a batch
  — cost scales with the update slice, not the table (the partition-
  pruning property that makes copy-on-write viable at 100 TB).
- **One entry per data file**: each snapshot lists, per bucket, one
  entry per data file — path, base or delta, key/LSN/column bounds
  (Iceberg's manifest-entry shape) — in content-addressed piece files;
  writers add and remove entries, so stats cannot drift from files.
- **Additive schema evolution**: the manifest owns the schema; new
  payload columns appearing in an update slice extend it, and old data
  files (which physically lack the column) read back as nulls via the
  explicit-schema Parquet scan.
- **Commit fencing**: each MERGE stamps its ``batch_id`` and LSN range
  into the manifest properties; replaying a committed batch is detected
  and skipped (exactly-once). Reference analogue: unique-constraint +
  skip-if-exists idempotence (reference: etl/persist.py:152-185,
  models.py:152).

All data-plane work (scan, join, dedup, rewrite) is Spark DataFrame ops;
the manifest layer is tiny driver-side JSON bookkeeping, exactly like
Iceberg's metadata layer.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
import uuid
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gene_etl_spark.functions import bucket_of

MANIFEST_DIR = "_manifests"
TOMBSTONE_DIR = "_tombstones"
EXPIRED_SUBDIR = "expired"  # _manifests/expired/v{N}.json — see expire_snapshots
PIECE_DIR = os.path.join(MANIFEST_DIR, "pieces")
STAGED_DIR = os.path.join(MANIFEST_DIR, "staged")
DATA_DIR = "data"
LSN_COL = "_lsn"  # hidden per-row last-writer LSN, enables cross-batch LWW
OP_COL = "_op"  # delta files only: I/U/D (tombstones live in deltas)

# v{N}.json holds a bucket -> [piece, flags] pointer map; each piece
# holds that bucket's file entries (see _BucketEntries)
MANIFEST_FORMAT = 3

# predicate vocabulary for read(where=...) data skipping
_WHERE_OPS = (
    "=", "==", "<", "<=", ">", ">=", "in", "between", "is_null", "not_null",
)


def _validate_where(where) -> None:
    for conj in where:
        if not (isinstance(conj, (tuple, list)) and len(conj) == 3):
            raise ValueError(f"where conjunct must be (col, op, value): {conj!r}")
        col, op, val = conj
        if op not in _WHERE_OPS:
            raise ValueError(f"unsupported where op {op!r} (one of {_WHERE_OPS})")
        if op == "in" and not isinstance(val, (list, tuple, set)):
            raise ValueError(f"'in' needs a list/tuple/set of values: {val!r}")
        if op in ("is_null", "not_null") and val is not None:
            raise ValueError(f"{op!r} takes no value (pass None): {val!r}")
        if op == "between" and not (
            isinstance(val, (list, tuple)) and len(val) == 2
        ):
            raise ValueError(f"'between' needs a (lo, hi) pair: {val!r}")


STRING_BOUND_MAX_LEN = 16  # Iceberg's write.metadata.metrics truncate(16)


def _truncate_upper_string(s: str) -> str:
    """Iceberg-style upper-bound truncation: the 16-char prefix with its
    last incrementable char bumped one code point (skipping the
    surrogate gap), which is > every string sharing the prefix. Falls
    back to the full value when no char can be incremented (all
    U+10FFFF — pathological)."""
    chars = list(s[:STRING_BOUND_MAX_LEN])
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            ncp = cp + 1
            if 0xD800 <= ncp <= 0xDFFF:  # unencodable surrogate range
                ncp = 0xE000
            chars[i] = chr(ncp)
            return "".join(chars[: i + 1])
    return s


def _truncate_string_bounds(lo, hi):
    """Bound long string stats before they enter piece JSONs — a
    kilobyte-scale text stats_col would otherwise replay its min/max
    into EVERY commit's piece metadata (the arrow writer itself only
    drops stats past ~4 KB per value, so the 17..4096-char range
    bloats un-truncated). Lower bound: plain prefix (≤ the true min).
    Upper: prefix with last-char increment (≥ the true max). The
    widened interval keeps ``_bounds_may_match`` conservative — a
    matching file can never be pruned; the only cost is keeping a rare
    boundary file."""
    if isinstance(lo, str) and len(lo) > STRING_BOUND_MAX_LEN:
        lo = lo[:STRING_BOUND_MAX_LEN]
    if isinstance(hi, str) and len(hi) > STRING_BOUND_MAX_LEN:
        hi = _truncate_upper_string(hi)
    return lo, hi


def _file_footer_stats(abs_path, columns, with_nulls):
    """One parquet footer → per-column bounds (the body of
    ``LakeTable._file_entries``, module-level so the distributed
    collection path can ship it to executors). Returns {col: entry}
    where entry is ``[lo, hi]`` or the extended ``[lo, hi, null_count,
    num_rows]`` for ``with_nulls`` columns; stats are an optimization,
    so every failure degrades to 'no entry', never an error."""
    import pyarrow.parquet as pq

    out: dict[str, list] = {}
    try:
        md = pq.ParquetFile(abs_path).metadata
        arrow_schema = md.schema.to_arrow_schema()
    except Exception:
        return out
    for column in columns:
        try:
            idx = arrow_schema.get_field_index(column)
            if idx < 0:
                continue
            lo = hi = None
            minmax_ok = True
            nulls: int | None = 0
            nrows = 0
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                nrows += rgm.num_rows
                st = rgm.column(idx).statistics
                if st is None:
                    minmax_ok = False
                    nulls = None
                    continue
                if nulls is not None and st.has_null_count:
                    nulls += st.null_count
                else:
                    nulls = None
                if st.has_min_max:
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                elif not (st.has_null_count and st.null_count == rgm.num_rows):
                    # missing min/max on a row group with non-null
                    # values: bounds unusable (an all-null row group
                    # legitimately has none and doesn't widen them)
                    minmax_ok = False
            # JSON-safety gate: pyarrow returns raw typed stats (bytes /
            # timestamps / decimals for such columns), which would blow
            # up json.dump at manifest-write time — OUTSIDE this
            # try/except — and fail the commit. Stats are an
            # optimization: drop the bounds unless both are plain JSON
            # scalars that also compare consistently at read time.
            if not (
                minmax_ok
                and lo is not None
                and all(
                    isinstance(v, (int, float, str)) and not isinstance(v, bool)
                    for v in (lo, hi)
                )
            ):
                lo = hi = None
            else:
                # Iceberg-parity truncation: long string bounds are
                # prefix-truncated (lower) / prefix-incremented (upper)
                # so a long-text stats column cannot bloat piece JSONs;
                # widened bounds stay conservative for every pruning op
                lo, hi = _truncate_string_bounds(lo, hi)
            if column in with_nulls:
                if lo is not None and nulls is not None:
                    out[column] = [lo, hi, nulls, nrows]
                elif nulls is not None:
                    out[column] = [None, None, nulls, nrows]
                elif lo is not None:
                    out[column] = [lo, hi]
            elif lo is not None:
                out[column] = [lo, hi]
        except Exception:
            continue
    return out


def _bounds_may_match(bounds, op, val) -> bool:
    """Can any value in [lo, hi] satisfy ``op val``? Conservative: an
    incomparable type (or any surprise) keeps the file. Parquet min/max
    cover non-null values only, and every comparison op is null-
    rejecting (SQL comparison semantics), so pruning on those bounds is
    exact. Extended entries carry ``[lo, hi, null_count, num_rows]``
    (``lo``/``hi`` may be None for all-null or unsafe-bounds files):
    ``is_null`` skips files with provably zero nulls, ``not_null``
    skips all-null files, and comparison ops skip all-null files even
    without min/max."""
    lo, hi = bounds[0], bounds[1]
    nulls, nrows = (bounds[2], bounds[3]) if len(bounds) >= 4 else (None, None)
    if op == "is_null":
        return nulls != 0  # skip only on a proven zero null count
    if op == "not_null":
        return not (nulls is not None and nulls == nrows)
    if lo is None or hi is None:
        # no usable min/max: comparison ops still refute all-null files
        return not (nulls is not None and nulls == nrows)
    try:
        if op in ("=", "=="):
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "in":
            return any(lo <= v <= hi for v in val)
        if op == "between":
            return not (val[1] < lo or hi < val[0])
    except TypeError:
        return True
    return True


def _where_to_column(where) -> F.Column:
    """The residual Spark filter for a ``where`` conjunction — always
    applied in full; file skipping is purely an optimization layer."""
    cond = None
    for col, op, val in where:
        c = F.col(col)
        if op in ("=", "=="):
            e = c == F.lit(val)
        elif op == "<":
            e = c < F.lit(val)
        elif op == "<=":
            e = c <= F.lit(val)
        elif op == ">":
            e = c > F.lit(val)
        elif op == ">=":
            e = c >= F.lit(val)
        elif op == "in":
            e = c.isin(*list(val))
        elif op == "is_null":
            e = c.isNull()
        elif op == "not_null":
            e = c.isNotNull()
        else:  # between
            e = c.between(F.lit(val[0]), F.lit(val[1]))
        cond = e if cond is None else cond & e
    return cond


class CommitConflict(RuntimeError):
    """Another writer committed the same snapshot version first."""


# content of a file entry, and the pointer flag that advertises it
BASE, DELTA = "base", "delta"
_FLAG = {BASE: "f", DELTA: "d"}


def _flags(entries) -> str:
    return "".join(f for c, f in _FLAG.items() if any(e["content"] == c for e in entries))


class _BucketEntries(Mapping):
    """bucket -> [file entry] of one snapshot, the manifest's single
    per-file record (Iceberg's manifest-entry shape): each entry is
    ``{path, content: base|delta, key: [lo, hi], lsn: [lo, hi], cols:
    {col: bounds}}``, with a bound absent when the footer had none.

    Lazy over the snapshot's piece pointer map: key enumeration and
    membership come from the pointer flags (no I/O) and ``[bucket]``
    loads exactly that bucket's piece, so a bucket-pruned read or point
    lookup touches one piece, never the table's file inventory.
    ``updated`` layers a writer's per-bucket replacements over the same
    pointers (an empty list removes the bucket) without loading the
    rest — ``_emit_raw`` then pointer-copies every untouched bucket, so
    commit metadata cost is ∝ the write footprint. ``content`` narrows
    the view to one kind's paths: the read-only ``files``/``deltas``
    projections. Loading a piece that vacuum reclaimed (possible only
    via an EXPIRED snapshot) raises FileNotFoundError, like its data
    files."""

    __slots__ = ("_tbl", "_pieces", "_updates", "_content")

    def __init__(self, tbl, pieces: dict, updates=None, content=None):
        self._tbl = tbl
        self._pieces = pieces
        self._updates = dict(updates or {})
        self._content = content

    def updated(self, updates: dict) -> "_BucketEntries":
        return _BucketEntries(self._tbl, self._pieces, {**self._updates, **updates})

    def paths(self, content: str) -> "_BucketEntries":
        return _BucketEntries(self._tbl, self._pieces, self._updates, content)

    def _bucket_flags(self, b) -> str:
        if b in self._updates:
            return _flags(self._updates[b])
        ptr = self._pieces.get(b)
        return ptr[1] if ptr else ""

    def __contains__(self, b):
        flags = self._bucket_flags(b)
        return _FLAG[self._content] in flags if self._content else bool(flags)

    def __iter__(self):
        for b in self._pieces:
            if b not in self._updates and b in self:
                yield b
        for b in self._updates:
            if b in self:
                yield b

    def __len__(self):
        return sum(1 for _ in self)

    def __getitem__(self, b):
        if b not in self:
            raise KeyError(b)
        if b in self._updates:
            ents = self._updates[b]
        else:
            ents = self._tbl._load_piece(self._pieces[b][0])["entries"]
        if self._content is None:
            return ents
        return [e["path"] for e in ents if e["content"] == self._content]


_MISSING = object()  # cache sentinel: "not looked up yet" vs "no stats"


class LakeTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self._manifest_cache: dict | None = None
        # per-file max journaled _lsn (files are immutable; see
        # _tombstone_max_lsn)
        self._tombstone_bounds_cache: dict[str, int | None] = {}

    # ------------------------------------------------------------------ #
    # lifecycle
    # ------------------------------------------------------------------ #
    @classmethod
    def exists(cls, path: str) -> bool:
        d = os.path.join(os.path.abspath(path), MANIFEST_DIR)
        return os.path.isdir(d) and any(
            f.startswith("v") and f.endswith(".json") for f in os.listdir(d)
        )

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        key_cols: list[str],
        num_buckets: int = 64,
        overwrite: bool = False,
        stats_cols: list[str] | None = None,
    ) -> "LakeTable":
        tbl = cls(spark, path)
        if cls.exists(path):
            if not overwrite:
                raise FileExistsError(f"lake table already exists at {path}")
            import shutil

            shutil.rmtree(tbl.path)
        os.makedirs(os.path.join(tbl.path, MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(tbl.path, DATA_DIR), exist_ok=True)
        manifest = {
            "version": 0,
            "parent": None,
            "schema": json.loads(schema.json()),
            "key_cols": list(key_cols),
            "num_buckets": int(num_buckets),
            # payload columns whose per-file [min, max] bounds every base
            # file entry carries (Iceberg column-metrics analogue) —
            # read(where=...) skips files these bounds refute
            "stats_cols": list(stats_cols or []),
            "entries": {},  # bucket(str) -> [file entry]
            "properties": {},
            "summary": {"operation": "create", "total_rows": 0},
            "committed_at_ms": int(time.time() * 1000),
        }
        tbl._write_manifest(manifest)
        return tbl

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        tbl = cls(spark, path)
        if not cls.exists(path):
            raise FileNotFoundError(f"no lake table at {path}")
        tbl.manifest  # force read
        return tbl

    # ------------------------------------------------------------------ #
    # manifest layer
    # ------------------------------------------------------------------ #
    @property
    def manifest(self) -> dict:
        if self._manifest_cache is None:
            self._manifest_cache = self._read_manifest(self.version)
        return self._manifest_cache

    @property
    def version(self) -> int:
        import re

        d = os.path.join(self.path, MANIFEST_DIR)
        versions = [
            int(m.group(1))
            for f in os.listdir(d)
            if (m := re.fullmatch(r"v(\d+)\.json", f))
        ]
        if not versions:
            raise FileNotFoundError(f"no live manifests under {d}")
        return max(versions)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.manifest["schema"])

    @property
    def key_cols(self) -> list[str]:
        return list(self.manifest["key_cols"])

    @property
    def num_buckets(self) -> int:
        return int(self.manifest["num_buckets"])

    @property
    def stats_cols(self) -> list[str]:
        return list(self.manifest.get("stats_cols") or [])

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, MANIFEST_DIR, f"v{version}.json")

    def _expired_manifest_path(self, version: int) -> str:
        return os.path.join(
            self.path, MANIFEST_DIR, EXPIRED_SUBDIR, f"v{version}.json"
        )

    def _read_raw_any(self, version: int) -> dict | None:
        """Raw manifest of ``version`` whether live or expired (expired
        manifests move to the ``expired/`` subdir so the HOT live-dir
        listing — ``version``, fencing anchors, vacuum pin scans — stays
        bounded by the retention policy instead of growing one entry per
        commit forever; the legacy in-dir ``.expired.json`` spelling is
        still read for pre-round-6 tables). None when vacuumed away."""
        for path in (
            self._manifest_path(version),
            self._expired_manifest_path(version),
            self._manifest_path(version).replace(".json", ".expired.json"),
        ):
            try:
                with open(path) as f:
                    return json.load(f)
            except FileNotFoundError:
                continue
        return None

    def _read_manifest_raw(self, version: int) -> dict:
        with open(self._manifest_path(version)) as f:
            return json.load(f)

    def _read_manifest(self, version: int) -> dict:
        return self._inflate(self._read_manifest_raw(version))

    def _inflate(self, raw: dict) -> dict:
        """A raw manifest plus its lazy ``entries`` view and the
        read-only ``files``/``deltas`` (bucket -> paths) projections —
        O(1), no piece I/O until a bucket is read."""
        if raw.get("format") != MANIFEST_FORMAT:
            raise ValueError(
                f"manifest v{raw.get('version')} at {self.path} has format"
                f" {raw.get('format')!r}; this engine reads format"
                f" {MANIFEST_FORMAT} only"
            )
        entries = _BucketEntries(self, raw["pieces"])
        return {
            **raw,
            "entries": entries,
            "files": entries.paths(BASE),
            "deltas": entries.paths(DELTA),
        }

    def _load_piece(self, rel: str) -> dict:
        """Piece files are immutable and content-addressed, so the cache
        can never go stale; it is bounded because a runaway history walk
        (every piece of every snapshot) would otherwise pin them all."""
        cache = self.__dict__.setdefault("_piece_cache", {})
        hit = cache.get(rel)
        if hit is not None:
            return hit
        with open(os.path.join(self.path, rel)) as f:
            piece = json.load(f)
        if len(cache) >= 4096:
            cache.clear()
        cache[rel] = piece
        return piece

    def commit_with_rebase(
        self,
        manifest: dict,
        touched_buckets: list[int],
        *,
        append_only: bool = False,
        max_retries: int = 5,
    ) -> dict:
        """Optimistic-concurrency commit: on a version conflict, rebase
        onto the winner and retry (the Iceberg retry loop).

        A rebase is safe when the intervening commits are compatible
        with ours:
        - same ``batch_id`` already committed → raise (the caller's
          fencing treats it as already-applied; our files are orphans
          for vacuum);
        - ``append_only`` (MoR delta append): always safe — our delta
          files are independent of the base, so they are re-layered on
          top of the winner's file/delta maps;
        - CoW rewrite: safe only if no intervening commit touched any of
          our buckets (our rewritten files were derived from the base we
          read); bucket overlap → raise.

        The passed ``manifest`` must carry OUR entries for
        ``touched_buckets``: a CoW rewrite's replace the winner's, an
        append's new delta entries are added to the winner's.
        """
        ours = {str(b): list(manifest["entries"].get(str(b), [])) for b in touched_buckets}
        added = None  # an append's own entries, computed on first conflict
        touched_set = set(ours)
        attempt = dict(manifest)
        for _ in range(max_retries + 1):
            try:
                self._write_manifest(attempt, touched_buckets=touched_set)
                return attempt
            except CommitConflict:
                self._manifest_cache = None
                latest = self.manifest  # re-read the winner chain
                base_version = attempt["parent"]
                batch_id = (attempt.get("properties") or {}).get("batch_id")
                # parent None = we thought we were creating the table;
                # losing that race means EVERY existing commit is a
                # winner to check against (an empty winners list here
                # would skip both safety checks and rebase blindly).
                # Targeted raw loads (live or expired), not history():
                # the winner set is (parent, latest], a handful of
                # commits — never re-open the whole chain inside a
                # conflict retry. Only properties/summary are read.
                winners = [
                    raw
                    for v in range(
                        0 if base_version is None else base_version + 1,
                        latest["version"] + 1,
                    )
                    if (raw := self._read_raw_any(v)) is not None
                ]
                if batch_id and any(
                    (m.get("properties") or {}).get("batch_id") == batch_id
                    for m in winners
                ):
                    raise CommitConflict(
                        f"batch {batch_id} was committed concurrently by another writer"
                    ) from None
                # a partition-spec change (rebucket) invalidates EVERY
                # in-flight commit regardless of direction or append_only:
                # our entries are numbered under the old bucket count,
                # and blindly re-layering them (or committing our stale
                # num_buckets) would corrupt pruning for every later read.
                if any(
                    m.get("num_buckets") != attempt.get("num_buckets")
                    for m in winners
                ):
                    raise CommitConflict(
                        "a concurrent commit changed num_buckets (rebucket) —"
                        " rebase unsafe, re-run against the new layout"
                    ) from None
                if not append_only:
                    for m in winners:
                        won = set(
                            m.get("summary", {}).get("touched_buckets")
                            or m.get("summary", {}).get("compacted_buckets")
                            or []
                        )
                        overlap = won & set(touched_buckets)
                        if overlap:
                            raise CommitConflict(
                                f"concurrent writer rewrote buckets {sorted(overlap)}"
                                " that this CoW merge also rewrote — rebase unsafe,"
                                " re-run the merge against the new base"
                            ) from None
                # rebase: re-layer our buckets' entries on the winner's
                if append_only and added is None:
                    raw = self._read_raw_any(manifest["parent"])
                    parent = self._inflate(raw)["entries"] if raw else {}
                    added = {
                        k: [e for e in ents if e not in parent.get(k, [])]
                        for k, ents in ours.items()
                    }
                layered = {
                    k: list(latest["entries"].get(k, [])) + added[k]
                    if append_only
                    else ours[k]
                    for k in ours
                }
                # additive schema merge: winner's fields + any new ones ours added
                seen = {f["name"] for f in latest["schema"]["fields"]}
                merged_schema = {
                    **latest["schema"],
                    "fields": list(latest["schema"]["fields"])
                    + [f for f in attempt["schema"]["fields"] if f["name"] not in seen],
                }
                # row accounting rebases onto the winner's total
                summary = dict(attempt.get("summary", {}))
                w_total = latest.get("summary", {}).get("total_rows")
                if w_total is not None and summary.get("total_rows") is not None:
                    summary["total_rows"] = (
                        w_total
                        + int(summary.get("inserts") or 0)
                        - int(summary.get("deletes") or 0)
                    )
                attempt = {
                    **attempt,
                    "version": latest["version"] + 1,
                    "parent": latest["version"],
                    "schema": merged_schema,
                    "entries": latest["entries"].updated(layered),
                    "summary": summary,
                }
        raise CommitConflict(
            f"gave up after {max_retries} rebase attempts at {self.path}"
        )

    def _write_piece(self, content: dict) -> str:
        """Write one content-addressed piece file (idempotent: the hash
        names it, so re-writing identical content is a no-op and two
        racing writers of the same content collide benignly)."""
        blob = json.dumps(content, sort_keys=True, separators=(",", ":"))
        digest = hashlib.sha1(blob.encode()).hexdigest()[:20]
        rel = os.path.join(PIECE_DIR, f"p-{digest}.json")
        final = os.path.join(self.path, rel)
        if os.path.exists(final):
            # refresh mtime: the existing file may be an ORPHAN (e.g. an
            # abandoned stage) older than vacuum's grace window — without
            # the touch, a concurrent vacuum could reclaim it between
            # this reuse and our manifest link
            try:
                os.utime(final, None)
            except OSError:
                pass
        else:
            os.makedirs(os.path.dirname(final), exist_ok=True)
            tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
            with open(tmp, "w") as f:
                f.write(blob)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, final)
        return rel

    def _emit_raw(
        self, manifest: dict, touched_buckets: set[str] | None = None
    ) -> dict:
        """Write the manifest's piece files and return its small raw
        (pointer-map) form, WITHOUT linking it into the snapshot chain —
        shared by real commits (`_write_manifest`) and staged WAP
        commits (`_commit_staged`).

        The 10^10-file property: the snapshot manifest holds only
        ``pieces: {bucket -> [piece_path, flags]}`` (flags ``f``/``d``:
        the bucket has base/delta entries); each bucket's file entries
        live in an immutable content-addressed piece shared structurally
        across snapshots. With ``touched_buckets`` known (every writer's
        commit), untouched buckets re-use the parent's piece pointers
        verbatim — commit metadata I/O is ∝ the batch's write footprint
        plus one O(num_buckets) pointer map, never ∝ the table's file
        inventory, and a thousand-commit history stores each bucket
        state once. Without it (table create), every bucket is content-
        hashed. A bucket left with no entries gets no pointer. Pieces
        land before the manifest link (the commit point); a losing or
        crashed writer leaves only orphan pieces for vacuum.
        """
        entries = manifest["entries"]
        parent_pieces: dict = {}
        if manifest.get("parent") is not None:
            try:
                parent_pieces = self._read_manifest_raw(manifest["parent"])["pieces"]
            except FileNotFoundError:
                parent_pieces = {}
        pointers: dict[str, list] = {}
        for b in sorted(entries, key=lambda s: (len(s), s)):
            if (
                touched_buckets is not None
                and b not in touched_buckets
                and b in parent_pieces
            ):
                # untouched bucket: every writer carries it forward
                # verbatim, so the parent's piece IS its content —
                # pointer copy, no I/O
                pointers[b] = parent_pieces[b]
                continue
            ents = list(entries[b])
            pointers[b] = [self._write_piece({"entries": ents}), _flags(ents)]

        raw = {
            k: v
            for k, v in manifest.items()
            if k not in ("entries", "files", "deltas")
        }
        raw["format"] = MANIFEST_FORMAT
        raw["pieces"] = pointers
        # keep the caller's manifest in step with what was written: the
        # fresh pointer map and views over it (a dict spread from the
        # parent would otherwise carry the parent's projections)
        manifest.update(self._inflate(raw))
        return raw

    def _link_manifest(self, raw: dict, final: str) -> None:
        """Atomically place a raw manifest: write tmp, hard-link into
        place. ``os.link`` fails with EEXIST if a concurrent writer won
        the race — optimistic concurrency, the Iceberg commit protocol
        shape."""
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(raw, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError as e:
            raise CommitConflict(f"{os.path.basename(final)} already committed") from e
        finally:
            os.unlink(tmp)

    def _write_manifest(
        self, manifest: dict, touched_buckets: set[str] | None = None
    ) -> None:
        """Commit a snapshot: emit pieces, then atomically link the
        small pointer-map manifest into the version chain.

        The cache is re-inflated from the RAW form, so it holds a view
        over the new pointer map, never a writer's per-bucket updates."""
        raw = self._emit_raw(manifest, touched_buckets)
        self._link_manifest(raw, self._manifest_path(manifest["version"]))
        self._manifest_cache = self._inflate(raw)

    def _commit_staged(
        self,
        manifest: dict,
        touched_buckets: list[int],
        stage_id: str,
        append_only: bool = False,
    ) -> dict:
        """Write-audit-publish staging: persist this merge's full
        snapshot under ``_manifests/staged/{stage_id}.json`` WITHOUT
        linking it into the version chain — invisible to every reader
        until ``lake.wap.publish_staged`` links it (rebasing onto any
        commits that landed meanwhile) or ``abandon_staged`` drops it.
        Data files and pieces are written exactly as a real commit's;
        vacuum treats staged manifests as live pins until they are
        published or abandoned. Duplicate stage ids refuse atomically."""
        raw = self._emit_raw(manifest, {str(b) for b in touched_buckets})
        raw["staged"] = {
            "stage_id": stage_id,
            "append_only": bool(append_only),
            "touched_buckets": [int(b) for b in touched_buckets],
        }
        sdir = os.path.join(self.path, STAGED_DIR)
        os.makedirs(sdir, exist_ok=True)
        self._link_manifest(raw, os.path.join(sdir, f"{stage_id}.json"))
        return manifest

    def history(self) -> list[dict]:
        """Live + expired manifests, oldest first (expired snapshots keep
        contributing to fencing history; only their data pins are gone).

        Inflation is lazy: walking the chain for fencing reads only the
        small pointer-map manifests — per-batch fencing cost stays
        O(commits), not O(commits × files). Reading an expired entry's
        file maps may raise once vacuum reclaims its pieces, exactly as
        its vacuumed data files would."""
        d = os.path.join(self.path, MANIFEST_DIR)
        seen: dict[int, dict] = {}
        dirs = [d]
        if os.path.isdir(os.path.join(d, EXPIRED_SUBDIR)):
            dirs.append(os.path.join(d, EXPIRED_SUBDIR))
        for dd in dirs:
            for f in os.listdir(dd):
                m = re.fullmatch(r"v(\d+)(?:\.expired)?\.json", f)
                if m and int(m.group(1)) not in seen:
                    with open(os.path.join(dd, f)) as fh:
                        seen[int(m.group(1))] = self._inflate(json.load(fh))
        return [seen[v] for v in sorted(seen)]

    def _fence_meta(self) -> tuple[dict[str, dict], list]:
        """(batch_id -> fence record, [end_lsn, ...]) over the snapshot
        chain, cached incrementally per instance.

        The chain is append-only and expiry only RENAMES manifests
        (content unchanged), so the cache extends from its high-water
        version instead of re-opening every manifest — per-call fencing
        cost is O(new commits), not O(table lifetime) (a streaming epoch
        or index refresh checks fencing every batch; over a 10^4-commit
        table the old full walk was quadratic across a run). Freshness
        across processes comes from ``self.version`` (a live dir scan),
        so another writer's commits are always picked up. Raw manifests
        suffice: properties never live in pieces."""
        cur = self.version
        cached = self.__dict__.get("_fence_cache")
        if cached is not None and cached[0] == cur:
            return cached[1], cached[2]
        if cached is None or cached[0] > cur:
            batches: dict[str, dict] = {}
            ends: list = []
            start = 0
            # cold start: seed from the newest fence summary ≤ cur
            # (written at retention time) so a fresh process walks only
            # the post-summary tail instead of opening every manifest
            # ever committed — the last O(commits) scan in the engine.
            # A stale or missing summary is only less efficient, never
            # wrong: the (summary_version, cur] walk below covers it.
            sv, seed = self._read_fence_summary(cur)
            if seed is not None:
                batches = dict(seed["batches"])
                if seed.get("max_end_lsn") is not None:
                    ends = [seed["max_end_lsn"]]
                start = sv + 1
        else:
            batches = dict(cached[1])
            ends = list(cached[2])
            start = cached[0] + 1
        for v in range(start, cur + 1):
            raw = self._read_raw_any(v)
            if raw is None:
                continue
            props = raw.get("properties") or {}
            bid = props.get("batch_id")
            if bid:
                batches[bid] = {
                    "version": raw["version"],
                    "start_lsn": props.get("start_lsn"),
                    "end_lsn": props.get("end_lsn"),
                }
            if props.get("end_lsn") is not None:
                ends.append(props["end_lsn"])
        self._fence_cache = (cur, batches, ends)
        return batches, ends

    def _fence_summary_path(self, version: int) -> str:
        return os.path.join(
            self.path, MANIFEST_DIR, f"fence-v{version}.json"
        )

    def _read_fence_summary(self, cur: int) -> tuple[int, dict | None]:
        """Newest ``fence-v{N}.json`` with N ≤ cur, or (−1, None).
        Summary files never match the ``v{N}.json`` manifest scans
        (fullmatch), so they are invisible to ``version``/history/
        vacuum-pinning; they are pure fencing-walk accelerators."""
        d = os.path.join(self.path, MANIFEST_DIR)
        best = -1
        for fn in os.listdir(d):
            m = re.fullmatch(r"fence-v(\d+)\.json", fn)
            if m and best < int(m.group(1)) <= cur:
                best = int(m.group(1))
        if best < 0:
            return -1, None
        try:
            with open(self._fence_summary_path(best)) as f:
                return best, json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return -1, None

    def write_fence_summary(self, keep: int = 2) -> dict:
        """Materialize the fencing state at the current version into an
        atomic ``fence-v{cur}.json`` (and prune summaries older than the
        newest ``keep``). Called by ``expire_snapshots`` so retention
        keeps the fresh-process fencing walk O(live + tail) at any
        commit count. Idempotent; safe under the usual single-
        maintainer discipline (a racing writer's newer commits simply
        land after this summary's version and are walked normally)."""
        cur = self.version
        batches, ends = self._fence_meta()
        payload = {
            "version": cur,
            "batches": batches,
            "max_end_lsn": max(ends) if ends else None,
        }
        final = self._fence_summary_path(cur)
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(payload, f)
        try:
            os.link(tmp, final)
        except FileExistsError:
            pass  # same version summarized twice — identical content
        finally:
            os.unlink(tmp)
        d = os.path.join(self.path, MANIFEST_DIR)
        versions = sorted(
            int(m.group(1))
            for fn in os.listdir(d)
            if (m := re.fullmatch(r"fence-v(\d+)\.json", fn))
        )
        for v in versions[:-keep] if keep > 0 else versions:
            try:
                os.unlink(self._fence_summary_path(v))
            except FileNotFoundError:
                pass
        return {"version": cur, "batches": len(batches)}

    def committed_batches(self) -> dict[str, dict]:
        """batch_id -> {version, start_lsn, end_lsn} over the snapshot chain.

        This is the fencing source of truth (the ledger is a cache of
        it). Incrementally cached — see ``_fence_meta``; the returned
        dict is a copy, safe to hold."""
        batches, _ = self._fence_meta()
        return dict(batches)

    def max_committed_end_lsn(self) -> int | None:
        _, ends = self._fence_meta()
        return max(ends) if ends else None

    # ------------------------------------------------------------------ #
    # read path
    # ------------------------------------------------------------------ #
    def _physical_schema(self, manifest: dict | None = None) -> T.StructType:
        m = manifest or self.manifest
        fields = list(T.StructType.fromJson(m["schema"]).fields)
        fields.append(T.StructField(LSN_COL, T.LongType(), True))
        return T.StructType(fields)

    def _files_for(
        self,
        buckets: list[int] | None = None,
        kind: str = "files",
        manifest: dict | None = None,
    ) -> list[str]:
        files_map = (manifest or self.manifest)[kind]
        keys = (
            files_map.keys() if buckets is None else [str(b) for b in buckets]
        )
        out: list[str] = []
        for k in keys:
            out.extend(os.path.join(self.path, rel) for rel in files_map.get(k, []))
        return out

    def delta_buckets(self) -> list[int]:
        """Buckets that currently carry unmerged delta files (MoR)."""
        return sorted(int(b) for b in self.manifest["deltas"])

    def _scan(self, files: list[str], schema) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        return (
            self.spark.read.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(*files)
        )

    def read(
        self,
        buckets: list[int] | None = None,
        include_meta: bool = False,
        manifest: dict | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Scan the table (optionally pruned to a bucket list; pass a
        historical manifest for time travel).

        ``where`` is a conjunction of ``(col, op, value)`` predicates
        (ops: = < <= > >= in between). Clean buckets skip every base
        file whose persisted per-file [min, max] bounds refute a
        conjunct — key bounds are always available; payload columns
        need to be declared via ``stats_cols`` at create time (the
        Iceberg column-metrics analogue). At 10^10 rows this is manifest-level skipping: a
        selective predicate never opens the non-matching files at all,
        on top of the row-group skipping Spark's parquet reader does
        inside the survivors. Delta-carrying buckets read fully (an
        unmatched base row may be updated INTO the predicate, so
        resolution must precede filtering); the full predicate is
        always applied as a residual filter, so skipping is purely an
        optimization and files without bounds are simply kept.

        Explicit schema + recursiveFileLookup: no schema inference, no
        partition discovery, and files predating a schema evolution read
        the new columns as null.

        Merge-on-read resolution is strictly per-bucket: clean buckets
        scan base files directly; delta-carrying buckets resolve. When
        the file entries' LSN bounds PROVE every delta row
        postdates every base row (always true in-contract — base only
        changes by folding older deltas), resolution is a broadcast
        anti-join of the base against the delta winners' keys plus an
        LWW aggregate over the (small) deltas alone: the base is never
        shuffled. Otherwise the bucket falls back to the general
        base∪delta ``max_by``-LWW aggregate (same op the ingest path
        uses; winning tombstones drop the key). Either way one dirty
        bucket never forces a full-table aggregation on a wide read
        (the 10^10-row design point).
        """
        from pyspark.sql import functions as F

        m = manifest or self.manifest
        phys = self._physical_schema(m)
        files_map, delta_map = m["files"], m["deltas"]
        requested = (
            [str(b) for b in buckets]
            if buckets is not None
            else sorted(m["entries"], key=int)
        )
        dirty = [b for b in requested if b in delta_map]
        clean = [int(b) for b in requested if b not in delta_map]
        residual = None
        if where:
            _validate_where(where)
            residual = _where_to_column(where)
            kept, _ = self._pruned_base_files(clean, where, m)
            out = self._scan([os.path.join(self.path, r) for r in kept], phys)
        else:
            out = self._scan(self._files_for(clean, manifest=m), phys)
        if not dirty:
            if residual is not None:
                out = out.where(residual)
            return out if include_meta else out.drop(LSN_COL)

        # split dirty buckets by whether the entries' LSN bounds PROVE
        # every delta row postdates every base row (always true
        # in-contract: base only changes by folding older deltas).
        # Proven buckets take the anti-join fast path — the (large) base
        # is never shuffled; only the (small) delta set is aggregated.
        fast: list[str] = []
        slow: list[str] = []
        for b in dirty:
            ents = m["entries"][b]
            if b not in files_map:
                fast.append(b)  # no base: resolve among deltas alone
            elif all("lsn" in e for e in ents):
                base_hi = max(e["lsn"][1] for e in ents if e["content"] == BASE)
                delta_lo = min(e["lsn"][0] for e in ents if e["content"] == DELTA)
                (fast if delta_lo > base_hi else slow).append(b)
            else:
                slow.append(b)
        # the fast path only pays off when the delta keys broadcast (the
        # base is then never shuffled); a delta too big to broadcast
        # would force a sort-merge anti-join that shuffles AND sorts the
        # base — worse than one hash aggregate. Fall back in that case.
        if any(b in files_map for b in fast):
            delta_bytes = sum(
                os.path.getsize(os.path.join(self.path, f))
                for b in fast
                for f in delta_map.get(b, [])
            )
            if delta_bytes >= 32 * 1024 * 1024:
                slow.extend(b for b in fast if b in files_map)
                fast = [b for b in fast if b not in files_map]

        import pyspark.sql.types as T

        delta_schema = T.StructType(
            list(phys.fields) + [T.StructField(OP_COL, T.StringType(), True)]
        )
        keys = list(m["key_cols"])

        def lww_winner(df_in):
            payload = [c for c in df_in.columns if c not in keys]
            ts_order = (
                F.col("ts")
                if "ts" in df_in.columns
                else F.lit(None).cast("timestamp")
            )
            winner = F.max_by(
                F.struct(*[F.col(c) for c in payload]),
                F.struct(F.col(LSN_COL), ts_order),
            ).alias("_w")
            return df_in.groupBy(*keys).agg(winner).select(*keys, "_w.*")

        if fast:
            fb = [int(b) for b in fast]
            base_f = self._scan(self._files_for(fb, manifest=m), phys)
            deltas_f = self._scan(
                self._files_for(fb, kind="deltas", manifest=m), delta_schema
            )
            dwin = lww_winner(deltas_f)
            dkeys = F.broadcast(dwin.select(*keys))
            survivors = dwin.where(F.col(OP_COL) != "D").select(
                *[F.col(f.name) for f in phys.fields]
            )
            fast_df = base_f.join(dkeys, keys, "leftanti").unionByName(survivors)
            out = out.unionByName(fast_df)

        if slow:
            sb = [int(b) for b in slow]
            base = self._scan(self._files_for(sb, manifest=m), phys).withColumn(
                OP_COL, F.lit("U")
            )
            deltas = self._scan(
                self._files_for(sb, kind="deltas", manifest=m), delta_schema
            )
            resolved = (
                lww_winner(base.unionByName(deltas))
                .where(F.col(OP_COL) != "D")
                .select(*[F.col(f.name) for f in phys.fields])
            )
            out = out.unionByName(resolved)
        if residual is not None:
            out = out.where(residual)
        return out if include_meta else out.drop(LSN_COL)

    # ------------------------------------------------------------------ #
    # write path (MERGE lives in lake/merge.py, bound here)
    # ------------------------------------------------------------------ #
    def merge(self, updates: DataFrame, **kwargs):
        from gene_etl_spark.lake.merge import merge_into

        return merge_into(self, updates, **kwargs)

    def _new_commit_dir(self, version: int) -> str:
        rel = os.path.join(DATA_DIR, f"c{version:06d}-{uuid.uuid4().hex[:8]}")
        os.makedirs(os.path.join(self.path, rel), exist_ok=True)
        return rel

    # Past this many files, footer stats are collected executor-side
    # (one Spark job over the file list) instead of the serial driver
    # loop — a full-table compact/rebucket rewrite at scale touches
    # thousands of files and the driver loop was its long tail
    # (VERDICT r6 item 4, distributed half). Per-batch merges stay
    # under it and keep the zero-job driver path.
    DISTRIBUTED_STATS_MIN_FILES = 256

    def _file_entries(
        self, bucket_files: dict[str, list[str]], content: str = BASE
    ) -> dict[str, list[dict]]:
        """bucket -> [file entry] for just-written files — the one place
        entries are built, from ONE parquet footer pass per file. Base
        entries carry the bucketing key's bounds (tight: the range-
        partitioned write makes files key-sorted ranges, so point
        lookups skip sibling files), LSN bounds (the fast MoR resolve
        proof) and ``cols`` bounds of the declared ``stats_cols`` as
        ``[lo, hi, null_count, num_rows]`` (``lo``/``hi`` None when
        min/max are absent or non-JSON-safe, so all-null files still
        prune). Delta entries carry LSN bounds only: a delta-carrying
        bucket is never file-pruned. A bound the footer cannot give is
        left out (stats are an optimization; readers keep such files).

        Driver-side serial loop up to ``DISTRIBUTED_STATS_MIN_FILES``
        files (per-batch merges — zero extra Spark jobs); past it the
        same per-file reader runs executor-side over a parallelized
        file list (full-table compact/rebucket rewrites)."""
        key0 = self.key_cols[0]
        stats = []
        if content == BASE:
            stats = [c for c in self.stats_cols if c not in (key0, LSN_COL)]
        columns = ([key0] if content == BASE else []) + [LSN_COL] + stats
        nulls = frozenset(stats)
        pairs = [(b, rel) for b, rels in bucket_files.items() for rel in rels]
        paths = [os.path.join(self.path, rel) for _, rel in pairs]
        if len(paths) >= self.DISTRIBUTED_STATS_MIN_FILES:
            sc = self.spark.sparkContext
            n_parts = max(1, min(len(paths) // 32, sc.defaultParallelism))
            footers = (
                sc.parallelize(paths, n_parts)
                .map(lambda p: _file_footer_stats(p, columns, nulls))
                .collect()
            )
        else:
            footers = [_file_footer_stats(p, columns, nulls) for p in paths]
        out: dict[str, list[dict]] = {}
        for (b, rel), st in zip(pairs, footers):
            e = {"path": rel, "content": content}
            if key0 in st:
                e["key"] = st[key0]
            if LSN_COL in st:
                e["lsn"] = st[LSN_COL]
            if cols := {c: st[c] for c in stats if c in st}:
                e["cols"] = cols
            out.setdefault(b, []).append(e)
        return out

    @staticmethod
    def _list_bucket_files(abs_commit_dir: str, rel_commit_dir: str) -> dict[str, list[str]]:
        """Map bucket -> relative parquet paths under a commit directory
        written with ``partitionBy("bucket_id")``."""
        out: dict[str, list[str]] = {}
        for root, _dirs, files in os.walk(abs_commit_dir):
            base = os.path.basename(root)
            if not base.startswith("bucket_id="):
                continue
            b = base.split("=", 1)[1]
            for fn in files:
                if fn.endswith(".parquet"):
                    rel_root = os.path.join(rel_commit_dir, base)
                    out.setdefault(b, []).append(os.path.join(rel_root, fn))
        return out

    # ------------------------------------------------------------------ #
    # tombstone journal — the Kafka `delete.retention.ms` analogue.
    # Every merge records the slice's delete events (key, _lsn, _ts)
    # under `_tombstones/`; merge guards incoming rows against journal
    # entries with strictly higher (lsn, ts), so a LATE slice (out-of-
    # order file delivery, unfenced replay) can never resurrect a
    # tombstoned key — in CoW the deleted row itself is gone, so the
    # row-level LWW guard alone cannot see the delete. The journal read
    # is filtered by `_lsn > start_lsn`: for in-order slices parquet
    # min/max pushdown prunes every journal file, so the guard is
    # self-pruning at scale; `maintenance.prune_tombstones` bounds the
    # journal with an LSN retention window (events later than the
    # window are out of contract, exactly like Kafka's).
    def _tombstone_schema(self):
        import pyspark.sql.types as T

        key_fields = [
            f for f in self.schema.fields if f.name in self.key_cols
        ]
        return T.StructType(
            key_fields
            + [
                T.StructField("_lsn", T.LongType()),
                T.StructField("_ts", T.TimestampType()),
            ]
        )

    def tombstone_dirs(self) -> list[str]:
        root = os.path.join(self.path, TOMBSTONE_DIR)
        if not os.path.isdir(root):
            return []
        return sorted(
            os.path.join(root, d)
            for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
        )

    def read_tombstones(self, min_lsn: int | None = None):
        """Journaled delete events, optionally only those ABOVE a slice's
        start LSN (the only ones that can outrank its rows). Returns
        None when the journal is empty — the common no-deletes-ever
        case costs one listdir per merge, no Spark plan — or when the
        cached per-file footer bounds prove no journaled delete exceeds
        ``min_lsn`` (the in-order-slices case: previously the parquet
        pushdown pruned every ROW but the merge still paid a
        scan+aggregate+broadcast JOB per batch; now the whole guard plan
        is skipped driver-side)."""
        dirs = self.tombstone_dirs()
        if not dirs:
            return None
        if min_lsn is not None:
            hi = self._tombstone_max_lsn(dirs)
            if hi is not None and hi <= int(min_lsn):
                return None
        df = (
            self.spark.read.schema(self._tombstone_schema())
            .option("recursiveFileLookup", "true")
            .parquet(*dirs)
        )
        if min_lsn is not None:
            df = df.where(F.col("_lsn") > F.lit(int(min_lsn)))
        return df

    def _tombstone_max_lsn(self, dirs: list[str]) -> int | None:
        """Max journaled ``_lsn`` from parquet footer stats, driver-side.
        Journal entry files are immutable, so per-FILE maxima are cached
        on the handle; a dir rewritten by ``prune_tombstones`` gets new
        file names and simply misses the cache once. Returns None when
        any file's stats are unavailable (conservative: caller must
        read)."""
        import pyarrow.parquet as pq

        cache = self._tombstone_bounds_cache
        best: int | None = None
        for d in dirs:
            for root, _sub, files in os.walk(d):
                for fn in files:
                    if not fn.endswith(".parquet"):
                        continue
                    p = os.path.join(root, fn)
                    hi = cache.get(p, _MISSING)
                    if hi is _MISSING:
                        hi = None
                        try:
                            md = pq.ParquetFile(p).metadata
                            idx = md.schema.to_arrow_schema().get_field_index("_lsn")
                            for rg in range(md.num_row_groups):
                                st = md.row_group(rg).column(idx).statistics
                                if st is None or not st.has_min_max:
                                    hi = None
                                    break
                                v = int(st.max)
                                hi = v if hi is None else max(hi, v)
                        except Exception:
                            hi = None
                        cache[p] = hi
                    if hi is None:
                        return None
                    best = hi if best is None else max(best, hi)
        return best

    def tombstone_bytes(self) -> int:
        """Total on-disk size of the journal (drives the guard's
        broadcast-vs-shuffle decision)."""
        total = 0
        for d in self.tombstone_dirs():
            for root, _sub, files in os.walk(d):
                for fn in files:
                    if fn.endswith(".parquet"):
                        try:
                            total += os.path.getsize(os.path.join(root, fn))
                        except OSError:
                            pass
        return total

    def bucket_expr(self, col: str | None = None) -> F.Column:
        return bucket_of(col or self.key_cols[0], self.num_buckets)

    def _pruned_base_files(
        self, bucket_ids: list[int], where, manifest: dict
    ) -> tuple[list[str], int]:
        """Relative base-file paths of ``bucket_ids`` that the file
        entries' bounds cannot refute for ``where``, plus the skipped
        count. Bounds: ``key`` (the bucketing key — always collected;
        the range-partitioned write makes them tight and disjoint) and
        ``cols`` (declared ``stats_cols``). A file lacking bounds for a
        referenced column is kept — bounds are an optimization, absent
        e.g. for all-null or pre-schema-evolution files. Driver-side
        cost is one piece load per bucket examined, never any data
        I/O."""
        key0 = manifest["key_cols"][0]
        kept: list[str] = []
        skipped = 0
        for b in bucket_ids:
            for e in manifest["entries"].get(str(b), []):
                if e["content"] != BASE:
                    continue
                for col, op, val in where:
                    bounds = e.get("key") if col == key0 else e.get("cols", {}).get(col)
                    if bounds is not None and not _bounds_may_match(bounds, op, val):
                        skipped += 1
                        break
                else:
                    kept.append(e["path"])
        return kept, skipped

    def prune_report(
        self,
        where: list[tuple],
        buckets: list[int] | None = None,
        manifest: dict | None = None,
    ) -> dict:
        """Dry-run of ``read(where=...)``'s file skipping: against the
        current (or given) manifest, how many base files the persisted
        bounds keep vs skip. Delta-carrying buckets are reported
        separately — their base files are never pruned (resolution must
        precede filtering)."""
        m = manifest or self.manifest
        _validate_where(where)
        files_map, delta_map = m["files"], m["deltas"]
        requested = (
            [str(b) for b in buckets]
            if buckets is not None
            else sorted(m["entries"], key=int)
        )
        clean = [int(b) for b in requested if b not in delta_map]
        dirty = [b for b in requested if b in delta_map]
        kept, skipped = self._pruned_base_files(clean, where, m)
        return {
            "kept_files": len(kept),
            "skipped_files": skipped,
            "unprunable_dirty_files": sum(len(files_map.get(b, [])) for b in dirty),
        }

    def lookup(self, key_value) -> DataFrame:
        """Point read for one value of the bucketing key: compute its
        bucket, scan ONLY that bucket's files — further pruned by the
        per-file key [min, max] bounds in the manifest when the bucket
        is delta-free — then filter. At 10^10 rows a point query touches
        1/num_buckets of the files, usually a single file, and the key
        predicate then prunes row groups inside it."""
        # cast the probe literal to the DECLARED key type before hashing:
        # xxhash64 is type-sensitive (a python int becomes an Integer lit,
        # which hashes differently from the Long the rows were bucketed
        # as — the wrong bucket, silently, on any non-string key)
        key_type = self.schema[self.key_cols[0]].dataType
        b = int(
            self.spark.range(1)
            .select(
                bucket_of(
                    F.lit(key_value).cast(key_type), self.num_buckets
                ).alias("b")
            )
            .collect()[0]["b"]
        )
        key0 = self.key_cols[0]
        m = self.manifest
        if str(b) not in m["deltas"]:
            pruned = [
                os.path.join(self.path, e["path"])
                for e in m["entries"].get(str(b), [])
                if "key" not in e or e["key"][0] <= key_value <= e["key"][1]
            ]
            df = self._scan(pruned, self._physical_schema(m)).drop(LSN_COL)
            return df.where(F.col(key0) == key_value)
        return self.read(buckets=[b]).where(F.col(key0) == key_value)
