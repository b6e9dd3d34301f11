"""Key dedup operators.

LWW dedup is the core CDC operator (SURVEY.md §2.5 W2): keep the
last-writer event per key within a batch slice, resolved by
``(lsn DESC, ts DESC)``. The engine applies every slice through
``lww_dedup_agg``; the window form ``lww_dedup`` remains as the gated
``lww_dedup_salted`` operator query.

Skew: one hot conversation can hold ~30% of a slice (FIXTURES.md §2), so
a single window partition would serialize on one task. The salted
two-phase form first picks per-(key, salt) winners — spreading a hot key
over ``num_salts`` tasks — then re-dedups the ≤ num_salts survivors per
key. Phase 2's input is bounded by num_salts × distinct-keys, so the hot
key costs O(rows/num_salts) per task instead of O(rows).

Reference analogue: the reference gets idempotence from a DB unique
constraint + skip-if-exists (etl/persist.py:164-177); LWW-by-log-order
is the streaming generalization the north rule mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(
    df: DataFrame,
    key_cols: list[str] | tuple[str, ...] = ("conv_id", "turn_idx"),
    order_cols: list[str] | tuple[str, ...] = ("lsn", "ts"),
    num_salts: int = 1,
) -> DataFrame:
    """One row per key: the max-(order_cols) writer. Set num_salts > 1 to
    spread hot keys across tasks (two-phase winner-of-winners)."""
    keys = list(key_cols)
    order = [F.col(c).desc_nulls_last() for c in order_cols]

    if num_salts > 1:
        # deterministic pseudo-random salt from the total-order column so
        # replays produce identical plans
        salted = df.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col(order_cols[0])), F.lit(num_salts))
        )
        w1 = Window.partitionBy(*keys, "_salt").orderBy(*order)
        df = (
            salted.withColumn("_rn1", F.row_number().over(w1))
            .where(F.col("_rn1") == 1)
            .drop("_rn1", "_salt")
        )

    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_dedup_agg(
    df: DataFrame,
    key_cols: list[str] | tuple[str, ...] = ("conv_id", "turn_idx"),
    order_cols: list[str] | tuple[str, ...] = ("lsn", "ts"),
) -> DataFrame:
    """LWW dedup as a hash aggregation: ``max_by(payload, (lsn, ts))``.

    Strictly dominates the salted window at scale: hash aggregates get
    **map-side partial combine**, so a hot key collapses to one row per
    input partition *before* the shuffle — skew is neutralized without
    salting, one shuffle replaces the window's two (or three, salted),
    and only the per-key winners travel the wire instead of every event.
    Struct comparison is lexicographic on (lsn, ts) — exact LWW order;
    ties on both (a replayed identical event) pick either copy, which is
    byte-identical anyway.

    The window variant above remains for cases needing rank>1 semantics
    (e.g. "latest k versions"); the engine default is this aggregate.
    """
    keys = list(key_cols)
    payload = [c for c in df.columns if c not in keys]
    winner = F.max_by(
        F.struct(*[F.col(c) for c in payload]),
        F.struct(*[F.col(c) for c in order_cols]),
    ).alias("_w")
    return df.groupBy(*keys).agg(winner).select(*keys, "_w.*")
