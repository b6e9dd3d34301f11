"""Property-based replay equality (hypothesis).

For randomized stream shapes — skew, disorder, delete rates, evolution
points, slice widths, merge modes — the engine's replayed final table
must equal the independent DuckDB oracle. This generalizes the fixed-
seed e2e tests the same way the reference's statistical-invariant tests
generalize its fixtures (SURVEY.md §5).
"""

import os
import shutil

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gene_etl_spark.config import IngestConfig
from gene_etl_spark.oracle import assert_replay_equal, materialize_expected
from gene_etl_spark.runner import CdcIngestRunner
from gene_etl_spark.sources.simulate import generate_change_stream

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gene_etl_spark.session import get_spark

        _spark = get_spark(
            app_name="prop-tests", cores=8, shuffle_partitions=8, driver_memory="8g"
        )
    return _spark


@settings(
    max_examples=5,
    deadline=None,
    derandomize=True,  # deterministic gate: same examples every run
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_convs=st.integers(5, 60),
    n_events=st.integers(200, 3000),
    skew=st.floats(0.0, 0.6),
    disorder=st.floats(0.0, 0.3),
    delete_frac=st.floats(0.0, 0.2),
    evolve_at=st.floats(0.0, 1.0),
    n_slices=st.integers(1, 5),
    mode=st.sampled_from(["cow", "mor"]),
)
def test_replay_equality_property(
    seed, n_convs, n_events, skew, disorder, delete_frac, evolve_at, n_slices, mode
):
    spark = _get_spark()
    base = f"/tmp/prop_replay_{seed}_{n_events}"
    shutil.rmtree(base, ignore_errors=True)
    try:
        info = generate_change_stream(
            os.path.join(base, "events"),
            n_convs=n_convs,
            max_turns=12,
            n_events=n_events,
            seed=seed,
            skew_share=skew,
            disorder_pct=disorder,
            delete_frac=delete_frac,
            evolve_at_frac=evolve_at,
            n_tranches=3,
        )
        cfg = IngestConfig(
            lake_path=os.path.join(base, "lake"),
            events_path=os.path.join(base, "events"),
            ledger_path=os.path.join(base, "ledger"),
            metrics_path=os.path.join(base, "metrics"),
            validation_path=os.path.join(base, "validation"),
            num_buckets=4,
            slice_lsn_width=max(1, info["n_events"] // n_slices),
            merge_mode=mode,
        )
        runner = CdcIngestRunner(spark, cfg)
        runner.run()
        expected = materialize_expected(cfg.events_path)
        assert_replay_equal(runner.table.read().toPandas(), expected)

        # the change feed is a second, independent statement of the same
        # history: folding read_changes(0) in (version, lsn) order must
        # reproduce the final state for every randomized stream shape
        from gene_etl_spark.lake.changes import (
            CHANGE_OP_COL,
            VERSION_COL,
            read_changes,
        )

        state: dict = {}
        for r in sorted(
            read_changes(runner.table, 0).collect(),
            key=lambda r: (r[VERSION_COL], r["_lsn"] or 0),
        ):
            if r[CHANGE_OP_COL] == "D":
                state.pop((r.conv_id, r.turn_idx), None)
            else:
                state[(r.conv_id, r.turn_idx)] = r.text
        assert state == {
            (r.conv_id, r.turn_idx): r.text for r in expected.itertuples(index=False)
        }
    finally:
        shutil.rmtree(base, ignore_errors=True)
