"""Property-based convergence: for ANY partitioning of the delivery range
into batches, applied in ANY order, with ANY subset replayed again, the
converged table equals the oracle (the exactly-once + conditional-LWW
contract, stated as a property rather than fixed cases). The WAL carries
equal-version conflicts, so any batching also covers arrival tie-breaks."""

import shutil
import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ore_etl_spark.datagen.wal import generate_wal, replay_oracle
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable

from tests.tie_events import add_tie_conflicts

N_KEYS = 120


@pytest.fixture(scope="module")
def wal_fixture(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("prop") / "wal")
    add_tie_conflicts(spark, generate_wal(spark, n_keys=N_KEYS, n_partitions=2)) \
        .write.parquet(path)
    pdf = spark.read.parquet(path).toPandas()
    lo = int(pdf["delivery_seq"].min())
    hi = int(pdf["delivery_seq"].max())
    expected = replay_oracle(pdf)
    return path, lo, hi, expected


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_any_batching_any_order_converges(spark, wal_fixture, data):
    path, lo, hi, expected = wal_fixture
    # draw 0-3 interior cut points -> batch ranges
    cuts = data.draw(st.lists(st.integers(min_value=lo, max_value=hi - 1),
                              min_size=0, max_size=3, unique=True))
    bounds = sorted([lo - 1, *cuts, hi])
    ranges = [(bounds[i], bounds[i + 1]) for i in range(len(bounds) - 1)
              if bounds[i] < bounds[i + 1]]
    order = data.draw(st.permutations(ranges))
    replay_idx = data.draw(st.integers(min_value=0, max_value=len(order) - 1))

    work = tempfile.mkdtemp(prefix="prop_")
    try:
        mode = data.draw(st.sampled_from(["cow", "mor"]))
        tbl = MergeTable.create(
            spark, f"{work}/t", target_schema(),
            key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
            n_buckets=4,
        )
        pipe = CdcApplyPipeline(spark, path, tbl, f"{work}/s", mode=mode)
        for r in order:
            pipe.run_batch(*r)
        pipe.run_batch(*order[replay_idx])  # duplicate submission -> no-op
        got = (
            tbl.read()
            .select("repo", "path", "commit", "lang", "commit_seq",
                    "event_seq", "content_sha256", "content_len")
            .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
        )
        exp = expected[got.columns.tolist()].reset_index(drop=True)
        pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    finally:
        shutil.rmtree(work, ignore_errors=True)
