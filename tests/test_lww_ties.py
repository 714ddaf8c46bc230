"""Equal versions resolve by arrival on every path.

Two events with the same ``(commit_seq, event_seq)`` but different content
resolve to the one delivered first, as ``replay_oracle`` does — in COW
merges, in MOR reads before and after ``compact``, and in ``changes()``,
whatever order the batches are applied in.
"""

import pandas as pd
import pytest

from ore_etl_spark.datagen.wal import generate_wal, replay_oracle
from ore_etl_spark.pipeline.apply import CdcApplyPipeline, target_schema
from ore_etl_spark.tables.merge_table import MergeTable

from tests.tie_events import add_tie_conflicts

COLS = ["repo", "path", "commit", "lang", "commit_seq", "event_seq",
        "content_sha256", "content_len"]


@pytest.fixture(scope="module")
def tie_wal(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ties") / "wal")
    add_tie_conflicts(spark, generate_wal(spark, n_keys=60, n_partitions=2)) \
        .write.parquet(path)
    pdf = spark.read.parquet(path).toPandas()
    lo, hi = int(pdf["delivery_seq"].min()) - 1, int(pdf["delivery_seq"].max())
    cuts = [lo + (hi - lo) * i // 3 for i in range(4)]
    ranges = [(cuts[i], cuts[i + 1]) for i in range(3)]
    return path, ranges, replay_oracle(pdf)[COLS].reset_index(drop=True)


def _assert_oracle(df, expected):
    assert "_arrival" not in df.columns
    got = (df.select(*COLS).toPandas()
           .sort_values(["repo", "path"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, expected, check_dtype=False)


@pytest.mark.parametrize("order", ["forward", "reverse"])
@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_equal_versions_resolve_by_arrival(spark, tmpdir_path, tie_wal,
                                           mode, order):
    path, ranges, expected = tie_wal
    tbl = MergeTable.create(
        spark, f"{tmpdir_path}/t", target_schema(),
        key_cols=["repo", "path"], version_cols=["commit_seq", "event_seq"],
        n_buckets=4,
    )
    v0 = tbl.version
    pipe = CdcApplyPipeline(spark, path, tbl, f"{tmpdir_path}/s", mode=mode)
    for r in (ranges if order == "forward" else ranges[::-1]):
        pipe.run_batch(*r)
    _assert_oracle(tbl.read(), expected)

    ch = tbl.changes(v0)
    assert {r["_change_type"] for r in ch.select("_change_type").collect()} \
        == {"insert"}
    _assert_oracle(ch, expected)

    key = tuple(expected.loc[0, ["repo", "path"]])
    _assert_oracle(tbl.lookup([key]), expected.iloc[:1])
    if mode == "mor":
        tbl.compact("c1")
        assert tbl.delta_depth() == 0
        _assert_oracle(tbl.read(), expected)
