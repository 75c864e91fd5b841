"""The store-side cascade's complete-parent rule, shared by the ALG,
quantile and HLL families (operators/rollup.complete_parents): a parent
window is emitted only if each of its ``group`` children is present
exactly once."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pyhctsa_spark.operators.rollup import complete_parents
from pyhctsa_spark.sources.synthetic import sequences_df


def test_complete_parents_rule():
    widx = np.array([0, 0, 2, 3, 4, 5, 6, 7, 9, 10, 11, 12, 13, 14, 15, 15])
    parents, keep = complete_parents(widx, 4)
    # parent 0: child 1 missing, child 0 twice; parent 2: child 8
    # missing; parent 3: child 15 twice; only parent 1 is complete
    assert parents.tolist() == [1]
    assert widx[keep].tolist() == [4, 5, 6, 7]


def test_duplicate_child_drops_only_its_parent(spark, cascade_family):
    """Drop child 1 and duplicate child 0 of every doc: parent 0 has
    ``group`` rows but not its children, so it must not be emitted,
    and every other parent is unchanged."""
    tier0, cascade = cascade_family
    t0 = tier0(sequences_df(spark, 12, partitions=3, binary=True)).persist()
    broken = t0.where(F.col("window_idx") != 1).unionByName(
        t0.where(F.col("window_idx") == 0)
    )
    keys = ["doc_id", "tier", "window_idx"]

    def rows(df):
        return df.orderBy(*keys).toPandas()

    got = rows(cascade(broken))
    want = rows(cascade(t0))
    assert (want["window_idx"] == 0).any()
    assert not (got["window_idx"] == 0).any()
    pd.testing.assert_frame_equal(
        got, want[want["window_idx"] != 0].reset_index(drop=True)
    )
    t0.unpersist()
