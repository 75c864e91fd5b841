"""The one token-column reader (``rollup._token_rows``) behind the
per-group sketch fold and ``extract_features``: an input carrying both
``tokens_bin`` and ``tokens`` gives the same output as the binary column
alone, and only one token column crosses into Python."""

import pandas as pd
import pytest


def _python_inputs(df):
    """Input column names of every MapInArrow node of ``df``'s
    optimized logical plan."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "MapInArrow":
            out.append(list(node.child().schema().fieldNames()))
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _run(op, df):
    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.operators.cms_sketch import cms_sketch_by
    from pyhctsa_spark.operators.features import extract_features
    from pyhctsa_spark.operators.hll_rollup import hll_distinct_by_source
    from pyhctsa_spark.operators.kmv_sketch import kmv_distinct_by
    from pyhctsa_spark.plans.registry import FeatureSet, Operation, expand

    if op == "features":
        fs = FeatureSet(expand([Operation(K.mean_, "DN_Mean"),
                                Operation(K.spread_std, "DN_Spread_std")]))
        return extract_features(df, fs, window=64)
    return {"kmv": lambda d: kmv_distinct_by(d, k=64),
            "cms": cms_sketch_by,
            "hll": hll_distinct_by_source}[op](df)


@pytest.mark.parametrize("op", ["kmv", "cms", "hll", "features"])
def test_both_token_columns_ship_one(spark, op):
    from pyhctsa_spark.sources.synthetic import sequences_df

    binary = sequences_df(spark, 16, partitions=2, binary=True)
    both = binary.join(
        sequences_df(spark, 16, partitions=2).select("doc_id", "tokens"),
        "doc_id",
    )
    assert {"tokens_bin", "tokens"} <= set(both.columns)
    got, want = _run(op, both), _run(op, binary)
    key = list(want.columns)
    pd.testing.assert_frame_equal(
        got.toPandas().sort_values(key).reset_index(drop=True),
        want.toPandas().sort_values(key).reset_index(drop=True),
    )
    inputs = _python_inputs(got)
    assert inputs
    for cols in inputs:
        assert [c for c in cols if c.startswith("tokens")] == ["tokens_bin"]
