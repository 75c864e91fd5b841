"""Fused rollup: each family bit-identical to its specialized operator,
plan shape, and flush behavior."""

import numpy as np
import pytest


@pytest.fixture(scope="module")
def seq(spark):
    from pyhctsa_spark.sources.synthetic import sequences_df

    return sequences_df(spark, 30).cache()


def _by_key(rows, cols):
    return {
        (r["doc_id"], r["tier"], r["window_idx"]): tuple(r[c] for c in cols)
        for r in rows
    }


def test_fused_matches_specialized_operators_bit_exact(spark, seq):
    from pyhctsa_spark.operators.fused_rollup import rollup_fused_tiers
    from pyhctsa_spark.operators.hll_rollup import rollup_hll_tiers
    from pyhctsa_spark.operators.quantile_rollup import rollup_quantile_tiers
    from pyhctsa_spark.operators.rollup import rollup_tiers

    fused = rollup_fused_tiers(seq, window=32, group=4, n_tiers=2,
                               lags=[1]).cache()
    alg = rollup_tiers(seq, window=32, group=4, n_tiers=2, lags=[1])
    qr = rollup_quantile_tiers(seq, window=32, group=4, n_tiers=2)
    hll = rollup_hll_tiers(seq, window=32, group=4, n_tiers=2)

    a_cols = ["n", "mean", "variance", "spread_std", "ac1_td",
              "burst_b", "burst_b_kim"]
    fa = _by_key(fused.collect(), a_cols)
    wa = _by_key(alg.collect(), a_cols)
    assert set(fa) == set(wa) and len(fa) > 0
    for k in fa:
        for x, y in zip(fa[k], wa[k]):
            assert (x == y) or (x != x and y != y), (k, fa[k], wa[k])

    q_cols = ["n_distinct", "mode_tok", "p50"]
    assert _by_key(fused.collect(), q_cols) == _by_key(qr.collect(), q_cols)

    h_cols = ["hll_zeros", "hll_denom", "est_distinct"]
    assert _by_key(fused.collect(), h_cols) == _by_key(hll.collect(), h_cols)
    fused.unpersist()


def test_fused_plan_has_zero_exchange(spark, seq):
    from pyhctsa_spark.operators.fused_rollup import rollup_fused_tiers

    plan = (
        rollup_fused_tiers(seq)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


@pytest.mark.parametrize("family", ["alg", "quantile", "hll", "fused"])
def test_fused_short_docs_and_empty(spark, family):
    """Every family's entry point skips a doc shorter than one window,
    handles an empty row, and an empty table, without crashing."""
    from pyhctsa_spark.operators.fused_rollup import rollup_fused_tiers
    from pyhctsa_spark.operators.hll_rollup import rollup_hll_tiers
    from pyhctsa_spark.operators.quantile_rollup import rollup_quantile_tiers
    from pyhctsa_spark.operators.rollup import rollup_tiers

    rollup = {"alg": rollup_tiers, "quantile": rollup_quantile_tiers,
              "hll": rollup_hll_tiers, "fused": rollup_fused_tiers}[family]
    df = spark.createDataFrame(
        [("a", "s", list(range(5))), ("b", "s", [])],
        "doc_id string, source string, tokens array<int>",
    )
    assert rollup(df, window=8).count() == 0
    assert rollup(df.limit(0), window=8).count() == 0


def test_streaming_fused_rollup_matches_batch(spark, tmp_path_factory):
    import pandas as pd

    from pyhctsa_spark.operators.fused_rollup import rollup_fused_tiers
    from pyhctsa_spark.sources.synthetic import sequences_df
    from pyhctsa_spark.streaming.rollup_stream import stream_rollup

    base = tmp_path_factory.mktemp("fstream")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    sequences_df(spark, 10, partitions=2, binary=True).write.parquet(src)
    q = stream_rollup(spark, src, sink, ckpt, available_now=True,
                      family="fused")
    q.awaitTermination(120)
    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
    )
    want = (
        rollup_fused_tiers(spark.read.parquet(src)).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
