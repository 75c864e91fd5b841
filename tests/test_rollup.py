"""End-to-end Spark rollup: tier values vs in-process numpy golden,
cascade-from-store vs single-pass, gap-fill path, counters,
partitioning-invariance."""

import numpy as np
import pandas as pd
import pytest

from pyhctsa_spark.functions import kernels as K
from pyhctsa_spark.functions import stats_state as S
from pyhctsa_spark.functions.gapfill import gap_fill
from pyhctsa_spark.operators.rollup import (
    FAMILIES,
    cascade_from_store,
    make_counters,
    rollup_tiers,
    walk_tiers,
)
from pyhctsa_spark.sources.synthetic import (
    gapped_sequences_df,
    make_doc,
    sequences_df,
    token_checksum,
)

N_DOCS = 60
LAGS = [1, 2]


@pytest.fixture(scope="module")
def rollup_pdf(spark):
    df = sequences_df(spark, N_DOCS, partitions=4)
    out = rollup_tiers(df, window=32, group=16, n_tiers=3, lags=LAGS)
    return out.toPandas()


def _golden_for_doc(doc_index: int, tier: int, window: int = 32, group: int = 16):
    _, tokens, _ = make_doc(doc_index)
    y = tokens.astype(np.float64)
    wlen = window * group**tier
    Y = K.make_buffer(y, wlen)
    if Y.shape[0] == 0:
        return None
    out = {
        "mean": K.mean_2d(Y),
        "variance": K.variance_2d(Y),
        "spread_std": K.std_2d(Y),
        "spread_iqr": K.iqr_hazen_2d(Y),
        "ac1_td": K.ac_timedomain_2d(Y, 1),
        "ac2_td": K.ac_timedomain_2d(Y, 2),
        "ac1_fourier": K.ac_fourier_2d(Y, [1])[:, 0],
    }
    b, bk = K.burstiness_2d(Y)
    out["burst_b"] = b
    out["burst_b_kim"] = bk
    return out


def test_rollup_counts_and_schema(rollup_pdf):
    assert set(rollup_pdf["tier"].unique()) <= {0, 1, 2}
    assert (rollup_pdf["tier"] == 0).sum() > 0
    # n column: tier t windows hold 64*16^t points
    for t in rollup_pdf["tier"].unique():
        assert (rollup_pdf.loc[rollup_pdf.tier == t, "n"] == 32 * 16**t).all()


@pytest.mark.parametrize("tier", [0, 1, 2])
def test_rollup_matches_numpy_golden(rollup_pdf, tier):
    sub = rollup_pdf[rollup_pdf.tier == tier]
    checked = 0
    for doc_id, g in sub.groupby("doc_id"):
        golden = _golden_for_doc(int(doc_id[3:]), tier)
        assert golden is not None
        g = g.sort_values("window_idx")
        assert len(g) == len(golden["mean"])
        for col, exp in golden.items():
            np.testing.assert_allclose(
                g[col].to_numpy(), exp, rtol=1e-8, atol=1e-10,
                err_msg=f"{doc_id} tier={tier} {col}",
            )
        checked += 1
    if tier == 0:
        assert checked == N_DOCS  # every doc has >=32 tokens
    else:
        assert checked > 0


def test_cascade_from_store_matches_single_pass(spark):
    df = sequences_df(spark, 30, partitions=4)
    full = rollup_tiers(df, window=32, group=16, n_tiers=2, lags=LAGS).toPandas()
    t0 = full[full.tier == 0]
    t1_direct = full[full.tier == 1].set_index(["doc_id", "window_idx"]).sort_index()

    t0_df = spark.createDataFrame(t0)
    t1_casc = (
        cascade_from_store(t0_df, group=16, lags=LAGS)
        .toPandas()
        .set_index(["doc_id", "window_idx"])
        .sort_index()
    )
    assert len(t1_casc) == len(t1_direct)
    for col in ["n", "mean", "variance", "spread_std", "ac1_td", "ac2_td",
                "burst_b", "burst_b_kim", "s1", "s2"]:
        np.testing.assert_allclose(
            t1_casc[col].to_numpy(np.float64),
            t1_direct[col].to_numpy(np.float64),
            rtol=1e-9, err_msg=col,
        )
    # HOL features are NULL on the store-cascade path
    assert t1_casc["spread_iqr"].isna().all()


def test_gapped_rollup_matches_gapfilled_golden(spark):
    df = gapped_sequences_df(spark, 20, gap_frac=0.05, partitions=2)
    pdf_in = df.toPandas()
    out = rollup_tiers(df, window=32, group=16, n_tiers=1, lags=LAGS).toPandas()
    for row in pdf_in.itertuples(index=False):
        dense = gap_fill(
            np.asarray(row.offsets), np.asarray(row.values, dtype=np.float64), row.n_tok
        )
        Y = K.make_buffer(dense, 32)
        g = out[(out.doc_id == row.doc_id) & (out.tier == 0)].sort_values("window_idx")
        assert len(g) == Y.shape[0]
        np.testing.assert_allclose(g["mean"].to_numpy(), K.mean_2d(Y), rtol=1e-10)
        np.testing.assert_allclose(
            g["ac1_td"].to_numpy(), K.ac_timedomain_2d(Y, 1), rtol=1e-8
        )


def test_counters_and_checksum_invariant(spark):
    df = sequences_df(spark, 25, partitions=3)
    counters = make_counters(spark)
    out = rollup_tiers(df, counters=counters)
    n_out = out.count()
    assert counters["rows_read"].value == 25
    assert counters["windows_emitted"].value == n_out
    assert counters["checksum_mismatches"].value == 0

    # corrupt one row's checksum -> counted, not failed
    bad = df.toPandas()
    bad.loc[0, "tok_checksum"] = int(bad.loc[0, "tok_checksum"]) ^ 0xFF
    counters2 = make_counters(spark)
    rollup_tiers(spark.createDataFrame(bad), counters=counters2).count()
    assert counters2["checksum_mismatches"].value == 1


def test_partitioning_invariance(spark):
    """Output is invariant to parallelism/partitioning (determinism gate
    behind the local[8] vs local[32] scaling protocol)."""
    df1 = sequences_df(spark, 20, partitions=1)
    df8 = sequences_df(spark, 20, partitions=8)
    a = (
        rollup_tiers(df1).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"])
        .reset_index(drop=True)
    )
    b = (
        rollup_tiers(df8).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize("family", list(FAMILIES))
def test_segment_chunking_is_exact(spark, family):
    """Giant-row segmentation must be invisible in the output of every
    family: forcing tiny segments (seg_tokens small enough that every
    doc spans several) gives bit-identical rows to the default
    single-segment sweep — window boundaries, cascade groups,
    window_idx, HOL features and state blobs all align because the
    segment length is a multiple of every tier's window length."""
    df = sequences_df(spark, 30, partitions=4)
    a = (
        walk_tiers(df, FAMILIES[family]()).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"])
        .reset_index(drop=True)
    )
    # coarsest tier = 32*16^2 = 8192 tokens; seg_tokens=8192 forces one
    # coarse window per segment, so any doc > 8192 tokens is chunked
    b = (
        walk_tiers(df, FAMILIES[family](), seg_tokens=8192).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"])
        .reset_index(drop=True)
    )
    assert (a["tier"] == 2).any()
    pd.testing.assert_frame_equal(a, b)


def test_checksum_roundtrip():
    _, tokens, _ = make_doc(5)
    c1 = token_checksum(tokens)
    assert c1 == token_checksum(tokens.copy())
    t2 = tokens.copy()
    t2[3] += 1
    assert c1 != token_checksum(t2)
    # order sensitivity
    t3 = tokens[::-1].copy()
    assert c1 != token_checksum(t3)
