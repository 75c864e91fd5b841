"""HyperLogLog rollup: state math vs brute-force replay, merge
exactness (the cascade contract), plan shape, and the cross-document
union."""

import math

import numpy as np
import pytest

from pyhctsa_spark.functions import hll_state as H


def _sm64_ref(x: int) -> int:
    mask = (1 << 64) - 1
    z = (x + 0x9E3779B97F4A7C15) & mask
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & mask
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & mask
    return z ^ (z >> 31)


def _regs_ref(toks) -> np.ndarray:
    regs = np.zeros(H.M, dtype=np.uint8)
    for t in toks:
        h = _sm64_ref(int(t) % (1 << 64))
        b = h >> H.Q
        w = h & ((1 << H.Q) - 1)
        regs[b] = max(regs[b], H.Q + 1 - w.bit_length())
    return regs


def test_splitmix64_matches_integer_reference():
    toks = np.array([-(2 ** 31), -5, -1, 0, 1, 490, 2 ** 31 - 1,
                     2 ** 62], dtype=np.int64)
    out = H.splitmix64(toks)
    for t, h in zip(toks, out):
        assert int(h) == _sm64_ref(int(t) % (1 << 64))


def test_bit_length_exact_incl_above_2_53():
    rng = np.random.default_rng(7)
    vals = np.concatenate([
        rng.integers(0, 2 ** 63, 5000, dtype=np.uint64).astype(np.uint64),
        # the values float log2 gets wrong: just below powers of two
        np.array([0, 1, 2 ** 53 - 1, 2 ** 53, 2 ** 56 - 1, 2 ** 56 - 2,
                  2 ** 55, 2 ** 62, 2 ** 63 - 1], dtype=np.uint64),
    ])
    bl = H.bit_length_u64(vals)
    for v, b in zip(vals, bl):
        assert int(b) == int(v).bit_length()


def test_registers_match_bruteforce_per_window():
    rng = np.random.default_rng(1)
    wins = rng.integers(-100, 500, (11, 16), dtype=np.int64)
    regs = H.registers_from_windows(wins)
    for i in range(wins.shape[0]):
        assert (regs[i] == _regs_ref(wins[i])).all()


def test_estimate_within_expected_error():
    # sigma ~ 1.04/sqrt(256) = 6.5%; 10k distinct, one window
    fin = H.finalize(H.registers_from_windows(
        np.arange(10_000, dtype=np.int64).reshape(1, -1)))
    assert abs(fin["est"][0] - 10_000) / 10_000 < 0.15


def test_linear_counting_small_range_uses_libm_table():
    toks = np.arange(30, dtype=np.int64).reshape(1, -1)
    fin = H.finalize(H.registers_from_windows(toks))
    v = int(fin["hll_zeros"][0])
    assert fin["est"][0] == H.M * math.log(H.M / v)
    # estimate of 30 distinct should be close in the LC regime
    assert abs(fin["est"][0] - 30) < 5


def test_merge_groups_bit_identical_to_direct():
    rng = np.random.default_rng(2)
    wins = rng.integers(0, 300, (12, 8), dtype=np.int64)
    direct = H.registers_from_windows(wins.reshape(3, 32))
    merged = H.merge_groups(H.registers_from_windows(wins), 4)
    assert (direct == merged).all()
    # idempotent: merging a tier with itself changes nothing
    assert (np.maximum(direct, direct) == direct).all()


def test_pack_unpack_roundtrip_and_corrupt_blob():
    regs = H.registers_from_windows(
        np.arange(64, dtype=np.int64).reshape(4, 16))
    blobs = [b.as_py() for b in H.pack_arrow(regs)]
    assert (H.unpack_blobs(blobs) == regs).all()
    with pytest.raises(ValueError, match="register"):
        H.unpack_blobs([blobs[0], b"short"])
    with pytest.raises(ValueError, match="register"):
        H.unpack_blobs([None])


@pytest.fixture(scope="module")
def seq(spark):
    from pyhctsa_spark.sources.synthetic import sequences_df

    return sequences_df(spark, 40).cache()


def test_rollup_hll_tiers_plan_has_zero_exchange(spark, seq):
    from pyhctsa_spark.operators.hll_rollup import rollup_hll_tiers

    out = rollup_hll_tiers(seq, window=32, group=4, n_tiers=3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan


def test_cascade_from_store_bit_identical_to_direct(spark, seq):
    from pyhctsa_spark.operators.hll_rollup import (
        hll_cascade_from_store,
        rollup_hll_tiers,
    )

    direct = rollup_hll_tiers(seq, window=32, group=4, n_tiers=2).where(
        "tier = 1"
    )
    t0 = rollup_hll_tiers(seq, window=32, group=4, n_tiers=1)
    cascaded = hll_cascade_from_store(t0, group=4)

    def key(rows):
        return {
            (r["doc_id"], r["window_idx"]):
                (r["n"], r["hll_zeros"], r["hll_denom"],
                 r["est_distinct"], bytes(r["hll_bin"]))
            for r in rows
        }

    d, c = key(direct.collect()), key(cascaded.collect())
    assert d == c and len(d) > 0


def test_cascade_skips_gapped_parent_groups(spark, seq):
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.hll_rollup import (
        hll_cascade_from_store,
        rollup_hll_tiers,
    )

    t0 = rollup_hll_tiers(seq, window=32, group=4, n_tiers=1)
    holed = t0.where(F.col("window_idx") != 1)  # break every first group
    out = hll_cascade_from_store(holed, group=4)
    assert out.where("window_idx = 0").count() == 0


def test_by_source_matches_numpy_replay(spark, seq):
    from pyhctsa_spark.operators.hll_rollup import hll_distinct_by_source

    got = {r["source"]: r for r in hll_distinct_by_source(seq).collect()}
    raw = seq.select("source", "tokens").collect()
    per_src: dict = {}
    for r in raw:
        per_src.setdefault(r["source"], []).extend(r["tokens"])
    assert set(got) == set(per_src)
    for s, toks in per_src.items():
        regs = H.registers_from_tokens(np.asarray(toks, dtype=np.int64))
        fin = H.finalize(regs.reshape(1, H.M))
        assert got[s]["n"] == len(toks)
        assert got[s]["hll_zeros"] == int(fin["hll_zeros"][0])
        assert got[s]["hll_denom"] == int(fin["hll_denom"][0])
        assert got[s]["est_distinct"] == pytest.approx(
            float(fin["est"][0]), abs=0.0
        )


WIN = 30 * 60 * 1_000_000


def _events(spark, n=3000):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        "id",
        (F.col("id") % 4).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 913_789_123
        ).alias("ts"),
        ((F.sin(F.col("id") / 7.0) + 1) * 40
         + (F.col("id") % 23).cast("double")).alias("value"),
    )


def test_hll_merge_equals_partial_of_union(spark):
    import pandas as pd

    from pyhctsa_spark.operators.hll_rollup import hll_merge, hll_partial

    ev = _events(spark)
    a, b = ev.where("id % 2 = 0"), ev.where("id % 2 = 1")
    merged = hll_merge(
        hll_partial(a, window_micros=WIN).unionByName(
            hll_partial(b, window_micros=WIN))
    )
    direct = hll_partial(ev, window_micros=WIN)
    key = ["user_id", "widx", "j"]
    pd.testing.assert_frame_equal(
        merged.orderBy(*key).toPandas(), direct.orderBy(*key).toPandas()
    )
    # idempotent: merging the same partial twice changes nothing
    twice = hll_merge(direct.unionByName(direct))
    pd.testing.assert_frame_equal(
        twice.orderBy(*key).toPandas(), direct.orderBy(*key).toPandas()
    )


def test_hll_estimates_match_state_finalize(spark):
    from pyhctsa_spark.operators.hll_rollup import hll_estimates, hll_partial

    ev = _events(spark, 800)
    states = hll_partial(ev, window_micros=WIN)
    got = {(r["user_id"], r["widx"]): r
           for r in hll_estimates(states).collect()}
    rows = states.collect()
    per_key: dict = {}
    for r in rows:
        per_key.setdefault((r["user_id"], r["widx"]), []).append(
            (r["j"], r["r"]))
    for k, jr in per_key.items():
        regs = np.zeros((1, H.M), dtype=np.uint8)
        for j, r in jr:
            regs[0, j] = r
        fin = H.finalize(regs)
        assert got[k]["hll_denom"] == int(fin["hll_denom"][0])
        assert got[k]["hll_zeros"] == int(fin["hll_zeros"][0])
        assert got[k]["est_distinct"] == float(fin["est"][0])


def test_hll_states_through_snapshot_store(spark, tmp_path):
    import pandas as pd

    from pyhctsa_spark.operators.cagg import CaggSnapshotStore
    from pyhctsa_spark.operators.hll_rollup import (
        hll_estimates,
        hll_merge,
        hll_partial,
    )

    store = CaggSnapshotStore(
        str(tmp_path / "hllsnap"), window_micros=WIN, chunk_windows=16,
        partial_fn=hll_partial, merge_fn=hll_merge,
    )
    ev = _events(spark)
    store.materialize(ev.where("id % 3 != 0"))
    info = store.refresh(spark, ev.where("id % 3 = 0"), batch_id=0)
    assert info["delta_states"] > 0
    got = hll_estimates(store.read(spark).drop("chunk"))
    want = hll_estimates(hll_partial(ev, window_micros=WIN))
    key = ["user_id", "widx"]
    pd.testing.assert_frame_equal(
        got.orderBy(*key).toPandas(), want.orderBy(*key).toPandas()
    )


def test_streaming_hll_rollup_matches_batch(spark, tmp_path_factory):
    import pandas as pd

    from pyhctsa_spark.operators.hll_rollup import rollup_hll_tiers
    from pyhctsa_spark.sources.synthetic import sequences_df
    from pyhctsa_spark.streaming.rollup_stream import stream_rollup

    base = tmp_path_factory.mktemp("hllstream")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    sequences_df(spark, 10, partitions=2, binary=True).write.parquet(src)
    q = stream_rollup(spark, src, sink, ckpt, available_now=True,
                      family="hll")
    q.awaitTermination(120)
    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
    )
    want = (
        rollup_hll_tiers(spark.read.parquet(src)).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_hll_at_resolution_serves_from_coarsest_tier(spark, seq):
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.hll_rollup import (
        hll_at_resolution,
        rollup_hll_tiers,
    )

    store = rollup_hll_tiers(seq, window=8, group=4, n_tiers=3).cache()
    # bucket of 16 base windows = tier 2 exactly (residual 1)
    direct = hll_at_resolution(store, 16, group=4, n_tiers=3)
    assert direct.where("tier != 2").count() == 0
    # bucket of 8 base windows: tier 1 + residual 2-way merge must be
    # bit-identical to a fresh rollup at 64-token windows
    routed = hll_at_resolution(store, 8, group=4, n_tiers=3)
    fresh = rollup_hll_tiers(seq, window=64, group=4, n_tiers=1)

    def key(rows):
        return {
            (r["doc_id"], r["window_idx"]):
                (r["n"], r["hll_zeros"], r["hll_denom"],
                 r["est_distinct"], bytes(r["hll_bin"]))
            for r in rows
        }

    a, b = key(routed.collect()), key(fresh.collect())
    assert a == b and len(a) > 0
    store.unpersist()


def test_by_source_plan_is_combiner_friendly(spark, seq):
    """The register union must pre-combine map-side: a partial_max
    before the (source, j) exchange means shuffle rows are bounded by
    tasks x sources x 256, not corpus size; and the LC lookup join is
    a broadcast."""
    from pyhctsa_spark.operators.hll_rollup import hll_distinct_by_source

    plan = (
        hll_distinct_by_source(seq)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_max" in plan
    assert "BroadcastExchange" in plan  # the libm LUT join


def test_streaming_hll_cagg_matches_batch(spark, tmp_path_factory):
    """HLL register states through the STREAMING snapshot-commit path:
    two micro-batch file drops, late rows included, final estimates ==
    one batch pass over everything."""
    import pandas as pd
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.hll_rollup import (
        hll_estimates,
        hll_merge,
        hll_partial,
    )
    from pyhctsa_spark.streaming.cagg_stream import stream_cagg

    base = tmp_path_factory.mktemp("hllcs")
    src = str(base / "src")
    store_path, ckpt = str(base / "store"), str(base / "ckpt")

    def ev(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1_700_000_000_000_000) + F.col("id") * 913_789_123
            ).alias("ts"),
            (F.col("id") % 4).alias("user_id"),
            ((F.sin(F.col("id") / 7.0) + 1) * 40).alias("value"),
        )

    ev(0, 1200).write.mode("overwrite").parquet(src)
    q = stream_cagg(spark, src, store_path, ckpt, available_now=True,
                    partial_fn=hll_partial, merge_fn=hll_merge)
    q.awaitTermination(120)
    # second drop includes LATE rows (ids 1200.. overlap old windows)
    ev(1200, 2000).write.mode("append").parquet(src)
    q = stream_cagg(spark, src, store_path, ckpt, available_now=True,
                    partial_fn=hll_partial, merge_fn=hll_merge)
    q.awaitTermination(120)

    from pyhctsa_spark.operators.cagg import CaggSnapshotStore

    store = CaggSnapshotStore(store_path, partial_fn=hll_partial,
                              merge_fn=hll_merge)
    got = hll_estimates(store.read(spark).drop("chunk"))
    want = hll_estimates(hll_partial(ev(0, 2000)))
    key = ["user_id", "widx"]
    pd.testing.assert_frame_equal(
        got.orderBy(*key).toPandas(), want.orderBy(*key).toPandas()
    )
