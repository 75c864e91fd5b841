"""Incremental continuous aggregates on the snapshot store: merge
algebra, refresh == full recompute, late-data handling, touched-chunk
reads, NULL keys under erasure, layout checks and probe job counts."""

import hashlib
import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators.cagg import (
    CaggSnapshotStore,
    cagg_finalize,
    cagg_merge,
    cagg_partial,
    cagg_realtime,
)
from test_compaction import _jobs_run

WIN = 30 * 60 * 1_000_000  # 30 min


def _events(spark, n=4000, seed_shift=0):
    # deterministic irregular stream: 8 users, ~28 days, value walks
    return spark.range(n).select(
        "id",
        (F.col("id") % 8).alias("user_id"),
        F.timestamp_micros(
            (F.lit(1_700_000_000_000_000)
             + (F.col("id") + seed_shift) * 613_789_123
             + (F.col("id") * 37 % 101) * 1_000_003)
        ).alias("ts"),
        (F.sin(F.col("id") / 17.0) * 10
         + (F.col("id") % 13).cast("double")).alias("value"),
    )


def _store(tmp_path, name="cagg", chunk_windows=16):
    return CaggSnapshotStore(str(tmp_path / name), window_micros=WIN,
                             chunk_windows=chunk_windows)


def _sorted_pd(df):
    return (
        df.toPandas()
        .sort_values(["user_id", "widx"])
        .reset_index(drop=True)
        .round(9)
    )


def _view(spark, store):
    return _sorted_pd(cagg_finalize(store.read(spark).drop("chunk")))


def _chunk_dirs(files):
    """{(gen, chunk)} of the store data files in ``files``."""
    out = set()
    for f in files:
        parts = f.rstrip("/").split("/")
        out.add((int(parts[-3].split("=")[1]), int(parts[-2].split("=")[1])))
    return out


def test_merge_of_split_equals_partial_of_union(spark):
    ev = _events(spark)
    full = cagg_partial(ev, window_micros=WIN)
    a = cagg_partial(ev.where("id % 3 != 0"), window_micros=WIN)
    b = cagg_partial(ev.where("id % 3 = 0"), window_micros=WIN)
    merged = cagg_merge(a.unionByName(b))
    pd.testing.assert_frame_equal(_sorted_pd(full), _sorted_pd(merged))


def test_refresh_equals_full_recompute(spark, tmp_path):
    store = _store(tmp_path)
    ev = _events(spark)
    store.materialize(ev.where("id % 5 != 4"))
    # interleaved in time = late data
    info = store.refresh(spark, ev.where("id % 5 = 4"))
    assert info["delta_states"] > 0
    assert len(info["touched_chunks"]) > 0
    want = _sorted_pd(cagg_finalize(cagg_partial(ev, window_micros=WIN)))
    pd.testing.assert_frame_equal(_view(spark, store), want)


def test_refresh_late_rows_into_old_windows_only(spark, tmp_path):
    store = _store(tmp_path)
    ev = _events(spark)
    # delta = strictly the OLDEST 5% of events (deep late arrivals)
    cut = ev.agg(F.expr("percentile(unix_micros(ts), 0.05)")).first()[0]
    store.materialize(ev.where(F.unix_micros("ts") > cut))

    def _files():
        out = {}
        for dp, _dn, fn in os.walk(store.path):
            for f in fn:
                if f.endswith(".parquet"):
                    with open(os.path.join(dp, f), "rb") as fh:
                        out[os.path.join(dp, f)] = hashlib.sha256(
                            fh.read()).hexdigest()
        return out

    before_files = _files()
    all_chunks = {int(c) for c in store.manifest()["chunks"]}
    info = store.refresh(spark, ev.where(F.unix_micros("ts") <= cut))
    # late data stays in the early chunks (some brand-new, created by
    # the refresh); the store's newer chunks are never touched
    assert max(info["touched_chunks"]) < max(all_chunks)
    untouched = {
        p: h
        for p, h in before_files.items()
        if not any(f"chunk={c}/" in p for c in info["touched_chunks"])
    }
    # every untouched chunk's data files survive byte for byte and
    # stay the committed version of their chunk
    assert untouched
    after_files = _files()
    assert all(after_files.get(p) == h for p, h in untouched.items())
    man = store.manifest()
    assert all(man["chunks"][str(c)] == 0
               for _g, c in _chunk_dirs(untouched))
    want = _sorted_pd(cagg_finalize(cagg_partial(ev, window_micros=WIN)))
    pd.testing.assert_frame_equal(_view(spark, store), want)


def test_refresh_scan_is_partition_pruned(spark, tmp_path):
    """The store-side read during refresh lists only the directories of
    the chunks the delta touches, never the rest of the store."""
    store = _store(tmp_path)
    ev = _events(spark)
    store.materialize(ev)
    reads = []
    read = store.read

    def _recording_read(spark, chunks=None):
        df = read(spark, chunks=chunks)
        reads.append(df)
        return df

    store.read = _recording_read
    delta = ev.where(F.unix_micros("ts") < 1_700_000_000_000_000
                     + 40 * WIN)
    info = store.refresh(spark, delta)
    assert len(reads) == 1
    listed = _chunk_dirs(reads[0].inputFiles())
    assert listed == {(0, c) for c in info["touched_chunks"]}
    assert len(listed) < len(store.manifest()["chunks"])


def test_empty_delta_is_noop(spark, tmp_path):
    store = _store(tmp_path)
    ev = _events(spark)
    store.materialize(ev)
    before = _view(spark, store)
    man = store.manifest()
    info = store.refresh(spark, ev.where("id < 0"))
    assert info == {"touched_chunks": [], "delta_states": 0}
    assert store.manifest() == man
    pd.testing.assert_frame_equal(before, _view(spark, store))


def test_partial_is_single_aggregate_plan(spark):
    plan = (
        cagg_partial(_events(spark), window_micros=WIN)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one exchange for the (key, widx) aggregate; no window functions.
    # (struct-typed min/max pushes the aggregate to SortAggregate —
    # partial aggregation still combines map-side, the exchange carries
    # pre-combined states; the in-partition sorts are local.)
    assert plan.count("Exchange") == 1
    assert "Window" not in plan
    assert "partial_" in plan  # map-side combine present


def test_realtime_view_equals_full_recompute(spark, tmp_path):
    """Materialize history up to a watermark window; feed the raw tail
    (plus irrelevant old raw rows that must be ignored) to the realtime
    view — result equals a full recompute over everything."""
    store = _store(tmp_path)
    ev = _events(spark)
    wm_ts = ev.agg(F.expr("percentile(unix_micros(ts), 0.8)")).first()[0]
    wm_widx = int(wm_ts // WIN)
    store.materialize(
        ev.where(F.floor(F.unix_micros("ts") / F.lit(WIN)) <= wm_widx)
    )
    want = _sorted_pd(cagg_finalize(cagg_partial(ev, window_micros=WIN)))
    got = cagg_realtime(spark, store, ev, wm_widx)
    pd.testing.assert_frame_equal(_sorted_pd(got), want)
    # an older watermark reads only the chunks at or below its own
    # chunk; the raw tail covers the rest
    low_wm = wm_widx - 3 * 16
    got = cagg_realtime(spark, store, ev, low_wm)
    pd.testing.assert_frame_equal(_sorted_pd(got), want)
    listed = {c for _g, c in _chunk_dirs(got.inputFiles())}
    assert listed and max(listed) == low_wm // 16
    assert max(int(c) for c in store.manifest()["chunks"]) > low_wm // 16
    # a watermark below the store's first chunk reads no chunk at all
    first = min(int(c) for c in store.manifest()["chunks"])
    got = cagg_realtime(spark, store, ev, first * 16 - 1)
    assert got.inputFiles() == []
    pd.testing.assert_frame_equal(_sorted_pd(got), want)


@pytest.mark.parametrize("n_keys", [1, 3001])
def test_delete_keys_keeps_null_key_states(spark, tmp_path, n_keys):
    """Erasure removes the named keys' states and no others: states
    whose key is NULL survive on the literal-IN (small batch) and on
    the broadcast-join (large batch) side alike."""
    ev = spark.range(200).select(
        F.when(F.col("id") % 4 != 0, F.col("id") % 3).alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 913_789_123
        ).alias("ts"),
        (F.col("id") % 50).cast("double").alias("value"),
    )
    store = _store(tmp_path, chunk_windows=4)
    store.materialize(ev)
    n_null = store.read(spark).where("user_id IS NULL").count()
    assert n_null > 0
    keys = [1] + list(range(10_000, 10_000 + n_keys - 1))
    info = store.delete_keys(spark, keys)
    assert info["states_deleted"] > 0
    left = store.read(spark)
    assert left.where("user_id = 1").count() == 0
    assert left.where("user_id IS NULL").count() == n_null
    want = _sorted_pd(cagg_finalize(cagg_partial(
        ev.where("user_id IS NULL OR user_id != 1"), window_micros=WIN)))
    pd.testing.assert_frame_equal(_view(spark, store), want)


def test_write_through_another_layout_is_refused(spark, tmp_path):
    """A store keeps the layout it was materialized with: refresh,
    delete_keys and expire through a store object of another layout
    raise before writing anything. A manifest written before layouts
    were recorded is accepted."""
    ev = spark.range(11_000).select(
        F.lit(7).cast("long").alias("user_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 197_000_000
        ).alias("ts"),
        (F.col("id") % 29).cast("double").alias("value"),
    )
    store = _store(tmp_path, chunk_windows=48)
    store.materialize(ev.where("id < 8000"))
    before = _view(spark, store)
    man = store.manifest()
    files = sorted(os.listdir(store.path))
    for other in (_store(tmp_path, chunk_windows=16),
                  CaggSnapshotStore(store.path, by=["user_id", "id"],
                                    window_micros=WIN, chunk_windows=48)):
        with pytest.raises(ValueError, match="layout"):
            other.refresh(spark, ev.where("id >= 6000"))
        with pytest.raises(ValueError, match="layout"):
            other.delete_keys(spark, [7])
        with pytest.raises(ValueError, match="layout"):
            other.expire(keep_from_widx=10**9)
    assert store.manifest() == man
    assert sorted(os.listdir(store.path)) == files
    pd.testing.assert_frame_equal(_view(spark, store), before)
    # a manifest that records no layout is written through as it is
    with open(os.path.join(store.path, store.MANIFEST)) as f:
        raw = json.load(f)
    del raw["props"]["layout"]
    with open(os.path.join(store.path, store.MANIFEST), "w") as f:
        json.dump(raw, f)
    store.refresh(spark, ev.where("id >= 6000"))
    assert "layout" not in store.manifest()
    want = _sorted_pd(cagg_finalize(cagg_partial(
        ev.unionByName(ev.where("id >= 6000 AND id < 8000")),
        window_micros=WIN)))
    pd.testing.assert_frame_equal(_view(spark, store), want)


def test_refresh_and_delete_keys_probe_once(spark, tmp_path):
    """The touched chunks and the state count of a refresh, and of a
    delete_keys, come from one grouped probe: each runs the Spark jobs
    of its probe and of its store read and write, and no second
    probe."""
    ev = _events(spark)
    store = _store(tmp_path)
    store.materialize(ev.where("id % 5 != 4"))
    info, refresh_jobs = _jobs_run(
        spark, store.refresh, spark, ev.where("id % 5 = 4"))
    assert info["touched_chunks"]
    info, delete_jobs = _jobs_run(spark, store.delete_keys, spark, [3])
    assert info["touched_chunks"]
    # counts under Spark 4.1 with adaptive execution, where each
    # shuffle stage runs as a job of its own: refresh = 4 for the
    # probe, 2 for listing and footers of the touched-chunk read, 3 for
    # the generation write; delete_keys = 2 for the store read, 2 for
    # the probe, 2 for the touched-chunk read, 2 for the write. A
    # separate distinct-collect and count probe adds 2 jobs to each.
    assert (refresh_jobs, delete_jobs) == (9, 8)
