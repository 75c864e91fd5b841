"""Streaming continuous aggregates over the snapshot store: stream ==
batch across late files, replay idempotence, crash-before-commit
recovery, generation GC."""

import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyhctsa_spark.operators.cagg import (
    CaggSnapshotStore,
    cagg_finalize,
    cagg_partial,
)
from pyhctsa_spark.streaming.cagg_stream import stream_cagg

WIN = 30 * 60 * 1_000_000


def _events(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000)
            + F.col("id") * 613_789_123
            + (F.col("id") * 37 % 101) * 1_000_003
        ).alias("ts"),
        (F.col("id") % 8).alias("user_id"),
        (F.sin(F.col("id") / 17.0) * 10
         + (F.col("id") % 13).cast("double")).alias("value"),
    )


def _sorted_pd(df):
    return (
        df.toPandas()
        .sort_values(["user_id", "widx"])
        .reset_index(drop=True)
        .round(9)
    )


def _final(spark, store):
    return cagg_finalize(store.read(spark).drop("chunk"))


def test_stream_cagg_matches_batch_with_late_files(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("caggstream"))
    src, store_path, ckpt = f"{root}/src", f"{root}/store", f"{root}/ckpt"
    os.makedirs(src)
    # file 1: the NEWER half; file 2: the older half arriving later —
    # late data crossing into already-refreshed windows
    _events(spark, 1000, 2000).coalesce(1).write.mode("append").parquet(src)
    q = stream_cagg(spark, src, store_path, ckpt, available_now=True,
                    window_micros=WIN, chunk_windows=16)
    q.awaitTermination(120)
    _events(spark, 0, 1000).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_cagg(spark, src, store_path, ckpt, available_now=True,
                     window_micros=WIN, chunk_windows=16)
    q2.awaitTermination(120)
    store = CaggSnapshotStore(store_path, window_micros=WIN, chunk_windows=16)
    got = _final(spark, store)
    want = cagg_finalize(cagg_partial(_events(spark, 0, 2000),
                                      window_micros=WIN))
    pd.testing.assert_frame_equal(_sorted_pd(got), _sorted_pd(want))
    man = store.manifest()
    assert man["last_batch"] is not None
    assert man["gen"] >= 1


def test_stream_cagg_replayed_batch_is_skipped(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("caggreplay"))
    src, store_path, ckpt = f"{root}/src", f"{root}/store", f"{root}/ckpt"
    os.makedirs(src)
    _events(spark, 0, 500).coalesce(1).write.mode("append").parquet(src)
    q = stream_cagg(spark, src, store_path, ckpt, available_now=True,
                    window_micros=WIN, chunk_windows=16)
    q.awaitTermination(120)
    store = CaggSnapshotStore(store_path, window_micros=WIN, chunk_windows=16)
    snap = _sorted_pd(_final(spark, store))
    # simulate a foreachBatch redelivery: wipe the streaming checkpoint
    # so the SAME file replays with the SAME batch ids — the committed
    # manifest must make the refresh a no-op (no double counting)
    import shutil

    shutil.rmtree(ckpt)
    q2 = stream_cagg(spark, src, store_path, ckpt, available_now=True,
                     window_micros=WIN, chunk_windows=16)
    q2.awaitTermination(120)
    after = _sorted_pd(_final(spark, store))
    pd.testing.assert_frame_equal(snap, after)


def test_snapshot_refresh_crash_before_commit_replays_cleanly(
    spark, tmp_path
):
    """Kill the refresh AFTER the new generation's data is written but
    BEFORE the manifest publish — the exact window the plain chunk
    store cannot survive. The replay must produce the single-apply
    result, not a double merge."""
    store = CaggSnapshotStore(str(tmp_path / "snap"),
                              window_micros=WIN, chunk_windows=16)
    ev = _events(spark, 0, 2000)
    store.materialize(ev.where("event_id % 5 != 4"))
    delta = ev.where("event_id % 5 = 4")

    real_commit = store.table.commit
    calls = {"n": 0}

    def crashing_commit(man, keep_history=True):
        calls["n"] += 1
        raise RuntimeError("simulated crash before manifest commit")

    store.table.commit = crashing_commit
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.refresh(spark, delta, batch_id=7)
    assert calls["n"] == 1
    store.table.commit = real_commit
    # pre-replay view is the PRE-refresh state (manifest unchanged)
    man = store.manifest()
    assert man["gen"] == 0 and man["last_batch"] is None
    # replay the same batch
    info = store.refresh(spark, delta, batch_id=7)
    assert info["delta_states"] > 0
    got = _final(spark, store)
    want = cagg_finalize(cagg_partial(ev, window_micros=WIN))
    pd.testing.assert_frame_equal(_sorted_pd(got), _sorted_pd(want))
    # and a SECOND delivery of the committed batch is a no-op
    again = store.refresh(spark, delta, batch_id=7)
    assert again.get("skipped_committed_batch")


def _prev_chunks(store):
    """{chunk: gen} of the snapshot before the committed one."""
    prev = store.table.manifest()["history"][-1]
    return {c.split("=", 1)[1]: int(g.split("=", 1)[1])
            for g, c in (d.split("/") for d in prev["tables"][""])}


def test_snapshot_gc_removes_superseded_and_orphaned_generations(
    spark, tmp_path
):
    store = CaggSnapshotStore(str(tmp_path / "snap"),
                              window_micros=WIN, chunk_windows=16)
    ev = _events(spark, 0, 1500)
    store.materialize(ev.where("event_id < 1000"))
    # orphan: a generation written by a crashed refresh, never committed
    orphan = os.path.join(store.path, "gen=99", "chunk=123")
    os.makedirs(orphan)
    store.refresh(spark, ev.where("event_id >= 1000"), batch_id=0)
    man = store.manifest()
    prev = _prev_chunks(store)
    # GC grants the immediately-superseded versions a one-commit grace
    # (in-flight readers of the previous manifest keep their files), so
    # on-disk dirs = current ∪ previous manifest's chunks — but never
    # the uncommitted orphan
    live = {(c, g) for c, g in man["chunks"].items()}
    live |= {(c, g) for c, g in prev.items()}
    for gdir in os.listdir(store.path):
        if not gdir.startswith("gen="):
            continue
        g = int(gdir.split("=", 1)[1])
        for cdir in os.listdir(os.path.join(store.path, gdir)):
            if cdir.startswith("chunk="):
                assert (cdir.split("=", 1)[1], g) in live, (gdir, cdir)
    assert not os.path.exists(os.path.join(store.path, "gen=99"))
    # the committed view is complete and correct
    got = _final(spark, store)
    want = cagg_finalize(cagg_partial(ev, window_micros=WIN))
    pd.testing.assert_frame_equal(_sorted_pd(got), _sorted_pd(want))
    # a SECOND commit ends the grace: twice-superseded gen-0 versions of
    # chunks rewritten in BOTH refreshes are deleted
    touched2 = store.refresh(
        spark, ev.where("event_id >= 1400"), batch_id=1)["touched_chunks"]
    man2 = store.manifest()
    for c in touched2:
        if prev.get(str(c)) == 0 \
                and man["chunks"].get(str(c), 0) != 0 \
                and man2["chunks"][str(c)] != 0:
            assert not os.path.exists(
                os.path.join(store.path, "gen=0", f"chunk={c}"))


def test_snapshot_expire_is_a_manifest_edit(spark, tmp_path):
    store = CaggSnapshotStore(str(tmp_path / "snap"),
                              window_micros=WIN, chunk_windows=16)
    ev = _events(spark, 0, 2000)
    store.materialize(ev)
    man0 = store.manifest()
    all_chunks = sorted(int(c) for c in man0["chunks"])
    assert len(all_chunks) > 4
    # keep only windows >= the 3rd chunk's start; chunk boundary rule:
    # a mid-chunk keep_from keeps the boundary chunk
    keep_from = all_chunks[2] * 16 + 5
    doomed = store.expire(keep_from)
    assert doomed == all_chunks[:2]
    got = store.read(spark)
    assert got.agg(F.min("widx")).first()[0] >= all_chunks[2] * 16
    # de-referenced chunk dirs get the one-commit reader grace, then
    # the NEXT commit's GC removes them
    for c in doomed:
        assert os.path.exists(
            os.path.join(store.path, "gen=0", f"chunk={c}"))
    store.refresh(spark, _events(spark, 2000, 2100), batch_id=0)
    for c in doomed:
        assert not os.path.exists(
            os.path.join(store.path, "gen=0", f"chunk={c}"))
    # full recompute over the SURVIVING window range matches
    want = cagg_finalize(
        cagg_partial(ev, window_micros=WIN)
        .where(F.col("widx") >= all_chunks[2] * 16)
    )
    pd.testing.assert_frame_equal(
        _sorted_pd(cagg_finalize(got.drop("chunk"))), _sorted_pd(want))


# ---------------------------------------------------------------------------
# Concurrent writers: the lease lock must serialize refreshes so no
# generation is lost (read-manifest → publish cannot interleave)
# ---------------------------------------------------------------------------

def test_snapshot_concurrent_refreshes_lose_no_update(spark, tmp_path):
    """Four writers refresh the SAME store concurrently with disjoint
    deltas. Without the writer lease, two refreshes that both read
    gen=G would both publish gen=G+1 — the second manifest silently
    drops the first writer's chunks. With the lease they serialize:
    the final view equals a full recompute and every refresh got its
    own generation."""
    import threading

    store = CaggSnapshotStore(str(tmp_path / "snap"),
                              window_micros=WIN, chunk_windows=16)
    ev = _events(spark, 0, 4000)
    store.materialize(ev.where("event_id % 5 = 0"))
    errs = []

    def worker(k):
        try:
            # each thread gets its OWN store handle (separate writers)
            st = CaggSnapshotStore(store.path, window_micros=WIN,
                                   chunk_windows=16)
            st.refresh(spark, ev.where(f"event_id % 5 = {k}"), batch_id=None)
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=worker, args=(k,)) for k in (1, 2, 3, 4)]
    for t in ts:
        t.start()
    for t in ts:
        t.join(300)
    assert not errs, errs
    man = store.manifest()
    assert man["gen"] == 4  # all four commits landed, none overwritten
    got = _final(spark, store)
    want = cagg_finalize(cagg_partial(ev, window_micros=WIN))
    pd.testing.assert_frame_equal(_sorted_pd(got), _sorted_pd(want))
    # the lock is released after the storm
    assert not os.path.exists(store.table.lock)


def test_writer_lease_blocks_and_times_out(spark, tmp_path):
    store = CaggSnapshotStore(str(tmp_path / "snap"),
                              window_micros=WIN, chunk_windows=16)
    os.makedirs(store.path, exist_ok=True)
    with store.table.writer():
        other = CaggSnapshotStore(store.path, window_micros=WIN,
                                  chunk_windows=16)
        with pytest.raises(TimeoutError):
            with other.table.writer(timeout=0.3):
                pass  # pragma: no cover
    # released — a new writer acquires immediately
    with store.table.writer(timeout=1.0):
        pass


def test_writer_lease_stale_lock_is_recovered(spark, tmp_path):
    """A crashed writer's lease (expiry in the past) must not wedge the
    store: the next writer atomically takes it over."""
    store = CaggSnapshotStore(str(tmp_path / "snap"),
                              window_micros=WIN, chunk_windows=16)
    os.makedirs(store.path, exist_ok=True)
    with open(store.table.lock, "w") as f:
        f.write("99999 0.0")  # dead pid, lease expired at epoch
    with store.table.writer(timeout=2.0):
        pass
    # a garbage lock file gets a short mtime-based grace (it may be a
    # healthy writer caught between create and write), so an immediate
    # attempt times out...
    with open(store.table.lock, "w") as f:
        f.write("not-a-lease")
    with pytest.raises(TimeoutError):
        with store.table.writer(timeout=0.3):
            pass  # pragma: no cover
    # ...but once the grace passes it is recovered — a crash artifact
    # must not wedge the store forever
    past = time.time() - 60
    os.utime(store.table.lock, (past, past))
    with store.table.writer(timeout=2.0):
        pass
    assert not os.path.exists(store.table.lock)


def test_writer_lease_lost_midjob_fails_loudly_and_spares_usurper(
    spark, tmp_path
):
    """If the lease expires during a long write and another writer takes
    over, the original writer must (a) refuse to publish over the
    usurper's commit — loud RuntimeError, not a silent lost update —
    and (b) leave the usurper's lock untouched on exit."""
    store = CaggSnapshotStore(str(tmp_path / "snap"),
                              window_micros=WIN, chunk_windows=16)
    os.makedirs(store.path, exist_ok=True)
    with store.table.writer() as man:
        # simulate expiry + takeover: the lock now belongs to a thief
        with open(store.table.lock, "w") as f:
            f.write(f"thief.feed {time.time() + 300}")
        with pytest.raises(RuntimeError, match="lost before commit"):
            store.table.commit(man)
    # release must not delete a lock it no longer owns
    with open(store.table.lock) as f:
        assert f.read().split()[0] == "thief.feed"
    os.unlink(store.table.lock)
