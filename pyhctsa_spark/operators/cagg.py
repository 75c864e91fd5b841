"""Incremental continuous aggregates: materialize once, refresh by delta.

TimescaleDB's continuous-aggregate model (materialize + invalidation +
refresh) re-expressed Spark-first. The store holds MERGEABLE partial
states per (key, window) — not finalized values — so a refresh never
revisits raw history:

- ``cagg_partial`` reduces an event batch to one state row per
  (key, window): count, Σv, Σv² (mean/variance), min/max, and the four
  OHLC anchors carried WITH their timestamps (t_open/open, t_close/
  close, t_high, t_low) so merges preserve the M4 tie rules exactly
  (continuous_agg.ohlc_agg semantics: open = value at earliest ts,
  smallest value on ts tie; close = latest/largest; t_high/t_low =
  earliest ts attaining the extreme).
- ``cagg_merge`` combines any number of state rows per (key, window)
  with pure JVM aggregates — sums for moments, struct-ordered min/max
  for the anchored fields. merge(partial(A), partial(B)) ==
  partial(A ∪ B) bit-exactly (associative + commutative), which is the
  whole contract: late data, replays, and out-of-order deltas all
  reduce to "union states, merge".
- ``CaggSnapshotStore`` holds the states partitioned by
  ``chunk = widx // chunk_windows`` (same chunk unit as retention.py),
  one immutable generation directory per commit and an atomically
  published manifest naming each chunk's generation. A refresh
  partial-aggregates the delta, finds the TOUCHED chunks with one
  grouped probe (a driver-side collect bounded by the refresh interval
  — a day of late-arriving data touches a handful of chunks, never the
  store), reads back ONLY those chunk directories, merges, writes them
  as a new generation and commits by publishing the manifest. Refresh
  cost ∝ delta size + touched-chunk size; store size never enters.
- ``cagg_finalize`` turns states into the user-facing columns
  (mean, variance, OHLC, extremes' timestamps).
- ``cagg_realtime`` finalizes the store's states at or below a watermark
  window together with partials of the raw tail above it.

Invariant tested end-to-end: finalize(refresh(materialize(A), B)) ==
finalize(partial(A ∪ B)) — the incremental store is indistinguishable
from a full recompute, for any split of the event stream including
late rows landing in old windows.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, functions as F

from pyhctsa_spark.operators import tablefs
from pyhctsa_spark.operators._local_df import key_set_filter

STATE_COLS = [
    "n", "s1", "s2", "low", "high",
    "t_open", "open", "t_close", "close", "t_high", "t_low",
]


def cagg_partial(
    events: DataFrame,
    on: str = "ts",
    by: list[str] | None = None,
    value_col: str = "value",
    window_micros: int = 30 * 60 * 1_000_000,
) -> DataFrame:
    """One mergeable state row per (by, widx) from raw events.

    A single hash-aggregate (map-side combine applies); every
    expression is a JVM built-in."""
    by = list(by or ["user_id"])
    tus = F.unix_micros(F.col(on))
    v = F.col(value_col).cast("double")
    staged = events.select(
        *by,
        F.floor(tus / F.lit(int(window_micros))).alias("widx"),
        tus.alias("_t"),
        v.alias("_v"),
    )
    t, val = F.col("_t"), F.col("_v")
    o = F.min(F.struct(t.alias("t"), val.alias("v")))
    c = F.max(F.struct(t.alias("t"), val.alias("v")))
    return staged.groupBy(*by, "widx").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_v").alias("s1"),
        F.sum(val * val).alias("s2"),
        F.min("_v").alias("low"),
        F.max("_v").alias("high"),
        o["t"].alias("t_open"),
        o["v"].alias("open"),
        c["t"].alias("t_close"),
        c["v"].alias("close"),
        (-F.max(F.struct(val.alias("v"), (-t).alias("nt")))["nt"]).alias(
            "t_high"
        ),
        F.min(F.struct(val.alias("v"), t.alias("t")))["t"].alias("t_low"),
    )


def cagg_merge(states: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Combine state rows per (by, widx). Associative/commutative, so
    any partial/merge tree yields the same state as one partial over
    the union of the underlying events."""
    by = list(by or ["user_id"])
    o = F.min(F.struct(F.col("t_open").alias("t"), F.col("open").alias("v")))
    c = F.max(F.struct(F.col("t_close").alias("t"), F.col("close").alias("v")))
    th = F.max(
        F.struct(F.col("high").alias("v"), (-F.col("t_high")).alias("nt"))
    )
    tl = F.min(F.struct(F.col("low").alias("v"), F.col("t_low").alias("t")))
    return states.groupBy(*by, "widx").agg(
        F.sum("n").alias("n"),
        F.sum("s1").alias("s1"),
        F.sum("s2").alias("s2"),
        F.min("low").alias("low"),
        F.max("high").alias("high"),
        o["t"].alias("t_open"),
        o["v"].alias("open"),
        c["t"].alias("t_close"),
        c["v"].alias("close"),
        (-th["nt"]).alias("t_high"),
        tl["t"].alias("t_low"),
    )


def cagg_finalize(states: DataFrame, by: list[str] | None = None) -> DataFrame:
    """User-facing columns from states: mean, sample variance, OHLC."""
    by = list(by or ["user_id"])
    n = F.col("n").cast("double")
    mean = F.col("s1") / n
    var = F.when(
        F.col("n") > 1, (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    )
    return states.select(
        *by,
        "widx",
        F.col("n").alias("n_events"),
        mean.alias("mean"),
        var.alias("variance"),
        "open", "close", "high", "low", "t_high", "t_low",
    )


def _with_chunk(df: DataFrame, chunk_windows: int) -> DataFrame:
    return df.withColumn(
        "chunk", F.floor(F.col("widx") / F.lit(int(chunk_windows))).cast("long")
    )


class CaggSnapshotStore:
    """Snapshot-committed continuous-aggregate store (Iceberg-lite).

    Rewriting chunk directories in place is not crash-atomic: a failure
    mid-refresh (or a replayed streaming batch after a crash between
    data write and commit marker) could double-merge a delta. This
    store removes that window the way a table format does:

    - chunk data lives under ``<path>/gen=<G>/chunk=<C>/`` — generation
      directories are IMMUTABLE once referenced;
    - ``_MANIFEST.json`` maps each chunk to the generation that owns it,
      plus the committed-batch high-water mark; it is the ONLY mutable state
      and is published atomically (``tablefs.publish``);
    - a refresh writes its touched chunks into a brand-new generation,
      then publishes a manifest pointing those chunks at it. Crash
      before publish: the old manifest still references the old chunk
      versions, so a replay recomputes from unchanged inputs —
      exactly-once without coordination. The orphaned generation is
      garbage-collected by the next successful commit;
    - a committed ``batch_id`` makes the refresh a no-op (streaming
      foreachBatch redelivery).

    Concurrency: mutating operations (materialize / refresh / expire)
    serialize on a lease-file writer lock (``_WRITER.lock``), so two
    concurrent refreshes cannot interleave read-manifest → publish and
    lose a generation — the second writer blocks, then sees the first
    writer's manifest. Crashed writers are recovered by lease expiry
    (stale locks are atomically renamed away, so two waiters cannot
    both "take over"). Readers need no lock: GC keeps every chunk
    directory referenced by the current OR the immediately previous
    manifest, so a reader that resolved paths just before a commit
    still finds its files; only generations superseded TWICE are
    deleted. (One-commit grace, the same contract as Iceberg's
    snapshot-expiry retention window.)

    On a real warehouse this is an Iceberg/Delta snapshot commit; the
    manifest here is the sandbox stand-in with identical semantics.
    """

    MANIFEST = "_MANIFEST.json"
    WRITER_LOCK = "_WRITER.lock"
    SNAPSHOT_DIR = "_snapshots"
    LEASE_SEC = 300.0

    def __init__(
        self,
        path: str,
        by: list[str] | None = None,
        on: str = "ts",
        value_col: str = "value",
        window_micros: int = 30 * 60 * 1_000_000,
        chunk_windows: int = 48,
        partial_fn=None,
        merge_fn=None,
        snapshot_retain: int = 2,
    ) -> None:
        """``partial_fn(events, on, by, value_col, window_micros)`` and
        ``merge_fn(states, by)`` default to the OHLC/moments cagg
        algebra; pass any other mergeable pair (e.g.
        hist_percentile.hist_partial / hist_merge with lo/hi/nbins
        bound via functools.partial) to snapshot-commit a different
        aggregate. The only contract: merge(partial(A) ∪ partial(B))
        == partial(A ∪ B), states keyed by (by..., widx), and every
        merge-fn group key present in the partial output."""
        self.path = path
        self.by = list(by or ["user_id"])
        self.on = on
        self.value_col = value_col
        self.window_micros = window_micros
        self.chunk_windows = chunk_windows
        self._partial = partial_fn or cagg_partial
        self._merge = merge_fn or cagg_merge
        # how many committed snapshots stay readable (time travel +
        # reader grace). 2 == the original current+previous contract;
        # raising it trades disk for a deeper read_at() horizon,
        # exactly Iceberg's snapshot-expiry retention knob.
        self.snapshot_retain = max(2, int(snapshot_retain))

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, self.MANIFEST)

    def manifest(self) -> dict:
        p = self._manifest_path()
        if not os.path.exists(p):
            return {"gen": -1, "chunks": {}, "last_batch": None}
        import json

        with open(p) as f:
            return json.load(f)

    def _layout(self) -> dict:
        return {"window_micros": int(self.window_micros),
                "chunk_windows": int(self.chunk_windows), "by": self.by}

    def _checked_manifest(self) -> dict:
        """The manifest, once this object's layout is known to be the
        store's. Windows are numbered per ``window_micros`` and chunks
        per ``chunk_windows``, so a write through another layout would
        miss the states it must merge or evict and commit duplicate
        (key, window) states. A manifest that records no layout (a store
        written before layouts were recorded) is accepted as it is."""
        man = self.manifest()
        have = man.get("layout")
        if have is not None and have != self._layout():
            raise ValueError(
                f"cagg store {self.path} was materialized with layout "
                f"{have}; this store object has {self._layout()}"
            )
        return man

    def _publish(self, man: dict, prev: dict | None = None) -> None:
        import json

        # carry the superseded manifest's chunk map so GC can grant it
        # a one-commit grace period (readers mid-scan on the previous
        # snapshot keep their files until the NEXT commit)
        if prev is not None:
            man["prev_chunks"] = dict(prev.get("chunks", {}))
        # last-moment ownership check: if our lease expired during a
        # long Spark write and another writer took over, abort LOUDLY
        # instead of publishing over its commit (silent lost update).
        # A steal between this read and the publish remains possible in
        # a microsecond window — content-CAS needs a real catalog
        # (Iceberg/Delta commit); this is the sandbox stand-in.
        tok = getattr(self, "_lease_token", None)
        if tok is not None:
            try:
                with open(self._lock_path()) as f:
                    held = f.read().split()[0]
            except OSError:
                held = None
            if held != tok:
                raise RuntimeError(
                    f"writer lease on {self._lock_path()} was lost before "
                    "commit (lease expired mid-write and another writer "
                    "took over) — aborting publish; re-run the refresh"
                )
        tablefs.publish(self._manifest_path(), json.dumps(man))
        # record the committed snapshot for time travel: a copy of the
        # chunk map keyed by generation, written AFTER the commit point
        # (a crash between the two leaves the store fully consistent —
        # the snapshot is then recorded lazily by _snapshot_maps's
        # current-manifest fallback)
        tablefs.publish(
            os.path.join(
                self.path, self.SNAPSHOT_DIR, f"gen={man['gen']}.json"
            ),
            json.dumps({"gen": man["gen"],
                        "chunks": dict(man["chunks"]),
                        "last_batch": man.get("last_batch"),
                        "committed_at": time.time()}),
        )

    # -- snapshots (time travel) -------------------------------------------
    def _snapshot_maps(self) -> dict[int, dict]:
        """gen -> snapshot descriptor for every retained snapshot file,
        always including the current manifest (covers stores written
        before snapshots existed and the crash window above)."""
        import json

        out: dict[int, dict] = {}
        sdir = os.path.join(self.path, self.SNAPSHOT_DIR)
        if os.path.isdir(sdir):
            for fn in os.listdir(sdir):
                if fn.startswith("gen=") and fn.endswith(".json"):
                    try:
                        with open(os.path.join(sdir, fn)) as f:
                            s = json.load(f)
                        out[int(s["gen"])] = s
                    except (OSError, ValueError, KeyError):
                        continue
            out.pop(-1, None)
        man = self.manifest()
        if man["gen"] >= 0 and man["gen"] not in out:
            out[man["gen"]] = {"gen": man["gen"],
                               "chunks": dict(man["chunks"]),
                               "last_batch": man.get("last_batch"),
                               "committed_at": None}
        return out

    def snapshots(self) -> list[dict]:
        """Retained snapshot descriptors, oldest first — the read_at()
        horizon."""
        maps = self._snapshot_maps()
        gens = sorted(maps)[-self.snapshot_retain:]
        return [
            {"gen": g, "n_chunks": len(maps[g]["chunks"]),
             "committed_at": maps[g].get("committed_at"),
             "last_batch": maps[g].get("last_batch")}
            for g in gens
        ]

    def read_at(self, spark: SparkSession, gen: int) -> DataFrame:
        """Time travel: the committed view AS OF generation ``gen``.
        Any generation still inside the retention window resolves to
        its exact chunk versions — a refresh after a bad delta can be
        audited against the pre-refresh snapshot, the Iceberg
        ``VERSION AS OF`` read."""
        maps = self._snapshot_maps()
        retained = sorted(maps)[-self.snapshot_retain:]
        if gen not in retained:
            raise ValueError(
                f"generation {gen} is not a retained snapshot "
                f"(retained: {retained}; snapshot_retain="
                f"{self.snapshot_retain})"
            )
        paths = self._chunk_paths({"chunks": maps[gen]["chunks"]})
        if not paths:
            raise ValueError(f"snapshot gen={gen} references no chunks")
        return (
            spark.read.option("basePath", self.path)
            .parquet(*paths)
            .drop("gen")
        )

    # -- writer lease --------------------------------------------------------
    def _lock_path(self) -> str:
        return os.path.join(self.path, self.WRITER_LOCK)

    @contextmanager
    def _writer_lease(self, timeout: float = 60.0):
        """Exclusive writer lease via O_CREAT|O_EXCL lock file.

        The lock records ``<token> <expiry>`` where token is unique per
        acquisition. Stale-lease takeover renames the lock to a unique
        name (atomic — one winner per file) and then RE-READS the
        renamed file: if its content differs from the expired lease that
        was inspected, the rename grabbed a FRESH lock a racing waiter
        created in between, so it is renamed back and the poll resumes
        (closes the inspect/rename TOCTOU). An unreadable lock (writer
        crashed between create and write, or disk-full truncation) gets
        a short mtime-based grace instead of blocking forever. Release
        and publish are ownership-checked by token, so a writer whose
        lease expired mid-job can neither delete the usurper's lock nor
        silently publish over its commit. Not fair, but safe, and
        readers never block.
        """
        import uuid

        os.makedirs(self.path, exist_ok=True)
        lock = self._lock_path()
        token = f"{os.getpid()}.{uuid.uuid4().hex}"
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, f"{token} {time.time() + self.LEASE_SEC}"
                         .encode())
                os.close(fd)
                break
            except FileExistsError:
                held: str | None
                try:
                    with open(lock) as f:
                        held = f.read()
                    expiry = float(held.split()[1])
                except (IndexError, ValueError):
                    # created but not yet (or never) written: grace from
                    # file mtime covers the in-flight writer's
                    # create->write window, then it's recoverable junk
                    held = None
                    try:
                        expiry = os.stat(lock).st_mtime + 5.0
                    except OSError:
                        continue  # vanished under us; re-poll
                except OSError:
                    continue  # vanished under us; re-poll
                if time.time() > expiry:
                    stale = f"{lock}.stale.{os.getpid()}.{time.time_ns()}"
                    try:
                        os.rename(lock, stale)  # atomic: one winner
                    except OSError:
                        continue  # lost the takeover race; re-poll
                    try:
                        with open(stale) as f:
                            got = f.read()
                    except OSError:
                        got = None
                    if held is not None and got is not None and got != held:
                        # we renamed a FRESH lock, not the expired one —
                        # restore it and keep waiting
                        try:
                            os.rename(stale, lock)
                        except OSError:
                            pass
                        continue
                    try:
                        os.unlink(stale)
                    except OSError:
                        pass
                    continue
                if time.time() > deadline:
                    raise TimeoutError(
                        f"writer lease on {lock} not acquired in "
                        f"{timeout}s (held, expires {expiry:.0f})"
                    )
                time.sleep(0.05)
        self._lease_token = token
        try:
            yield
        finally:
            self._lease_token = None
            # release only OUR lease: rename-out, verify token, unlink —
            # if the lease expired and a usurper holds the path now, its
            # lock is put back untouched
            out = f"{lock}.rel.{os.getpid()}.{time.time_ns()}"
            try:
                os.rename(lock, out)
                with open(out) as f:
                    mine = f.read().split()[0] == token
                if mine:
                    os.unlink(out)
                else:
                    os.rename(out, lock)
            except OSError:
                pass

    # -- io ----------------------------------------------------------------
    def _chunk_paths(self, man: dict, chunks=None) -> list[str]:
        items = man["chunks"].items()
        if chunks is not None:
            want = {str(c) for c in chunks}
            items = [(c, g) for c, g in items if c in want]
        return [
            os.path.join(self.path, f"gen={g}", f"chunk={c}")
            for c, g in items
        ]

    def read(self, spark: SparkSession, chunks=None) -> DataFrame:
        """The committed view (optionally restricted to given chunks).
        Pruning is structural: only the referenced chunk directories are
        ever listed — no filter needed, no orphan generation is read."""
        man = self.manifest()
        paths = self._chunk_paths(man, chunks)
        if not paths:
            raise ValueError("snapshot store is empty — materialize first")
        return (
            spark.read.option("basePath", self.path)
            .parquet(*paths)
            .drop("gen")
        )

    def _write_generation(self, states: DataFrame, gen: int) -> None:
        (
            # repartition on chunk: each chunk dir gets ONE part file
            # instead of one per shuffle task — an exchange of merged
            # STATES (tiny), bought back many times over in scan opens
            states.repartition("chunk")
            .write.mode("overwrite")  # clobbers a crashed attempt
            .partitionBy("chunk")
            .parquet(os.path.join(self.path, f"gen={gen}"))
        )

    def _gc(self, man: dict) -> None:
        """Delete chunk dirs no RETAINED snapshot references (orphans
        from crashed refreshes + versions superseded beyond the
        retention window), and expire snapshot files that fell out of
        the window. With the default snapshot_retain=2 this is the
        original contract: the previous manifest's chunks get a
        one-commit grace period so a reader that resolved paths from it
        never has files removed mid-scan. Best-effort."""
        if not os.path.isdir(self.path):
            return
        live = {(str(c), int(g)) for c, g in man["chunks"].items()}
        live |= {(str(c), int(g))
                 for c, g in man.get("prev_chunks", {}).items()}
        maps = self._snapshot_maps()
        retained = sorted(maps)[-self.snapshot_retain:]
        for g0 in retained:
            live |= {(str(c), int(g))
                     for c, g in maps[g0]["chunks"].items()}
        sdir = os.path.join(self.path, self.SNAPSHOT_DIR)
        if os.path.isdir(sdir):
            for fn in os.listdir(sdir):
                if fn.startswith("gen=") and fn.endswith(".json"):
                    try:
                        g = int(fn[len("gen="):-len(".json")])
                    except ValueError:
                        continue
                    if g not in retained:
                        try:
                            os.unlink(os.path.join(sdir, fn))
                        except OSError:
                            pass
        for gdir in os.listdir(self.path):
            if not gdir.startswith("gen="):
                continue
            g = int(gdir.split("=", 1)[1])
            gpath = os.path.join(self.path, gdir)
            for cdir in os.listdir(gpath):
                if not cdir.startswith("chunk="):
                    continue
                if (cdir.split("=", 1)[1], g) not in live:
                    shutil.rmtree(os.path.join(gpath, cdir))
            if not any(e.startswith("chunk=") for e in os.listdir(gpath)):
                shutil.rmtree(gpath)

    # -- operations ---------------------------------------------------------
    def materialize(self, events: DataFrame) -> None:
        with self._writer_lease():
            # a (re-)materialize starts a new history: stale snapshot
            # descriptors from a previous store life must not leak into
            # the new retention window
            sdir = os.path.join(self.path, self.SNAPSHOT_DIR)
            if os.path.isdir(sdir):
                shutil.rmtree(sdir, ignore_errors=True)
            states = _with_chunk(
                self._partial(events, self.on, self.by, self.value_col,
                              self.window_micros),
                self.chunk_windows,
            )
            self._write_generation(states, 0)
            chunks = sorted(
                int(d.split("=", 1)[1])
                for d in os.listdir(os.path.join(self.path, "gen=0"))
                if d.startswith("chunk=")
            )
            self._publish({
                "gen": 0,
                "chunks": {str(c): 0 for c in chunks},
                "last_batch": None,
                "layout": self._layout(),
            })

    def refresh(
        self, spark: SparkSession, delta: DataFrame, batch_id=None
    ) -> dict:
        with self._writer_lease():
            return self._refresh_locked(spark, delta, batch_id)

    def _refresh_locked(
        self, spark: SparkSession, delta: DataFrame, batch_id=None
    ) -> dict:
        # manifest is read UNDER the lease — a concurrent refresh that
        # committed while we waited is visible here, so its generation
        # cannot be lost
        man = self._checked_manifest()
        if man["gen"] < 0:  # this refresh creates the store
            man["layout"] = self._layout()
        # streaming batch ids are MONOTONIC per checkpoint, so the
        # committed-batch state is a single high-water mark (a list
        # would grow without bound over a long-lived stream and cost a
        # linear scan + full rewrite every commit)
        if (
            batch_id is not None
            and man["last_batch"] is not None
            and batch_id <= man["last_batch"]
        ):
            return {"touched_chunks": [], "delta_states": 0,
                    "skipped_committed_batch": True}
        dp = _with_chunk(
            self._partial(delta, self.on, self.by, self.value_col,
                          self.window_micros),
            self.chunk_windows,
        ).persist()
        # one probe job gives both the touched chunks and the delta's
        # state count
        probe = dp.groupBy("chunk").count().collect()
        touched = [r["chunk"] for r in probe]
        if not touched:
            dp.unpersist()
            return {"touched_chunks": [], "delta_states": 0}
        n_delta = sum(int(r["count"]) for r in probe)
        have = [c for c in touched if str(c) in man["chunks"]]
        combined = dp.drop("chunk")
        if have:
            combined = combined.unionByName(
                self.read(spark, chunks=have).drop("chunk")
            )
        merged = _with_chunk(
            self._merge(combined, self.by), self.chunk_windows
        )
        gen = man["gen"] + 1
        self._write_generation(merged, gen)
        prev = {"chunks": dict(man["chunks"])}
        man["gen"] = gen
        for c in touched:
            man["chunks"][str(c)] = gen
        if batch_id is not None:
            man["last_batch"] = batch_id
        self._publish(man, prev=prev)  # <- the commit point; everything
        #    before is invisible to readers and replayed safely
        self._gc(man)
        dp.unpersist()
        return {"touched_chunks": sorted(touched), "delta_states": n_delta}

    def delete_keys(
        self, spark: SparkSession, keys: list, key_col: str | None = None,
        purge_history: bool = True,
    ) -> dict:
        """Right-to-be-forgotten on the snapshot store: rewrite every
        chunk containing states of the given keys, committed through
        the normal snapshot path (a crash mid-erasure leaves the prior
        snapshot fully intact; re-run converges).

        ``purge_history=True`` (the compliance default) also truncates
        the time-travel history to THIS commit — retained snapshots
        would otherwise keep resolving chunk versions that still
        contain the erased keys. ``False`` preserves the read_at()
        window (audit use; the erased data stays readable until the
        older snapshots age out of the retention window)."""
        key_col = key_col or self.by[0]
        raw_keys = set(keys)
        if not raw_keys:
            return {"touched_chunks": [], "states_deleted": 0}
        with self._writer_lease():
            man = self._checked_manifest()
            store = self.read(spark)
            # normalize the batch against the STORE's key type: a mixed
            # int/str list must neither crash Python's cross-type sort
            # nor reach Catalyst as an ANSI-cast landmine — a key that
            # cannot be the column's type is a caller bug, reported as
            # a typed error (compliance code must not silently skip)
            from pyspark.sql.types import IntegralType, StringType

            kdt = store.schema[key_col].dataType
            if isinstance(kdt, IntegralType):
                try:
                    ks = sorted({int(k) for k in raw_keys})
                except (TypeError, ValueError) as exc:
                    raise TypeError(
                        f"delete_keys: key column {key_col!r} is {kdt}; "
                        f"every key must be integer-coercible ({exc})"
                    ) from exc
            elif isinstance(kdt, StringType):
                ks = sorted(str(k) for k in raw_keys)
            else:
                ks = sorted(raw_keys,
                            key=lambda k: (k.__class__.__name__, str(k)))
            key = F.col(key_col)
            probe = (
                key_set_filter(spark, store, key, ks)
                .groupBy("chunk").count().collect()
            )
            if not probe:
                return {"touched_chunks": [], "states_deleted": 0}
            touched = sorted(int(r["chunk"]) for r in probe)
            n_del = sum(int(r["count"]) for r in probe)
            kept = key_set_filter(
                spark, self.read(spark, chunks=touched), key, ks, keep=True
            )
            gen = man["gen"] + 1
            self._write_generation(kept, gen)
            written = {
                int(d.split("=", 1)[1])
                for d in os.listdir(os.path.join(self.path, f"gen={gen}"))
                if d.startswith("chunk=")
            }
            prev = {"chunks": dict(man["chunks"])}
            man["gen"] = gen
            for c in touched:
                if c in written:
                    man["chunks"][str(c)] = gen
                else:
                    # every state in the chunk belonged to erased keys
                    del man["chunks"][str(c)]
            self._publish(man, prev=prev)
            if purge_history:
                sdir = os.path.join(self.path, self.SNAPSHOT_DIR)
                if os.path.isdir(sdir):
                    for fn in os.listdir(sdir):
                        if (fn.startswith("gen=") and fn.endswith(".json")
                                and fn != f"gen={gen}.json"):
                            try:
                                os.unlink(os.path.join(sdir, fn))
                            except OSError:
                                pass
                # prev_chunks would also grant the superseded (dirty)
                # chunk versions a one-commit GC grace — drop it so the
                # erased bytes leave disk NOW
                man.pop("prev_chunks", None)
                self._publish(man)
            self._gc(man)
            return {"touched_chunks": touched, "states_deleted": n_del}

    def expire(self, keep_from_widx: int) -> list[int]:
        """Retention on the snapshot store: drop every chunk whose LAST
        window is older than ``keep_from_widx``. Eviction here is a
        pure manifest edit — one atomic file replace de-references the
        expired chunks; their directories go in the same best-effort GC
        that cleans superseded generations. Boundary chunks containing
        any live window are kept (same floor rule as
        retention.RetentionPolicy.cutoff_chunk)."""
        with self._writer_lease():
            cut = keep_from_widx // self.chunk_windows
            man = self._checked_manifest()
            doomed = sorted(int(c) for c in man["chunks"] if int(c) < cut)
            if not doomed:
                return []
            prev = {"chunks": dict(man["chunks"])}
            for c in doomed:
                del man["chunks"][str(c)]
            # an eviction is a COMMIT: bump the manifest generation so
            # its snapshot gets its own id instead of overwriting the
            # last refresh's (no gen=N data directory is written — gen
            # directory numbers may skip, which readers never see)
            man["gen"] = man["gen"] + 1
            self._publish(man, prev=prev)
            self._gc(man)
            return doomed


def cagg_realtime(
    spark: SparkSession,
    store: CaggSnapshotStore,
    raw_tail: DataFrame,
    materialized_until_widx: int,
) -> DataFrame:
    """Real-time continuous-aggregate view: finalized results over the
    UNION of the committed ``store`` (windows <= the materialization
    watermark) and an on-the-fly partial aggregate of the raw tail
    (windows beyond it), in the store's layout. TimescaleDB's real-time
    aggregate semantics: queries see current data without waiting for
    the next refresh, and the expensive history comes from the store,
    never from raw.

    The store read lists only the chunks at/below the watermark chunk;
    the raw tail is filtered to windows strictly above the watermark
    before aggregating, so the two sides are disjoint by construction
    and no merge across the boundary is needed (a window is either
    fully materialized or fully fresh — refresh cadence defines the
    split).
    """
    fresh = cagg_partial(
        raw_tail, store.on, store.by, store.value_col, store.window_micros
    ).where(F.col("widx") > materialized_until_widx)
    wm_chunk = materialized_until_widx // store.chunk_windows
    chunks = [c for c in store.manifest()["chunks"] if int(c) <= wm_chunk]
    if not chunks:
        return cagg_finalize(fresh, store.by)
    hist = (
        store.read(spark, chunks=chunks)
        .where(F.col("widx") <= materialized_until_widx)
        .drop("chunk")
    )
    return cagg_finalize(hist.unionByName(fresh), store.by)
