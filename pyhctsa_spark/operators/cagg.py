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


def _chunk_map(dirs: list[str]) -> dict[str, int]:
    """{chunk: generation} of live ``gen=G/chunk=C`` directories."""
    return {c.split("=", 1)[1]: int(g.split("=", 1)[1])
            for g, c in (d.split("/") for d in dirs)}


class CaggSnapshotStore:
    """Snapshot-committed continuous-aggregate store (Iceberg-lite).

    Rewriting chunk directories in place is not crash-atomic: a failure
    mid-refresh (or a replayed streaming batch after a crash between
    data write and commit) could double-merge a delta. This store is a
    ``tablefs.SnapshotTable`` whose one sub-table holds the states:

    - chunk data lives under ``<path>/gen=<G>/chunk=<C>/`` — generation
      directories are IMMUTABLE once referenced;
    - the table's manifest names each chunk's live directory, the store
      layout and the committed-batch high-water mark;
    - a refresh writes its touched chunks into a brand-new generation,
      then commits a manifest pointing those chunks at it. Crash before
      the commit: the old manifest still references the old chunk
      versions, so a replay recomputes from unchanged inputs —
      exactly-once without coordination. The orphaned generation is
      deleted by the next writer;
    - a committed ``batch_id`` makes the refresh a no-op (streaming
      foreachBatch redelivery).

    Writes serialize on the table's writer lease; readers need no lock
    and keep the files of the previous snapshot for one commit. The
    last ``snapshot_retain`` snapshots stay readable through
    ``read_at``.

    On a real warehouse this is an Iceberg/Delta snapshot commit; the
    manifest here is the sandbox stand-in with identical semantics.
    """

    MANIFEST = tablefs.SnapshotTable.MANIFEST

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
        merge-fn group key present in the partial output.
        ``snapshot_retain`` (at least 2) is how many committed
        snapshots stay readable, Iceberg's snapshot-expiry knob."""
        self.path = path
        self.by = list(by or ["user_id"])
        self.on = on
        self.value_col = value_col
        self.window_micros = window_micros
        self.chunk_windows = chunk_windows
        self._partial = partial_fn or cagg_partial
        self._merge = merge_fn or cagg_merge
        self.table = tablefs.SnapshotTable(path, retain=snapshot_retain)
        self.snapshot_retain = self.table.retain

    # -- manifest ----------------------------------------------------------
    def manifest(self) -> dict:
        """The committed snapshot: ``gen``, ``chunks`` ({chunk:
        generation}), ``last_batch`` and, when recorded, ``layout``."""
        man = self.table.manifest()
        return {"gen": man["gen"],
                "chunks": _chunk_map(man["tables"].get("", [])),
                "last_batch": man["last_batch"], **man["props"]}

    def _layout(self) -> dict:
        return {"window_micros": int(self.window_micros),
                "chunk_windows": int(self.chunk_windows), "by": self.by}

    def _check_layout(self, man: dict) -> None:
        """Refuse a write through another layout. Windows are numbered
        per ``window_micros`` and chunks per ``chunk_windows``, so such a
        write would miss the states it must merge or evict and commit
        duplicate (key, window) states. A manifest that records no
        layout (a store written before layouts were recorded) is
        accepted as it is."""
        have = man["props"].get("layout")
        if have is not None and have != self._layout():
            raise ValueError(
                f"cagg store {self.path} was materialized with layout "
                f"{have}; this store object has {self._layout()}"
            )

    # -- snapshots (time travel) -------------------------------------------
    def _snapshots(self) -> dict[int, dict]:
        man = self.table.manifest()
        return {s["gen"]: s for s in (*man["history"], man) if s["gen"] >= 0}

    def snapshots(self) -> list[dict]:
        """Retained snapshot descriptors, oldest first — the read_at()
        horizon."""
        return [
            {"gen": g, "n_chunks": len(s["tables"].get("", [])),
             "committed_at": s.get("committed_at"),
             "last_batch": s["last_batch"]}
            for g, s in sorted(self._snapshots().items())
        ]

    def read_at(self, spark: SparkSession, gen: int) -> DataFrame:
        """Time travel: the committed view AS OF generation ``gen``.
        Any generation still inside the retention window resolves to
        its exact chunk versions — a refresh after a bad delta can be
        audited against the pre-refresh snapshot, the Iceberg
        ``VERSION AS OF`` read."""
        snaps = self._snapshots()
        if gen not in snaps:
            raise ValueError(
                f"generation {gen} is not a retained snapshot "
                f"(retained: {sorted(snaps)}; snapshot_retain="
                f"{self.snapshot_retain})"
            )
        df = self.table.read(spark, "", snaps[gen])
        if df is None:
            raise ValueError(f"snapshot gen={gen} references no chunks")
        return df

    # -- io ----------------------------------------------------------------
    def read(self, spark: SparkSession, chunks=None) -> DataFrame:
        """The committed view (optionally restricted to given chunks).
        Pruning is structural: only the referenced chunk directories are
        ever listed — no filter needed, no orphan generation is read."""
        dirs = self.table.manifest()["tables"].get("", [])
        if chunks is not None:
            want = {f"chunk={c}" for c in chunks}
            dirs = [d for d in dirs if d.split("/")[1] in want]
        df = self.table.read(spark, "", dirs=dirs)
        if df is None:
            raise ValueError("snapshot store is empty — materialize first")
        return df

    def _write_generation(self, states: DataFrame, man: dict) -> set[str]:
        """Write ``states`` as the pending commit's generation; returns
        the chunks it holds."""
        d = self.table.gen_dir("", man)
        (
            # repartition on chunk: each chunk dir gets ONE part file
            # instead of one per shuffle task — an exchange of merged
            # STATES (tiny), bought back many times over in scan opens
            states.repartition("chunk")
            .write.mode("overwrite")  # clobbers a crashed attempt
            .partitionBy("chunk")
            .parquet(d)
        )
        return {e.split("=", 1)[1] for e in os.listdir(d)
                if e.startswith("chunk=")}

    def _commit(self, man: dict, touched, written: set[str], batch_id=None,
                keep_history: bool = True) -> None:
        """Point each touched chunk at the pending generation, or drop it
        when the generation holds none of its states, and commit."""
        chunks = _chunk_map(man["tables"].get("", []))
        for c in map(str, touched):
            if c in written:
                chunks[c] = man["gen"]
            else:
                chunks.pop(c, None)
        man["tables"][""] = sorted(f"gen={g}/chunk={c}"
                                   for c, g in chunks.items())
        if batch_id is not None:
            man["last_batch"] = batch_id
        self.table.commit(man, keep_history=keep_history)

    # -- operations ---------------------------------------------------------
    def materialize(self, events: DataFrame) -> None:
        """(Re)build the store from ``events``; starts a new history."""
        with self.table.writer() as man:
            states = _with_chunk(
                self._partial(events, self.on, self.by, self.value_col,
                              self.window_micros),
                self.chunk_windows,
            )
            written = self._write_generation(states, man)
            man.update(tables={}, props={"layout": self._layout()},
                       last_batch=None)
            self._commit(man, written, written, keep_history=False)

    def refresh(
        self, spark: SparkSession, delta: DataFrame, batch_id=None
    ) -> dict:
        # the manifest is read UNDER the lease — a concurrent refresh
        # that committed while we waited is visible here, so its
        # generation cannot be lost
        with self.table.writer() as man:
            self._check_layout(man)
            if man["gen"] == 0:  # this refresh creates the store
                man["props"]["layout"] = self._layout()
            if self.table.committed(batch_id, man):
                return {"touched_chunks": [], "delta_states": 0,
                        "skipped_committed_batch": True}
            dp = _with_chunk(
                self._partial(delta, self.on, self.by, self.value_col,
                              self.window_micros),
                self.chunk_windows,
            ).persist()
            # one probe job gives both the touched chunks and the
            # delta's state count
            probe = dp.groupBy("chunk").count().collect()
            touched = [r["chunk"] for r in probe]
            if not touched:
                dp.unpersist()
                return {"touched_chunks": [], "delta_states": 0}
            n_delta = sum(int(r["count"]) for r in probe)
            chunks = _chunk_map(man["tables"].get("", []))
            have = [c for c in touched if str(c) in chunks]
            combined = dp.drop("chunk")
            if have:
                combined = combined.unionByName(
                    self.read(spark, chunks=have).drop("chunk")
                )
            merged = _with_chunk(
                self._merge(combined, self.by), self.chunk_windows
            )
            self._commit(man, touched, self._write_generation(merged, man),
                         batch_id)
            dp.unpersist()
            return {"touched_chunks": sorted(touched),
                    "delta_states": n_delta}

    def delete_keys(
        self, spark: SparkSession, keys: list, key_col: str | None = None,
        purge_history: bool = True,
    ) -> dict:
        """Right-to-be-forgotten on the snapshot store: rewrite every
        chunk containing states of the given keys, committed through
        the normal snapshot path (a crash mid-erasure leaves the prior
        snapshot fully intact; re-run converges).

        ``purge_history=True`` (the compliance default) drops the
        time-travel history in the erasure's own commit, and the
        superseded chunk versions leave disk right after it (or, after
        a crash, when the next writer takes the lease). ``False``
        preserves the read_at() window (audit use; the erased data stays
        readable until the older snapshots age out of the retention
        window)."""
        key_col = key_col or self.by[0]
        raw_keys = set(keys)
        if not raw_keys:
            return {"touched_chunks": [], "states_deleted": 0}
        with self.table.writer() as man:
            self._check_layout(man)
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
            self._commit(man, touched, self._write_generation(kept, man),
                         keep_history=not purge_history)
            return {"touched_chunks": touched, "states_deleted": n_del}

    def expire(self, keep_from_widx: int) -> list[int]:
        """Retention on the snapshot store: drop every chunk whose LAST
        window is older than ``keep_from_widx``. Eviction here is a
        pure manifest edit — one commit de-references the expired
        chunks (with its own generation number, though it writes no
        data); their directories go after the one-commit reader grace.
        Boundary chunks containing any live window are kept (same floor
        rule as retention.RetentionPolicy.cutoff_chunk)."""
        with self.table.writer() as man:
            self._check_layout(man)
            cut = keep_from_widx // self.chunk_windows
            chunks = _chunk_map(man["tables"].get("", []))
            doomed = sorted(int(c) for c in chunks if int(c) < cut)
            if doomed:
                self._commit(man, doomed, set())
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
