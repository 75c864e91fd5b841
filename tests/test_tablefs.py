"""The table lifecycle (operators/tablefs.py): crash repair of the
tmp/old directory swap on plain directories, the swap itself, and the
atomic file publish that the checkpoint snapshot and the snapshot
table's manifest go through — a write that fails halfway must leave the
previous file byte-identical and no ``.tmp`` behind."""

import builtins
import errno
import json
import os

import pytest

from pyhctsa_spark.operators.tablefs import (
    recover,
    replace_dir,
    stranded,
    swap_names,
)


def _table(d, tag):
    os.makedirs(d)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write(tag)


def _tag(d):
    with open(os.path.join(d, "part-0.parquet")) as f:
        return f.read()


def test_recover_repairs_each_crash_state(tmp_path):
    parent = str(tmp_path)
    # crash before the swap: a staged tmp next to the intact live table
    a = os.path.join(parent, "a")
    _table(a, "a-live")
    _table(swap_names(a)[0], "a-new")
    # crash between the two renames: only the old copy is left
    b = os.path.join(parent, "b")
    _table(swap_names(b)[1], "b-live")
    # crash before cleanup: the new table is live, the old copy remains
    c = os.path.join(parent, "c")
    _table(c, "c-new")
    _table(swap_names(c)[1], "c-old")

    # a reader finds b's only copy and moves nothing
    listing = sorted(os.listdir(parent))
    assert stranded(parent) == [swap_names(b)[1]]
    assert sorted(os.listdir(parent)) == listing
    recover(parent)
    assert stranded(parent) == []
    assert (_tag(a), _tag(b), _tag(c)) == ("a-live", "b-live", "c-new")
    assert sorted(os.listdir(parent)) == ["a", "b", "c"]
    # a second pass finds nothing to repair and changes nothing
    recover(parent)
    assert sorted(os.listdir(parent)) == ["a", "b", "c"]
    assert (_tag(a), _tag(b), _tag(c)) == ("a-live", "b-live", "c-new")
    recover(os.path.join(parent, "missing"))  # no parent: a no-op


def test_recover_repairs_underscore_named_leftovers(tmp_path):
    """The swap siblings were once named ``_compact_tmp.<base>`` and
    ``_compact_old.<base>``; a crash under that naming is repaired the
    same way."""
    parent = str(tmp_path)
    a, b, c = (os.path.join(parent, n) for n in "abc")
    _table(a, "a-live")
    _table(os.path.join(parent, "_compact_tmp.a"), "a-new")
    _table(os.path.join(parent, "_compact_old.b"), "b-live")
    _table(c, "c-new")
    _table(os.path.join(parent, "_compact_old.c"), "c-old")
    assert stranded(parent) == [os.path.join(parent, "_compact_old.b")]
    recover(parent)
    assert (_tag(a), _tag(b), _tag(c)) == ("a-live", "b-live", "c-new")
    assert sorted(os.listdir(parent)) == ["a", "b", "c"]


@pytest.mark.parametrize("leftover", ["tmp", "old"])
def test_spark_reads_chunk_store_beside_swap_leftovers(spark, tmp_path,
                                                       leftover):
    """Spark hides a name starting with ``_`` only when it holds no
    ``=``, so the swap siblings of a ``chunk=`` directory must not be
    parsed as partitions: a store beside a staged tmp copy, or beside
    an old copy next to its live chunk, reads exactly its live rows."""
    import shutil

    from pyhctsa_spark.operators.retention import write_tier_chunked

    rows = [(f"d{i}", 0, w, float(w)) for i in range(3) for w in range(8)]
    store = str(tmp_path / "store")
    write_tier_chunked(
        spark.createDataFrame(
            rows, "doc_id string, tier int, window_idx long, mean double"),
        store, chunk_windows=4)
    live = os.path.join(store, "tier=0", "chunk=1")
    tmp, old = swap_names(live)
    shutil.copytree(live, tmp if leftover == "tmp" else old)
    got = (spark.read.parquet(store)
           .select("doc_id", "tier", "window_idx", "mean").collect())
    assert sorted(tuple(r) for r in got) == sorted(rows)


def test_replace_dir_with_and_without_live_table(tmp_path):
    d = str(tmp_path / "t")
    tmp, old = swap_names(d)
    _table(tmp, "first")
    replace_dir(tmp, d)  # d absent: the first write of a table
    assert _tag(d) == "first"
    _table(tmp, "second")
    replace_dir(tmp, d)
    assert _tag(d) == "second"
    assert os.listdir(str(tmp_path)) == ["t"]
    assert not os.path.exists(old)


@pytest.fixture
def torn_write(monkeypatch):
    """``arm(name)``: from then on, opening a file called ``name`` (or
    ``name + ".tmp"``) for writing returns a file whose first write
    stores half its text and then fails with ENOSPC — a write that dies
    partway, whichever code path serializes the JSON."""
    real_open = builtins.open

    class _Torn:
        def __init__(self, f):
            self._f = f

        def write(self, text):
            self._f.write(text[: len(text) // 2])
            self._f.flush()
            raise OSError(errno.ENOSPC, "injected: disk full mid-write")

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self._f.close()

    def arm(name):
        def torn_open(file, mode="r", *args, **kwargs):
            f = real_open(file, mode, *args, **kwargs)
            base = os.path.basename(str(file))
            if "w" in mode and base in (name, name + ".tmp"):
                return _Torn(f)
            return f

        monkeypatch.setattr(builtins, "open", torn_open)

    return arm


def _assert_survived(path, before):
    with open(path, "rb") as f:
        assert f.read() == before
    assert not os.path.exists(path + ".tmp")


def test_failed_snapshot_write_keeps_previous_snapshot(tmp_path, torn_write):
    from pyhctsa_spark.operators.checkpoint import RollupJob

    job = RollupJob(str(tmp_path / "store"), n_buckets=2)
    for b in range(2):
        job._commit({
            "bucket": b, "rows_read": 10, "windows_emitted": 3,
            "checksum_mismatches": 0, "output_bytes": 100,
        })
    job.snapshot()
    path = os.path.join(job.store_path, "_SNAPSHOT.json")
    with open(path, "rb") as f:
        before = f.read()

    torn_write("_SNAPSHOT.json")
    with pytest.raises(OSError, match="disk full"):
        job.snapshot()
    _assert_survived(path, before)
    assert json.loads(before)["complete"] is True


def test_failed_index_meta_write_keeps_previous_meta(
    spark, tmp_path, torn_write
):
    from pyhctsa_spark.operators.search_index import (
        build_search_index,
        read_index_meta,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "beta gamma delta")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "idx")
    meta = build_search_index(docs, idx, n_buckets=4)
    path = os.path.join(idx, "_MANIFEST.json")
    with open(path, "rb") as f:
        before = f.read()

    torn_write("_MANIFEST.json")
    with pytest.raises(OSError, match="disk full"):
        build_search_index(docs, idx, n_buckets=4)
    _assert_survived(path, before)
    assert read_index_meta(idx) == meta


# The audit-log DDLs that Spark-written logs already on disk carry.
_LOG_DDLS = {
    "retention": (
        "tier int, chunk long, n_files long, bytes long, "
        "watermark_widx long, horizon_windows long, evicted_at double"
    ),
    "compaction": (
        "tier int, chunk long, files_before long, bytes_before long, "
        "files_after long, bytes_after long, rows long, compacted_at double"
    ),
    "deletion": (
        "doc_id string, tier int, chunk long, n_rows long, requested_at double"
    ),
}


def _log_rows(ddl, seed):
    """Two rows of distinct values for the columns of ``ddl``; longs
    need more than 32 bits."""
    value = {"int": lambda i: i, "long": lambda i: i << 33,
             "double": lambda i: i / 7, "string": lambda i: f"doc{i}"}
    cols = [c.split() for c in ddl.split(", ")]
    return [{name: value[kind](seed * 100 + k * 10 + i)
             for i, (name, kind) in enumerate(cols)} for k in (0, 1)]


@pytest.mark.parametrize("log", sorted(_LOG_DDLS))
def test_append_rows_extends_a_spark_written_log(spark, tmp_path, log):
    """A log directory that already holds a Spark-written part reads
    back through its reader with the same Spark schema and every row
    after append_rows adds a part, and the appended part alone reads
    back with that schema too."""
    from pyhctsa_spark.operators import compaction, deletion, retention
    from pyhctsa_spark.operators._local_df import one_slice_df
    from pyhctsa_spark.operators.tablefs import append_rows

    module, reader = {
        "retention": (retention, retention.retention_log),
        "compaction": (compaction, compaction.compaction_log),
        "deletion": (deletion, deletion.deletion_log),
    }[log]
    ddl = _LOG_DDLS[log]
    store = str(tmp_path / "store")
    d = os.path.join(store, f"_{log}_log")
    old, new = _log_rows(ddl, 1), _log_rows(ddl, 2)
    one_slice_df(spark, old, ddl).write.parquet(d)
    before = set(os.listdir(d))
    append_rows(d, new, module._LOG_SCHEMA)
    (part,) = set(os.listdir(d)) - before
    want = spark.createDataFrame([], ddl).schema
    got = reader(spark, store)
    assert got.schema == want
    assert sorted(got.collect()) == sorted(
        spark.createDataFrame(old + new, ddl).collect())
    assert spark.read.parquet(os.path.join(d, part)).schema == want


def test_append_rows_writes_nothing_for_no_rows_or_a_failed_write(
        tmp_path, monkeypatch):
    """No rows create no directory; a write that fails halfway leaves no
    part file, visible or hidden, and the earlier parts unchanged."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyhctsa_spark.operators import tablefs

    schema = pa.schema([("tier", pa.int32()), ("chunk", pa.int64())])
    d = str(tmp_path / "_log")
    tablefs.append_rows(d, [], schema)
    assert not os.path.exists(d)
    tablefs.append_rows(d, [{"tier": 0, "chunk": 1}], schema)
    before = {f: open(os.path.join(d, f), "rb").read() for f in os.listdir(d)}
    real_write = pq.write_table

    def torn_write(table, where, **kw):
        real_write(table, where, **kw)
        with open(where, "r+b") as f:
            f.truncate(7)
        raise OSError(errno.EIO, "injected crash")

    monkeypatch.setattr(pq, "write_table", torn_write)
    with pytest.raises(OSError, match="injected crash"):
        tablefs.append_rows(d, [{"tier": 2, "chunk": 3}], schema)
    assert {f: open(os.path.join(d, f), "rb").read()
            for f in os.listdir(d)} == before
