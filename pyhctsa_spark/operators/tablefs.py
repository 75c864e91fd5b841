"""Table lifecycle on the filesystem: the snapshot table that the
continuous-aggregate store and the four persistent indexes commit
through, and the directory swap, crash recovery and atomic file publish
that the rollup chunk store and the rollup checkpoint use.

Snapshot table (``SnapshotTable``). A table is a directory of named
sub-tables, each written into a new ``<path>/<name>/gen=<G>/``
directory that is never changed once written (name ``""`` puts the
generations at the top: the cagg store's ``<path>/gen=G/chunk=C/``).
One manifest, ``_MANIFEST.json``, is the only mutable file and is
replaced with ``publish``. It records the committed generation, each
sub-table's live directories, the table's ``props`` (build parameters),
the ``last_batch`` a stream committed and the ``history``: the earlier
snapshots still readable (``retain - 1`` of them). A reader resolves
the manifest once and reads exactly the directories it names, so it
sees one committed snapshot and never mutates the table. A writer holds
the writer lease, writes its new generation, then commits by publishing
the manifest; a crash before the publish leaves the previous snapshot
untouched, and its orphan directories are deleted by the next writer.
GC keeps every directory a retained snapshot names, so a reader that
resolved the previous manifest keeps its files for one commit. An
erasure commits with ``keep_history=False``: the history is dropped in
the same publish and GC removes every superseded file at once.

Directory swap (rollup chunk store only). A table directory ``d`` is
rewritten into a sibling and moved in with two renames: ``d`` ->
``.compact_old.<base>``, the new directory -> ``d``, then the old copy
is deleted. The hidden sibling names (``swap_names``) start with a dot,
so neither Spark partition discovery nor retention's ``chunk=`` listing
ever reads a half-swapped directory as live data. (Spark hides a name
that starts with ``_`` only when it holds no ``=``:
``_compact_old.chunk=3`` would be parsed as a partition directory and
break every read of the store.) ``.compact_tmp.<base>`` is where
writers stage the new copy next to ``d``. A crash leaves one of three
states, and ``recover`` repairs each of them:

- ``.compact_tmp.<base>`` exists (crash before the swap): drop it; the
  live table is intact.
- ``.compact_old.<base>`` exists and ``d`` does not (crash between the
  two renames): rename the old copy back to ``d``.
- both exist (crash before the old copy was deleted): drop the old copy.

``recover`` sweeps a whole parent directory for these names, and also
for the underscore names (``_compact_tmp.``, ``_compact_old.``) that
the swap used before, so a caller never lists which of its tables can
be mid-swap. ``stranded`` lists the second state's old copies without
touching them, for a reader that must count every row.

File publish. ``publish`` writes ``path + ".tmp"`` and moves it over
``path`` with ``os.replace``: a reader sees the previous file or the
new one, never a truncated one, and a failed write leaves the previous
file in place and no ``.tmp`` behind. ``staged`` is that step for a
caller that writes the temporary file itself (the rollup checkpoint's
parquet parts, staged under hidden ``.part-*`` names). ``append_rows``
adds one such staged parquet part to a table directory: the audit logs
of retention, compaction and deletion grow this way, with no Spark job.

Guarantees. ``os.rename`` and ``os.replace`` are atomic within one POSIX
filesystem, so each step above is all-or-nothing against a process
crash. The snapshot table's only atomic steps are the manifest publish
and the lease file's exclusive create. Nothing is fsynced, so a power
loss can still lose the last step. On object stores a rename is a copy
plus a delete: there the swap is NOT atomic, and a reader can see a
partly copied directory.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq

_TMP = ".compact_tmp."
_OLD = ".compact_old."
# with the underscore prefixes of the earlier naming (same length), which
# a crash under it can have left behind
_TMPS = (_TMP, "_compact_tmp.")
_OLDS = (_OLD, "_compact_old.")


def swap_names(d: str) -> tuple[str, str]:
    """The hidden (tmp, old) sibling paths of table directory ``d``."""
    parent, base = os.path.split(d)
    return os.path.join(parent, _TMP + base), os.path.join(parent, _OLD + base)


def replace_dir(src: str, d: str) -> None:
    """Move directory ``src`` in as ``d``: ``d`` -> old, ``src`` -> ``d``,
    drop old. ``d`` may be absent (the first write of a table)."""
    old = swap_names(d)[1]
    had_live = os.path.exists(d)
    if had_live:
        os.rename(d, old)
    os.rename(src, d)
    if had_live:
        shutil.rmtree(old)


def recover(parent: str) -> None:
    """Repair every swap a crash left unfinished under ``parent`` (see
    the module docstring for the three states). A missing ``parent``
    and a second call are no-ops."""
    if not os.path.isdir(parent):
        return
    for e in os.listdir(parent):
        p, live = os.path.join(parent, e), os.path.join(parent, e[len(_OLD):])
        if e.startswith(_OLDS) and not os.path.exists(live):
            os.rename(p, live)
        elif e.startswith(_TMPS + _OLDS):
            shutil.rmtree(p)


def stranded(parent: str) -> list[str]:
    """Read-only: the old copies under ``parent`` whose live directory is
    missing (a swap between its two renames), each the only copy of its
    table until ``recover`` renames it back."""
    names = os.listdir(parent) if os.path.isdir(parent) else []
    return [os.path.join(parent, e) for e in sorted(names)
            if e.startswith(_OLDS) and e[len(_OLD):] not in names]


@contextmanager
def staged(tmp: str, path: str) -> Iterator[str]:
    """Write the file ``path`` through ``tmp``: a clean exit moves
    ``tmp`` over ``path`` with ``os.replace``, an error removes ``tmp``
    and leaves ``path`` as it was."""
    try:
        yield tmp
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)


def publish(path: str, text: str) -> None:
    """Atomically replace the file ``path`` with ``text``, creating its
    parent directory if needed."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with staged(path + ".tmp", path) as tmp, open(tmp, "w") as f:
        f.write(text)


def append_rows(d: str, rows: list[dict], schema: pa.Schema) -> None:
    """Append ``rows`` to the parquet table directory ``d`` as one new
    part file, written under a hidden ``.part-*`` name and moved in by
    ``staged``: a reader sees all of the rows or none of them. No rows
    write nothing and leave ``d`` uncreated."""
    if not rows:
        return
    os.makedirs(d, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.snappy.parquet"
    path = os.path.join(d, name)
    with staged(os.path.join(d, "." + name), path) as tmp:
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp,
                       compression="snappy", store_schema=False)


def parquet_parts(d: str) -> list[str]:
    """Every parquet data file under ``d``, at any depth."""
    return [os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs
            if f.endswith(".parquet") and not f.startswith(("_", "."))]


def footer_rows(d: str) -> int:
    """Rows under ``d``, summed from the parquet footers (no Spark job)."""
    return sum(pq.read_metadata(f).num_rows for f in parquet_parts(d))


def _prune(root: str, rel: str, keep: set) -> None:
    """Delete ``root/rel`` unless a directory in ``keep`` is it or lies
    under it; descend into a directory that holds kept ones."""
    if rel in keep:
        return
    p = os.path.join(root, rel)
    if not any(k.startswith(rel + "/") for k in keep):
        shutil.rmtree(p, ignore_errors=True)
        return
    for e in os.listdir(p):
        if os.path.isdir(os.path.join(p, e)):
            _prune(root, f"{rel}/{e}", keep)


class SnapshotTable:
    """Named sub-tables committed together as one snapshot (see the
    module docstring). ``retain`` (at least 2) is how many snapshots a
    commit keeps readable: the current one and ``retain - 1`` in the
    history."""

    MANIFEST = "_MANIFEST.json"
    WRITER_LOCK = "_WRITER.lock"
    LEASE_SEC = 300.0

    def __init__(self, path: str, retain: int = 2) -> None:
        self.path = path
        self.retain = max(2, int(retain))
        self.lock = os.path.join(path, self.WRITER_LOCK)
        self._token: str | None = None
        self._base: dict | None = None

    # -- readers -----------------------------------------------------------
    def manifest(self) -> dict:
        """The committed manifest (generation -1 before the first
        commit)."""
        try:
            with open(os.path.join(self.path, self.MANIFEST)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"gen": -1, "tables": {}, "props": {},
                    "last_batch": None, "history": []}

    def committed(self, batch_id, man: dict | None = None) -> bool:
        """Whether stream batch ``batch_id`` is already committed in
        ``man`` (default: the committed manifest). Batch ids grow
        monotonically per stream, so the manifest keeps only the last
        one."""
        last = (man or self.manifest())["last_batch"]
        return batch_id is not None and last is not None \
            and batch_id <= last

    def root(self, name: str) -> str:
        return os.path.join(self.path, name) if name else self.path

    def read(self, spark, name: str, man: dict | None = None,
             dirs: list[str] | None = None):
        """Sub-table ``name`` of the manifest ``man`` (default: the
        committed one), or only its live directories ``dirs``, as one
        scan of the listed generation directories; ``None`` when no
        directory is live. Partition columns under a generation (e.g.
        ``term_bucket``) stay prunable."""
        if dirs is None:
            dirs = (man or self.manifest())["tables"].get(name, [])
        if not dirs:
            return None
        root = self.root(name)
        return (spark.read.option("basePath", root)
                .parquet(*(os.path.join(root, d) for d in dirs))
                .drop("gen"))

    # -- writers -----------------------------------------------------------
    def gen_dir(self, name: str, man: dict) -> str:
        """Where sub-table ``name`` of the pending commit ``man`` is
        written."""
        return os.path.join(self.root(name), f"gen={man['gen']}")

    def write(self, man: dict, name: str, df, *partition_by: str,
              replace: bool = True) -> str:
        """Write the DataFrame ``df`` (partitioned by ``partition_by``) as
        the pending generation of sub-table ``name`` and record it in
        ``man``, in place of the sub-table's live directories or
        (``replace=False``) beside them; returns the directory. A write
        of no rows under ``partition_by`` leaves no parquet file and is
        not recorded."""
        d = self.gen_dir(name, man)
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(d)
        live = [] if replace else man["tables"].get(name, [])
        if parquet_parts(d):
            live = live + [os.path.relpath(d, self.root(name))]
        man["tables"][name] = live
        return d

    @contextmanager
    def writer(self, timeout: float = 60.0) -> Iterator[dict]:
        """Hold the writer lease and yield the pending commit: the
        committed manifest, read under the lease, with the next
        generation number. Leftovers of a crashed writer are deleted
        first. Nothing is visible until ``commit``."""
        with self._lease(timeout):
            self._base = self.manifest()
            self._gc(self._base)
            man = json.loads(json.dumps(self._base))
            man["gen"] += 1
            yield man

    def commit(self, man: dict, keep_history: bool = True) -> None:
        """Publish ``man`` (the commit point), then delete what no
        retained snapshot names. ``keep_history=False`` drops every
        earlier snapshot in the same publish (erasure)."""
        base = self._base
        snap = {k: base.get(k) for k in ("gen", "tables", "last_batch",
                                         "committed_at")}
        hist = (base["history"] + [snap]
                if keep_history and base["gen"] >= 0 else [])
        man = {**man, "history": hist[-(self.retain - 1):],
               "committed_at": time.time()}
        # a writer whose lease expired mid-write and was taken over must
        # not publish over the usurper's commit. (A steal between this
        # check and the publish stays possible in a microsecond window:
        # closing it needs a compare-and-swap commit of a catalog.)
        try:
            with open(self.lock) as f:
                held = f.read().split()[0]
        except (OSError, IndexError):
            held = None
        if held != self._token:
            raise RuntimeError(
                f"writer lease on {self.lock} was lost before commit (it "
                "expired mid-write and another writer took over); "
                "aborting the publish, re-run the write")
        publish(os.path.join(self.path, self.MANIFEST), json.dumps(man))
        self._base = man
        self._gc(man)

    def _gc(self, man: dict) -> None:
        """Delete every generation directory that no retained snapshot
        names: orphans of crashed writes and versions superseded beyond
        the history."""
        if not os.path.isdir(self.path):
            return
        keep: dict[str, set] = {}
        for snap in (man, *man["history"]):
            for name, dirs in snap["tables"].items():
                keep.setdefault(name, set()).update(dirs)
        names = {"", *keep} | {e for e in os.listdir(self.path)
                               if not e.startswith(("_", ".", "gen="))}
        for name in names:
            root = self.root(name)
            if os.path.isdir(root):
                for g in os.listdir(root):
                    if g.startswith("gen="):
                        _prune(root, g, keep.get(name, set()))

    @contextmanager
    def _lease(self, timeout: float) -> Iterator[None]:
        """Exclusive writer lease via an O_CREAT|O_EXCL lock file.

        The lock records ``<token> <expiry>`` where token is unique per
        acquisition. Stale-lease takeover renames the lock to a unique
        name (atomic — one winner per file) and then RE-READS the
        renamed file: if its content differs from the expired lease that
        was inspected, the rename grabbed a FRESH lock a racing waiter
        created in between, so it is renamed back and the poll resumes
        (closes the inspect/rename TOCTOU). An unreadable lock (writer
        crashed between create and write, or disk-full truncation) gets
        a short mtime-based grace instead of blocking forever. Release
        and commit are ownership-checked by token, so a writer whose
        lease expired mid-job can neither delete the usurper's lock nor
        silently publish over its commit. Not fair, but safe, and
        readers never block.
        """
        os.makedirs(self.path, exist_ok=True)
        lock = self.lock
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
        self._token = token
        try:
            yield
        finally:
            self._token = None
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
