"""Table lifecycle on the filesystem: the one directory swap, the one
crash recovery and the one atomic file publish that the chunk store,
the four persistent indexes, the rollup checkpoint, the snapshot
continuous aggregate and the streaming batch markers share.

Directory swap. A table directory ``d`` is rewritten into a sibling and
moved in with two renames: ``d`` -> ``.compact_old.<base>``, the new
directory -> ``d``, then the old copy is deleted. The hidden sibling
names (``swap_names``) start with a dot, so neither Spark partition
discovery nor retention's ``chunk=`` listing ever reads a half-swapped
directory as live data. (Spark hides a name that starts with ``_``
only when it holds no ``=``: ``_compact_old.chunk=3`` would be parsed
as a partition directory and break every read of the store.)
``.compact_tmp.<base>`` is where writers stage the new copy next to
``d``. A crash leaves one of three states, and ``recover`` repairs each
of them the same way everywhere:

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
crash, under the single-writer rule every caller already states (one
writer per table; readers may need to re-read after a swap). Nothing
is fsynced, so a power loss can still lose the last step. On object
stores a rename is a copy plus a delete: there the swap is NOT atomic,
and a reader can see a partly copied directory.
"""

from __future__ import annotations

import os
import shutil
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
