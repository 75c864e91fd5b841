"""Bit-identity pin for every tier family and store cascade.

Rebuilds scripts/gen_rollup_golden.golden_table and compares it with the
committed tests/golden/rollup_families.parquet bit for bit: doubles are
compared as their int64 bit patterns (so NaN payloads count, and NaN
never equals NULL), state blobs byte for byte."""

import importlib.util
import os

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gen_module():
    path = os.path.join(REPO, "scripts", "gen_rollup_golden.py")
    spec = importlib.util.spec_from_file_location("gen_rollup_golden", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _bits(t: pa.Table) -> pa.Table:
    cols = []
    for c in t.columns:
        c = c.combine_chunks()
        if pa.types.is_float64(c.type):
            c = c.view(pa.int64())
        cols.append(c)
    return pa.table(cols, names=t.column_names)


def test_rollup_families_match_golden_bit_for_bit(spark):
    gen = _gen_module()
    want = _bits(pq.read_table(gen.GOLDEN))
    got = _bits(gen.golden_table(spark))
    assert got.schema == want.schema
    assert got.num_rows == want.num_rows
    for name in want.column_names:
        g, w = got.column(name), want.column(name)
        if not g.equals(w):
            bad = [i for i in range(len(w)) if g[i] != w[i]][:3]
            rows = [(got.column("case")[i].as_py(),
                     got.column("doc_id")[i].as_py(),
                     got.column("tier")[i].as_py(),
                     got.column("window_idx")[i].as_py()) for i in bad]
            raise AssertionError(f"column {name} differs at {rows}")
