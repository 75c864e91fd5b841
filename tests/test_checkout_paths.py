"""The program names no file by this checkout's absolute path: a second
checkout of the repository must read and write its own fixtures,
goldens and scripts, so every such path is derived from ``__file__``."""

import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parents[1]


@pytest.mark.parametrize(
    "where", ["pyhctsa_spark", "jobs", "scripts", "__spark_entry__.py"])
def test_no_absolute_checkout_path(where):
    top = ROOT / where
    files = [top] if top.is_file() else sorted(top.rglob("*"))
    needle = str(ROOT).encode()
    hits = [
        str(f.relative_to(ROOT)) for f in files
        if f.is_file() and "__pycache__" not in f.parts
        and needle in f.read_bytes()
    ]
    assert hits == [], f"{where}: files name the checkout path {ROOT}"
