"""spark-submit dedup job (jobs/dedup_job.py): the incremental
index-build / index-probe modes end-to-end through main() — build over
a base corpus, probe a delta, append survivors, and verify a second
probe sees them. (The clusters/pairs/exact modes are exercised through
their operators' own suites; here we pin the CLI wiring and the
append-survivors flow.)"""

import json
import os

import pytest

from jobs.dedup_job import main, parse_args

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _text(seed, n=14):
    return " ".join(
        WORDS[(seed + j) % len(WORDS)] + str((seed * 7 + j) % 23)
        for j in range(n)
    )


def test_index_build_then_probe_then_append(spark, tmp_path, capsys):
    base_dir = str(tmp_path / "base")
    batch_dir = str(tmp_path / "batch")
    batch2_dir = str(tmp_path / "batch2")
    idx = str(tmp_path / "idx")
    out1 = str(tmp_path / "pairs1")
    out2 = str(tmp_path / "pairs2")

    spark.createDataFrame(
        [(i, _text(i), "s") for i in range(5)],
        "doc_id long, text string, source string",
    ).write.parquet(base_dir)
    # batch: one exact copy of base doc 2, one fresh doc (seed 10 is
    # zero-Jaccard against seeds 0..4 — see test_neardup_stream note)
    spark.createDataFrame(
        [(20, _text(2), "s"), (21, _text(10), "s")],
        "doc_id long, text string, source string",
    ).write.parquet(batch_dir)
    # second batch: a copy of the APPENDED survivor 21
    spark.createDataFrame(
        [(30, _text(10), "s")],
        "doc_id long, text string, source string",
    ).write.parquet(batch2_dir)

    assert main(["--input", base_dir, "--output", str(tmp_path / "x"),
                 "--mode", "index-build", "--index", idx]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["docs_in"] == 5 and os.path.exists(
        os.path.join(idx, "_MANIFEST.json")
    )

    assert main(["--input", batch_dir, "--output", out1,
                 "--mode", "index-probe", "--index", idx,
                 "--base", base_dir, "--append-survivors"]) == 0
    probe = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert probe["pairs"] == 1 and probe["appended"] == 1
    rows = spark.read.parquet(out1).collect()
    assert [(r["d1"], r["d2"], r["jaccard"]) for r in rows] == [(2, 20, 1.0)]

    # the appended survivor is now screenable: base for verify is the
    # union of the original corpus and the first batch
    union_dir = str(tmp_path / "union")
    spark.read.parquet(base_dir).unionByName(
        spark.read.parquet(batch_dir)
    ).write.parquet(union_dir)
    assert main(["--input", batch2_dir, "--output", out2,
                 "--mode", "index-probe", "--index", idx,
                 "--base", union_dir]) == 0
    rows2 = spark.read.parquet(out2).collect()
    assert [(r["d1"], r["d2"], r["jaccard"]) for r in rows2] == [(21, 30, 1.0)]


def test_index_modes_require_their_paths():
    with pytest.raises(SystemExit):
        parse_args(["--input", "i", "--output", "o", "--mode", "index-build"])
    with pytest.raises(SystemExit):
        parse_args(["--input", "i", "--output", "o",
                    "--mode", "index-probe", "--index", "x"])
