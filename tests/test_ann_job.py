"""spark-submit ANN job (jobs/ann_job.py): the full lifecycle through
main() — build over a base corpus, append a delta, probe at full
nprobe (must equal brute force over the union), compact the heap.
(The operators' own invariants live in test_vector_index; here we pin
the CLI wiring.)"""

import json

import numpy as np
import pytest

from jobs.ann_job import main, parse_args

DIM = 8


def _vecs(spark, lo, hi):
    rng = np.random.default_rng(23)
    all_v = rng.normal(size=(100, DIM))
    return spark.createDataFrame(
        [(i, [float(x) for x in all_v[i]]) for i in range(lo, hi)],
        "vec_id long, embedding array<double>",
    )


def test_lifecycle_through_cli(spark, tmp_path, capsys):
    base_dir = str(tmp_path / "base")
    delta_dir = str(tmp_path / "delta")
    q_dir = str(tmp_path / "queries")
    idx = str(tmp_path / "idx")
    out = str(tmp_path / "topk")

    _vecs(spark, 0, 60).write.parquet(base_dir)
    _vecs(spark, 60, 80).write.parquet(delta_dir)
    _vecs(spark, 0, 5).write.parquet(q_dir)

    assert main(["--input", base_dir, "--index", idx,
                 "--mode", "index-build", "--num-centroids", "8"]) == 0
    built = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert built["nlist"] <= 8 and built["skew_ratio"] >= 1.0

    assert main(["--input", delta_dir, "--index", idx,
                 "--mode", "index-append"]) == 0
    appended = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert appended["appended"] == 20

    # full probe (--nprobe 0) == brute force over the union corpus
    assert main(["--input", q_dir, "--index", idx, "--mode", "probe",
                 "--output", out, "--k", "3", "--nprobe", "0"]) == 0
    probed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert probed["rows_out"] == 15 and probed["nprobe"] == built["nlist"]

    from pyhctsa_spark.operators.similarity import knn_bruteforce

    got = [
        (r["qid"], r["nid"])
        for r in spark.read.parquet(out).orderBy("qid", "rank").collect()
    ]
    want = [
        (r["qid"], r["nid"])
        for r in knn_bruteforce(_vecs(spark, 0, 80), _vecs(spark, 0, 5),
                                k=3).orderBy("qid", "rank").collect()
    ]
    assert got == want

    assert main(["--input", base_dir, "--index", idx,
                 "--mode", "compact"]) == 0
    compacted = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert compacted["lists"] == [80, 80]
    from pyhctsa_spark.operators.tablefs import SnapshotTable

    assert SnapshotTable(idx).manifest()["tables"]["lists_delta"] == []


def test_probe_requires_output(tmp_path):
    with pytest.raises(SystemExit):
        parse_args(["--input", "x", "--index", "y", "--mode", "probe"])
