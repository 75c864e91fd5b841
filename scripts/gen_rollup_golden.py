"""Generate the rollup-family golden (tests/golden/rollup_families.parquet).

Every tier family runs over one fixed small fixture: the ALG rollup
(dense list and packed layouts, a small window/group shape, the gapped
path and a registry FeatureSet), the exact-quantile, HLL and fused
rollups, and the three store cascades over their own tier 0. The
outputs are stacked into ONE table: a ``case`` column plus the union of
every family's columns (NULL where a case has no such column), sorted
by (case, doc_id, tier, window_idx). tests/test_rollup_golden.py
rebuilds the same table and compares it bit for bit — state blobs,
NaN payloads and NULLs included — so a refactor of the tier machinery
must reproduce every output exactly.

Run from the repo root:

    PYTHONPATH=. python scripts/gen_rollup_golden.py
"""

from __future__ import annotations

import os

import pyarrow as pa

GOLDEN = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "golden", "rollup_families.parquet",
)

N_DOCS = 12


def _feature_set():
    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.plans.registry import FeatureSet, Operation, expand

    return FeatureSet(expand([
        Operation(K.trev, "CO_trev", ["tau"], [{"tau": [1]}]),
        Operation(K.spread_mad, "DN_Spread_mad"),
    ]))


def _cases(spark) -> dict:
    """case name -> DataFrame, one per golden case."""
    from pyhctsa_spark.operators.fused_rollup import rollup_fused_tiers
    from pyhctsa_spark.operators.hll_rollup import (
        hll_cascade_from_store,
        rollup_hll_tiers,
    )
    from pyhctsa_spark.operators.quantile_rollup import (
        quantile_cascade_from_store,
        rollup_quantile_tiers,
    )
    from pyhctsa_spark.operators.rollup import cascade_from_store, rollup_tiers
    from pyhctsa_spark.sources.synthetic import (
        gapped_sequences_df,
        sequences_df,
    )

    seq = sequences_df(spark, N_DOCS, partitions=2)
    seq_bin = sequences_df(spark, N_DOCS, partitions=2, binary=True)
    gapped = gapped_sequences_df(spark, N_DOCS, gap_frac=0.3, partitions=2)
    small = {"window": 16, "group": 4, "n_tiers": 2}
    return {
        "alg": rollup_tiers(seq),
        "alg_bin": rollup_tiers(seq_bin),
        "alg_small": rollup_tiers(seq, lags=[1], **small),
        "alg_gapped": rollup_tiers(gapped),
        "alg_features": rollup_tiers(seq, n_tiers=2,
                                     feature_set=_feature_set()),
        "quantile": rollup_quantile_tiers(seq_bin),
        "hll": rollup_hll_tiers(seq_bin),
        "fused": rollup_fused_tiers(seq_bin),
        "fused_small": rollup_fused_tiers(seq, lags=[1, 2], **small),
        "alg_cascade": cascade_from_store(
            rollup_tiers(seq, window=16, n_tiers=1), group=4),
        "quantile_cascade": quantile_cascade_from_store(
            rollup_quantile_tiers(seq, window=16, n_tiers=1), group=4),
        "hll_cascade": hll_cascade_from_store(
            rollup_hll_tiers(seq, window=16, n_tiers=1), group=4),
    }


def golden_table(spark) -> pa.Table:
    """All cases stacked into one sorted Arrow table (module docstring)."""
    parts = []
    for case, df in _cases(spark).items():
        t = df.toArrow()
        parts.append(t.append_column("case", pa.array([case] * t.num_rows)))
    out = pa.concat_tables(parts, promote_options="default")
    out = out.select(["case"] + [c for c in out.column_names if c != "case"])
    return out.sort_by([("case", "ascending"), ("doc_id", "ascending"),
                        ("tier", "ascending"), ("window_idx", "ascending")])


def main() -> None:
    import pyarrow.parquet as pq

    from pyhctsa_spark.session import get_spark

    spark = get_spark("gen_rollup_golden", master="local[2]")
    t = golden_table(spark)
    pq.write_table(t, GOLDEN)
    print(t.num_rows, "rows,", t.num_columns, "columns ->", GOLDEN)
    spark.stop()


if __name__ == "__main__":
    main()
