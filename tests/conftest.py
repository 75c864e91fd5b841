import pytest


@pytest.fixture(scope="session")
def spark():
    from pyhctsa_spark.session import get_spark

    s = get_spark("pyhctsa_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(params=["alg", "quantile", "hll"])
def cascade_family(request):
    """(tier0(df), cascade(tier_df)) of one rollup family: tier 0 of
    8-token windows and its store-side cascade with group 4."""
    from pyhctsa_spark.operators.hll_rollup import (
        hll_cascade_from_store,
        rollup_hll_tiers,
    )
    from pyhctsa_spark.operators.quantile_rollup import (
        quantile_cascade_from_store,
        rollup_quantile_tiers,
    )
    from pyhctsa_spark.operators.rollup import cascade_from_store, rollup_tiers

    rollup, cascade = {
        "alg": (rollup_tiers, cascade_from_store),
        "quantile": (rollup_quantile_tiers, quantile_cascade_from_store),
        "hll": (rollup_hll_tiers, hll_cascade_from_store),
    }[request.param]
    return (
        lambda df: rollup(df, window=8, group=4, n_tiers=1),
        lambda tier_df: cascade(tier_df, group=4),
    )
