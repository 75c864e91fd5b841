"""pyhctsa_spark — a from-scratch PySpark-native time-series rollup /
downsample / retention engine with pyhctsa-style per-window features.

Built Spark-first over tables of pre-tokenized sequences
``(doc_id string, tokens array<int>, n_tok int, source string)``:

- tiered continuous aggregates (1x -> 16x -> 256x) of per-window summary
  statistics (mean, variance, spread, autocorrelation-at-lag, burstiness,
  and a wide kernel library), computed in vectorized numpy inside
  Arrow-batched ``mapInArrow`` / ``applyInArrow`` — zero per-row Python;
- algebraic (ALG) merge states so higher tiers are *merged*, not
  recomputed — the cascade is shuffle-free when raw rows are present and
  a groupBy-merge when only the materialized store remains;
- gap-fill (linear interior / backfill leading / ffill trailing);
- Gorilla XOR value compression + delta-of-delta offset encoding for the
  materialized rollup store;
- salted repartitioning on skewed ``source`` keys;
- snapshot-checkpointed, resumable jobs with per-partition lineage.

Reference semantics: DynamicsAndNeuralSystems/pyhctsa (feature math is
re-implemented from the published definitions; citations use file:line
into the reference snapshot).
"""

__version__ = "0.1.0"

from pyhctsa_spark.session import get_spark  # noqa: F401
