"""Physical-plan regression gates: the flagship must stay shuffle-free
and column-pruned; the cascade's only exchange is its fine-grained
groupBy."""

from pyhctsa_spark.operators.rollup import cascade_from_store, rollup_tiers
from pyhctsa_spark.sources.synthetic import sequences_df


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_rollup_plan_has_no_exchange(spark):
    df = sequences_df(spark, 10, partitions=2, binary=True)
    plan = _plan(rollup_tiers(df))
    assert "Exchange" not in plan  # zero shuffles end-to-end
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_rollup_prunes_columns_from_parquet_scan(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("seq") / "p")
    sequences_df(spark, 10, partitions=2, binary=True).write.mode(
        "overwrite"
    ).parquet(path)
    df = spark.read.parquet(path)
    plan = _plan(rollup_tiers(df.drop("n_tok")))
    # the parquet scan must not read n_tok (dropped) — ReadSchema pruned
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "n_tok" not in read_schema


def test_cascade_plan_single_exchange_on_doc_keys(spark):
    df = sequences_df(spark, 10, partitions=2, binary=True)
    t0 = rollup_tiers(df, n_tiers=1)
    plan = _plan(cascade_from_store(t0))
    # exactly one shuffle, keyed on (doc_id, tier) — no source keys
    assert plan.count("Exchange hashpartitioning") == 1
    assert "doc_id" in plan.split("Exchange hashpartitioning", 1)[1].splitlines()[0]


def test_pipeline_join_strategies(spark):
    """Dedup/ANN plans must never degenerate to cartesian products; the
    only nested-loop broadcast allowed is knn's intentional bounded
    query-side cross (the corpus side is never replicated)."""
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.dedup import (
        embedding_near_dup_pairs,
        minhash_verified_pairs,
        simhash_md5,
        simhash_near_pairs_2x32,
    )
    from pyhctsa_spark.operators.similarity import knn_bruteforce, knn_ivf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 5)
    cases = {
        "minhash": (minhash_verified_pairs(docs), 0),
        "simhash": (simhash_near_pairs_2x32(simhash_md5(docs)), 0),
        "emb_lsh": (embedding_near_dup_pairs(emb, min_cosine=0.3), 0),
        "knn_bf": (knn_bruteforce(emb, qs, k=3), 1),
        "knn_ivf": (knn_ivf(emb, qs, k=3), 1),
    }
    for name, (df, max_bnl) in cases.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoop") <= max_bnl, name
    # IVF inverted-list assignment must be map-side (argmax over the
    # broadcast centroid matrix) — the corpus is never hash-shuffled
    ivf_plan = cases["knn_ivf"][0]._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(nid" not in ivf_plan


def test_bucketed_store_cascade_has_no_exchange(
    spark, tmp_path_factory, cascade_family
):
    """Tier-0 materialized with write_tier_bucketed (bucketBy doc_id)
    feeds each family's retention cascade with ZERO shuffle:
    HashPartitioning(doc_id) satisfies the (doc_id, tier) clustered
    distribution. Values must equal the plain-store cascade
    bit-for-bit."""
    from pyhctsa_spark.operators.store import read_tier_table, write_tier_bucketed

    tier0, cascade = cascade_family
    path = str(tmp_path_factory.mktemp("bstore") / "t0")
    df = sequences_df(spark, 12, partitions=3, binary=True)
    t0 = tier0(df)
    spark.sql("DROP TABLE IF EXISTS _t0_bucketed_test")
    write_tier_bucketed(t0, "_t0_bucketed_test", path, num_buckets=4)
    back = read_tier_table(spark, "_t0_bucketed_test")
    assert "Exchange" not in _plan(cascade(back))
    # equality vs the plain (shuffled) path
    keys = ["doc_id", "tier", "window_idx"]
    a = cascade(back).orderBy(*keys).toPandas()
    b = cascade(t0).orderBy(*keys).toPandas()
    assert len(a) > 0 and a.equals(b)
    spark.sql("DROP TABLE IF EXISTS _t0_bucketed_test")


def test_salted_repartition_balances_zipf_skew(spark):
    """A 90%-one-source Zipf input must land balanced: salting on
    hash(doc_id) gives every partition an iid sample regardless of the
    source hotspot (max/mean partition size < 1.5)."""
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.partitioning import salted_repartition

    df = spark.range(0, 20000, 1, 4).select(
        F.concat(F.lit("doc"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("cold"), F.col("id") % 7)
        ).alias("source"),
    )
    sizes = (
        salted_repartition(df, num_partitions=8)
        .rdd.glom().map(len).collect()
    )
    assert len(sizes) == 8 and min(sizes) > 0
    assert max(sizes) / (sum(sizes) / len(sizes)) < 1.5


def test_bpe_plan_tokenizes_vocab_and_broadcasts(spark):
    """Real-BPE plan contract: the Arrow UDF runs over the DISTINCT
    vocabulary side only, which is broadcast back onto the occurrence
    table — never a shuffle of per-occurrence rows through Python."""
    from pyhctsa_spark.operators.bpe import bpe_token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bpe_token_count(docs))
    assert "BroadcastHashJoin" in plan
    # the Python stage must sit UNDER the broadcast side (vocab), i.e.
    # appear after the BroadcastExchange marker in the plan tree text
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    bx = plan.index("BroadcastExchange")
    py = plan.index("ArrowEvalPython" if "ArrowEvalPython" in plan
                    else "BatchEvalPython")
    assert py > bx, "python tokenization must run on the broadcast (vocab) side"
    assert "SortMergeJoin" not in plan


def test_media_real_plan_is_single_python_pass(spark):
    """Real-codec featurization: one mapInPandas pass over the media
    table, no Exchange (row-independent decode)."""
    from pyhctsa_spark.operators.multimodal import (
        extract_media_features,
        synth_real_media_df,
    )

    plan = _plan(extract_media_features(synth_real_media_df(spark, 8),
                                        use_real_codecs=True))
    assert "Exchange" not in plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan


def test_curation_plan_shapes(spark, tmp_path_factory):
    """Curation operators' 100 TB contracts, plan-gated:
    pack_sequences = exactly ONE exchange on (source, shard) carrying
    token COUNTS (the text column must be projected away before the
    shuffle); source_mix and pii_redact are map-side only (zero
    exchange); global_shuffle is exactly one exchange."""
    import pyspark.sql.functions as F

    from pyhctsa_spark.operators.curation import (
        global_shuffle,
        pack_sequences,
        pii_redact,
        source_mix,
    )

    path = str(tmp_path_factory.mktemp("cur") / "docs")
    spark.createDataFrame(
        [(i, "w " * 20, f"src{i % 3}") for i in range(50)],
        "doc_id long, text string, source string",
    ).write.parquet(path)
    docs = spark.read.parquet(path)

    pack = _plan(pack_sequences(docs, 64, 4))
    assert pack.count("Exchange hashpartitioning") == 1
    # the shuffle row must not carry the document text: the exchange's
    # input projection is [source, shard, doc_id, n_tok]
    exchange_input = pack.split("Exchange hashpartitioning", 1)[0]
    assert "n_tok" in exchange_input and "text" not in exchange_input.split(
        "Scan parquet", 1
    )[0]

    assert "Exchange" not in _plan(source_mix(docs, F.lit(0.5)))
    assert "Exchange" not in _plan(pii_redact(docs))
    shuf = _plan(global_shuffle(docs, 8))
    assert shuf.count("Exchange hashpartitioning") == 1
