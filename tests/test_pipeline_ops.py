"""Training-data pipeline operators: dedup, ANN, text, multimodal,
streaming."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_and_keep_first(spark, docs):
    from pyhctsa_spark.operators.dedup import dedup_keep_first, exact_dedup

    # plant duplicates
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
    both = docs.unionByName(dup)
    groups = exact_dedup(both)
    assert groups.where(F.col("n_copies") == 2).count() == 5
    kept = dedup_keep_first(both)
    assert kept.count() == docs.count()
    # canonical winner is the smaller id
    assert kept.where(F.col("doc_id") >= 100000).count() == 0


def test_minhash_lsh_finds_planted_near_dups(spark, docs):
    from pyhctsa_spark.operators.dedup import minhash_dedup_pairs, minhash_signatures

    # plant near-duplicates: copy 5 docs with one word appended
    near = (
        docs.limit(5)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extraword")))
    )
    both = docs.unionByName(near)
    pairs = minhash_dedup_pairs(both, threshold=0.5).toPandas()
    planted = set(zip(pairs.id_a, pairs.id_b))
    found = sum((i, i + 100000) in planted for i in range(5))
    assert found >= 4  # LSH recall on ~0.9-Jaccard pairs
    # signature sanity: identical docs -> identical signatures
    sigs = minhash_signatures(docs.limit(3)).toPandas()
    assert all(len(s) == 64 for s in sigs.minhash_sig)


def test_minhash_exact_collapse_is_invisible(spark, docs):
    """collapse_exact (rep election + pair expansion) must give the
    IDENTICAL pair set as the naive pipeline on a corpus with planted
    exact triplicates, near-dups, and an ineligible (< k words) dup."""
    from pyhctsa_spark.operators.dedup import minhash_verified_pairs

    base = docs.limit(40)
    trip1 = base.limit(6).withColumn("doc_id", F.col("doc_id") + 100000)
    trip2 = base.limit(6).withColumn("doc_id", F.col("doc_id") + 200000)
    near = (
        base.limit(3)
        .withColumn("doc_id", F.col("doc_id") + 300000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extraword")))
    )
    shorty = spark.createDataFrame(
        [(900000, "tiny doc"), (900001, "tiny doc")], "doc_id long, text string"
    )
    corpus = base.unionByName(trip1).unionByName(trip2).unionByName(
        near
    ).unionByName(shorty, allowMissingColumns=True)
    kw = dict(threshold=0.3)
    a = minhash_verified_pairs(corpus, **kw).toPandas()
    b = minhash_verified_pairs(corpus, collapse_exact=False, **kw).toPandas()
    ka = set(map(tuple, a[["d1", "d2", "jaccard"]].itertuples(index=False)))
    kb = set(map(tuple, b[["d1", "d2", "jaccard"]].itertuples(index=False)))
    assert ka == kb and len(ka) > 0
    # exact triplicates present as J=1.0 pairs; the 2-word dup is not
    assert (0, 100000, 1.0) in ka and (0, 200000, 1.0) in ka
    assert not any(d1 == 900000 for d1, _d2, _j in ka)


def test_simhash_near_pairs(spark, docs):
    from pyhctsa_spark.operators.dedup import simhash64, simhash_near_pairs

    # plant near-dups in the LONGEST docs: simhash bit votes are stable
    # only when the word set is large (verified: implementation matches
    # a numpy simhash bit-for-bit; short repetitive docs legitimately
    # flip many 1-vote bits when a word is added)
    long_docs = docs.orderBy(F.desc("n_chars")).limit(4)
    base_ids = [r.doc_id for r in long_docs.select("doc_id").collect()]
    near = (
        long_docs.withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" zz")))
    )
    both = docs.unionByName(near)
    fps = simhash64(both)
    pairs = simhash_near_pairs(fps, max_hamming=10).toPandas()
    planted = set(zip(pairs.id_a, pairs.id_b))
    assert sum((i, i + 100000) in planted for i in base_ids) >= 3
    # identical text -> identical fingerprint (hamming 0)
    same = simhash_near_pairs(
        simhash64(docs.limit(3).unionByName(docs.limit(3).withColumn("doc_id", F.col("doc_id") + 500000))),
        max_hamming=0,
    ).count()
    assert same == 3


def test_knn_bruteforce_vs_numpy(spark, emb):
    from pyhctsa_spark.operators.similarity import knn_bruteforce

    res = knn_bruteforce(emb, emb.where(F.col("vec_id") < 3), k=4).toPandas()
    pdf = emb.toPandas()
    V = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    ids = pdf.vec_id.to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    for qid in range(3):
        qv = Vn[ids == qid][0]
        cos = Vn @ qv
        cos[ids == qid] = -2
        expect = ids[np.argsort(-cos)][:4]
        got = res[res.qid == qid].sort_values("rank").nid.to_numpy()
        assert set(got) == set(expect)


def test_knn_ivf_recall(spark, emb):
    from pyhctsa_spark.operators.similarity import knn_bruteforce, knn_ivf

    q = emb.where(F.col("vec_id") < 10)
    exact = knn_bruteforce(emb, q, k=3).toPandas()
    approx = knn_ivf(emb, q, k=3, num_centroids=8, nprobe=4).toPandas()
    # recall@3 of IVF with half the lists probed should be decent
    rec = 0
    for qid in range(10):
        e = set(exact[exact.qid == qid].nid)
        a = set(approx[approx.qid == qid].nid)
        rec += len(e & a) / 3
    assert rec / 10 >= 0.5


def test_knn_ivf_full_probe_is_exact(spark, emb):
    """nprobe == nlist probes every inverted list — the result must be
    bit-identical to brute force (the driver-oracle machinery check)."""
    from pyhctsa_spark.operators.similarity import knn_bruteforce, knn_ivf

    q = emb.where(F.col("vec_id") < 8)
    exact = (
        knn_bruteforce(emb, q, k=3)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    full = (
        knn_ivf(emb, q, k=3, num_centroids=8, nprobe=8)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert (exact.qid == full.qid).all()
    assert (exact.nid == full.nid).all()
    np.testing.assert_allclose(exact.cosine, full.cosine, rtol=1e-12)


def test_knn_ivf_broadcast_guard(spark, emb):
    """A probe batch above max_broadcast_queries must raise, never
    silently fall back to shuffling the corpus on the skewed cid key."""
    from pyhctsa_spark.operators.similarity import knn_ivf

    with pytest.raises(ValueError, match="max_broadcast_queries"):
        knn_ivf(emb, emb, k=3, num_centroids=8, max_broadcast_queries=10)


def test_ivf_materialized_index_roundtrip(spark, emb, tmp_path):
    """ivf_write_index → knn_ivf_index must (a) return skew stats
    covering every vector, (b) give the exact brute-force answer at
    full probe, and (c) prune unprobed cid partitions from the scan."""
    from pyhctsa_spark.operators.similarity import (
        ivf_write_index,
        knn_bruteforce,
        knn_ivf_index,
    )

    path = str(tmp_path / "ivf")
    stats = ivf_write_index(emb, path, num_centroids=8)
    assert stats["nlist"] <= 8
    from pyhctsa_spark.operators.tablefs import SnapshotTable

    lists = SnapshotTable(path).read(spark, "lists")
    assert lists.count() == emb.count()

    q = emb.where(F.col("vec_id") < 5)
    exact = (
        knn_bruteforce(emb, q, k=3)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    full = (
        knn_ivf_index(spark, path, q, k=3, nprobe=8)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    assert (exact.nid.to_numpy() == full.nid.to_numpy()).all()
    np.testing.assert_allclose(exact.cosine, full.cosine, rtol=1e-12)

    # partial probe: recall sane, and the pruned scan reads fewer rows
    part = knn_ivf_index(spark, path, q, k=3, nprobe=2).toPandas()
    assert set(part.qid) == set(range(5))
    rec = sum(
        len(set(exact[exact.qid == qid].nid) & set(part[part.qid == qid].nid))
        for qid in range(5)
    ) / (3 * 5)
    assert rec >= 0.4


def test_ivf_list_stats_skew_diag(spark, emb):
    from pyhctsa_spark.operators.similarity import ivf_build, ivf_list_stats

    _, assigned = ivf_build(emb, num_centroids=8)
    s = ivf_list_stats(assigned)
    assert s["nlist"] <= 8 and s["max_list"] >= s["min_list"] >= 1
    assert s["skew_ratio"] >= 1.0


def test_text_ops(spark, docs):
    from pyhctsa_spark.operators.text import (
        documents_to_sequences,
        fingerprint,
        language_id,
        quality_score,
        token_count,
    )

    qual = quality_score(docs).toPandas()
    assert ((qual.quality >= 0) & (qual.quality <= 1.0001)).all()
    assert (qual.n_words > 0).all()
    lid = language_id(docs)
    assert set(lid.select("pred_lang").distinct().toPandas().pred_lang) <= {
        "en", "es", "fr", "de", "und",
    }
    tc = token_count(docs).toPandas()
    assert (tc.n_tokens == qual.n_words).all()
    fp = fingerprint(docs).toPandas()
    assert fp.fp_md5.nunique() == len(fp)

    seq = documents_to_sequences(docs)
    assert seq.schema.simpleString().startswith(
        "struct<doc_id:string,tokens:array<int>,n_tok:int,source:string"
    )
    # and it feeds the rollup engine directly
    from pyhctsa_spark.operators.rollup import rollup_tiers

    out = rollup_tiers(seq, window=8, group=4, n_tiers=1)
    assert out.count() > 0


def test_multimodal_plumbing(spark):
    from pyhctsa_spark.operators.multimodal import (
        extract_media_features,
        sample_video_frames,
        synth_media_df,
    )

    media = synth_media_df(spark, 18).cache()
    assert media.count() == 18
    feats = extract_media_features(media).toPandas()
    assert len(feats) == 18
    assert (feats.n_bytes > 0).all()
    assert feats.feat.map(len).eq(8).all()
    # deterministic: same input -> same features
    feats2 = extract_media_features(media).toPandas()
    pd.testing.assert_frame_equal(
        feats.sort_values("media_id").reset_index(drop=True),
        feats2.sort_values("media_id").reset_index(drop=True),
    )
    frames = sample_video_frames(media, every_k=4).toPandas()
    assert (frames.frame_idx % 4 == 0).all()
    # real-codec path is an explicit stub
    with pytest.raises(Exception, match="NotImplementedError|real codecs"):
        extract_media_features(media, use_real_codecs=True).count()


def test_streaming_rollup_matches_batch(spark, tmp_path_factory):
    from pyhctsa_spark.operators.rollup import rollup_tiers
    from pyhctsa_spark.sources.synthetic import sequences_df
    from pyhctsa_spark.streaming.rollup_stream import stream_rollup

    base = tmp_path_factory.mktemp("stream")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    seq = sequences_df(spark, 20, partitions=2, binary=True)
    seq.write.mode("overwrite").parquet(src)

    q = stream_rollup(spark, src, sink, ckpt, available_now=True, family="alg")
    q.awaitTermination(120)
    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
    )
    want = (
        rollup_tiers(spark.read.parquet(src)).toPandas()
        .sort_values(["doc_id", "tier", "window_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)

    # incremental: append more docs, drain again -> only new rows added
    seq2 = sequences_df(spark, 30, partitions=2, binary=True).where(
        F.col("doc_id") >= "doc0000000020"
    )
    seq2.write.mode("append").parquet(src)
    q2 = stream_rollup(spark, src, sink, ckpt, available_now=True,
                       family="alg")
    q2.awaitTermination(120)
    total = spark.read.parquet(sink).count()
    full = rollup_tiers(spark.read.parquet(src)).count()
    assert total == full


def test_dedup_components_chains_and_cliques(spark):
    from pyhctsa_spark.operators.dedup import dedup_components

    # chain 1-2-3-4, clique 10-11-12, isolated pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = dedup_components(pairs).toPandas().set_index("doc_id").component_id
    assert all(comp[i] == 1 for i in (1, 2, 3, 4))
    assert all(comp[i] == 10 for i in (10, 11, 12))
    assert comp[20] == 20 and comp[21] == 20


def test_dedup_components_end_to_end_minhash(spark, docs):
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.dedup import dedup_components, minhash_dedup_pairs

    near = (
        docs.limit(6)
        .withColumn("doc_id", F.col("doc_id") + 100000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" extraword")))
    )
    pairs = minhash_dedup_pairs(docs.unionByName(near), threshold=0.5)
    comp = dedup_components(pairs).toPandas()
    # every component's id is its minimum member
    g = comp.groupby("component_id").doc_id.min()
    assert (g.index == g.values).all()


def test_embedding_lsh_finds_planted_near_dups(spark):
    import numpy as np

    from pyhctsa_spark.operators.dedup import embedding_near_dup_pairs

    rng = np.random.default_rng(9)
    base = rng.standard_normal((120, 32))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    # plant 10 near-duplicates: copy + small noise (cosine ~ 0.99)
    planted = set()
    for j in range(10):
        v = base[j] + 0.05 * rng.standard_normal(32)
        rows.append((1000 + j, [float(x) for x in v]))
        planted.add((j, 1000 + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = embedding_near_dup_pairs(df, min_cosine=0.95).toPandas()
    pairs = {(int(a), int(b)) for a, b in zip(got.id_a, got.id_b)}
    # exact ground truth for precision
    X = np.array([r[1] for r in rows])
    ids = np.array([r[0] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = Xn @ Xn.T
    truth = {
        (int(ids[i]), int(ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if C[i, j] >= 0.95
    }
    assert planted <= truth
    # verification step guarantees precision = 1
    assert pairs <= truth
    # multi-table recall at cos>=0.95 is ~0.999 per pair
    assert len(pairs & planted) >= 9


def test_streaming_chunked_rollup_stateful(spark, tmp_path_factory):
    """applyInPandasWithState path: chunks of each document arrive over
    two triggers; carried per-doc state completes the windows that span
    chunk and trigger boundaries, and the final sink equals batch tier-0
    exactly."""
    from pyhctsa_spark.operators.rollup import rollup_tiers
    from pyhctsa_spark.sources.synthetic import chunked_sequences_df, sequences_df
    from pyhctsa_spark.streaming.rollup_stream import stream_rollup_chunks

    base = tmp_path_factory.mktemp("chunkstream")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")

    chunks = chunked_sequences_df(spark, 12, chunk_tokens=75, partitions=2)
    chunks.cache()
    # wave 1: even chunks up to each doc's midpoint; wave 2: the rest.
    half = chunks.where(F.col("chunk_idx") < 3)
    rest = chunks.where(F.col("chunk_idx") >= 3)
    half.write.mode("overwrite").parquet(src)

    q = stream_rollup_chunks(spark, src, sink, ckpt, window=32,
                             available_now=True)
    q.awaitTermination(120)
    mid = spark.read.parquet(sink)
    # only windows fully covered by the first 3 chunks (225 tokens -> 7
    # complete 32-token windows at most) may exist yet
    assert mid.count() > 0
    assert mid.agg(F.max("window_idx")).first()[0] <= 6

    rest.write.mode("append").parquet(src)
    q2 = stream_rollup_chunks(spark, src, sink, ckpt, window=32,
                              available_now=True)
    q2.awaitTermination(120)

    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["doc_id", "window_idx"]).reset_index(drop=True)
    )
    want = (
        rollup_tiers(sequences_df(spark, 12, partitions=2, binary=True),
                     window=32, n_tiers=1)
        .toPandas()
        .sort_values(["doc_id", "window_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    chunks.unpersist()


def test_simhash_blocking_tiers(spark, docs):
    """The scale-safe 4x16 default tier and the high-recall 8x8 tier
    must agree at the shared recall level (hamming <= 3), the 8x8 tier
    must examine strictly more candidates, and over-claimed recall is
    rejected."""
    import pytest as _pytest

    from pyhctsa_spark.operators.dedup import (
        simhash_candidate_count,
        simhash_md5,
        simhash_near_pairs_2x32,
    )

    fps = simhash_md5(docs).persist()
    p4 = simhash_near_pairs_2x32(fps, max_hamming=3, n_chunks=4).toPandas()
    p8 = simhash_near_pairs_2x32(fps, max_hamming=3, n_chunks=8).toPandas()
    k4 = set(zip(p4.id_a, p4.id_b))
    k8 = set(zip(p8.id_a, p8.id_b))
    assert k4 == k8  # both tiers have full recall at hamming <= 3
    assert simhash_candidate_count(fps, n_chunks=8) >= simhash_candidate_count(
        fps, n_chunks=4
    )
    with _pytest.raises(ValueError):
        simhash_near_pairs_2x32(fps, max_hamming=4, n_chunks=4)
    fps.unpersist()


def test_repetition_score_matches_sql(spark, docs):
    """The DataFrame-API repetition operator must equal the
    doc_repetition catalog SQL (which the DuckDB oracle hash-checks)."""
    from pyhctsa_spark.operators.text import repetition_score
    from pyhctsa_spark.plans import oracle_queries as OQ

    docs.createOrReplaceTempView("documents")
    got = (
        repetition_score(docs)
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    want = (
        spark.sql(OQ.spark_sql_for("doc_repetition"))
        .orderBy("doc_id")
        .toPandas()
        .reset_index(drop=True)
    )
    assert got[["doc_id", "rep3", "rep5", "max3"]].equals(
        want[["doc_id", "rep3", "rep5", "max3"]]
    )
    # a pathological repeated doc scores high
    rep = spark.createDataFrame(
        [(1, "spam ham " * 50)], "doc_id long, text string"
    )
    r = repetition_score(rep).first()
    assert r["rep3"] > 0.9 and r["max3"] >= 40


def test_streaming_exact_dedup_across_triggers(spark, tmp_path_factory):
    """Stateful streaming dedup: duplicates within the watermark are
    dropped across micro-batches AND across restarts (checkpointed
    hash state); the survivor set equals batch exact-dedup."""
    import datetime as dt

    from pyhctsa_spark.streaming.dedup_stream import stream_exact_dedup

    base = tmp_path_factory.mktemp("sdedup")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def rows(ids_texts, minutes):
        return [
            (i, t, f"src{i % 2}", t0 + dt.timedelta(minutes=minutes))
            for i, t in ids_texts
        ]

    schema = "doc_id long, text string, source string, event_time timestamp"
    batch1 = spark.createDataFrame(
        rows([(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")], 0),
        schema,
    )
    batch1.write.mode("overwrite").parquet(src)
    q = stream_exact_dedup(spark, src, sink, ckpt, watermark="1 hour",
                           available_now=True)
    q.awaitTermination(120)
    first = spark.read.parquet(sink).toPandas()
    assert sorted(first["text"].unique()) == ["alpha beta", "gamma delta"]
    assert len(first) == 2  # in-batch duplicate dropped

    # second ingestion: one duplicate of batch1 (within watermark) and
    # one genuinely new doc — restart from checkpoint
    batch2 = spark.createDataFrame(
        rows([(4, "alpha beta"), (5, "epsilon zeta")], 10), schema
    )
    batch2.write.mode("append").parquet(src)
    q2 = stream_exact_dedup(spark, src, sink, ckpt, watermark="1 hour",
                            available_now=True)
    q2.awaitTermination(120)
    final = spark.read.parquet(sink).toPandas()
    assert len(final) == 3  # cross-trigger duplicate dropped by state
    assert sorted(final["text"].unique()) == [
        "alpha beta", "epsilon zeta", "gamma delta",
    ]


def test_near_dup_clusters_linear_output(spark, docs):
    """Exact copies + near-dups collapse into min-id clusters; output is
    one row per doc regardless of duplicate multiplicity."""
    from pyhctsa_spark.operators.dedup import near_dup_clusters

    # replicate a few docs exactly (ids offset) to form known clusters
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.unionByName(dup)
    out = near_dup_clusters(both, threshold=0.3).toPandas()
    assert len(out) == both.count()  # linear: one row per doc
    cl = dict(zip(out.doc_id, out.cluster_id))
    for i in range(5):
        assert cl[i + 1_000_000] == cl[i]  # exact copy joins its original
        assert cl[i] <= i  # cluster label = min reachable id


def test_contamination_check_matches_sql(spark, docs):
    """The broadcast semi-join operator must equal the doc_contamination
    catalog SQL; eval docs self-collide, disjoint docs don't."""
    from pyhctsa_spark.operators.text import contamination_check
    from pyhctsa_spark.plans import oracle_queries as OQ

    docs.createOrReplaceTempView("documents")
    got = (
        contamination_check(docs, docs.where(F.col("doc_id") < 20))
        .orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    want = (
        spark.sql(OQ.spark_sql_for("doc_contamination"))
        .orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    assert got.equals(want)
    # every eval doc (>= 8 words) is flagged by self-collision
    ev = got[got.doc_id < 20]
    assert (ev.contaminated == 1).all()


def test_simhash_candidate_count_matches_join(spark):
    """The no-join bucket diagnostic (sum k(k-1)/2) must equal the
    actual pre-dedup candidate row count of the blocked self-join."""
    from pyhctsa_spark.operators.dedup import (
        simhash_blocked,
        simhash_candidate_count,
    )

    m32 = (1 << 32) - 1
    fps = spark.range(0, 3000, 1, 4).select(
        F.col("id").alias("doc_id"),
        F.xxhash64("id", F.lit(1)).bitwiseAND(F.lit(m32)).alias("fp_lo"),
        F.xxhash64("id", F.lit(2)).bitwiseAND(F.lit(m32)).alias("fp_hi"),
    ).persist()
    for n_chunks in (4, 8):
        blocked = simhash_blocked(fps, n_chunks=n_chunks).persist()
        a, b = blocked.alias("a"), blocked.alias("b")
        joined = a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).count()
        assert simhash_candidate_count(fps, n_chunks=n_chunks) == joined
        blocked.unpersist()
    fps.unpersist()


def test_streaming_features_match_batch(spark, tmp_path_factory):
    """Streaming feature extraction must equal the batch extractor
    row-for-row (stateless kernel under availableNow drain)."""
    from pyhctsa_spark.functions import kernels as K
    from pyhctsa_spark.operators.features import extract_features
    from pyhctsa_spark.plans.registry import FeatureSet, Operation, expand
    from pyhctsa_spark.sources.synthetic import sequences_df
    from pyhctsa_spark.streaming.rollup_stream import stream_features

    fs = FeatureSet(expand([
        Operation(K.mean_, "DN_Mean"),
        Operation(K.spread_std, "DN_Spread_std"),
        Operation(K.autocorr_timedomain, "ACtd", ["tau"], [{"tau": [1]}]),
    ]))
    base = tmp_path_factory.mktemp("sfeat")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    sequences_df(spark, 15, partitions=2, binary=True).write.mode(
        "overwrite"
    ).parquet(src)
    q = stream_features(spark, src, sink, ckpt, fs, window=64,
                        available_now=True)
    q.awaitTermination(120)
    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["doc_id", "window_idx"]).reset_index(drop=True)
    )
    want = (
        extract_features(spark.read.parquet(src), fs, window=64).toPandas()
        .sort_values(["doc_id", "window_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)


def test_quality_filter_matches_sql(spark, docs):
    """The DataFrame-API composite filter must equal the oracled
    doc_quality_filter SQL row-for-row."""
    from pyhctsa_spark.operators.text import quality_filter
    from pyhctsa_spark.plans import oracle_queries as OQ

    docs.createOrReplaceTempView("documents")
    got = (
        quality_filter(docs).orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    want = (
        spark.sql(OQ.spark_sql_for("doc_quality_filter"))
        .orderBy("doc_id").toPandas().reset_index(drop=True)
    )
    assert got[["doc_id", "keep", "reason"]].equals(
        want[["doc_id", "keep", "reason"]]
    )


def test_short_doc_robustness(spark):
    """Docs shorter than the shingle/n-gram width must not crash any
    text/dedup operator (ANSI element_at out-of-bounds regression), and
    the quality filter must CLASSIFY them as too_short, not drop them."""
    from pyhctsa_spark.operators.dedup import near_dup_clusters
    from pyhctsa_spark.operators.text import (
        contamination_check,
        quality_filter,
        repetition_score,
    )

    tiny = spark.createDataFrame(
        [(1, "x"), (2, "only two"), (3, "three words here"),
         (4, "four words are here"),
         (5, "the quick brown fox jumps over a lazy dog to win and is on "
             "track for many unique tokens apple banana cherry date elder "
             "fig grape honey iris juniper")],
        "doc_id long, text string",
    )
    # repetition: emits only docs with >= 5 words (the oracled contract)
    rep = repetition_score(tiny).toPandas()
    assert set(rep.doc_id) == {5}
    # clustering: every doc gets a cluster row, short ones as singletons
    cl = near_dup_clusters(tiny, threshold=0.3).toPandas()
    assert len(cl) == 5 and set(cl.doc_id) == {1, 2, 3, 4, 5}
    # contamination: short docs have no 8-grams -> 0 hits, no crash
    cont = contamination_check(tiny, tiny.where("doc_id = 5")).toPandas()
    assert len(cont) == 5 and cont.set_index("doc_id").n_hits[1] == 0
    # quality filter: short docs present with reason 'too_short'
    qf = quality_filter(tiny).toPandas().set_index("doc_id")
    assert len(qf) == 5
    for d in (1, 2, 3, 4):
        assert qf.loc[d, "reason"] == "too_short" and qf.loc[d, "keep"] == 0
    assert qf.loc[5, "reason"] == "keep"


def test_dedup_components_raises_on_diameter_overflow(spark):
    """A chain longer than the round budget must fail loudly, never
    return silently-split labels."""
    import pytest as _pytest

    from pyhctsa_spark.operators.dedup import dedup_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    # max_collect_edges=0 forces the distributed propagation loop (the
    # driver union-find fast path has no round budget to overflow)
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_components(chain, max_iterations=3, max_collect_edges=0)
    ok = dedup_components(
        chain, max_iterations=30, max_collect_edges=0
    ).toPandas()
    assert (ok.component_id == 0).all()


def test_dedup_components_driver_path_matches_distributed(spark):
    """The r6 driver union-find fast path must label exactly like the
    iterative min-label propagation: same nodes, same min-reachable-id
    components (chains, cliques, singleton edges, duplicate and
    reversed pairs)."""
    from pyhctsa_spark.operators.dedup import dedup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain -> 1
         (10, 11), (11, 10), (10, 11),    # dup + reversed edges -> 10
         (20, 21), (21, 22), (20, 22),    # triangle -> 20
         (30, 31)],                       # lone pair -> 30
        "id_a long, id_b long",
    )
    fast = (
        dedup_components(pairs).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    slow = (
        dedup_components(pairs, max_collect_edges=0).toPandas()
        .sort_values("doc_id").reset_index(drop=True)
    )
    assert fast.equals(slow)
    assert set(fast.doc_id) == {1, 2, 3, 4, 10, 11, 20, 21, 22, 30, 31}


def test_streaming_chunked_rollup_out_of_order_and_duplicates(
    spark, tmp_path_factory
):
    """Round-4c review regression: a LATER chunk arriving before an
    earlier one must be BUFFERED (not silently discarded — the source
    never redelivers it), and redelivered duplicates keep the first
    copy. Final sink still equals batch tier-0 exactly."""
    from pyhctsa_spark.operators.rollup import rollup_tiers
    from pyhctsa_spark.sources.synthetic import (
        chunked_sequences_df,
        sequences_df,
    )
    from pyhctsa_spark.streaming.rollup_stream import stream_rollup_chunks

    base = tmp_path_factory.mktemp("chunkooo")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    chunks = chunked_sequences_df(spark, 8, chunk_tokens=75, partitions=2)
    chunks.cache()
    # wave 1: chunk 0 AND chunks >= 2 (chunk 1 missing -> everything
    # past the gap must be held in state); plus a duplicate of chunk 0
    wave1 = chunks.where("chunk_idx != 1")
    wave1.write.mode("overwrite").parquet(src)
    chunks.where("chunk_idx = 0").write.mode("append").parquet(src)
    q = stream_rollup_chunks(spark, src, sink, ckpt, window=32,
                             available_now=True)
    q.awaitTermination(120)
    mid = spark.read.parquet(sink)
    # only chunk 0's complete windows can exist (75 tokens -> 2 windows)
    assert mid.agg(F.max("window_idx")).first()[0] <= 1
    # wave 2: the missing chunk 1 arrives -> ALL remaining windows emit
    chunks.where("chunk_idx = 1").write.mode("append").parquet(src)
    q2 = stream_rollup_chunks(spark, src, sink, ckpt, window=32,
                              available_now=True)
    q2.awaitTermination(120)
    got = (
        spark.read.parquet(sink).toPandas()
        .sort_values(["doc_id", "window_idx"]).reset_index(drop=True)
    )
    want = (
        rollup_tiers(sequences_df(spark, 8, partitions=2, binary=True),
                     window=32, n_tiers=1).toPandas()
        .sort_values(["doc_id", "window_idx"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    chunks.unpersist()


def test_streaming_chunked_sink_cascades_like_batch(spark, tmp_path_factory):
    """The chunked stream's sink carries the ALG merge states, so
    cascade_from_store runs on it: its tier 1 is the cascade of the
    batch tier 0 exactly, and the batch tier 1 on every ALG column."""
    from pyhctsa_spark.operators.rollup import cascade_from_store, rollup_tiers
    from pyhctsa_spark.sources.synthetic import (
        chunked_sequences_df,
        sequences_df,
    )
    from pyhctsa_spark.streaming.rollup_stream import stream_rollup_chunks

    base = tmp_path_factory.mktemp("chunkcascade")
    src, sink, ckpt = str(base / "src"), str(base / "sink"), str(base / "ckpt")
    chunked_sequences_df(spark, 10, chunk_tokens=300, partitions=2) \
        .write.parquet(src)
    stream_rollup_chunks(spark, src, sink, ckpt, window=32,
                         available_now=True).awaitTermination(120)
    key = ["doc_id", "window_idx"]
    batch = rollup_tiers(sequences_df(spark, 10, partitions=2, binary=True),
                         window=32, n_tiers=2)

    def cascade(tier0):
        return (cascade_from_store(tier0).toPandas()
                .sort_values(key).reset_index(drop=True))

    got = cascade(spark.read.parquet(sink))
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, cascade(batch.where("tier = 0")))
    direct = (batch.where("tier = 1").toPandas()
              .sort_values(key).reset_index(drop=True))
    assert got[key].equals(direct[key])
    for col in ["n", "mean", "variance", "spread_std", "ac1_td", "ac2_td",
                "burst_b", "burst_b_kim", "s1", "s2"]:
        np.testing.assert_allclose(got[col].to_numpy(np.float64),
                                   direct[col].to_numpy(np.float64),
                                   rtol=1e-9, err_msg=col)
    assert got["spread_iqr"].isna().all()


def test_simhash_collapse_is_invisible(spark, docs):
    """simhash_near_pairs_collapsed must give the IDENTICAL
    (id_a, id_b, hamming) set as the naive fingerprint-everything
    pipeline on a corpus with planted exact triplicates (the SimHash
    fingerprint is a pure function of the text, so rep expansion is
    lossless)."""
    from pyhctsa_spark.operators.dedup import (
        simhash_md5,
        simhash_near_pairs_2x32,
        simhash_near_pairs_collapsed,
    )

    base = docs.limit(40)
    trip1 = base.limit(6).withColumn("doc_id", F.col("doc_id") + 100000)
    trip2 = base.limit(6).withColumn("doc_id", F.col("doc_id") + 200000)
    corpus = base.unionByName(trip1).unionByName(trip2)
    a = simhash_near_pairs_collapsed(corpus, max_hamming=3).toPandas()
    b = simhash_near_pairs_2x32(simhash_md5(corpus), max_hamming=3).toPandas()
    ka = set(map(tuple, a[["id_a", "id_b", "hamming"]].itertuples(index=False)))
    kb = set(map(tuple, b[["id_a", "id_b", "hamming"]].itertuples(index=False)))
    assert ka == kb and len(ka) > 0
    # the planted triplicates appear as hamming-0 pairs
    assert (0, 100000, 0) in ka and (0, 200000, 0) in ka


def test_simhash_collapse_ignores_null_text(spark, docs):
    """NULL-text rows get no fingerprint on the naive path, so the
    collapsed path must not lump them into a bogus hamming-0 clique
    (md5(NULL) is NULL — one window partition for ALL of them)."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from pyhctsa_spark.operators.dedup import (
        simhash_md5,
        simhash_near_pairs_2x32,
        simhash_near_pairs_collapsed,
    )

    schema = StructType([
        StructField("doc_id", LongType()), StructField("text", StringType()),
    ])
    nulls = spark.createDataFrame(
        [(900001, None), (900002, None), (900003, None)], schema
    )
    corpus = docs.limit(20).select("doc_id", "text").unionByName(nulls)
    a = simhash_near_pairs_collapsed(corpus, max_hamming=3).toPandas()
    b = simhash_near_pairs_2x32(simhash_md5(corpus), max_hamming=3).toPandas()
    ka = set(map(tuple, a[["id_a", "id_b", "hamming"]].itertuples(index=False)))
    kb = set(map(tuple, b[["id_a", "id_b", "hamming"]].itertuples(index=False)))
    assert ka == kb
    assert not any(i >= 900001 or j >= 900001 for i, j, _ in ka)


def test_containment_catches_subset_jaccard_misses(spark):
    from pyhctsa_spark.operators.dedup import containment_pairs

    # a 10-word doc fully embedded in a 60-word doc: J ~ 6/56 = 0.11
    # (below any sane Jaccard threshold) but c1 = 1.0
    small = " ".join(f"tok{j}" for j in range(10))
    big = small + " " + " ".join(f"pad{j}_{j*7%13}" for j in range(50))
    other = " ".join(f"oth{j}" for j in range(30))
    df = spark.createDataFrame(
        [(1, small), (2, big), (3, other)], "doc_id long, text string"
    )
    rows = containment_pairs(df, shingle_k=5, threshold=0.9).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert (r["d1"], r["d2"]) == (1, 2)
    assert r["c1"] == 1.0 and r["c2"] < 0.2
    assert r["inter"] == 6 and r["n1"] == 6


def test_containment_collapse_is_invisible(spark, docs):
    from pyhctsa_spark.operators.dedup import containment_pairs

    # replicate a few docs so exact groups exist; collapse on/off must
    # produce identical pairs
    dup = docs.limit(8).withColumn("doc_id", F.col("doc_id") + 500000)
    both = docs.unionByName(dup)
    kw = dict(shingle_k=5, threshold=0.8, max_df=64)
    a = containment_pairs(both, collapse_exact=True, **kw)
    b = containment_pairs(both, collapse_exact=False, **kw)
    pa_ = a.orderBy("d1", "d2").toPandas()
    pb = b.orderBy("d1", "d2").toPandas()
    assert len(pa_) == len(pb) and len(pa_) > 0
    for col in pa_.columns:
        assert (pa_[col] == pb[col]).all(), col


def test_containment_collapse_invisible_at_high_multiplicity(spark):
    from pyhctsa_spark.operators.dedup import containment_pairs

    # duplicate multiplicity ABOVE max_df: every shingle of a 4-copy
    # group has naive df >= 4 > max_df=2, so the naive pipeline emits
    # NOTHING for those docs — the collapsed path must agree (shingle
    # df is weighted by group size, and within-group pairs require an
    # indexable shingle). A distinct pair of 2-copy groups sharing a
    # rare shingle stays detectable under both paths.
    body4 = " ".join(f"q{j}" for j in range(12))
    rare = "r1 r2 r3 r4 r5"
    g2a = rare + " " + " ".join(f"a{j}" for j in range(8))
    g2b = rare + " " + " ".join(f"b{j}" for j in range(8))
    rows = [(i, body4, "s") for i in range(4)]            # 4-copy group
    rows += [(10, g2a, "s"), (11, g2a, "s")]              # 2-copy group A
    rows += [(20, g2b, "s"), (21, g2b, "s")]              # 2-copy group B
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for max_df in (2, 3, 8):
        kw = dict(shingle_k=5, threshold=0.3, max_df=max_df)
        pa_ = (containment_pairs(df, collapse_exact=True, **kw)
               .orderBy("d1", "d2").toPandas())
        pb = (containment_pairs(df, collapse_exact=False, **kw)
              .orderBy("d1", "d2").toPandas())
        assert len(pa_) == len(pb), (max_df, len(pa_), len(pb))
        for col in pa_.columns:
            assert (pa_[col] == pb[col]).all(), (max_df, col)
    # sanity of the fixture itself: at max_df=2 only the two 2-copy
    # within-group pairs surface (their tail shingles have df=2); the
    # 4-copy group stays silent, and the cross-group rare shingle
    # (naive df=4) only becomes indexable at max_df >= 4
    n2 = containment_pairs(df, shingle_k=5, threshold=0.3, max_df=2)
    assert sorted((r["d1"], r["d2"]) for r in n2.collect()) == [
        (10, 11), (20, 21)
    ]
    n8 = containment_pairs(df, shingle_k=5, threshold=0.3, max_df=8).count()
    assert n8 > 2  # cross pairs between groups A and B appear


def test_containment_df_cap_prunes_boilerplate_only_overlap(spark):
    from pyhctsa_spark.operators.dedup import containment_pairs

    # 10 docs all sharing the same boilerplate shingle stream (df=10 >
    # max_df=4) plus unique tails: the shared shingles are ubiquitous,
    # so no candidate forms — documented recall boundary
    boiler = " ".join(f"b{j}" for j in range(8))
    df = spark.createDataFrame(
        [(i, boiler + " " + " ".join(f"u{i}_{j}" for j in range(8)))
         for i in range(10)],
        "doc_id long, text string",
    )
    out = containment_pairs(df, shingle_k=5, threshold=0.5, max_df=4)
    assert out.count() == 0
    # raising the cap restores them
    out2 = containment_pairs(df, shingle_k=5, threshold=0.3, max_df=32)
    assert out2.count() > 0


def test_hard_negatives_vs_numpy(spark, emb):
    """Band filter + ranking == a numpy replay: near-dup band (round-6
    cosine >= 0.95) excluded, top-3 of the remainder per query, nid
    tiebreak."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyhctsa_spark.operators.similarity import hard_negatives

    res = hard_negatives(emb, emb.where(F.col("vec_id") < 3), k=3).toPandas()
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    V = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = pdf.vec_id.to_numpy()
    for qid in range(3):
        cos = np.round(Vn @ Vn[ids == qid][0], 6)
        cand = [
            (c, int(n)) for c, n in zip(cos, ids)
            if n != qid and c < 0.95
        ]
        cand.sort(key=lambda t: (-t[0], t[1]))
        want = [(n, c) for c, n in cand[:3]]
        got = res[res.qid == qid].sort_values("neg_rank")
        assert list(got.nid) == [n for n, _ in want]
        assert np.allclose(got.cos6, [c for _, c in want], atol=1e-9)
        assert (got.cos6 < 0.95).all()


def test_positive_pairs_band_and_identity_filter(spark):
    """High-cosine pairs survive, exact-duplicate texts are excluded
    even at cosine 1.0, and the band cut uses the round-6 value."""
    from pyhctsa_spark.operators.similarity import positive_pairs

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.0]),     # identical vec AND identical text -> excluded
            (2, [0.999, 0.01]),  # near-identical vec, distinct text -> kept
            (3, [0.0, 1.0]),     # orthogonal -> below band
            (4, [0.0, 0.0]),     # zero norm -> NULL cosine, excluded
        ],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [(0, "same"), (1, "same"), (2, "different"), (3, "x"), (4, "y")],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.cos6
        for r in positive_pairs(emb, docs, min_cos=0.95).collect()
    }
    assert (0, 1) not in got          # exact text dup excluded
    assert (0, 2) in got and (1, 2) in got
    assert got[(0, 2)] > 0.999
    assert all(a < b for a, b in got)
    assert not any(4 in p or 3 in p for p in got)
