"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting, and the bridge from a
documents table into the engine's tokenized-sequence input shape.

All expressions are JVM-side built-ins; no Python in the scan path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Tiny per-language stopword lists for the n-gram/stopword-vote heuristic
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "se", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "im", "ist"],
}


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language guess: score = |words ∩ stopwords(lang)|
    per language; zero votes -> 'und' (undetermined); a TIE between
    positive scores resolves to the FIRST language in STOPWORDS insertion
    order (matched by the oracle's _PRED_CASE), not 'und'."""
    words = F.split(F.lower(F.col(text_col)), " ")
    scores = [
        F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in sw]))).alias(
            f"score_{lang}"
        )
        for lang, sw in STOPWORDS.items()
    ]
    scored = df.select("*", *scores)
    langs = list(STOPWORDS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.withColumn("pred_lang", pred).drop(
        *[f"score_{lg}" for lg in langs]
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: word/char counts, mean word length,
    stopword ratio, punctuation and digit ratios, and a composite score
    in [0, 1] (each component clamped)."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    n_chars = F.length(F.col(text_col))
    mean_wlen = (n_chars - n_words + 1) / n_words
    all_stop = [w for sw in STOPWORDS.values() for w in sw]
    stop_ratio = F.size(
        F.filter(words, lambda w: F.lower(w).isin(all_stop))
    ) / n_words
    # n_chars can be 0 (empty document) and Spark 4 ANSI raises on
    # double division by zero — guard the denominator; empty docs score
    # NULL ratios (and the composite goes NULL through the arithmetic)
    nc_safe = F.when(n_chars > 0, n_chars)
    punct_ratio = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    ) / nc_safe
    digit_ratio = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), r"[0-9]", ""))
    ) / nc_safe
    score = (
        F.least(n_words / 100.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct_ratio * 5.0, F.lit(1.0))) * 0.2
        + (1.0 - F.least(digit_ratio * 5.0, F.lit(1.0))) * 0.1
    )
    return df.select(
        "*",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(score, 6).alias("quality"),
    )


def token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn(
        "n_tokens", F.size(F.split(F.col(text_col), " ")).cast("long")
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Normalized-content fingerprints: exact (md5 of lowercased,
    space-collapsed text) and a 64-bit rolling xxhash."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return df.withColumn("fp_md5", F.md5(norm)).withColumn(
        "fp_xx64", F.xxhash64(norm)
    )


def documents_to_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    vocab: int = 50257,
) -> DataFrame:
    """Bridge a documents table into the engine's input_hint shape:
    tokens = pmod(xxhash64(word), vocab) per word — a deterministic
    hash 'tokenizer' producing (doc_id, tokens, n_tok, source) ready for
    rollup_tiers / extract_features."""
    words = F.split(F.col(text_col), " ")
    tokens = F.transform(
        words, lambda w: F.pmod(F.xxhash64(w), F.lit(vocab)).cast("int")
    )
    return df.select(
        F.col(id_col).cast("string").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(words).cast("int").alias("n_tok"),
        F.col(source_col).alias("source"),
        F.lit(None).cast("long").alias("tok_checksum"),
    )


def repetition_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Within-document repetition: fraction of duplicated 3-gram /
    5-gram occurrences (1 - distinct/total) and the highest single
    trigram count — the standard repetitious-text quality filter for
    training corpora (Gopher/MassiveText-style rules). Pure JVM
    expressions: shingles via transform(sequence(...)), one explode,
    two partial-aggregations; shuffle volume = distinct shingles per
    doc. Mirrors plans/oracle_queries.QUERIES['doc_repetition']."""

    # materialize the split ONCE as a named column: an expression object
    # reused inside a higher-order-function lambda is INLINED and
    # re-evaluated per element (n_positions x n words re-splits per doc
    # — measured 20x+ on this function), while a non-cheap multiply-
    # referenced alias is a projection barrier CollapseProject keeps
    words = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_ws")
    ).persist()
    ws = F.col("_ws")

    def shingled(n: int):
        # guard BEFORE the transform: sequence(0, negative) descends and
        # element_at reads out-of-bounds indices under ANSI mode
        return words.where(F.size(ws) >= n).select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(ws) - n),
                    lambda i: F.concat_ws(
                        " ", *[F.element_at(ws, i + k + 1) for k in range(n)]
                    ),
                )
            ).alias("sh"),
        )

    t3 = (
        shingled(3)
        .groupBy(id_col, "sh").count()
        .groupBy(id_col)
        .agg(
            F.sum("count").alias("tot3"),
            F.count("*").alias("uniq3"),
            F.max("count").cast("long").alias("max3"),
        )
    )
    t5 = (
        shingled(5)
        .groupBy(id_col, "sh").count()
        .groupBy(id_col)
        .agg(F.sum("count").alias("tot5"), F.count("*").alias("uniq5"))
    )
    return t3.join(t5, id_col).select(
        id_col,
        F.round(1.0 - F.col("uniq3") / F.col("tot3").cast("double"), 6).alias("rep3"),
        F.round(1.0 - F.col("uniq5") / F.col("tot5").cast("double"), 6).alias("rep5"),
        "max3",
    )


def contamination_check(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    ``ngram_n``-word n-gram with an evaluation set (the standard
    train/test contamination screen for LLM corpora).

    Scale shape: the eval n-gram set is small (benchmarks are KBs-MBs)
    and is broadcast; the corpus side is one explode + broadcast-hash
    semi-join + per-doc count — the corpus is never shuffled by content,
    only by doc_id for the count aggregation. Output: one row per
    corpus doc with the distinct-hit count and a 0/1 contaminated flag.
    """

    def ngrams(df: DataFrame) -> DataFrame:
        # split materialized as a column before the transform references
        # it per element — an inlined expression object would re-split
        # the text once per element_at (the projection-barrier rule)
        words = df.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
        ).where(F.size("_w") >= ngram_n)
        sh = F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("_w") - ngram_n),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(F.col("_w"), i + k + 1)
                      for k in range(ngram_n)],
                ),
            )
        )
        return words.select(F.col(id_col), F.explode(sh).alias("ng"))

    ev = F.broadcast(ngrams(eval_df).select("ng").distinct())
    hits = (
        ngrams(corpus)
        .join(ev, "ng")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return corpus.select(id_col).join(hits, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        F.when(F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits, 1)
        .otherwise(0)
        .cast("int")
        .alias("contaminated"),
    )


QF_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for"]


def _qf_stats_fn(text_idx: int, stopwords: list[str],
                 lang_lists: list[list[str]]):
    """mapInArrow kernel for quality_filter: per-document INTEGER
    statistics (word count, stopword occurrences, distinct word-trigram
    count, per-language distinct-stopword votes), appended to the input
    batch. Counts are exact (pyarrow dictionary_encode groups equal
    strings; trigram identity via successive integer pairing, never a
    lossy hash), and every ratio/round stays Spark-side so arithmetic is
    operand-identical with the oracled SQL. NULL text mirrors the SQL
    expressions' results: size(NULL) = -1 for n_words / n_stop / votes.
    pyarrow split_pattern matches Spark split(" ") on empties: '' ->
    [''], double spaces keep the empty token, trailing empties kept."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    stop_set = pa.array(stopwords)
    lang_sets = [pa.array(sw) for sw in lang_lists]

    def fn(batches):
        for b in batches:
            texts = b.column(text_idx)
            n = b.num_rows
            words = pc.split_pattern(texts, " ")
            lens = (
                pc.fill_null(words.value_lengths(), -1)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            valid = lens >= 0
            flat = pc.list_flatten(words)
            nw = len(flat)
            doc_idx = np.repeat(np.nonzero(valid)[0], lens[valid])
            # stopword OCCURRENCES (with duplicates): size(filter(isin))
            n_stop = np.full(n, -1, np.int64)
            n_stop[valid] = 0
            if nw:
                hit = (
                    pc.is_valid(pc.index_in(flat, value_set=stop_set))
                    .to_numpy(zero_copy_only=False)
                )
                if hit.any():
                    n_stop[valid] = np.bincount(
                        doc_idx[hit], minlength=n
                    ).astype(np.int64)[valid]
            # distinct word-trigrams per doc (rep3 numerator); exact via
            # dictionary codes + successive pairing (no 3-way overflow)
            uniq3 = np.zeros(n, np.int64)
            if nw >= 3:
                enc = pc.dictionary_encode(flat)
                codes = (
                    enc.indices.to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                V = np.int64(len(enc.dictionary))
                m = doc_idx[:-2] == doc_idx[2:]
                if m.any():
                    p = codes[:-2][m] * V + codes[1:-1][m]
                    _, pin = np.unique(p, return_inverse=True)
                    k2 = pin.astype(np.int64) * V + codes[2:][m]
                    dd = doc_idx[:-2][m]
                    order = np.lexsort((k2, dd))
                    ds, ks = dd[order], k2[order]
                    new = np.ones(len(ds), bool)
                    new[1:] = (ds[1:] != ds[:-1]) | (ks[1:] != ks[:-1])
                    uniq3 = np.bincount(
                        ds[new], minlength=n
                    ).astype(np.int64)
            # language votes: DISTINCT lowered words per doc in each
            # 10-word list (array_intersect semantics)
            votes = np.full((len(lang_sets), n), -1, np.int64)
            votes[:, valid] = 0
            lflat = pc.list_flatten(pc.split_pattern(pc.utf8_lower(texts), " "))
            if len(lflat):
                lenc = pc.dictionary_encode(lflat)
                lcodes = (
                    lenc.indices.to_numpy(zero_copy_only=False)
                    .astype(np.int64)
                )
                LV = np.int64(len(lenc.dictionary))
                for li, ls in enumerate(lang_sets):
                    lh = (
                        pc.is_valid(pc.index_in(lflat, value_set=ls))
                        .to_numpy(zero_copy_only=False)
                    )
                    if lh.any():
                        uk = np.unique(doc_idx[lh] * LV + lcodes[lh])
                        votes[li] += np.bincount(
                            (uk // LV).astype(np.int64), minlength=n
                        )
            arrays = [b.column(i) for i in range(b.num_columns)]
            arrays += [
                pa.array(lens, pa.int64()),
                pa.array(n_stop, pa.int64()),
                pa.array(uniq3, pa.int64()),
            ]
            arrays += [pa.array(votes[li], pa.int64())
                       for li in range(len(lang_sets))]
            names = [b.schema.names[i] for i in range(b.num_columns)]
            names += ["n_words", "_n_stop", "_uniq3"]
            names += [f"_s{li}" for li in range(len(lang_sets))]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return fn


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    min_stopword_ratio: float = 0.05,
    max_rep3: float = 0.05,
    full_rows: bool = False,
) -> DataFrame:
    """Composite keep/drop corpus filter with a reason code — the
    DataFrame-API twin of the driver-oracled doc_quality_filter query.
    Precedence: too_short -> low_stopword -> repetitious -> lang_und ->
    keep. Each component is the same expression the oracled component
    queries use (9-word stopword ratio, 3-gram repetition, stopword-vote
    language id).

    Every component is a PER-DOCUMENT statistic, so the whole filter is
    ONE shuffle-free scan (optimization r6, guide §2.4 + §4.2): a
    mapInArrow kernel (_qf_stats_fn) computes the exact INTEGER counts
    (n_words, stopword occurrences, distinct word-trigrams, per-language
    distinct-stopword votes) vectorized per batch, replacing the former
    explode -> groupBy(doc, shingle) -> groupBy(doc) -> 3-scan-join
    pipeline that shuffled every shingle occurrence twice. All ratios,
    round(,6) calls and the reason CASE stay Spark-side with
    operand-identical expressions, and rep3 is defined exactly where
    repetition_score emits a row (>= 5 words: the 3-gram table
    inner-joined the 5-gram table), so output matches the old
    formulation row-for-row — pinned by test_quality_filter_matches_sql
    against the oracled SQL.

    ``full_rows=True`` keeps every input column alongside keep/reason,
    so a caller that wants the surviving DOCUMENTS (curation funnel)
    filters in place instead of shuffling the text payload through a
    join back on doc_id (guide §8: decide with small rows — here the
    decision never needs to leave the row it belongs to)."""
    from pyspark.sql import types as T

    passthrough = [c for c in df.columns if c != id_col] if full_rows else []
    in_cols = [id_col] + (
        passthrough if full_rows else [text_col]
    )
    base = df.select(*in_cols)
    langs = list(STOPWORDS)
    text_idx = in_cols.index(text_col)
    out_fields = list(base.schema.fields) + [
        T.StructField("n_words", T.LongType()),
        T.StructField("_n_stop", T.LongType()),
        T.StructField("_uniq3", T.LongType()),
    ] + [T.StructField(f"_s{i}", T.LongType()) for i in range(len(langs))]
    stats = base.mapInArrow(
        _qf_stats_fn(text_idx, QF_STOPWORDS,
                     [STOPWORDS[lg] for lg in langs]),
        T.StructType(out_fields),
    )
    n = F.col("n_words")
    rep3 = F.when(
        n >= 5,
        F.round(1.0 - F.col("_uniq3") / (n - 2).cast("double"), 6),
    )
    stopword_ratio = F.round(F.col("_n_stop") / n.cast("double"), 6)
    scores = {lg: F.col(f"_s{i}") for i, lg in enumerate(langs)}
    best = F.greatest(*[scores[lg] for lg in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lg in langs:
        pred = pred.when(scores[lg] == best, F.lit(lg))
    reason = (
        F.when(n < min_words, F.lit("too_short"))
        .when(stopword_ratio < min_stopword_ratio, F.lit("low_stopword"))
        .when(rep3 > max_rep3, F.lit("repetitious"))
        .when(pred == "und", F.lit("lang_und"))
        .otherwise(F.lit("keep"))
    )
    # projection barrier: the reason CASE evaluates once, then keep is
    # derived from the materialized column (CollapseProject keeps
    # multiply-referenced non-cheap aliases apart)
    return stats.select(
        id_col, *passthrough, reason.alias("reason")
    ).select(
        id_col,
        *passthrough,
        F.when(F.col("reason") == "keep", 1).otherwise(0).cast("int").alias("keep"),
        "reason",
    )
