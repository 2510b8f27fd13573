"""Text-analysis operators for training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting,
and document fingerprinting — all JVM-side column expressions over
the ``documents`` table (no UDFs in the hot path).
"""

from __future__ import annotations

from libpdf_spark.operators.common import load_parallel

STOPWORDS = ("the", "a", "of", "and", "to", "in")


def _F():
    from pyspark.sql import functions as F

    return F


def q_langid(spark, sf_dir):
    """Stopword-ratio language heuristic: ratio of stopword tokens;
    >= 0.02 → 'en', else 'unk'. (On real corpora the stopword lists
    are per-language; the operator shape — tokenize, ratio, argmax —
    is what scales.)"""
    F = _F()
    docs = load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    )
    stop_arr = F.expr("array(" + ", ".join(f"'{s}'" for s in STOPWORDS) + ")")
    ratio = F.round(
        F.size(F.filter("w", lambda t: F.array_contains(stop_arr, t)))
        / F.size("w"),
        6,
    )
    return docs.select(
        "doc_id",
        ratio.alias("stop_ratio"),
        F.when(ratio >= 0.02, F.lit("en")).otherwise(F.lit("unk")).alias("lang_guess"),
    )


_STOP_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

SQL_LANGID = rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    )
    SELECT doc_id,
           ROUND(len(list_filter(w, x -> list_contains({_STOP_SQL}, x))) / len(w), 6) AS stop_ratio,
           CASE WHEN ROUND(len(list_filter(w, x -> list_contains({_STOP_SQL}, x))) / len(w), 6) >= 0.02
                THEN 'en' ELSE 'unk' END AS lang_guess
    FROM t
"""


def q_quality_score(spark, sf_dir):
    """Document quality features: char/word counts, mean word length,
    punctuation density — the pre-training filter-feature shape."""
    F = _F()
    docs = load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id",
        "text",
        F.split(F.trim("text"), r"\s+").alias("w"),
    )
    n_chars = F.length("text")
    n_words = F.size("w")
    mean_wlen = F.round(
        F.aggregate(
            F.transform("w", lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        / n_words,
        6,
    )
    n_punct = F.length(F.regexp_replace("text", r"[^.!?,;]", ""))
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars2"),
        n_words.cast("long").alias("n_words"),
        mean_wlen.alias("mean_word_len"),
        n_punct.cast("long").alias("n_punct"),
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
    )


SQL_QUALITY = r"""
    WITH t AS (
      SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    )
    SELECT doc_id,
           LENGTH(text) AS n_chars2,
           len(w) AS n_words,
           ROUND(list_sum(list_transform(w, x -> CAST(LENGTH(x) AS DOUBLE))) / len(w), 6) AS mean_word_len,
           LENGTH(regexp_replace(text, '[^.!?,;]', '', 'g')) AS n_punct,
           ROUND(LENGTH(regexp_replace(text, '[^.!?,;]', '', 'g')) / LENGTH(text), 6) AS punct_ratio
    FROM t
"""


def q_token_count(spark, sf_dir):
    """Whitespace token count + a BPE-ish subword estimate
    (ceil(len/4) pieces per word) — the cost-estimation shape for
    training-data budgeting."""
    F = _F()
    docs = load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    )
    n_tokens = F.size("w")
    n_subwords = F.aggregate(
        F.transform("w", lambda t: F.ceil(F.length(t) / 4.0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        n_subwords.alias("n_subwords"),
    )


SQL_TOKEN_COUNT = r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    )
    SELECT doc_id,
           len(w) AS n_tokens,
           CAST(list_sum(list_transform(w, x -> CAST(CEIL(LENGTH(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
    FROM t
"""


def q_fingerprint(spark, sf_dir):
    """Normalized-content fingerprint: lowercase, collapse whitespace,
    md5 (X6-adjacent identifier sanitation + S7 golden-file shape)."""
    F = _F()
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.md5(norm).alias("fingerprint")
    )


SQL_FINGERPRINT = r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
"""


# --- benchmark decontamination ----------------------------------------------------
BENCH_DOC_MAX = 50   # doc_id < 50 plays the "held-out benchmark" set
CONTAM_NGRAM = 8     # shared word-8-gram ⇒ contaminated


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any word
    8-gram with the held-out set (doc_id < BENCH_DOC_MAX plays the
    benchmark). The industry-standard n-gram-overlap check.

    Scale posture: both sides explode to distinct md5(8-gram) keys and
    meet in ONE equi-join on the gram hash (train side is the probe;
    the benchmark side is small and broadcast); per-doc aggregation is
    map-side-combinable. No all-pairs anything."""
    F = _F()
    docs = load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    ).filter(F.size("w") >= CONTAM_NGRAM)
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - CONTAM_NGRAM),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ",
                            *[
                                F.element_at("w", i + k + 1)
                                for k in range(CONTAM_NGRAM)
                            ],
                        )
                    ),
                )
            )
        ).alias("g"),
    )
    bench = (
        grams.filter(F.col("doc_id") < BENCH_DOC_MAX)
        .select("g")
        .distinct()
    )
    train = grams.filter(F.col("doc_id") >= BENCH_DOC_MAX)
    hits = (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    train_docs = docs.filter(F.col("doc_id") >= BENCH_DOC_MAX).select("doc_id")
    return (
        train_docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) > 0).alias("contaminated"),
        )
    )


_SQL_GRAMS = rf"""
    WITH wd AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
      FROM documents
    ), eligible AS (
      SELECT doc_id, w FROM wd WHERE len(w) >= {CONTAM_NGRAM}
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct([
               md5(array_to_string(w[i : i + {CONTAM_NGRAM} - 1], ' '))
               for i in range(1, len(w) - {CONTAM_NGRAM} + 2)
             ])) AS g
      FROM eligible
    )
"""

SQL_DECONTAMINATE = (
    _SQL_GRAMS
    + f"""
    , bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < {BENCH_DOC_MAX})
    , hits AS (
      SELECT t.doc_id, COUNT(*) AS n_shared
      FROM grams t JOIN bench USING (g)
      WHERE t.doc_id >= {BENCH_DOC_MAX}
      GROUP BY t.doc_id
    )
    SELECT e.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(h.n_shared, 0) > 0 AS contaminated
    FROM eligible e LEFT JOIN hits h USING (doc_id)
    WHERE e.doc_id >= {BENCH_DOC_MAX}
"""
)


# --- deterministic stratified sampling ----------------------------------------------
# per-stratum keep rates as md5-hex prefixes: lexicographic compare of
# the hex digest is a uniform engine-portable coin (first hex char
# < '4' = 25%, < '8' = 50%)
SAMPLE_RATES = {"en": "4", "unk": "8"}


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling for training mixes: strata
    from the language-ID heuristic, per-stratum rates via an md5-hex
    coin (reproducible across engines/runs/partitionings — no RNG
    state anywhere). Output = the kept rows, value-oracled exactly."""
    F = _F()
    lang = q_langid(spark, sf_dir).select("doc_id", "lang_guess")
    coin = F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string")))
    rate = F.when(F.col("lang_guess") == "en", F.lit(SAMPLE_RATES["en"])).otherwise(
        F.lit(SAMPLE_RATES["unk"])
    )
    return (
        lang.withColumn("coin", coin)
        .filter(F.col("coin") < rate)
        .select("doc_id", F.col("lang_guess").alias("stratum"))
    )


SQL_SAMPLE_STRATIFIED = rf"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    ), lang AS (
      SELECT doc_id,
             CASE WHEN ROUND(len(list_filter(w, x -> list_contains({_STOP_SQL}, x))) / len(w), 6) >= 0.02
                  THEN 'en' ELSE 'unk' END AS stratum
      FROM t
    )
    SELECT doc_id, stratum
    FROM lang
    WHERE md5('sample|' || CAST(doc_id AS VARCHAR))
          < (CASE stratum WHEN 'en' THEN '{SAMPLE_RATES["en"]}' ELSE '{SAMPLE_RATES["unk"]}' END)
"""


# --- composed clean-corpus filter ----------------------------------------------------
QUALITY_MIN_WORDS = 20
QUALITY_MAX_PUNCT_RATIO = 0.1


def q_corpus_filter(spark, sf_dir):
    """The composed keep/drop decision a training pipeline ships:
    exact-dedup survivor ∧ not benchmark-contaminated ∧ quality floor
    (≥ 20 words, punctuation ratio ≤ 0.1). One row per document with
    the per-rule verdicts and the final ``keep`` — operator
    COMPOSITION over the dedup/decontamination/quality tiers."""
    F = _F()
    from libpdf_spark.operators.dedup import q_dedup_exact

    docs = load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w"), "text"
    )
    survivors = q_dedup_exact(spark, sf_dir).select(
        F.col("keep_doc_id").alias("doc_id"), F.lit(True).alias("is_survivor")
    )
    contam = q_decontaminate(spark, sf_dir).select("doc_id", "contaminated")
    n_words = F.size("w")
    punct_ratio = F.length(F.regexp_replace("text", r"[^.!?,;]", "")) / F.length(
        "text"
    )
    quality = docs.select(
        "doc_id",
        (
            (n_words >= QUALITY_MIN_WORDS)
            & (punct_ratio <= QUALITY_MAX_PUNCT_RATIO)
        ).alias("quality_ok"),
    )
    out = (
        quality.join(survivors, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_survivor", F.lit(False)).alias("is_survivor"),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
            "quality_ok",
        )
    )
    return out.withColumn(
        "keep",
        F.col("is_survivor") & ~F.col("contaminated") & F.col("quality_ok"),
    )


SQL_CORPUS_FILTER = (
    _SQL_GRAMS
    + f"""
    , bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < {BENCH_DOC_MAX})
    , hits AS (
      SELECT t.doc_id, COUNT(*) AS n_shared
      FROM grams t JOIN bench USING (g)
      WHERE t.doc_id >= {BENCH_DOC_MAX}
      GROUP BY t.doc_id
    )
    , survivors AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT d.doc_id,
           s.doc_id IS NOT NULL AS is_survivor,
           COALESCE(h.n_shared, 0) > 0 AS contaminated,
           len(regexp_split_to_array(trim(d.text), '\\s+')) >= {QUALITY_MIN_WORDS}
             AND LENGTH(regexp_replace(d.text, '[^.!?,;]', '', 'g'))
                 / LENGTH(d.text) <= {QUALITY_MAX_PUNCT_RATIO} AS quality_ok,
           (s.doc_id IS NOT NULL)
             AND NOT (COALESCE(h.n_shared, 0) > 0)
             AND (len(regexp_split_to_array(trim(d.text), '\\s+')) >= {QUALITY_MIN_WORDS}
                  AND LENGTH(regexp_replace(d.text, '[^.!?,;]', '', 'g'))
                      / LENGTH(d.text) <= {QUALITY_MAX_PUNCT_RATIO}) AS keep
    FROM documents d
    LEFT JOIN survivors s ON s.doc_id = d.doc_id
    LEFT JOIN hits h ON h.doc_id = d.doc_id
"""
)


TFIDF_TOP_K = 3


def q_tfidf_keywords(spark, sf_dir):
    """Top-K document keywords by TF-IDF — the quality-weighting /
    topic-sampling feature a training pipeline derives per document.

    Scoring uses the reciprocal-df idf variant computed in EXACT
    integer arithmetic (``tf · 10⁶ div (df+1)``): like log-idf it is
    strictly decreasing in df, but the ranking is bit-identical across
    engines — a 1-ulp ``ln`` difference between Spark's and DuckDB's
    libm flips ranks on near-ties, so no floats enter the sort key.

    Plan shape: token explode → (doc, token) hash-agg (tf) →
    groupBy(token) df + equi-join back on token (NOT a window over
    token: a stop-token's window partition holds every document — the
    join shuffles on the same key but AQE skew-join splits hot tokens)
    → per-doc top-K window (bounded by vocabulary-per-doc)."""
    F = _F()
    from pyspark.sql import Window

    tok = load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(df, "token").withColumn(
        "score_milli", F.expr("CAST(tf AS BIGINT) * 1000000 DIV (df + 1)")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_milli"), F.asc("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tf", "df", "score_milli", "rank")
    )


SQL_TFIDF = rf"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ), scored AS (
      SELECT tf.doc_id, tf.token, tf.tf, df.df,
             tf.tf * 1000000 // (df.df + 1) AS score_milli
      FROM tf JOIN df USING (token)
    )
    SELECT doc_id, token, tf, df, score_milli,
           ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY score_milli DESC, token
           ) AS rank
    FROM scored
    QUALIFY rank <= {TFIDF_TOP_K}
"""


def q_repetition_score(spark, sf_dir):
    """Gopher-style repetition signal: the fraction of words that are
    duplicates of an earlier word in the same document (Rae et al.,
    "Scaling Language Models" — public heuristic; high duplicate
    fraction flags boilerplate/spam for corpus filtering). Emitted as
    integer parts-per-million so the oracle comparison is exact across
    engines (no float rounding)."""
    F = _F()
    docs = load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    )
    n_words = F.size("w").cast("long")
    n_distinct = F.size(F.array_distinct("w")).cast("long")
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_distinct.alias("n_distinct"),
        F.expr(
            "CAST((size(w) - size(array_distinct(w))) * 1000000L"
            " div size(w) AS BIGINT)"
        ).alias("dup_ppm"),
    )


SQL_REPETITION = r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
           CAST((len(w) - len(list_distinct(w))) * 1000000 // len(w) AS BIGINT)
             AS dup_ppm
    FROM t
"""


def q_pack_bins(spark, sf_dir, budget: int = 2048, shard: int = 1000):
    """Sequence packing for training: assign documents (in doc_id
    order) to fixed token-budget bins via a GLOBAL exclusive prefix
    sum of token counts — ``bin_id = floor(prefix / budget)`` (the
    budget-quantized streaming-pack approximation: a bin may overflow
    by at most one document, which is what large pipelines actually
    run because exact next-fit is a sequential recurrence).

    Scale shape: a bare ``Window.orderBy(doc_id)`` would execute the
    whole prefix sum on ONE task. This is the classic two-phase
    distributed scan instead: (1) an intra-shard window partitioned by
    ``doc_id div shard`` (parallel), (2) per-shard totals — one tiny
    row per shard — cumulated and broadcast-joined back as shard base
    offsets. At 100 TB the shard constant rises so phase-2 stays a
    driver-sized table (1 row per ~10⁶ docs)."""
    F = _F()
    from pyspark.sql import Window

    docs = load_parallel(spark, sf_dir, "documents", "doc_id").select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
        # integer div, not float division: (x/shard).cast(long) is only
        # exact while doc_id < 2^53 and leans on IEEE rounding at shard
        # boundaries — `div` is exact for every BIGINT (ADVICE r5)
        F.expr(f"CAST(doc_id AS BIGINT) div {int(shard)}").alias("shard_id"),
    )
    w_in = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = docs.withColumn(
        "local_prefix", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    )
    # r8 note (measured, kept as-is): the two consumers of `docs`
    # (window + shard totals) DO re-run the tokenize subtree — the
    # plan shows two scans and ReuseExchange never fires (the pruned
    # subtrees canonicalize differently), and a rewrite deriving the
    # totals from the window output (max of prefix+n per shard) was
    # benchmarked at a wash (0.61 vs 0.59 s min, 5 interleaved trials
    # at sf1.0) because Spark duplicates the window subtree for its
    # two consumers just the same. Reverted to the simpler form.
    shard_tot = docs.groupBy("shard_id").agg(F.sum("n_tokens").alias("tot"))
    w_sh = Window.orderBy("shard_id").rowsBetween(
        Window.unboundedPreceding, -1
    )  # tiny: one row per shard — single-task window is fine HERE
    base = shard_tot.select(
        "shard_id", F.coalesce(F.sum("tot").over(w_sh), F.lit(0)).alias("base")
    )
    packed = local.join(F.broadcast(base), "shard_id").select(
        "doc_id",
        "n_tokens",
        (F.col("base") + F.col("local_prefix")).alias("prefix"),
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        (F.col("prefix") / budget).cast("long").alias("bin_id"),
        (F.col("prefix") % budget).cast("long").alias("bin_offset"),
    )


SQL_PACK_BINS = r"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    ), p AS (
      SELECT doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS prefix
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(prefix // 2048 AS BIGINT) AS bin_id,
           CAST(prefix % 2048 AS BIGINT) AS bin_offset
    FROM p
"""


QUERIES = {
    "langid": q_langid,
    "quality_score": q_quality_score,
    "token_count": q_token_count,
    "fingerprint": q_fingerprint,
    "decontaminate": q_decontaminate,
    "sample_stratified": q_sample_stratified,
    "corpus_filter": q_corpus_filter,
    "tfidf_keywords": q_tfidf_keywords,
    "repetition_score": q_repetition_score,
    "pack_bins": q_pack_bins,
}

ORACLES = {
    "langid": SQL_LANGID,
    "quality_score": SQL_QUALITY,
    "token_count": SQL_TOKEN_COUNT,
    "fingerprint": SQL_FINGERPRINT,
    "decontaminate": SQL_DECONTAMINATE,
    "sample_stratified": SQL_SAMPLE_STRATIFIED,
    "corpus_filter": SQL_CORPUS_FILTER,
    "tfidf_keywords": SQL_TFIDF,
    "repetition_score": SQL_REPETITION,
    "pack_bins": SQL_PACK_BINS,
}
