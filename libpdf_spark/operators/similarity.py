"""Similarity search over the embeddings table.

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed
(random-hyperplane sign) variant as the scale path. Dot products run
JVM-side via ``F.zip_with`` + ``F.aggregate`` — no Python UDF.

Scale posture: brute force is O(Q·N) with Q broadcast — correct
verifier, not the production path; the sign-LSH variant buckets by a
deterministic bit signature so the candidate join is an equi-join on
the bucket key (shuffle bounded by bucket sizes).
"""

from __future__ import annotations

from libpdf_spark.operators.common import load_parallel

TOP_K = 5
N_QUERIES = 3  # vec_id < 3 are the query vectors


def _F():
    from pyspark.sql import functions as F

    return F


QUANT = 1_000_000  # 1e-6 embedding quantization grid


def _quantize(col):
    """double[] → int64[] on a 1e-6 grid via FLOOR. Integer dot
    products are then EXACT in both engines. floor (not round!):
    ROUND(double, 0) tie-breaks differently between Spark (BigDecimal
    HALF_UP on the exact binary value) and DuckDB — floor of identical
    doubles is always the identical integer."""
    F = _F()
    # explicit double cast: the stored embeddings are float32 and
    # FLOAT * INT stays single-precision in DuckDB (rounds 294555.99
    # up to 294556.0 before the floor)
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * QUANT).cast("long")
    )


def _idot(a, b):
    F = _F()
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def q_cosine_topk(spark, sf_dir):
    """Exact top-k cosine neighbors for each query vector over
    quantized embeddings (brute force; queries broadcast).

    Output carries the EXACT integer dot product and squared norms
    instead of a rounded float cosine: integer outputs are
    engine-portable, while ``round(x, 6)`` tie-breaks differently
    between Spark (BigDecimal HALF_UP on the binary value) and DuckDB
    on half-way values (observed 1e-6 flips). Ranking still uses the
    raw double cosine — identical doubles from identical ints."""
    F = _F()
    from pyspark.sql import Window

    # r8 (guide §1.2 "don't recompute"): |v|² depends only on the
    # corpus row and |q|² only on the query row — hoist both out of
    # the Q×N pair projection so each is computed once per row/query
    # instead of once per pair (the higher-order-function dot is the
    # per-pair cost driver; this removes 2 of the 4 array folds).
    emb = load_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _quantize("embedding").alias("qe")
    ).withColumn("na2", _idot(F.col("qe"), F.col("qe")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("qe").alias("q_emb"),
        F.col("na2").alias("nb2"),
    )
    dot = _idot(F.col("qe"), F.col("q_emb"))
    joined = (
        emb.crossJoin(F.broadcast(queries))
        .withColumn("dot", dot)
        .withColumn(
            "cos_raw",
            F.col("dot").cast("double")
            / (F.sqrt(F.col("na2").cast("double")) * F.sqrt(F.col("nb2").cast("double"))),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "q_id", "vec_id", "dot", "na2", "nb2",
            F.col("rank").cast("long").alias("rank"),
        )
    )


_SQL_QUANT = (
    f"list_transform(embedding, "
    f"x -> CAST(FLOOR(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))"
)

SQL_COSINE_TOPK = f"""
    WITH qe AS (
      SELECT vec_id, {_SQL_QUANT} AS qe FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, qe AS q_emb FROM qe WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             CAST(list_dot_product(e.qe, q.q_emb) AS BIGINT) AS dot,
             CAST(list_dot_product(e.qe, e.qe) AS BIGINT) AS na2,
             CAST(list_dot_product(q.q_emb, q.q_emb) AS BIGINT) AS nb2,
             CAST(list_dot_product(e.qe, q.q_emb) AS DOUBLE)
               / (sqrt(CAST(list_dot_product(e.qe, e.qe) AS DOUBLE))
                  * sqrt(CAST(list_dot_product(q.q_emb, q.q_emb) AS DOUBLE))) AS cos_raw
      FROM qe e CROSS JOIN q
    )
    SELECT q_id, vec_id, dot, na2, nb2, rank FROM (
      SELECT q_id, vec_id, dot, na2, nb2,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_raw DESC, vec_id) AS rank
      FROM scored
    ) t WHERE rank <= {TOP_K}
"""


N_PLANES = 8


def _plane(i: int, dim: int = 64) -> list[float]:
    """Deterministic pseudo-random hyperplane via a fixed LCG.

    Both engines consume the SAME values: Spark embeds them as SQL
    array literals and the DuckDB oracle as list literals, so
    there is no cross-engine RNG to keep in sync — the LCG runs once,
    here, on the driver."""
    vals = []
    state = 1103515245 * (i + 1) % 2147483647
    for _ in range(dim):
        state = (1103515245 * state + 12345) % 2147483647
        vals.append((state / 2147483647.0) * 2.0 - 1.0)
    return vals


def _plane_q(i: int) -> list[int]:
    """Quantized hyperplane — integer dot products keep the sign test
    exact in both engines (no 1-ulp sign flips near zero)."""
    return [round(v * QUANT) for v in _plane(i)]


def q_ann_lsh_buckets(spark, sf_dir):
    """Sign-LSH bucket key per vector: bit i = sign(v · plane_i).
    Vectors sharing the 8-bit key are ANN candidates — the production
    path joins on this key instead of cross-joining the corpus."""
    F = _F()
    emb = load_parallel(spark, sf_dir, "embeddings", "vec_id").withColumn(
        "qe", _quantize("embedding")
    )
    bucket = None
    for i in range(N_PLANES):
        # one SQL array literal per plane, as in the oracle: 64
        # ``F.lit`` columns would cost the driver 64 py4j round trips
        plane = F.expr("array(" + ", ".join(f"{v}L" for v in _plane_q(i)) + ")")
        bit = (_idot(F.col("qe"), plane) > 0).cast("int")
        term = bit * (1 << i)
        bucket = term if bucket is None else bucket + term
    return emb.select("vec_id", "label", bucket.alias("bucket"))


def _sql_ann_lsh() -> str:
    terms = []
    for i in range(N_PLANES):
        lits = "[" + ", ".join(str(v) for v in _plane_q(i)) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({_SQL_QUANT}, {lits}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    expr = " + ".join(terms)
    return f"SELECT vec_id, label, CAST({expr} AS INT) AS bucket FROM embeddings"


# testdata embeddings are near-orthogonal (max pairwise cosine ~0.46
# at sf0.01); 0.35 keeps the check non-vacuous — 8 bucket-blocked
# pairs survive at sf0.01 (587 bucket-candidate pairs from 124,750
# total pairs: the blocking does 200× of the pruning, the exact
# cosine the final verify)
NEAR_DUP_COSINE = 0.35


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs, blocked by the sign-LSH
    bucket (``ann_lsh_buckets``): the self-join is an equi-join on the
    8-bit bucket key — O(Σ bucket²) not O(N²), and the bucket key is
    derived from the vectors themselves, so the plan is corpus-scale-
    ready (no external label needed). Exact integer-quantized cosine
    verifies candidates inside each bucket.

    Recall caveat (same honesty as IVF): 8 hyperplane bits collide
    with probability (1 − θ/π)⁸ — high-cosine pairs nearly always
    collide, borderline ones may not; at corpus scale you raise recall
    with multiple bands (exactly the MinHash-LSH banding in
    ``dedup_minhash_lsh``), same plan shape."""
    F = _F()
    buckets = q_ann_lsh_buckets(spark, sf_dir).select("vec_id", "bucket")
    emb = load_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _quantize("embedding").alias("qe")
    )
    # r8: hoist |v|² to once per vector (pre-join) instead of twice
    # per candidate pair — same results, fewer array folds
    keyed = buckets.join(emb, "vec_id").withColumn(
        "n2", _idot(F.col("qe"), F.col("qe"))
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    dot = _idot(F.col("a.qe"), F.col("b.qe"))
    na2 = F.col("a.n2")
    nb2 = F.col("b.n2")
    cos_raw = dot.cast("double") / (
        F.sqrt(na2.cast("double")) * F.sqrt(nb2.cast("double"))
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.bucket").alias("bucket"),
            dot.alias("dot"),
            na2.alias("na2"),
            nb2.alias("nb2"),
            cos_raw.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= NEAR_DUP_COSINE)
        .drop("cos_raw")
    )


def _sql_near_dup() -> str:
    return f"""
    WITH qe AS (
      SELECT vec_id, {_SQL_QUANT} AS qe FROM embeddings
    ), buckets AS (
      {_sql_ann_lsh()}
    ), keyed AS (
      SELECT b.vec_id, b.bucket, qe.qe
      FROM buckets b JOIN qe ON qe.vec_id = b.vec_id
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.bucket AS bucket,
           CAST(list_dot_product(a.qe, b.qe) AS BIGINT) AS dot,
           CAST(list_dot_product(a.qe, a.qe) AS BIGINT) AS na2,
           CAST(list_dot_product(b.qe, b.qe) AS BIGINT) AS nb2
    FROM keyed a JOIN keyed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE CAST(list_dot_product(a.qe, b.qe) AS DOUBLE)
             / (sqrt(CAST(list_dot_product(a.qe, a.qe) AS DOUBLE))
                * sqrt(CAST(list_dot_product(b.qe, b.qe) AS DOUBLE))) >= {NEAR_DUP_COSINE}
"""


# --- IVF-flat ANN -------------------------------------------------------------
IVF_K = 16       # coarse cells
IVF_NPROBE = 4   # cells probed per query


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat approximate top-k: the second scale path next to
    sign-LSH. Coarse cells = ``IVF_K`` deterministic seed vectors
    (vec_id N_QUERIES..N_QUERIES+K-1 — a data-sampled coarse quantizer
    with no iterative training, so both engines derive the identical
    index); every vector is assigned to its nearest cell by EXACT
    integer distance (argmin of |c|² − 2·v·c; ties → lowest cell id);
    each query probes its ``IVF_NPROBE`` nearest cells and runs exact
    cosine only inside them.

    Scale posture: assignment is a broadcast crossJoin with K small
    plus a map-side-combinable min-struct aggregation (no window
    shuffle); the probe is an equi-join on cell id, scanning ~NPROBE/K
    of the corpus per query instead of all of it.

    Recall caveat (measured, honest): the synthetic embeddings are
    near-orthogonal by construction, so there is no cluster structure
    for the coarse quantizer to exploit and recall@k ≈ NPROBE/K (~0.4
    at sf0.01). On real clustered embeddings IVF recall is far higher;
    what the oracle verifies here is the operator CONTRACT — identical
    index, identical probe set, exact ranking within probed cells.
    """
    F = _F()
    from pyspark.sql import Window

    emb = load_parallel(spark, sf_dir, "embeddings", "vec_id").select(
        "vec_id", _quantize("embedding").alias("qe")
    )
    cents = emb.filter(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + IVF_K)
    ).select(
        F.col("vec_id").alias("cent_id"),
        F.col("qe").alias("ce"),
        # r8: |c|² hoisted to once per centroid (it rode the N×K pair
        # projection before)
        _idot(F.col("qe"), F.col("qe")).alias("cc"),
    )
    # dist² ranking needs only |c|² − 2·v·c (|v|² is constant per vector)
    score = F.col("cc") - 2 * _idot(F.col("qe"), F.col("ce"))
    scored = emb.crossJoin(F.broadcast(cents)).withColumn("score", score)
    assign = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("score", "cent_id")).alias("m"))
        .select("vec_id", F.col("m.cent_id").alias("cell"))
    )
    probes = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn(
            "prb",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("score", "cent_id")
            ),
        )
        .filter(F.col("prb") <= IVF_NPROBE)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("qe").alias("q_emb"),
            F.col("cent_id").alias("cell"),
        )
    )
    # probes is Q×NPROBE rows — broadcast it so the cell join is
    # map-side (no shuffle of the corpus-sized assign table)
    cand = (
        assign.join(F.broadcast(probes), "cell")
        .join(emb, "vec_id")
        .select("q_id", "q_emb", "vec_id", "qe")
    )
    dot = _idot(F.col("qe"), F.col("q_emb"))
    na2 = _idot(F.col("qe"), F.col("qe"))
    nb2 = _idot(F.col("q_emb"), F.col("q_emb"))
    ranked = (
        cand.withColumn("dot", dot)
        .withColumn("na2", na2)
        .withColumn("nb2", nb2)
        .withColumn(
            "cos_raw",
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("na2").cast("double"))
                * F.sqrt(F.col("nb2").cast("double"))
            ),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.desc("cos_raw"), F.asc("vec_id")
                )
            ),
        )
    )
    return ranked.filter(F.col("rank") <= TOP_K).select(
        "q_id", "vec_id", "dot", F.col("rank").cast("long").alias("rank")
    )


def _sql_ann_ivf() -> str:
    return f"""
    WITH qe AS (
      SELECT vec_id, {_SQL_QUANT} AS qe FROM embeddings
    ), cents AS (
      SELECT vec_id AS cent_id, qe AS ce FROM qe
      WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + IVF_K}
    ), scored AS (
      SELECT v.vec_id, v.qe, c.cent_id,
             CAST(list_dot_product(c.ce, c.ce) AS BIGINT)
               - 2 * CAST(list_dot_product(v.qe, c.ce) AS BIGINT) AS score
      FROM qe v CROSS JOIN cents c
    ), assign AS (
      SELECT vec_id, cent_id AS cell FROM (
        SELECT vec_id, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score, cent_id) AS rn
        FROM scored
      ) WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS q_id, qe AS q_emb, cent_id AS cell FROM (
        SELECT vec_id, qe, cent_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score, cent_id) AS prb
        FROM scored WHERE vec_id < {N_QUERIES}
      ) WHERE prb <= {IVF_NPROBE}
    ), cand AS (
      SELECT p.q_id, p.q_emb, a.vec_id, v.qe
      FROM probes p
      JOIN assign a ON a.cell = p.cell
      JOIN qe v ON v.vec_id = a.vec_id
    ), ranked AS (
      SELECT q_id, vec_id,
             CAST(list_dot_product(qe, q_emb) AS BIGINT) AS dot,
             ROW_NUMBER() OVER (
               PARTITION BY q_id
               ORDER BY CAST(list_dot_product(qe, q_emb) AS DOUBLE)
                        / (sqrt(CAST(list_dot_product(qe, qe) AS DOUBLE))
                           * sqrt(CAST(list_dot_product(q_emb, q_emb) AS DOUBLE)))
                        DESC, vec_id
             ) AS rank
      FROM cand
    )
    SELECT q_id, vec_id, dot, rank FROM ranked WHERE rank <= {TOP_K}
"""


QUERIES = {
    "cosine_topk": q_cosine_topk,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_near_dup": q_embedding_near_dup,
}

ORACLES = {
    "cosine_topk": SQL_COSINE_TOPK,
    "ann_lsh_buckets": _sql_ann_lsh(),
    "ann_ivf_topk": _sql_ann_ivf(),
    "embedding_near_dup": _sql_near_dup(),
}
