"""Scalar-quantized (int8) similarity search — the missing middle rung
of the compression ladder: exact float cosine (cosine_topk) → int8 SQ
(this) → PQ/IVF-PQ (operators/pq.py). SQ is what production vector
stores ship first: 4× less scan bandwidth than float32 with near-exact
recall, no codebook to train, and the scoring loop is pure integer
multiply-adds.

Quantization reuses llm5.q_embedding_quantize's audited recipe — per
vector symmetric scale s = max|x|, qᵢ = floor(xᵢ/s·127 + 0.5) — so the
codes here are exactly the codes that query audits. Scoring is the
quantized cosine: integer dot / (√int-self-dot · √int-self-dot). All
sums are int64 (64 dims × 127² terms ≈ 10⁶ ≪ 2⁶³), so scores are
bit-identical across engines and partitionings; the only floating ops
are one sqrt and one divide, both IEEE-deterministic.

Plan shape at 100 TB: identical to cosine_topk — broadcast the (tiny)
quantized query set, stream the quantized corpus, per-partition top-k
then merge. The win SQ buys is that the streamed side is int8: 4× less
I/O and cache traffic on the scan that dominates the exact rung.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.queries import QuerySpec

_K = 10
_N_QUERIES = 5


def sq_codes_expr(vec_col: str = "embedding") -> Column:
    """array<long> int8 codes of a float-vector column: symmetric
    per-vector max-|x| scale, round-half-up via the floor(+0.5) recipe
    (deterministic in both engines, unlike ROUND's half-even vs
    half-up ambiguity). Zero vectors quantize to zero codes.

    NB: inlines the scale subtree into the per-element lambda — O(d²)
    work per row. Fine for one-off audits; the scan path uses
    :func:`sq_code_cols` which hoists the scale to a per-row column."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs))
    return F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0).cast("long")).otherwise(
            F.floor(x / scale * 127 + 0.5).cast("long")
        ),
    )


def sq_code_cols(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """``df`` + a ``qv`` int8-codes column, with the per-vector scale
    HOISTED to its own projection step: the single-Column form
    (:func:`sq_codes_expr`) re-evaluates ``array_max`` inside the
    per-element lambda — twice per element, O(d²) per row (the r11
    sq_search plan showed the max subtree inlined 2d times). Here the
    scale is computed once per row and referenced from the lambda as a
    plain attribute (CollapseProject keeps non-cheap multi-referenced
    expressions un-inlined; pinned by test_plan_contracts.py::
    test_sq_search_scale_evaluated_once_per_row). Same floor(+0.5)
    recipe, bit-identical codes."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    out = df.withColumn("_v", v).withColumn(
        "_scale", F.array_max(F.transform(F.col("_v"), F.abs))
    )
    codes = F.transform(
        F.col("_v"),
        lambda x: F.when(F.col("_scale") == 0, F.lit(0).cast("long")).otherwise(
            F.floor(x / F.col("_scale") * 127 + 0.5).cast("long")
        ),
    )
    return out.withColumn("qv", codes).drop("_v", "_scale")


def _idot(a: str, b: str) -> Column:
    """Exact int64 dot product of two code arrays."""
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )


def q_sq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors of the first 5 vectors under int8-quantized
    cosine. Broadcast-queries / stream-corpus, per-query row_number
    top-k — the cosine_topk shape on 4×-compressed codes."""
    emb = load_table(spark, sf_dir, "embeddings")
    codes = sq_code_cols(emb).select("vec_id", "qv")
    q = codes.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("qv")
    )
    c = codes.select(
        F.col("vec_id").alias("cand_id"), F.col("qv").alias("cv")
    ).withColumn("cc", _idot("cv", "cv"))
    pairs = (
        F.broadcast(q.withColumn("qq", _idot("qv", "qv")))
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.when((F.col("qq") == 0) | (F.col("cc") == 0), F.lit(0.0))
        .otherwise(
            _idot("qv", "cv").cast("double")
            / (
                F.sqrt(F.col("qq").cast("double"))
                * F.sqrt(F.col("cc").cast("double"))
            )
        )
        .alias("sq_cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sq_cosine").desc(), F.col("cand_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _K)
        .orderBy("query_id", "rk")
    )


_SQL_SQ_CODES = """
sc AS (
  SELECT vec_id, MAX(ABS(x)) AS scale FROM (
    SELECT vec_id,
           UNNEST(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))) AS x
    FROM embeddings
  ) GROUP BY 1
),
codes AS (
  SELECT e.vec_id,
         LIST_TRANSFORM(e.embedding,
           x -> CASE WHEN sc.scale = 0 THEN CAST(0 AS BIGINT)
                     ELSE CAST(FLOOR(CAST(x AS DOUBLE) / sc.scale * 127
                                     + 0.5) AS BIGINT) END) AS qv
  FROM embeddings e JOIN sc USING (vec_id)
)"""


ORACLE_SQ_SEARCH = f"""
WITH {_SQL_SQ_CODES},
q AS (SELECT vec_id AS query_id, qv FROM codes WHERE vec_id < {_N_QUERIES}),
c AS (SELECT vec_id AS cand_id, qv AS cv FROM codes),
pe AS (
  SELECT query_id, cand_id, UNNEST(qv) AS qe, UNNEST(cv) AS ce
  FROM q CROSS JOIN c WHERE query_id != cand_id
),
ps AS (
  SELECT query_id, cand_id,
         CAST(SUM(qe * ce) AS BIGINT) AS dot,
         CAST(SUM(qe * qe) AS BIGINT) AS qq,
         CAST(SUM(ce * ce) AS BIGINT) AS cc
  FROM pe GROUP BY 1, 2
),
scored AS (
  SELECT query_id, cand_id,
         CASE WHEN qq = 0 OR cc = 0 THEN 0.0
              ELSE CAST(dot AS DOUBLE)
                   / (SQRT(CAST(qq AS DOUBLE)) * SQRT(CAST(cc AS DOUBLE)))
         END AS sq_cosine
  FROM ps
)
SELECT query_id, cand_id, sq_cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY sq_cosine DESC, cand_id)
            AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {_K}
ORDER BY query_id, rk
"""


REGISTRY: dict[str, QuerySpec] = {
    "sq_search": QuerySpec(
        q_sq_search,
        ORACLE_SQ_SEARCH,
        "int8 scalar-quantized cosine top-k (broadcast queries, stream "
        "4x-compressed codes)",
    ),
}


# ---------------------------------------------------------------------------
# label_affinity — embedding-space class-collision matrix
# ---------------------------------------------------------------------------

_AFF_SCALE = 1_000_000


def q_label_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between per-label embedding CENTROIDS — the
    class-collision prior of the embedding space: label pairs whose
    centroids sit close are the ones a classifier trained on these
    vectors will confuse and the ones semantic dedup will merge across.
    Published next to dataset_card when an embedding table enters the
    lake.

    Exactness/overflow (the 100 TB audit): components quantize at
    floor(x·10⁶) into exact int64 per-(label, dim) sums (map-side
    combinable); the centroid is the FLOORED micro-mean — floor(s·1.0/n)
    in binary64, identical in both engines even when s exceeds 2⁵³
    (same int64, same IEEE rounding) — so every pairwise term is a
    product of two ≤10⁶-scale ints: dot ≤ dims·10¹⁴, inside int64 at
    ANY corpus size where raw-sum cosines would overflow by n². Cosine
    is scale-invariant, so the mean-vs-sum choice only changes the
    documented quantization, not the geometry. One sqrt + one divide at
    the edge (the sq_search rule); a zero centroid reports NULL, not a
    divide-by-zero.

    Plan: posexplode → ONE groupBy(label, dim) (label-count × dims rows
    out); the K×K pair space is then a self-EQUI-join of that dim-sized
    frame on the dim key (each dim contributes its |labels|² products —
    bounded by construction, a hash join, no nested-loop), reduced by
    one (label_a, label_b) aggregation."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        F.posexplode(
            F.expr(
                f"transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
                f" * {_AFF_SCALE}) AS BIGINT))"
            )
        ).alias("dim", "q"),
    )
    cent = (
        comp.groupBy("label", "dim")
        .agg(
            F.sum("q").alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .select(
            "label",
            "dim",
            F.expr("CAST(FLOOR(s * 1.0 / n) AS BIGINT)").alias("m"),
        )
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("m").alias("mb")
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_a") <= F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ma") * F.col("mb")).alias("dot"))
    )
    norms = cent.groupBy("label").agg(
        F.sum(F.col("m") * F.col("m")).alias("n2")
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("n2a"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("n2b"))
    return (
        pairs.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.when(
                (F.col("n2a") > 0) & (F.col("n2b") > 0),
                F.expr(
                    f"CAST(FLOOR(dot * {_AFF_SCALE}.0 /"
                    f" (SQRT(CAST(n2a AS DOUBLE)) * SQRT(CAST(n2b AS DOUBLE))))"
                    f" AS BIGINT)"
                ),
            ).alias("cos_micro"),
        )
        .orderBy("label_a", "label_b")
    )


ORACLE_LABEL_AFFINITY = f"""
WITH comp AS (
  SELECT label,
         GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
         UNNEST(LIST_TRANSFORM(embedding,
                x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_AFF_SCALE}) AS BIGINT)))
           AS q
  FROM embeddings
),
cent AS (
  SELECT label, dim,
         CAST(FLOOR(SUM(q) * 1.0 / COUNT(*)) AS BIGINT) AS m
  FROM comp GROUP BY 1, 2
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(SUM(a.m * b.m) AS BIGINT) AS dot
  FROM cent a JOIN cent b ON a.dim = b.dim AND a.label <= b.label
  GROUP BY 1, 2
),
norms AS (
  SELECT label, CAST(SUM(m * m) AS BIGINT) AS n2 FROM cent GROUP BY 1
)
SELECT p.label_a, p.label_b,
       CASE WHEN na.n2 > 0 AND nb.n2 > 0
            THEN CAST(FLOOR(p.dot * {_AFF_SCALE}.0 /
                 (SQRT(CAST(na.n2 AS DOUBLE)) * SQRT(CAST(nb.n2 AS DOUBLE))))
                 AS BIGINT) END AS cos_micro
FROM pairs p
JOIN norms na ON na.label = p.label_a
JOIN norms nb ON nb.label = p.label_b
ORDER BY p.label_a, p.label_b
"""


REGISTRY["label_affinity"] = QuerySpec(
    q_label_affinity,
    ORACLE_LABEL_AFFINITY,
    "pairwise cosine of per-label embedding centroids — the "
    "class-collision matrix (floored micro-mean centroids, int64-safe)",
)
