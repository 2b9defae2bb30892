"""Vector search and embedding queries over ``embeddings`` (and the
in-engine hashed embeddings of ``documents``): the exact cosine baseline,
SRP-bucketed LSH, IVF cells, product quantization (PQ, IVF-PQ, rerank),
int8 scalar quantization, k-means refinement, recall ladders, and the
embedding-space audits (norms, coverage, label affinity, PCA).

Float determinism follows the house floor-micros recipe: per-element
products are IEEE doubles, quantized with floor and summed as exact
longs, so every dot product is order-independent and bit-identical to
the DuckDB oracle on any partitioning. Plans broadcast the small side
(queries, codebooks, centroids) and stream the corpus; stored-artifact
variants read the persisted codebook/centroids instead of retraining.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.functions.exact import micro_share_sql, oracle_micro_share_sql
from data_lake_spark.operators.kmeans import lloyd_step
from data_lake_spark.operators.partitioning import shuffle_parallelism
from data_lake_spark.operators.pq import (
    pq_adc_topk,
    pq_codebook_lit,
    pq_encode_map_only,
)
from data_lake_spark.operators.similarity import ann_topk_bucketed, ivf_assign
from data_lake_spark.queries import QuerySpec
from data_lake_spark.session import overlap

REGISTRY: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

# dot-product quantization: floor(product * 1e12) — see functions/exact.py
_PS = "1000000000000.0"


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k — the exact baseline every ANN variant is
    measured against. Queries = vec_id < 5; candidates = the full corpus.
    Per-element products are IEEE doubles (deterministic), quantized with
    floor at 1e-12 and summed as exact longs (order-independent), cosine
    assembled in double, top-10 per query by (score desc, vec_id). The
    candidate side streams — no shuffle of the corpus; the tiny query set
    broadcasts."""
    from data_lake_spark.operators.similarity import _to_double, cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), _to_double("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cand_id"), _to_double("embedding").alias("cv"))
    return cosine_topk(q, c, k=10).orderBy("query_id", "rk")


ORACLE_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS cand_id, embedding AS cv FROM embeddings),
elems AS (
  SELECT query_id, cand_id,
         CAST(UNNEST(qv) AS DOUBLE) AS qe,
         CAST(UNNEST(cv) AS DOUBLE) AS ce
  FROM q CROSS JOIN c WHERE query_id != cand_id
),
sums AS (
  SELECT query_id, cand_id,
         CAST(SUM(CAST(FLOOR(qe * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS dot,
         CAST(SUM(CAST(FLOOR(qe * qe * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS qq,
         CAST(SUM(CAST(FLOOR(ce * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS cc
  FROM elems GROUP BY 1, 2
),
scored AS (
  SELECT query_id, cand_id, dot / (SQRT(qq) * SQRT(cc)) AS cosine FROM sums
)
SELECT query_id, cand_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 10
ORDER BY query_id, rk
"""

REGISTRY["cosine_topk"] = QuerySpec(
    q_cosine_topk, ORACLE_COSINE_TOPK, "brute-force ANN baseline"
)

_ELEMS_SQL = """
elems AS (
  SELECT vec_id, label,
         CAST(UNNEST(embedding) AS DOUBLE) AS x,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS d
  FROM embeddings
)
"""


# --- SRP-bucketed ANN --------------------------------------------------------


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed approximate nearest neighbours: sign-random-projection
    buckets (4 md5-parity planes -> 16 cells) + exact cosine within the
    query's bucket, top-3 (operators/similarity.py). The scale path next
    to cosine_topk's exact baseline; plane count trades pruning for
    recall (see ann_multiprobe for the recall lever)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_bucketed(emb, query_ids=[0, 1, 2, 3, 4], k=3, n_planes=4).orderBy(
        "query_id", "rk"
    )


ORACLE_ANN_LSH = f"""
WITH {_ELEMS_SQL},
planes AS (
  SELECT vec_id, d, x, CAST(t.range AS INT) AS p
  FROM elems CROSS JOIN range(0, 4) t
),
terms AS (
  SELECT vec_id, p,
         FLOOR((CASE WHEN ASCII(SUBSTR(MD5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) % 2 = 1
                     THEN 1 ELSE -1 END) * x * {_PS}) AS t
  FROM planes
),
bits AS (SELECT vec_id, p, SUM(t) AS proj FROM terms GROUP BY 1, 2),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN proj > 0 THEN CAST(POW(2.0, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM bits GROUP BY 1
),
vecs AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.embedding AS qv, c.embedding AS cv
  FROM vecs q JOIN vecs c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
  WHERE q.vec_id IN (0, 1, 2, 3, 4)
),
pelems AS (
  SELECT query_id, cand_id,
         CAST(UNNEST(qv) AS DOUBLE) AS qe, CAST(UNNEST(cv) AS DOUBLE) AS ce
  FROM pairs
),
sums AS (
  SELECT query_id, cand_id,
         CAST(SUM(CAST(FLOOR(qe * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS dot,
         CAST(SUM(CAST(FLOOR(qe * qe * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS qq,
         CAST(SUM(CAST(FLOOR(ce * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS cc
  FROM pelems GROUP BY 1, 2
)
SELECT query_id, cand_id, dot / (SQRT(qq) * SQRT(cc)) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot / (SQRT(qq) * SQRT(cc)) DESC, cand_id)
            AS BIGINT) AS rk
FROM sums
QUALIFY rk <= 3
ORDER BY query_id, rk
"""


# --- IVF assignment ----------------------------------------------------------


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment: per-label exact-mean centroids, nearest-cell
    by squared L2 (one k-means step; operators/similarity.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_assign(emb)
    return out.select(
        "vec_id",
        F.col("orig_label").cast("long").alias("orig_label"),
        F.col("assigned_cell").cast("long").alias("assigned_cell"),
        "dist2",
    ).orderBy("vec_id")


ORACLE_IVF = f"""
WITH {_ELEMS_SQL},
centroids AS (
  SELECT label, d,
         CAST(SUM(CAST(FLOOR(x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} / COUNT(x) AS c
  FROM elems GROUP BY 1, 2
),
dists AS (
  SELECT e.vec_id, e.label AS orig_label, c.label AS cell,
         SUM(CAST(FLOOR((e.x - c.c) * (e.x - c.c) * {_PS}) AS BIGINT)) AS d2
  FROM elems e JOIN centroids c ON e.d = c.d
  GROUP BY 1, 2, 3
)
SELECT vec_id, CAST(orig_label AS BIGINT) AS orig_label,
       CAST(cell AS BIGINT) AS assigned_cell,
       CAST(d2 AS DOUBLE) / {_PS} AS dist2
FROM dists
QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) = 1
ORDER BY vec_id
"""


def q_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search (operators/similarity.py ivf_search): rank cells
    by query→centroid distance, exact-cosine ONLY inside the 2 nearest
    cells' inverted lists — a query touches n_probe/N_cells of the corpus
    instead of all of it."""
    from data_lake_spark.operators.similarity import ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_search(emb, query_ids=[0, 1, 2, 3, 4], k=5, n_probe=2)
    return out.select(
        "query_id",
        "cand_id",
        F.col("cell").cast("long").alias("cell"),
        "cosine",
        "rk",
    ).orderBy("query_id", "rk")


ORACLE_IVF_SEARCH = f"""
WITH {_ELEMS_SQL},
centroids AS (
  SELECT label AS cell, d,
         CAST(SUM(CAST(FLOOR(x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} / COUNT(x) AS c
  FROM elems GROUP BY 1, 2
),
qdist AS (
  SELECT e.vec_id AS query_id, c.cell,
         SUM(CAST(FLOOR((e.x - c.c) * (e.x - c.c) * {_PS}) AS BIGINT)) AS d2
  FROM elems e JOIN centroids c ON e.d = c.d
  WHERE e.vec_id < 5
  GROUP BY 1, 2
),
probed AS (
  SELECT query_id, cell FROM qdist
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, cell ASC) <= 2
),
norms AS (
  SELECT vec_id,
         SQRT(CAST(SUM(CAST(FLOOR(x * x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS}) AS nrm
  FROM elems GROUP BY 1
),
pair_elems AS (
  SELECT p.query_id, ce.vec_id AS cand_id, p.cell, qe.x AS qx, ce.x AS cx
  FROM probed p
  JOIN elems qe ON qe.vec_id = p.query_id
  JOIN elems ce ON ce.d = qe.d AND ce.label = p.cell
  WHERE ce.vec_id != p.query_id
),
dots AS (
  SELECT query_id, cand_id, cell,
         CAST(SUM(CAST(FLOOR(qx * cx * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS dot
  FROM pair_elems GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.query_id, d.cand_id, CAST(d.cell AS BIGINT) AS cell,
         d.dot / (nq.nrm * nc.nrm) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id
)
SELECT query_id, cand_id, cell, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 5
ORDER BY query_id, rk
"""


# persisted centroid artifact: trained once, READ BACK for every
# serving call — the stored-model pattern, via the deterministic
# artifact store (fresh source data ⇒ retrain; same data ⇒ every
# process reuses the finished artifact)


def stored_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_lake_spark.artifacts import stored_artifact

    def build() -> DataFrame:
        from data_lake_spark.operators.similarity import ivf_centroids

        return ivf_centroids(load_table(spark, sf_dir, "embeddings"))

    return stored_artifact(
        spark, sf_dir, "ivf_centroids", ["embeddings"], build
    )


def q_ivf_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search against a PERSISTED centroid artifact
    (similarity.ivf_centroids → parquet → read back): the serving form —
    probe selection reads the tiny centroid table plus an id-pushdown
    scan of the query vectors, never a full-corpus training aggregation
    (plan census in tests/test_plan_contracts.py). Results identical to
    ivf_search (exact-mean doubles round-trip parquet bit-exactly), so
    it shares its oracle."""
    from data_lake_spark.operators.similarity import ivf_search

    emb = load_table(spark, sf_dir, "embeddings")
    cent = stored_centroids(spark, sf_dir)
    out = ivf_search(
        emb, query_ids=[0, 1, 2, 3, 4], k=5, n_probe=2, centroids=cent
    )
    return out.select(
        "query_id",
        "cand_id",
        F.col("cell").cast("long").alias("cell"),
        "cosine",
        "rk",
    ).orderBy("query_id", "rk")


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe SRP ANN (operators/similarity.py ann_topk_multiprobe):
    probes the query's bucket plus all 4 Hamming-distance-1 buckets —
    higher recall than single-probe ann_lsh at (n_planes+1)× candidate
    cost, no extra hash tables, still an equi-join."""
    from data_lake_spark.operators.similarity import ann_topk_multiprobe

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_topk_multiprobe(emb, query_ids=[0, 1, 2, 3, 4], k=3, n_planes=4).orderBy(
        "query_id", "rk"
    )


ORACLE_ANN_MULTIPROBE = f"""
WITH {_ELEMS_SQL},
planes AS (
  SELECT vec_id, d, x, CAST(t.range AS INT) AS p
  FROM elems CROSS JOIN range(0, 4) t
),
terms AS (
  SELECT vec_id, p,
         FLOOR((CASE WHEN ASCII(SUBSTR(MD5(CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1)) % 2 = 1
                     THEN 1 ELSE -1 END) * x * {_PS}) AS t
  FROM planes
),
bits AS (SELECT vec_id, p, SUM(t) AS proj FROM terms GROUP BY 1, 2),
buckets AS (
  SELECT vec_id,
         CAST(SUM(CASE WHEN proj > 0 THEN CAST(POW(2.0, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM bits GROUP BY 1
),
vecs AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id),
probes AS (
  SELECT q.vec_id AS query_id, q.embedding AS qv,
         XOR(q.bucket, f.flip) AS pb
  FROM vecs q CROSS JOIN (
    SELECT UNNEST([0, 1, 2, 4, 8]) AS flip
  ) f
  WHERE q.vec_id IN (0, 1, 2, 3, 4)
),
pairs AS (
  SELECT p.query_id, c.vec_id AS cand_id, p.qv, c.embedding AS cv
  FROM probes p JOIN vecs c ON p.pb = c.bucket AND p.query_id != c.vec_id
),
pelems AS (
  SELECT query_id, cand_id,
         CAST(UNNEST(qv) AS DOUBLE) AS qe, CAST(UNNEST(cv) AS DOUBLE) AS ce
  FROM pairs
),
sums AS (
  SELECT query_id, cand_id,
         CAST(SUM(CAST(FLOOR(qe * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS dot,
         CAST(SUM(CAST(FLOOR(qe * qe * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS qq,
         CAST(SUM(CAST(FLOOR(ce * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS cc
  FROM pelems GROUP BY 1, 2
)
SELECT query_id, cand_id, dot / (SQRT(qq) * SQRT(cc)) AS cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY dot / (SQRT(qq) * SQRT(cc)) DESC, cand_id)
            AS BIGINT) AS rk
FROM sums
QUALIFY rk <= 3
ORDER BY query_id, rk
"""

REGISTRY["ann_lsh"] = QuerySpec(q_ann_lsh, ORACLE_ANN_LSH, "SRP-bucketed ANN top-k")
REGISTRY["ivf_assign"] = QuerySpec(
    q_ivf_assign, ORACLE_IVF, "IVF nearest-centroid assignment"
)
REGISTRY["ivf_search"] = QuerySpec(
    q_ivf_search, ORACLE_IVF_SEARCH, "IVF probe search (2 nearest cells)"
)
REGISTRY["ivf_stored"] = QuerySpec(
    q_ivf_stored, ORACLE_IVF_SEARCH,
    "IVF probe search against a persisted centroid artifact "
    "(pure probe — no in-query retraining)",
)
REGISTRY["ann_multiprobe"] = QuerySpec(
    q_ann_multiprobe, ORACLE_ANN_MULTIPROBE,
    "multi-probe SRP ANN (own + Hamming-1 buckets)",
)


# --- IVF cell-balance audit --------------------------------------------------


def q_ivf_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list occupancy audit — the pre-serving health check
    for the ANN stack: per cell, how many vectors its inverted list
    holds, its corpus share, and its LOAD FACTOR vs perfect balance
    (load_micro = n·cells/total in micros; 10⁶ = perfectly even). A
    cell at several × 10⁶ is the ANN twin of skew_report's hot join
    key: every probe that ranks that centroid pays its whole list, so
    probe latency skews exactly as its load factor — the number a
    serving team reads BEFORE picking n_probe or deciding to re-train
    centroids.

    Plan: the ivf_assign frames (per-label exact-mean centroids,
    nearest-cell by squared L2) + one groupBy(cell); totals ride
    constant-partition windows over the CELL frame (bounded by the
    centroid count). Integer micro-arithmetic throughout."""
    from pyspark.sql import Window

    from data_lake_spark.functions.exact import micro_share_sql

    emb = load_table(spark, sf_dir, "embeddings")
    a = ivf_assign(emb).select(
        F.col("assigned_cell").cast("long").alias("cell")
    )
    cells = a.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    w = Window.partitionBy(F.lit(0))
    return (
        cells.withColumn("tot", F.sum("n_vecs").over(w))
        .withColumn("n_cells", F.count(F.lit(1)).over(w))
        .select(
            "cell",
            "n_vecs",
            F.expr(micro_share_sql("n_vecs", "tot")).alias("share_micro"),
            F.expr(micro_share_sql("n_vecs * n_cells", "tot")).alias(
                "load_micro"
            ),
        )
        .orderBy("cell")
    )


def _oracle_ivf_balance() -> str:
    from data_lake_spark.functions.exact import oracle_micro_share_sql

    share = oracle_micro_share_sql("n_vecs", "tot")
    load = oracle_micro_share_sql("n_vecs * n_cells", "tot")
    return f"""
WITH assigned AS ({ORACLE_IVF}),
cells AS (
  SELECT assigned_cell AS cell, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM assigned GROUP BY 1
),
t AS (
  SELECT cell, n_vecs,
         CAST(SUM(n_vecs) OVER () AS BIGINT) AS tot,
         CAST(COUNT(*) OVER () AS BIGINT) AS n_cells
  FROM cells
)
SELECT cell, n_vecs,
       CAST({share} AS BIGINT) AS share_micro,
       CAST({load} AS BIGINT) AS load_micro
FROM t ORDER BY cell
"""


REGISTRY["ivf_balance"] = QuerySpec(
    q_ivf_balance,
    _oracle_ivf_balance(),
    "IVF inverted-list occupancy audit: per-cell share and load factor "
    "vs perfect balance (the ANN hot-cell twin of skew_report)",
)


# ---------------------------------------------------------------------------
# kmeans_refine — one Lloyd refinement of the IVF codebook
# ---------------------------------------------------------------------------


def q_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd step (operators/kmeans.py): seed centroids = per-label
    exact means, reassign every vector, recompute the codebook from the
    new assignment. Output is the refined centroid matrix (cell × dim)
    with member counts — the training loop behind ivf_search's index.
    Full iteration is kmeans_fit (tests/test_kmeans.py: inertia
    non-increasing)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = lloyd_step(emb)
    return out.select(
        F.col("cell").cast("long").alias("cell"),
        F.col("d").cast("long").alias("d"),
        "centroid",
        F.col("n_members").cast("long").alias("n_members"),
    ).orderBy("cell", "d")


ORACLE_KMEANS_REFINE = f"""
WITH elems AS (
  SELECT vec_id, label,
         CAST(UNNEST(embedding) AS DOUBLE) AS x,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS d
  FROM embeddings
),
seeds AS (
  SELECT label AS cell, d,
         CAST(SUM(CAST(FLOOR(x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} / COUNT(x) AS c
  FROM elems GROUP BY 1, 2
),
dists AS (
  SELECT e.vec_id, s.cell,
         SUM(CAST(FLOOR((e.x - s.c) * (e.x - s.c) * {_PS}) AS BIGINT)) AS d2
  FROM elems e JOIN seeds s ON e.d = s.d
  GROUP BY 1, 2
),
assign AS (
  SELECT vec_id, cell FROM dists
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cell ASC) = 1
)
SELECT CAST(a.cell AS BIGINT) AS cell, CAST(e.d AS BIGINT) AS d,
       CAST(SUM(CAST(FLOOR(e.x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} / COUNT(e.x)
         AS centroid,
       COUNT(*) AS n_members
FROM elems e JOIN assign a USING (vec_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""

REGISTRY["kmeans_refine"] = QuerySpec(
    q_kmeans_refine, ORACLE_KMEANS_REFINE,
    "one k-means Lloyd refinement of the IVF codebook",
)


# ---------------------------------------------------------------------------
# embedding_quantize — int8 scalar quantization audit
# ---------------------------------------------------------------------------

_E9 = "1000000000.0"


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column — the 4×
    storage/bandwidth compression step before an ANN index ships to a
    cluster — audited per vector: symmetric scale (max |x|) and total
    reconstruction error. Entirely per-row higher-order array ops
    (transform/array_max/aggregate): a pure projection, ZERO shuffles at
    any corpus size; the only exchange is the presentation sort.

    Cross-engine determinism: all math in binary64 with the same
    expression tree, results integer-quantized via the FLOOR(x*1e9)
    recipe (functions/exact.py rationale) so Spark and DuckDB hash
    identically bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.withColumn(
            "v", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")
        )
        .withColumn("scale", F.expr("array_max(transform(v, x -> abs(x)))"))
        .select(
            "vec_id",
            F.size("v").cast("long").alias("n_dims"),
            F.expr(f"CAST(FLOOR(scale * {_E9}) AS BIGINT)").alias("scale_e9"),
            F.expr(
                "aggregate(v, CAST(0 AS BIGINT), (acc, x) -> acc + "
                "CAST(FLOOR(ABS(x - (CASE WHEN scale = 0 THEN 0.0 ELSE "
                "FLOOR(x / scale * 127 + 0.5) * scale / 127 END)) "
                f"* {_E9}) AS BIGINT))"
            ).alias("err_e9"),
        )
        .orderBy("vec_id")
    )


ORACLE_EMBEDDING_QUANTIZE = f"""
WITH t AS (
  SELECT vec_id,
         UNNEST(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))) AS x,
         LEN(embedding) AS n_dims
  FROM embeddings
),
sc AS (
  SELECT vec_id, MAX(n_dims) AS n_dims, MAX(ABS(x)) AS scale
  FROM t GROUP BY 1
)
SELECT t.vec_id,
       CAST(sc.n_dims AS BIGINT) AS n_dims,
       CAST(FLOOR(sc.scale * {_E9}) AS BIGINT) AS scale_e9,
       CAST(SUM(CAST(FLOOR(ABS(x - (CASE WHEN sc.scale = 0 THEN 0.0 ELSE
              FLOOR(x / sc.scale * 127 + 0.5) * sc.scale / 127 END))
              * {_E9}) AS BIGINT)) AS BIGINT) AS err_e9
FROM t JOIN sc ON t.vec_id = sc.vec_id
GROUP BY t.vec_id, sc.n_dims, sc.scale
ORDER BY t.vec_id
"""

REGISTRY["embedding_quantize"] = QuerySpec(
    q_embedding_quantize, ORACLE_EMBEDDING_QUANTIZE,
    "int8 scalar-quantization audit per embedding (zero-shuffle)",
)

# m=4 subspaces × subdim 16 over the 64-dim vectors, k=8 codes each:
# 4 codes/vector = 64× smaller than the raw float32 scan.
_M, _K = 4, 8

# codebook cache per (sf_dir, m, k): the testdata under a path is
# immutable, and a trained codebook is a stored artifact in production —
# re-invocations (bench warm-up + measured passes) reuse it instead of
# re-running the training aggregation
_CB_CACHE: dict = {}


def _codebook(spark: SparkSession, sf_dir: str, m: int, k: int):
    key = (sf_dir, m, k)
    if key not in _CB_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _CB_CACHE[key] = pq_codebook_lit(emb, m=m, k=k)
    return _CB_CACHE[key]

# shared oracle fragments: element rows with subspace index, md5-parity
# seeded codes, one-step codebooks, nearest-code assignment


def _pq_sql(subdim: int, k: int) -> str:
    """The PQ training+encode CTE chain for an (m = 64/subdim, k)
    configuration — shared by every PQ oracle; parameterized so the
    recall ladder can replay it at tuned settings."""
    return f"""
elems AS (
  SELECT vec_id, label,
         CAST(UNNEST(embedding) AS DOUBLE) AS x,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS d,
         CAST((GENERATE_SUBSCRIPTS(embedding, 1) - 1) // {subdim} AS INT) AS s
  FROM embeddings
),
seeded AS (
  SELECT *,
         ((STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(vec_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 1, 1)) - 1) * 16
          + STRPOS('0123456789abcdef', SUBSTR(MD5(CAST(vec_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)), 2, 1)) - 1) % {k} AS code0
  FROM elems
),
cb AS (
  SELECT s, code0 AS code, d,
         CAST(SUM(CAST(FLOOR(x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} / COUNT(x) AS c
  FROM seeded GROUP BY 1, 2, 3
),
d2 AS (
  SELECT e.vec_id, e.s, cb.code,
         SUM(CAST(FLOOR((e.x - cb.c) * (e.x - cb.c) * {_PS}) AS BIGINT)) AS d2
  FROM elems e JOIN cb ON e.s = cb.s AND e.d = cb.d
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, s, code FROM d2
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d2 ASC, code ASC) = 1
)
"""


_PQ_SQL = _pq_sql(16, _K)


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ corpus encode: every vector becomes m={_M} small codes —
    nearest per-subspace centroid by quantized squared L2. The
    compressed representation the ADC scan reads instead of raw
    float32 vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    values, present, subdim = _codebook(spark, sf_dir, _M, _K)
    return (
        pq_encode_map_only(emb, values, present, subdim)
        .select(
            "vec_id",
            F.col("s").cast("long").alias("s"),
            F.col("code").cast("long").alias("code"),
        )
        .orderBy("vec_id", "s")
    )


ORACLE_PQ_ENCODE = f"""
WITH {_PQ_SQL}
SELECT vec_id, CAST(s AS BIGINT) AS s, CAST(code AS BIGINT) AS code
FROM codes ORDER BY vec_id, s
"""


def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-5: per query a m×k lookup table of subspace dot
    products, then every candidate scores as a sum of m table lookups —
    an equi-join of the CODES index against the broadcast LUT, no
    pairwise join of raw vectors. Serving shape: codes come from the
    persisted index (codes_elems over _stored_index), not a per-call
    corpus re-encode; the oracle recomputes everything from scratch,
    bit-identically."""
    from data_lake_spark.operators.pq import codes_elems

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        pq_adc_topk(
            emb, query_ids=[0, 1, 2, 3, 4], k_top=5, m=_M, k_codes=_K,
            codebook=_codebook(spark, sf_dir, _M, _K),
            codes=codes_elems(_stored_index(spark, sf_dir, _M, _K)),
        )
        .select("query_id", "cand_id", "approx_dot", "rk")
        .orderBy("query_id", "rk")
    )


def _pq_scored_sql(subdim: int, k: int) -> str:
    """PQ fragments + per-query LUT + full ADC scan → ``scored``."""
    return f"""{_pq_sql(subdim, k)},
lut AS (
  SELECT qe.vec_id AS query_id, cb.s, cb.code,
         SUM(CAST(FLOOR(qe.x * cb.c * {_PS}) AS BIGINT)) AS lut
  FROM elems qe JOIN cb ON qe.s = cb.s AND qe.d = cb.d
  WHERE qe.vec_id IN (0, 1, 2, 3, 4)
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT l.query_id, co.vec_id AS cand_id,
         CAST(SUM(l.lut) AS DOUBLE) / {_PS} AS approx_dot
  FROM codes co JOIN lut l ON co.s = l.s AND co.code = l.code
  WHERE co.vec_id != l.query_id
  GROUP BY 1, 2
)"""


_PQ_SCORED_SQL = _pq_scored_sql(16, _K)

ORACLE_PQ_SEARCH = f"""
WITH {_PQ_SCORED_SQL}
SELECT query_id, cand_id, approx_dot,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY approx_dot DESC, cand_id) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 5
ORDER BY query_id, rk
"""


def q_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production two-stage search: PQ-ADC scan over the
    compressed codes prunes to a 100-candidate shortlist per query,
    then exact cosine re-ranks only the shortlist — raw-vector math on
    Q×100 rows instead of Q×N."""
    from data_lake_spark.operators.pq import codes_elems, pq_adc_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        pq_adc_rerank_topk(
            emb, query_ids=[0, 1, 2, 3, 4], k_top=5, shortlist=100,
            m=_M, k_codes=_K, codebook=_codebook(spark, sf_dir, _M, _K),
            codes=codes_elems(_stored_index(spark, sf_dir, _M, _K)),
        )
        .select("query_id", "cand_id", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


ORACLE_PQ_RERANK = f"""
WITH {_PQ_SCORED_SQL},
short AS (
  SELECT query_id, cand_id FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY approx_dot DESC, cand_id) <= 100
),
norms AS (
  SELECT vec_id,
         SQRT(CAST(SUM(CAST(FLOOR(x * x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS}) AS nrm
  FROM elems GROUP BY 1
),
pe AS (
  SELECT sh.query_id, sh.cand_id, qe.x AS qx, ce.x AS cx
  FROM short sh
  JOIN elems qe ON qe.vec_id = sh.query_id
  JOIN elems ce ON ce.vec_id = sh.cand_id AND ce.d = qe.d
),
dots AS (
  SELECT query_id, cand_id,
         CAST(SUM(CAST(FLOOR(qx * cx * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS dot
  FROM pe GROUP BY 1, 2
),
rr AS (
  SELECT d.query_id, d.cand_id, d.dot / (nq.nrm * nc.nrm) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms nc ON nc.vec_id = d.cand_id
)
SELECT query_id, cand_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
FROM rr
QUALIFY rk <= 5
ORDER BY query_id, rk
"""


def q_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: both ANN tiers composed — probe the 2 nearest cells per
    query, then PQ-ADC score only those cells' members. Candidate
    selection is a broadcast cell join (partition pruning when codes are
    cell-partitioned at scale); scoring never touches raw vectors. Both
    models arrive as stored artifacts (cached codebook + persisted
    centroid parquet) — the serving shape; the oracle retrains its own
    from the same data, bit-identically."""
    from data_lake_spark.operators.pq import ivf_pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        ivf_pq_topk(
            emb, query_ids=[0, 1, 2, 3, 4], k_top=5, n_probe=2,
            m=_M, k_codes=_K, codebook=_codebook(spark, sf_dir, _M, _K),
            centroids=stored_centroids(spark, sf_dir),
        )
        .select("query_id", "cand_id", "approx_dot", "rk")
        .orderBy("query_id", "rk")
    )


# IVF-PQ oracle CTEs shared by ivf_pq and ann_recall: cell centroids,
# the 2 nearest cells per query, their candidates and the ADC table.
_IVF_PQ_SQL = f"""{_PQ_SQL},
cent AS (
  SELECT label AS cell, d,
         CAST(SUM(CAST(FLOOR(x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} / COUNT(x) AS c
  FROM elems GROUP BY 1, 2
),
qdist AS (
  SELECT e.vec_id AS query_id, ct.cell,
         SUM(CAST(FLOOR((e.x - ct.c) * (e.x - ct.c) * {_PS}) AS BIGINT)) AS cd2
  FROM elems e JOIN cent ct ON e.d = ct.d
  WHERE e.vec_id IN (0, 1, 2, 3, 4)
  GROUP BY 1, 2
),
probed AS (
  SELECT query_id, cell FROM qdist
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cd2 ASC, cell ASC) <= 2
),
cands AS (
  SELECT p.query_id, v.vec_id AS cand_id
  FROM probed p
  JOIN (SELECT DISTINCT vec_id, label FROM embeddings) v ON v.label = p.cell
  WHERE v.vec_id != p.query_id
),
lut AS (
  SELECT qe.vec_id AS query_id, cb.s, cb.code,
         SUM(CAST(FLOOR(qe.x * cb.c * {_PS}) AS BIGINT)) AS lut
  FROM elems qe JOIN cb ON qe.s = cb.s AND qe.d = cb.d
  WHERE qe.vec_id IN (0, 1, 2, 3, 4)
  GROUP BY 1, 2, 3
)"""

ORACLE_IVF_PQ = f"""
WITH {_IVF_PQ_SQL},
scored AS (
  SELECT ca.query_id, ca.cand_id,
         CAST(SUM(l.lut) AS DOUBLE) / {_PS} AS approx_dot
  FROM cands ca
  JOIN codes co ON co.vec_id = ca.cand_id
  JOIN lut l ON l.query_id = ca.query_id AND l.s = co.s AND l.code = co.code
  GROUP BY 1, 2
)
SELECT query_id, cand_id, approx_dot,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY approx_dot DESC, cand_id) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 5
ORDER BY query_id, rk
"""


# persisted (vec_id, codes, cell) index per (sf_dir, m, k): the at-rest
# format streaming.start_ivfpq_index_ingest maintains, built once here
# from the batch face and written cell-partitioned like the live index
# (deterministic artifact store: fresh source ⇒ rebuild, same source ⇒
# reused across processes)


def _stored_index(spark: SparkSession, sf_dir: str, m: int, k: int) -> DataFrame:
    from data_lake_spark.artifacts import stored_artifact

    def build() -> DataFrame:
        from data_lake_spark.operators.pq import pq_codes_array

        values, present, subdim = _codebook(spark, sf_dir, m, k)
        emb = load_table(spark, sf_dir, "embeddings")
        return pq_codes_array(emb, values, present, subdim).join(
            emb.select("vec_id", F.col("label").cast("int").alias("cell")),
            "vec_id",
        )

    return stored_artifact(
        spark,
        sf_dir,
        f"ivfpq_index_m{m}_k{k}",
        ["embeddings"],
        build,
        partition_by="cell",
    )


def q_ivf_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ served entirely from stored artifacts — cell-partitioned
    codes index (the streaming ingest's at-rest format), persisted
    centroids, cached codebook. The query touches the artifact tables
    plus an id-pushdown scan of its own query vectors; NO full-corpus
    scan of any kind (plan census in tests/test_plan_contracts.py).
    Bit-identical to ivf_pq, so it shares its oracle."""
    from data_lake_spark.operators.pq import ivf_pq_topk_indexed

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_pq_topk_indexed(
        emb,
        query_ids=[0, 1, 2, 3, 4],
        index=_stored_index(spark, sf_dir, _M, _K),
        codebook=_codebook(spark, sf_dir, _M, _K),
        centroids=stored_centroids(spark, sf_dir),
        k_top=5,
        n_probe=2,
    )
    return (
        out.select("query_id", "cand_id", "approx_dot", "rk")
        .orderBy("query_id", "rk")
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall LADDER, measured IN-ENGINE — the "measure, don't
    guess" contract as a first-class query: per query id and per
    configuration, how many of the true top-5 neighbors the approximate
    search recovered. Two rungs:

    - ``ivf_pq_m4_k8_probe2`` — the cheapest artifact-served probe
      (stored index + centroids + codebook). On this uniform-random
      synthetic corpus it recalls LOW (~0-0.2) — the known worst case
      for coarse PQ, every pairwise cosine crowds one narrow band;
    - ``rerank_m8_k16_sl100`` — finer codes + the two-stage exact
      re-rank of a 100-candidate shortlist, recovering ~0.5-0.6 here
      (and far more on clustered real embeddings).

    Same corpus, same exact baseline, so the delta between rows IS what
    the extra compute bought. Each side runs its production plan; the
    intersection is one equi-join on (query_id, cand_id)."""
    from data_lake_spark.operators.pq import (
        ivf_pq_topk_indexed,
        pq_adc_rerank_topk,
    )
    from data_lake_spark.operators.similarity import _to_double, cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qids = [0, 1, 2, 3, 4]

    def _exact() -> DataFrame:
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            _to_double("embedding").alias("qv"),
        )
        c = emb.select(
            F.col("vec_id").alias("cand_id"),
            _to_double("embedding").alias("cv"),
        )
        return (
            cosine_topk(q, c, k=5)
            .select("query_id", "cand_id")
            .localCheckpoint(eager=False)
        )

    def hits(config: str, approx: DataFrame) -> DataFrame:
        a = approx.select("query_id", F.col("cand_id").alias("a_cand"))
        return (
            exact.join(
                a,
                (exact["query_id"] == a["query_id"])
                & (exact["cand_id"] == a["a_cand"]),
                "left",
            )
            .groupBy(exact["query_id"].alias("query_id"))
            .agg(F.count("a_cand").alias("n_hits"))
            .select(
                F.lit(config).alias("config"),
                "query_id",
                "n_hits",
                (F.col("n_hits") / F.lit(5.0)).alias("recall"),
            )
        )

    def _probe() -> DataFrame:
        return ivf_pq_topk_indexed(
            emb,
            query_ids=qids,
            index=_stored_index(spark, sf_dir, _M, _K),
            codebook=_codebook(spark, sf_dir, _M, _K),
            centroids=stored_centroids(spark, sf_dir),
            k_top=5,
            n_probe=2,
        )

    def _rerank() -> DataFrame:
        from data_lake_spark.operators.pq import codes_elems

        # the shortlist scan reads the persisted m=8/k=16 codes index
        # (codes_elems over _stored_index) — same serving shape as
        # pq_rerank; re-encoding the corpus per call was the N-sized
        # cost the stored artifact exists to remove. Scores are
        # bit-identical.
        return pq_adc_rerank_topk(
            emb, qids, k_top=5, shortlist=100, m=8, k_codes=16,
            codebook=_codebook(spark, sf_dir, 8, 16),
            codes=codes_elems(_stored_index(spark, sf_dir, 8, 16)),
        )

    # Overlap the three independent rung BUILDS (r11, guide §2.6): each
    # construction is driver-heavy — codebook/centroid collects, the
    # ADC LUT VALUES fold, the exact baseline's checkpoint planning —
    # measured at 0.31/0.51/0.55 s of back-to-back serial driver work
    # (the cluster idles in between). The three EXECUTIONS already
    # overlap as independent stages of the one final job; this threads
    # the builds too.
    exact, probe, rerank = overlap(_exact, _probe, _rerank)
    return (
        hits("ivf_pq_m4_k8_probe2", probe)
        .unionByName(hits("rerank_m8_k16_sl100", rerank))
        .orderBy("config", "query_id")
    )


ORACLE_ANN_RECALL = f"""
SELECT * FROM (
WITH {_IVF_PQ_SQL},
adc AS (
  SELECT ca.query_id, ca.cand_id,
         CAST(SUM(l.lut) AS DOUBLE) / {_PS} AS approx_dot
  FROM cands ca
  JOIN codes co ON co.vec_id = ca.cand_id
  JOIN lut l ON l.query_id = ca.query_id AND l.s = co.s AND l.code = co.code
  GROUP BY 1, 2
),
approx AS (
  SELECT query_id, cand_id FROM adc
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY approx_dot DESC, cand_id) <= 5
),
norms AS (
  SELECT vec_id,
         SQRT(CAST(SUM(CAST(FLOOR(x * x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS}) AS nrm
  FROM elems GROUP BY 1
),
pe AS (
  SELECT qe.vec_id AS query_id, ce.vec_id AS cand_id,
         SUM(CAST(FLOOR(qe.x * ce.x * {_PS}) AS BIGINT)) AS dq
  FROM elems qe
  JOIN elems ce ON ce.d = qe.d AND ce.vec_id != qe.vec_id
  WHERE qe.vec_id IN (0, 1, 2, 3, 4)
  GROUP BY 1, 2
),
exact AS (
  SELECT query_id, cand_id
  FROM (
    SELECT p.query_id, p.cand_id,
           (CAST(p.dq AS DOUBLE) / {_PS}) / (nq.nrm * nc.nrm) AS cosine
    FROM pe p
    JOIN norms nq ON nq.vec_id = p.query_id
    JOIN norms nc ON nc.vec_id = p.cand_id
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, cand_id) <= 5
)
SELECT 'ivf_pq_m4_k8_probe2' AS config, e.query_id,
       COUNT(a.cand_id) AS n_hits,
       COUNT(a.cand_id) / 5.0 AS recall
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY 1, 2
)
UNION ALL
SELECT * FROM (
WITH {_pq_scored_sql(8, 16)},
short AS (
  SELECT query_id, cand_id FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY approx_dot DESC, cand_id) <= 100
),
norms AS (
  SELECT vec_id,
         SQRT(CAST(SUM(CAST(FLOOR(x * x * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS}) AS nrm
  FROM elems GROUP BY 1
),
pe AS (
  SELECT sh.query_id, sh.cand_id,
         SUM(CAST(FLOOR(qe.x * ce.x * {_PS}) AS BIGINT)) AS dq
  FROM short sh
  JOIN elems qe ON qe.vec_id = sh.query_id
  JOIN elems ce ON ce.vec_id = sh.cand_id AND ce.d = qe.d
  GROUP BY 1, 2
),
rr AS (
  SELECT p.query_id, p.cand_id,
         (CAST(p.dq AS DOUBLE) / {_PS}) / (nq.nrm * nc.nrm) AS cosine
  FROM pe p
  JOIN norms nq ON nq.vec_id = p.query_id
  JOIN norms nc ON nc.vec_id = p.cand_id
),
rtop AS (
  SELECT query_id, cand_id FROM rr
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, cand_id) <= 5
),
epe AS (
  SELECT qe.vec_id AS query_id, ce.vec_id AS cand_id,
         SUM(CAST(FLOOR(qe.x * ce.x * {_PS}) AS BIGINT)) AS dq
  FROM elems qe
  JOIN elems ce ON ce.d = qe.d AND ce.vec_id != qe.vec_id
  WHERE qe.vec_id IN (0, 1, 2, 3, 4)
  GROUP BY 1, 2
),
eexact AS (
  SELECT query_id, cand_id
  FROM (
    SELECT p.query_id, p.cand_id,
           (CAST(p.dq AS DOUBLE) / {_PS}) / (nq.nrm * nc.nrm) AS cosine
    FROM epe p
    JOIN norms nq ON nq.vec_id = p.query_id
    JOIN norms nc ON nc.vec_id = p.cand_id
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, cand_id) <= 5
)
SELECT 'rerank_m8_k16_sl100' AS config, e.query_id,
       COUNT(r.cand_id) AS n_hits,
       COUNT(r.cand_id) / 5.0 AS recall
FROM eexact e
LEFT JOIN rtop r ON r.query_id = e.query_id AND r.cand_id = e.cand_id
GROUP BY 1, 2
)
ORDER BY config, query_id
"""

REGISTRY["pq_encode"] = QuerySpec(
    q_pq_encode, ORACLE_PQ_ENCODE, "PQ corpus encode (m=4, k=8)"
)
REGISTRY["pq_search"] = QuerySpec(
    q_pq_search, ORACLE_PQ_SEARCH, "PQ-ADC approximate top-5 search"
)
REGISTRY["pq_rerank"] = QuerySpec(
    q_pq_rerank,
    ORACLE_PQ_RERANK,
    "PQ-ADC shortlist + exact cosine re-rank (two-stage ANN)",
)
REGISTRY["ivf_pq"] = QuerySpec(
    q_ivf_pq,
    ORACLE_IVF_PQ,
    "IVF cell probing composed with PQ-ADC scoring (production ANN)",
)
REGISTRY["ivf_pq_stored"] = QuerySpec(
    q_ivf_pq_stored,
    ORACLE_IVF_PQ,
    "IVF-PQ served from stored artifacts only (cell-partitioned "
    "codes index + centroids + codebook — zero corpus scan)",
)
REGISTRY["ann_recall"] = QuerySpec(
    q_ann_recall,
    ORACLE_ANN_RECALL,
    "recall@5 of artifact-served IVF-PQ vs the exact cosine "
    "baseline, measured in-engine",
)

_DIM = 16
_HEX = "0123456789abcdef"

# token → (bucket, sign) memo, module-level so a reused Python worker
# (spark.python.worker.reuse, default on) keeps it across tasks (guide:
# heavyweight/per-token state once per worker, not per batch). Bounded:
# cleared when it outgrows broadcast scale.
_TOKEN_MEMO: dict = {}
_TOKEN_MEMO_CAP = 1_000_000


def _embed_arrow_batches(it):
    """One Arrow pass: texts → 16-dim signed bag-of-words vectors.

    Vectorized replacement for the higher-order-function fold (HOF
    lambdas evaluate interpreted, outside whole-stage codegen — the
    char_diversity regime note measured ~10× against one numpy pass at
    corpus-text element counts). Per DISTINCT token the md5 is computed
    once per worker (the JVM expression recomputes it per occurrence);
    per occurrence the work is one dict hit + one int add. Bucket/sign
    derivation is byte-identical to doc_embed_expr: hex digit 4 of
    md5(token) is the bucket, parity of hex digit 5 the sign."""
    import hashlib

    import numpy as np
    import pyarrow as pa

    memo = _TOKEN_MEMO
    for batch in it:
        texts = batch.column(1).to_pylist()
        n = len(texts)
        out = np.zeros((n, _DIM), dtype=np.int64)
        for r, t in enumerate(texts):
            if t is None:
                continue
            row = out[r]
            for tok in t.split(" "):
                bs = memo.get(tok)
                if bs is None:
                    if len(memo) >= _TOKEN_MEMO_CAP:
                        memo.clear()
                    h = hashlib.md5(tok.encode("utf-8")).hexdigest()
                    bs = (int(h[3], 16), 1 if ord(h[4]) % 2 else -1)
                    memo[tok] = bs
                row[bs[0]] += bs[1]
        offsets = pa.array(
            np.arange(0, (n + 1) * _DIM, _DIM, dtype=np.int32)
        )
        emb = pa.ListArray.from_arrays(offsets, pa.array(out.ravel()))
        yield pa.RecordBatch.from_arrays(
            [batch.column(0), emb], names=["doc_id", "emb"]
        )


def doc_embed_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, emb array<long>): the hashed-embedding
    projection as ONE Arrow-batched kernel (map-only, zero exchanges of
    its own). Values are bit-identical to ``doc_embed_expr`` — exact
    integer folds both ways — so every consumer (doc_embed, doc_topk,
    rrf_fusion's semantic side) keeps its oracle unchanged."""
    return docs.select("doc_id", "text").mapInArrow(
        _embed_arrow_batches, schema="doc_id long, emb array<long>"
    )


def doc_embed_expr(text_col: str = "text", dim: int = _DIM) -> Column:
    """array<long> hashed embedding of a whitespace-tokenized text
    column — one row per document, zero shuffle. Lambda bodies get no
    common-subexpression elimination, so the md5 is computed ONCE per
    token in its own transform (the bucket and sign lambdas would
    otherwise each re-hash), and each token's (bucket, sign) pair is
    materialized once as a struct; the per-dimension fold then costs
    one int compare + add per token instead of re-running
    instr/substring/ascii over the md5 hex 16× per token (struct
    materialization measured ~3×, single-md5 on top of it ~1.3× on the
    sf0.1 corpus)."""
    hashes = F.transform(F.split(F.col(text_col), " "), lambda t: F.md5(t))
    bs = F.transform(
        hashes,
        lambda h: F.struct(
            (F.instr(F.lit(_HEX), F.substring(h, 4, 1)) - 1).alias("b"),
            F.when(F.ascii(F.substring(h, 5, 1)) % 2 == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("s"),
        ),
    )
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.aggregate(
            bs,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h["b"] == j, h["s"]).otherwise(F.lit(0)),
        ),
    )


def q_doc_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every document's 16-dim hashed embedding. The projection is
    map-only; one narrow (id, text) range exchange first spreads the
    token-hashing CPU across cores, because this corpus ships as a
    single parquet ROW GROUP — byte-range splits cannot cross it, so
    file-split parallelism is physically unavailable (see the note in
    session.py). On split-sized cluster files the exchange is free to
    drop. Sized from the session's shuffle width, not a literal — a
    hardcoded 32 was a local[32] tuning that would cap this stage at 32
    tasks on a real cluster.

    The vector is emitted as a comma-joined string, not array<long>:
    the driver's canonicalizer (pandas sort over every column) cannot
    order list cells — CORRECTNESS_r04 recorded exactly that TypeError.
    Downstream operators (doc_topk, semantic dedup) consume the array
    form via doc_embed_expr directly; the registry row is the
    driver-hashable projection of the same values."""
    docs = load_table(spark, sf_dir, "documents")
    # The output order (doc_id asc) is established on the narrow
    # (id, text) input via ONE range exchange — which doubles as the
    # CPU-spread the old round-robin repartition provided — and the
    # map-only Arrow kernel preserves it. The old shape (round-robin →
    # kernel → orderBy) paid a second exchange and re-ran the kernel
    # inside the range-sort sampling pass (r10 A/B: 1.20 s → 0.67 s at
    # sf0.1, rows and order bit-identical).
    return (
        doc_embed_arrays(
            docs.select("doc_id", "text")
            .repartitionByRange(shuffle_parallelism(spark), "doc_id")
            .sortWithinPartitions("doc_id")
        )
        .select(
            "doc_id",
            F.array_join(
                F.col("emb").cast("array<string>"), ","
            ).alias("embedding_csv"),
        )
    )


_SQL_TOK_EMBED = f"""
toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
),
hashed AS (
  SELECT doc_id,
         STRPOS('{_HEX}', SUBSTR(MD5(tok), 4, 1)) - 1 AS bucket,
         CASE WHEN ASCII(SUBSTR(MD5(tok), 5, 1)) % 2 = 1 THEN 1 ELSE -1 END AS sg
  FROM toks
),
sums AS (
  SELECT doc_id, bucket, SUM(sg) AS v FROM hashed GROUP BY 1, 2
),
dims AS (SELECT UNNEST(RANGE({_DIM})) AS dim),
dense AS (
  SELECT d.doc_id, dims.dim, COALESCE(s.v, 0) AS v
  FROM (SELECT DISTINCT doc_id FROM documents) d
  CROSS JOIN dims
  LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.bucket = dims.dim
),
vecs AS (
  SELECT doc_id, LIST(CAST(v AS BIGINT) ORDER BY dim) AS embedding
  FROM dense GROUP BY 1
)"""

ORACLE_DOC_EMBED = f"""
WITH {_SQL_TOK_EMBED}
SELECT doc_id, ARRAY_TO_STRING(embedding, ',') AS embedding_csv
FROM vecs ORDER BY doc_id
"""


def q_doc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-3 neighbors of the first 3 documents over the DERIVED
    hashed embeddings — the whole vector stack (embed + exact scan)
    with no embeddings table at all. Integer vectors make the quantized
    dot products exact by construction."""
    from data_lake_spark.operators.similarity import cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    vecs = (
        doc_embed_arrays(
            docs.select("doc_id", "text").repartition(
                shuffle_parallelism(spark)
            )
        )
        .select("doc_id", F.col("emb").cast("array<double>").alias("v"))
        .localCheckpoint(eager=False)
    )
    q = vecs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = vecs.select(F.col("doc_id").alias("cand_id"), F.col("v").alias("cv"))
    return (
        cosine_topk(q, c, k=3)
        .select("query_id", "cand_id", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


ORACLE_DOC_TOPK = f"""
WITH {_SQL_TOK_EMBED},
q AS (SELECT doc_id AS query_id, embedding AS qv FROM vecs WHERE doc_id < 3),
c AS (SELECT doc_id AS cand_id, embedding AS cv FROM vecs),
pelems AS (
  SELECT query_id, cand_id,
         CAST(UNNEST(qv) AS DOUBLE) AS qe,
         CAST(UNNEST(cv) AS DOUBLE) AS ce
  FROM q CROSS JOIN c WHERE query_id != cand_id
),
psums AS (
  SELECT query_id, cand_id,
         CAST(SUM(CAST(FLOOR(qe * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS dot,
         CAST(SUM(CAST(FLOOR(qe * qe * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS qq,
         CAST(SUM(CAST(FLOOR(ce * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS cc
  FROM pelems GROUP BY 1, 2
),
scored AS (
  SELECT query_id, cand_id, dot / (SQRT(qq) * SQRT(cc)) AS cosine FROM psums
)
SELECT query_id, cand_id, cosine,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= 3
ORDER BY query_id, rk
"""

REGISTRY["doc_embed"] = QuerySpec(
    q_doc_embed,
    ORACLE_DOC_EMBED,
    "feature-hashed 16-dim document embeddings, map-only in-engine",
)
REGISTRY["doc_topk"] = QuerySpec(
    q_doc_topk,
    ORACLE_DOC_TOPK,
    "cosine top-3 over the derived hashed embeddings (text-only "
    "corpus runs the full vector stack)",
)

_SQ_K = 10
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
        .filter(F.col("rk") <= _SQ_K)
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
QUALIFY rk <= {_SQ_K}
ORDER BY query_id, rk
"""

REGISTRY["sq_search"] = QuerySpec(
    q_sq_search,
    ORACLE_SQ_SEARCH,
    "int8 scalar-quantized cosine top-k (broadcast queries, stream "
    "4x-compressed codes)",
)


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


# ---------------------------------------------------------------------------
# embedding_coverage — cross-modal completeness audit (docs ↔ vectors)
# ---------------------------------------------------------------------------


def q_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage audit between the text corpus and its vector table —
    the first question a retrieval stack asks before serving: per
    source, how many documents have an embedding row (vec_id == doc_id,
    the ingest contract), coverage as a floored micro-share, plus one
    '(orphan vectors)' row counting embeddings with no document (the
    other direction of the same FK). The dq_checks convention applied
    to the multimodal join key.

    Plan: one id equi-join docs→vectors (co-partitionable on the id at
    any scale; the vector side is projected to its key — no embedding
    arrays move), one groupBy(source) over the joined frame, one
    anti-join count for orphans. No broadcast assumption: both sides
    are fact-sized at 100 TB."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = docs.join(
        vecs, docs.doc_id == vecs.vec_id, "left"
    ).select("source", F.col("vec_id").isNotNull().alias("has_vec"))
    per_source = j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("has_vec"), 1).otherwise(0)).alias("n_with_vec"),
    ).select(
        "source",
        "n_docs",
        "n_with_vec",
        F.expr(micro_share_sql("n_with_vec", "n_docs")).alias(
            "coverage_micro"
        ),
    )
    orphans = (
        vecs.join(docs, vecs.vec_id == docs.doc_id, "left_anti")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_with_vec"))
        .select(
            F.lit("(orphan vectors)").alias("source"),
            F.lit(0).cast("long").alias("n_docs"),
            F.col("n_with_vec").cast("long"),
            F.lit(None).cast("long").alias("coverage_micro"),
        )
    )
    return per_source.unionByName(orphans).orderBy("source")


_COV = oracle_micro_share_sql("n_with_vec", "n_docs")

ORACLE_EMBEDDING_COVERAGE = f"""
WITH j AS (
  SELECT d.source, v.vec_id IS NOT NULL AS has_vec
  FROM documents d LEFT JOIN embeddings v ON d.doc_id = v.vec_id
),
per_source AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN has_vec THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_vec
  FROM j GROUP BY 1
)
SELECT source, n_docs, n_with_vec,
       CAST({_COV} AS BIGINT) AS coverage_micro
FROM per_source
UNION ALL
SELECT '(orphan vectors)', CAST(0 AS BIGINT),
       CAST(COUNT(*) AS BIGINT), CAST(NULL AS BIGINT)
FROM embeddings v
WHERE NOT EXISTS (SELECT 1 FROM documents d WHERE d.doc_id = v.vec_id)
ORDER BY source
"""

REGISTRY["embedding_coverage"] = QuerySpec(
    q_embedding_coverage,
    ORACLE_EMBEDDING_COVERAGE,
    "docs↔vectors completeness audit: per-source embedding coverage "
    "micro-share + orphan-vector count (the multimodal FK check)",
)


# ---------------------------------------------------------------------------
# embedding_norms — per-label L2-norm audit over the vector column
# ---------------------------------------------------------------------------


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-hygiene audit: per label, the count and min/max/mean of the
    L2 norm — read before cosine-vs-dot decisions and before trusting
    IVF/PQ training (unnormalized outliers skew centroids). Exactness:
    per-element floor(x²·10¹²) int64 terms (operators/similarity
    recipe; dim·10¹² ≈ 6.4·10¹³ ≪ 2⁶³), norm_micro = floor(√sumsq) —
    int64→double exact below 2⁵³, √ correctly rounded, floor exact —
    and the mean is an integer div of exact sums. Per-vector work is
    map-only; the rollup shuffles the label-sized frame."""
    emb = load_table(spark, sf_dir, "embeddings")
    sumsq = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.col("embedding"),
            lambda x, y: F.floor(
                x.cast("double") * y.cast("double") * F.lit(1e12)
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    per_vec = emb.select(
        F.col("label").cast("long").alias("label"),
        F.floor(F.sqrt(sumsq.cast("double"))).cast("long").alias(
            "norm_micro"
        ),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("norm_micro").alias("min_norm_micro"),
            F.max("norm_micro").alias("max_norm_micro"),
            F.expr("SUM(norm_micro) div COUNT(*)").alias("avg_norm_micro"),
        )
        .orderBy("label")
    )


ORACLE_EMBEDDING_NORMS = """
WITH terms AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
              * 1000000000000.0) AS BIGINT) AS t
  FROM (SELECT vec_id, label, UNNEST(embedding) AS x FROM embeddings)
),
per_vec AS (
  SELECT vec_id, label,
         CAST(FLOOR(SQRT(CAST(SUM(t) AS DOUBLE))) AS BIGINT) AS norm_micro
  FROM terms GROUP BY 1, 2
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       MIN(norm_micro) AS min_norm_micro,
       MAX(norm_micro) AS max_norm_micro,
       CAST(SUM(norm_micro) // COUNT(*) AS BIGINT) AS avg_norm_micro
FROM per_vec GROUP BY 1 ORDER BY 1
"""

REGISTRY["embedding_norms"] = QuerySpec(
    q_embedding_norms,
    ORACLE_EMBEDDING_NORMS,
    "per-label L2-norm audit (count, min/max/mean) with the exact "
    "floor-micros recipe — map-only per vector, label-sized shuffle",
)


# ---------------------------------------------------------------------------
# embedding_pca — top principal direction via two in-engine power steps
# ---------------------------------------------------------------------------
#
# PCA whitening is a standard embedding-pipeline stage (decorrelate
# before quantization/ANN). The power method maps perfectly onto
# map-side-combinable aggregates: w ← Σ_rows x·(x·v) needs one
# projection pass (a vec_id window) and one per-dim re-aggregate (64
# keys) per iteration — never a D×D gram matrix, never vectors to the
# driver. Two fixed iterations from the uniform start; each step
# monotonically raises the Rayleigh quotient (the convergence metric —
# on a near-isotropic spectrum like this synthetic corpus the top
# DIRECTION is ill-conditioned by nature, λ2/λ1 ≈ 0.94). Production
# loops to tolerance with the same per-iteration plan.
#
# Exactness: projections floor-quantize at 10⁶ per element; per-dim
# sums are exact int64 (bounds documented inline); iteration-boundary
# rescaling is sign-magnitude max-abs normalization — sign(w) ·
# (|w| div (max|w| div 10⁶ + 1)) — because negative integer division
# truncates toward zero in Spark but floors in DuckDB, so |·| keeps
# both engines on the nonnegative-div common ground. The rescale is a
# HYBRID on the max magnitude m: the exact product form
# (|w|·10⁶ div m) while m ≤ 9·10¹² — where the product provably fits
# int64 (≤ 9·10¹⁸ < 2⁶³) — and the divide-first form
# (|w| div (m div 10⁶ + 1)) beyond, where every intermediate stays
# ≤ m and the relative quantization is ≤ ~10⁻⁶ because the divisor
# exceeds 9·10⁶. The pure product form overflowed past ~5·10⁵ vectors
# (Spark wraps silently where DuckDB errors); the pure divide-first
# form undershot up to 2× for m just above 10⁶ — the hybrid is exact
# where exactness is cheap and bounded-error where it is not. m = 0
# (all-zero corpus) short-circuits to 0, no div-by-zero either engine.

_RESCALE = (
    "CASE WHEN {m} = 0 THEN 0"
    " WHEN {m} <= 9000000000000 THEN (ABS({w}) * 1000000) div {m}"
    " ELSE ABS({w}) div ({m} div 1000000 + 1) END"
)

_ORACLE_RESCALE = (
    "CASE WHEN {m} = 0 THEN 0"
    " WHEN {m} <= 9000000000000 THEN (ABS({w}) * 1000000) // {m}"
    " ELSE ABS({w}) // ({m} // 1000000 + 1) END"
)


def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("d", "xv"),
    ).select("vec_id", "d", F.col("xv").cast("double").alias("x"))

    wv = Window.partitionBy("vec_id")
    wall = Window.partitionBy(F.lit(0))

    # iteration 1: v0 = 1 (uniform) — s1 = Σ_d floor(x·10⁶) ≤ 64·10⁶
    it1 = elems.withColumn(
        "s1", F.sum(F.floor(F.col("x") * F.lit(1e6))).over(wv)
    )
    # w1_d = Σ_vec floor(x·s1): |term| ≤ 0.32·6.4e7 ≈ 2e7, summed over
    # every vector — the SUM is int64-safe past 10¹¹ vectors, and the
    # hybrid rescale below is overflow-safe at any magnitude (the old
    # unconditional ABS(w1)·10⁶ product overflowed at ~5·10⁵ vectors)
    w1 = it1.groupBy("d").agg(
        F.sum(F.floor(F.col("x") * F.col("s1"))).alias("w1")
    )
    # hybrid rescale (see block comment): the exact product form while
    # it cannot overflow (m ≤ 9e12 keeps ABS(w)·10⁶ ≤ 9e18 < 2⁶³),
    # divide-first beyond — which is ≤ 10⁻⁶-relative there because the
    # divisor m div 10⁶ + 1 is ≥ 9·10⁶
    v1 = w1.withColumn("m1", F.max(F.abs(F.col("w1"))).over(wall)).select(
        "d",
        (F.signum("w1").cast("long") * F.expr(_RESCALE.format(w="w1", m="m1"))).alias(
            "v1"
        ),
    )
    # iteration 2 against the 64-row broadcast v1 (|v1| ≤ 10⁶):
    # s2 = Σ_d floor(x·v1_d) ≤ 64·3.2e5; w2 terms ≤ 0.32·2.1e7
    it2 = (
        elems.join(F.broadcast(v1), "d")
        .withColumn(
            "s2", F.sum(F.floor(F.col("x") * F.col("v1"))).over(wv)
        )
    )
    w2 = it2.groupBy("d").agg(
        F.sum(F.floor(F.col("x") * F.col("s2"))).alias("w2")
    )
    return (
        w2.withColumn("m2", F.max(F.abs(F.col("w2"))).over(wall))
        .select(
            F.col("d").cast("long").alias("dim"),
            F.col("w2").cast("long").alias("w2"),
            (
                F.signum("w2").cast("long")
                * F.expr(_RESCALE.format(w="w2", m="m2"))
            ).alias("component_micro"),
        )
        .orderBy("dim")
    )


_O_V1 = _ORACLE_RESCALE.format(w="w1", m="MAX(ABS(w1)) OVER ()")
_O_V2 = _ORACLE_RESCALE.format(w="w2", m="MAX(ABS(w2)) OVER ()")

# Two power-method iterations, shared by embedding_pca and
# pca_project_stored: w2 is the unnormalized top direction.
_PCA_SQL = f"""elems AS (
  SELECT vec_id, CAST(d - 1 AS INT) AS d, CAST(x AS DOUBLE) AS x
  FROM (SELECT vec_id,
               UNNEST(embedding) AS x,
               GENERATE_SUBSCRIPTS(embedding, 1) AS d
        FROM embeddings)
),
it1 AS (
  SELECT vec_id, d, x,
         CAST(SUM(CAST(FLOOR(x * 1000000.0) AS BIGINT))
              OVER (PARTITION BY vec_id) AS BIGINT) AS s1
  FROM elems
),
w1 AS (
  SELECT d, CAST(SUM(CAST(FLOOR(x * s1) AS BIGINT)) AS BIGINT) AS w1
  FROM it1 GROUP BY 1
),
v1 AS (
  SELECT d,
         CAST(CASE WHEN w1 > 0 THEN 1 WHEN w1 < 0 THEN -1 ELSE 0 END
              * ({_O_V1})
            AS BIGINT)
           AS v1
  FROM w1
),
it2 AS (
  SELECT e.vec_id, e.d, e.x,
         CAST(SUM(CAST(FLOOR(e.x * v.v1) AS BIGINT))
              OVER (PARTITION BY e.vec_id) AS BIGINT) AS s2
  FROM elems e JOIN v1 v ON e.d = v.d
),
w2 AS (
  SELECT d, CAST(SUM(CAST(FLOOR(x * s2) AS BIGINT)) AS BIGINT) AS w2
  FROM it2 GROUP BY 1
)"""

ORACLE_EMBEDDING_PCA = f"""
WITH {_PCA_SQL}
SELECT CAST(d AS BIGINT) AS dim, w2,
       CAST(CASE WHEN w2 > 0 THEN 1 WHEN w2 < 0 THEN -1 ELSE 0 END
            * ({_O_V2})
          AS BIGINT)
         AS component_micro
FROM w2 ORDER BY dim
"""

REGISTRY["embedding_pca"] = QuerySpec(
    q_embedding_pca,
    ORACLE_EMBEDDING_PCA,
    "top principal direction by two in-engine power-method iterations "
    "(projection window + 64-key re-aggregate per step, no gram matrix)",
)


# ---------------------------------------------------------------------------
# pca_project_stored — projection served from the PERSISTED component
# ---------------------------------------------------------------------------
#
# embedding_pca is the TRAINING face: every call replays both power
# iterations. Production projects against a component learned once and
# versioned as an artifact — the ivf_stored / bpe_encode_stored
# convention applied to the last in-engine-training query that lacked
# its serving twin. The stored form reads the 64-row component parquet
# (data_lake_spark.artifacts: fingerprint-keyed, so regenerated
# embeddings retrain) and pays ONE pass over the corpus: explode →
# broadcast join on the dim key → per-vector SUM. No vec_id window, no
# per-dim re-aggregate, zero power-iteration stages in-plan — the plan
# census in tests/test_plan_contracts.py pins exactly that.
#
# Exactness: proj_micro = Σ_d floor(x_d · v_d) with |v_d| ≤ 10⁶ and
# |x| ≤ ~0.32, so |term| < 3.2·10⁵ and the 64-term sum < 2.1·10⁷ —
# int64-trivial. The double product x·v is IEEE-identical across
# engines, and the artifact's long components round-trip parquet
# bit-exactly, so the oracle may recompute the component inline (SQL
# cannot read the artifact) and still match bit-for-bit.


def stored_pca_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_lake_spark.artifacts import stored_artifact

    return stored_artifact(
        spark,
        sf_dir,
        "pca_component",
        ["embeddings"],
        lambda: q_embedding_pca(spark, sf_dir).select(
            "dim", "component_micro"
        ),
        # artifact-format version: "2" = the hybrid max-abs rescale
        # (bump whenever the training arithmetic changes — the data
        # fingerprint alone cannot see code drift)
        version="2",
    )


def q_pca_project_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the stored top principal component —
    the serving twin of q_embedding_pca (see block comment)."""
    comp = stored_pca_component(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    elems = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("d", "xv"),
    ).select("vec_id", "d", F.col("xv").cast("double").alias("x"))
    return (
        elems.join(F.broadcast(comp), elems["d"] == comp["dim"])
        .groupBy("vec_id")
        .agg(
            F.sum(F.floor(F.col("x") * F.col("component_micro")))
            .cast("long")
            .alias("proj_micro")
        )
        .orderBy("vec_id")
    )


ORACLE_PCA_PROJECT = f"""
WITH {_PCA_SQL},
comp AS (
  SELECT d,
         CAST(CASE WHEN w2 > 0 THEN 1 WHEN w2 < 0 THEN -1 ELSE 0 END
              * ({_O_V2})
            AS BIGINT)
           AS v
  FROM w2
)
SELECT e.vec_id,
       CAST(SUM(CAST(FLOOR(e.x * c.v) AS BIGINT)) AS BIGINT) AS proj_micro
FROM elems e JOIN comp c ON e.d = c.d
GROUP BY 1
ORDER BY vec_id
"""

REGISTRY["pca_project_stored"] = QuerySpec(
    q_pca_project_stored,
    ORACLE_PCA_PROJECT,
    "per-vector projection onto the PERSISTED top principal component: "
    "one explode + 64-row broadcast join + per-vector sum, zero "
    "power-iteration stages in-plan (the stored-artifact serving twin "
    "of embedding_pca)",
)
