"""Scale-path LLM-pipeline queries: MinHash+LSH near-dup, SRP-bucketed ANN,
winnowing fingerprints, IVF cell assignment — the operators behind them
live in ``operators.textdedup`` / ``operators.similarity``; here they're
bound to the testdata and mirrored in DuckDB oracle SQL (md5/parity hashing
and floor-quantized arithmetic keep both engines bit-identical)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.operators.similarity import ann_topk_bucketed, ivf_assign
from data_lake_spark.operators.textdedup import minhash_lsh_pairs, winnow_fingerprints
from data_lake_spark.queries import QuerySpec
from data_lake_spark.session import overlap

_PS = "1000000000000.0"

# shared oracle fragments ----------------------------------------------------

_SHINGLES_SQL = """
toks AS (
  SELECT doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS tok,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE shingle IS NOT NULL
)
"""

_ELEMS_SQL = """
elems AS (
  SELECT vec_id, label,
         CAST(UNNEST(embedding) AS DOUBLE) AS x,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS d
  FROM embeddings
)
"""


# --- MinHash + LSH -----------------------------------------------------------


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates at corpus scale: shingle → 8-hash MinHash →
    4 bands × 2 rows → inverted-index band join (operators/textdedup.py).
    Every stage is a map-side-combinable groupBy or an equi-join — no
    cross join anywhere, which is what makes this the 100 TB dedup path."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, n=3, n_hashes=8, rows_per_band=2).orderBy(
        "doc_a", "doc_b"
    )


ORACLE_MINHASH_LSH = f"""
WITH {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {", ".join(f"MIN(MD5('{i}:' || shingle)) AS sig{i}" for i in range(8))}
  FROM sh GROUP BY 1
),
bands AS (
  SELECT doc_id, 0 AS band_idx, MD5(sig0 || sig1) AS band_hash FROM sigs
  UNION ALL SELECT doc_id, 1, MD5(sig2 || sig3) FROM sigs
  UNION ALL SELECT doc_id, 2, MD5(sig4 || sig5) FROM sigs
  UNION ALL SELECT doc_id, 3, MD5(sig6 || sig7) FROM sigs
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- LSH recall ladder -------------------------------------------------------


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup stack's knob-to-measurement contract, the twin of
    ``ann_recall`` for MinHash-LSH: per banding configuration, what
    fraction of the TRUE near-dup pairs (exact shingle-Jaccard ≥ 0.5 —
    the verify threshold dedup_corpus uses) the candidate join catches,
    and how many candidate pairs it paid for them. Two rungs over one
    8-hash signature table:

    - ``b4r2_t8`` — 4 bands × 2 rows (S-curve threshold ≈ 0.5): the
      recall-leaning config q_minhash_lsh ships; catches everything on
      this corpus at ~3× the candidate volume (sf0.1: 826 candidates
      for 256/256 true pairs);
    - ``b2r4_t8`` — 2 bands × 4 rows (threshold ≈ 0.84): the
      precision-leaning config; sf0.1 catches 251/256 (recall 0.98)
      with ZERO wasted candidates.

    The delta between rows IS the banding trade-off, measured on the
    corpus rather than asserted from the S-curve formula. All stages
    are the production plan shapes: inverted-index equi-joins for both
    truth and candidates, map-side-combinable MIN aggregates for the
    signatures; the final assembly crossJoins three one-row aggregates
    (broadcast scalars, the whitelisted pattern).

    Bench-watch note (r07 flagged a 1.29× move on an unchanged plan):
    re-profiled at sf0.1 — every volume is EXACTLY the documented
    value (5000 docs, 260388 shingles, 256 truth pairs, 826/251
    candidates, 1.27M co-shingled pairs inside the exact-Jaccard truth
    join). No pair growth, no AQE flip to find; the cost is honest
    md5-heavy CPU over a constant pair space, so round-to-round moves
    on this query are host-CPU noise concentrated on its truth join."""
    from data_lake_spark.operators.textdedup import (
        jaccard_pairs,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = load_table(spark, sf_dir, "documents")
    # Materialization policy (r10, measured at sf0.1): each
    # localCheckpoint(eager=False) costs ~0.45 s of eager Catalyst
    # planning at BUILD time — a driver-side constant — and buys
    # exec-once reuse of its subtree — cluster work that scales with
    # data. A no-checkpoint variant relying on ReuseExchange alone ties
    # on bench total (driver planning dominates at this sf) but runs
    # 6× the physical exec (1.8 s vs 0.3 s): the thrice-consumed truth
    # join only partially dedupes in-plan. So multi-consumer frames
    # (sh → truth+sigs; truth → n_true + both rungs; sigs → both rungs)
    # KEEP their checkpoints; single-consumer ones lost theirs (the old
    # per-rung cands checkpoint, and jaccard_pairs' internal one — sh
    # is already a materialized LogicalRDD when it gets it).
    #
    # Overlap (r11, guide §2.6): the three materializations used to run
    # back to back — sh during the n_true broadcast build, then truth,
    # then sigs, each leaving the cluster idle at its stage tail. sh
    # (the shared input) still materializes first; truth (the exact-
    # Jaccard join, the expensive one) and sigs (the 8-hash MIN
    # aggregate) are INDEPENDENT given sh, so their planning + compute
    # now run as two concurrent driver-submitted jobs — sigs' tasks
    # back-fill executors the truth join's tail frees.
    sh = shingles(docs, n=3).localCheckpoint(eager=False)
    sh.count()  # materialize the shared input once, not racily twice

    def _truth() -> DataFrame:
        t = (
            jaccard_pairs(sh, min_jaccard=0.5, materialize=False)
            .select("doc_a", "doc_b")
            .localCheckpoint(eager=False)
        )
        t.count()
        return t

    def _sigs() -> DataFrame:
        s = minhash_signatures(sh, n_hashes=8).localCheckpoint(eager=False)
        s.count()
        return s

    truth, sigs = overlap(_truth, _sigs)
    n_true = truth.agg(F.count(F.lit(1)).alias("n_true"))

    def rung(config: str, rows_per_band: int) -> DataFrame:
        # ONE aggregation per rung (r10): candidates LEFT-join the truth
        # set and count rows / matches together. |cands ∩ truth| ≡ the
        # old truth-side semi-join count (both sides are distinct pair
        # sets), and the single consumer removes the per-rung
        # localCheckpoint — whose eager physical planning cost ~0.5 s
        # per call at build time (cProfile, guide §1) — plus one of the
        # two aggregation branches.
        cands = lsh_candidate_pairs(lsh_bands(sigs, rows_per_band)).select(
            "doc_a", "doc_b"
        )
        counts = cands.join(
            truth.withColumn("__t", F.lit(1)), ["doc_a", "doc_b"], "left"
        ).agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.count("__t").alias("n_caught"),
        )
        return (
            counts.crossJoin(F.broadcast(n_true))
            .select(
                F.lit(config).alias("config"),
                "n_candidates",
                "n_true",
                "n_caught",
                (F.col("n_caught") / F.col("n_true")).alias("recall"),
            )
        )

    return (
        rung("b4r2_t8", 2).unionByName(rung("b2r4_t8", 4)).orderBy("config")
    )


_SIGS_SQL = f"""
sigs AS (
  SELECT doc_id,
         {", ".join(f"MIN(MD5('{i}:' || shingle)) AS sig{i}" for i in range(8))}
  FROM sh GROUP BY 1
)"""

ORACLE_LSH_RECALL = f"""
WITH {_SHINGLES_SQL},
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
truth AS (
  SELECT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) i JOIN sizes sa ON sa.doc_id = i.doc_a
      JOIN sizes sb ON sb.doc_id = i.doc_b
  WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.5
),
{_SIGS_SQL},
b42 AS (
  SELECT doc_id, 0 AS bi, MD5(sig0 || sig1) AS bh FROM sigs
  UNION ALL SELECT doc_id, 1, MD5(sig2 || sig3) FROM sigs
  UNION ALL SELECT doc_id, 2, MD5(sig4 || sig5) FROM sigs
  UNION ALL SELECT doc_id, 3, MD5(sig6 || sig7) FROM sigs
),
b24 AS (
  SELECT doc_id, 0 AS bi, MD5(sig0 || sig1 || sig2 || sig3) AS bh FROM sigs
  UNION ALL SELECT doc_id, 1, MD5(sig4 || sig5 || sig6 || sig7) FROM sigs
),
c42 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM b42 a JOIN b42 b ON a.bi = b.bi AND a.bh = b.bh
                              AND a.doc_id < b.doc_id),
c24 AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM b24 a JOIN b24 b ON a.bi = b.bi AND a.bh = b.bh
                              AND a.doc_id < b.doc_id),
rows_ AS (
  SELECT 'b4r2_t8' AS config,
         (SELECT COUNT(*) FROM c42) AS n_candidates,
         (SELECT COUNT(*) FROM truth) AS n_true,
         (SELECT COUNT(*) FROM truth t JOIN c42 c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_caught
  UNION ALL
  SELECT 'b2r4_t8',
         (SELECT COUNT(*) FROM c24),
         (SELECT COUNT(*) FROM truth),
         (SELECT COUNT(*) FROM truth t JOIN c24 c
            ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
)
SELECT config, n_candidates, n_true, n_caught,
       n_caught * 1.0 / n_true AS recall
FROM rows_ ORDER BY config
"""


# --- winnowing fingerprints --------------------------------------------------


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (k=5 tokens, window=4), reduced
    to a per-doc profile (count + lexicographic min) for the gate."""
    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, k=5, window=4)
    return (
        fp.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp"), F.min("fingerprint").alias("min_fp"))
        .orderBy("doc_id")
    )


ORACLE_WINNOW = """
WITH toks AS (
  SELECT doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS tok,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
  FROM documents
),
hashed AS (
  SELECT doc_id, pos, MD5(sh5) AS h FROM (
    SELECT doc_id, pos,
           tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w
               || ' ' || LEAD(tok, 3) OVER w || ' ' || LEAD(tok, 4) OVER w AS sh5
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE sh5 IS NOT NULL
),
fp AS (
  SELECT DISTINCT doc_id,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
  FROM hashed
)
SELECT doc_id, COUNT(*) AS n_fp, MIN(fingerprint) AS min_fp
FROM fp GROUP BY 1 ORDER BY 1
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


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup decision: MinHash band-collision pairs become an
    undirected graph; connected components (operators/graph.py, iterative
    min-label propagation — each round one equi-join + min-agg) assign
    every doc its cluster; the keeper is the min doc id. The iterative
    fixpoint is deterministic, so even this non-single-query algorithm is
    oracle-checked (DuckDB recursive CTE computes the same closure)."""
    from data_lake_spark.operators.graph import connected_components
    from data_lake_spark.operators.textdedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    edges = minhash_lsh_pairs(docs, n=3, n_hashes=8, rows_per_band=2).select(
        "doc_a", "doc_b"
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    cc = connected_components(nodes, edges, src_col="doc_a", dst_col="doc_b")
    return (
        cc.select(
            F.col("node").alias("doc_id"),
            "cluster_id",
            (F.col("node") == F.col("cluster_id")).cast("long").alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SHINGLES_SQL},
sigs AS (
  SELECT doc_id,
         {", ".join(f"MIN(MD5('{i}:' || shingle)) AS sig{i}" for i in range(8))}
  FROM sh GROUP BY 1
),
bands AS (
  SELECT doc_id, 0 AS band_idx, MD5(sig0 || sig1) AS band_hash FROM sigs
  UNION ALL SELECT doc_id, 1, MD5(sig2 || sig3) FROM sigs
  UNION ALL SELECT doc_id, 2, MD5(sig4 || sig5) FROM sigs
  UNION ALL SELECT doc_id, 3, MD5(sig6 || sig7) FROM sigs
),
edges AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
undirected AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.b, r.root FROM reach r JOIN undirected u ON u.a = r.node
)
SELECT node AS doc_id,
       MIN(root) AS cluster_id,
       CAST(node = MIN(root) AS BIGINT) AS is_keeper
FROM reach GROUP BY 1 ORDER BY 1
"""


REGISTRY: dict[str, QuerySpec] = {
    "minhash_lsh": QuerySpec(q_minhash_lsh, ORACLE_MINHASH_LSH, "MinHash+LSH near-dup candidates"),
    "lsh_recall": QuerySpec(
        q_lsh_recall, ORACLE_LSH_RECALL,
        "LSH banding recall ladder vs exact-Jaccard ground truth "
        "(b4r2 vs b2r4 over one signature table)",
    ),
    "winnow_fingerprint": QuerySpec(q_winnow_fingerprint, ORACLE_WINNOW, "winnowing rolling-hash fingerprints"),
    "ann_lsh": QuerySpec(q_ann_lsh, ORACLE_ANN_LSH, "SRP-bucketed ANN top-k"),
    "ivf_assign": QuerySpec(q_ivf_assign, ORACLE_IVF, "IVF nearest-centroid assignment"),
    "ivf_search": QuerySpec(q_ivf_search, ORACLE_IVF_SEARCH, "IVF probe search (2 nearest cells)"),
    "ivf_stored": QuerySpec(
        q_ivf_stored, ORACLE_IVF_SEARCH,
        "IVF probe search against a persisted centroid artifact "
        "(pure probe — no in-query retraining)",
    ),
    "dedup_clusters": QuerySpec(
        q_dedup_clusters, ORACLE_DEDUP_CLUSTERS,
        "connected-components dedup clustering over MinHash edges",
    ),
    "ann_multiprobe": QuerySpec(
        q_ann_multiprobe, ORACLE_ANN_MULTIPROBE,
        "multi-probe SRP ANN (own + Hamming-1 buckets)",
    ),
}


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
# minhash_pairs_stored — text near-dup served from a persisted
# signature table (completes decode-once/serve-forever across text,
# image, audio, and video)
# ---------------------------------------------------------------------------


def stored_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_lake_spark.artifacts import stored_artifact
    from data_lake_spark.operators.textdedup import (
        minhash_signatures,
        shingles,
    )

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        return minhash_signatures(shingles(docs, 3), 8)

    # version "1" = md5('i:'||shingle) 8-hash family over 3-shingles
    return stored_artifact(
        spark, sf_dir, "minhash_sigs", ["documents"], build, version="1"
    )


def q_minhash_pairs_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates from the PERSISTED signature table: banding
    is a map-only projection of the stored (doc_id, sig0..sig7) rows
    and the candidate join is the usual (band_idx, band_hash)
    inverted index — the shingle explosion + signature aggregation
    (the expensive part of minhash_lsh, and exactly what the streaming
    ingest start_lsh_dedup_ingest persists incrementally) never run at
    serving time. Same oracle as minhash_lsh verbatim."""
    from data_lake_spark.operators.textdedup import (
        lsh_bands,
        lsh_candidate_pairs,
    )

    bands = lsh_bands(stored_minhash_sigs(spark, sf_dir), 2)
    return lsh_candidate_pairs(bands).orderBy("doc_a", "doc_b")


REGISTRY["minhash_pairs_stored"] = QuerySpec(
    q_minhash_pairs_stored,
    ORACLE_MINHASH_LSH,
    "MinHash near-dup candidates served from the PERSISTED signature "
    "table: map-only banding + the band inverted-index join, zero "
    "shingle/signature stages in-plan (the stored-artifact serving "
    "twin of minhash_lsh, same oracle verbatim)",
)
