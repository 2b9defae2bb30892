"""Deduplication queries over ``documents`` (and ``embeddings`` for the
semantic modes): exact, near (shingle Jaccard, SimHash, MinHash LSH,
winnowing), semantic (SemDeDup over IVF cells), line/boilerplate, and
ExactSubstr (Lee et al. 2021) span dedup, plus the curation funnel, the
per-source cap and the duplicate census queries built on them.

Each plan is shaped for 100 TB: explode → groupBy is map-side combinable,
candidates come from equi-joins on shingle/band/bucket/gram keys — never
a cross join over the corpus — and keepers are chosen by deterministic
rules (min label over connected components, min-id tiebreaks). Every
query is paired with a bit-identical DuckDB oracle: string hashing uses
md5 (identical hex in both engines), min/argmax over hex strings is
plain lexicographic order, and the ExactSubstr oracle mirrors the
pipeline step for step (same md5 gram hashes, same int64 keeper
packing, same gaps-and-islands).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.functions.exact import micro_share_sql, oracle_micro_share_sql
from data_lake_spark.operators.similarity import _to_double, dot_exact, norm_exact
from data_lake_spark.operators.textdedup import (
    decontam_spans,
    drop_common_segments,
    exact_substr_dedup,
    exact_substr_spans,
    minhash_lsh_pairs,
    winnow_fingerprints,
)
from data_lake_spark.queries import QuerySpec
from data_lake_spark.session import overlap

REGISTRY: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash (D2-style content-only dedup, reference
    bronze_ingest_users_mock.py:79-80, generalized to the hash-groupBy used
    on web-scale corpora): md5(lower(text)) → keep lowest doc_id. The
    groupBy is map-side combinable; the hash key shards uniformly, so no
    skew at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(F.lower(F.col("text"))).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_doc_id")
    )


ORACLE_EXACT_DEDUP = """
SELECT MD5(LOWER(text)) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY 2
"""


def q_shingle_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup candidate pairs: distinct word-3-gram
    shingles per doc, equi-join on shingle (the scale path: candidates come
    from an inverted-index join, NOT a pairwise cross join), Jaccard =
    |∩| / (|A|+|B|-|∩|) from exact integer counts. Restricted to a doc_id
    window so pair volume stays bounded in the gate; the plan shape is the
    100 TB one."""
    from data_lake_spark.operators.textdedup import jaccard_pairs, shingles

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    return (
        jaccard_pairs(shingles(docs, n=3), min_jaccard=0.01)
        .select("doc_a", "doc_b", "n_common", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


ORACLE_SHINGLE_PAIRS = """
WITH toks AS (
  SELECT doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS tok,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
  FROM documents WHERE doc_id < 80
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id,
           tok || ' ' || LEAD(tok, 1) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
  ) WHERE shingle IS NOT NULL
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.01
ORDER BY 1, 2
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint (16-bit variant): per DISTINCT token,
    md5 hex chars 1..16 each vote ±1 on one bit (odd char code → +1);
    bit set if the vote sum is positive; fingerprint = Σ bit_b·2^b.
    Near-dup docs differ in few bits. Computed MAP-ONLY via the
    higher-order-function expression (operators/textdedup.simhash16_expr)
    — one row per doc, zero shuffle; the exact integer vote folds make
    it bit-identical to the explode→groupBy formulation the oracle
    mirrors."""
    from data_lake_spark.operators.partitioning import shuffle_parallelism
    from data_lake_spark.operators.textdedup import simhash16_expr

    docs = load_table(spark, sf_dir, "documents")
    # Output order (doc_id asc) is established on the narrow (id, text)
    # input — repartitionByRange samples two cheap columns — and the
    # map-only fold preserves it, so the interpreted HOF work (the
    # expensive part) spreads across cores AND is computed once. The
    # old shape (fold → orderBy) ran the fold single-task and a second
    # time inside the range-sort sampling pass (r10 A/B: 1.43 s →
    # 0.45 s at sf0.1, rows and order bit-identical).
    return (
        docs.select("doc_id", "text")
        .repartitionByRange(shuffle_parallelism(spark), "doc_id")
        .sortWithinPartitions("doc_id")
        .select("doc_id", simhash16_expr("text").alias("simhash16"))
    )


ORACLE_SIMHASH = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
  )
),
bits AS (
  SELECT doc_id,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(SUBSTR(MD5(tok), 1, 16), ''), 1) - 1 AS bit,
         CASE WHEN ASCII(UNNEST(STRING_SPLIT(SUBSTR(MD5(tok), 1, 16), ''))) % 2 = 1
              THEN 1 ELSE -1 END AS vote
  FROM toks
),
votes AS (SELECT doc_id, bit, SUM(vote) AS v FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN CAST(POW(2.0, bit) AS BIGINT) ELSE 0 END)
            AS BIGINT) AS simhash16
FROM votes GROUP BY 1 ORDER BY 1
"""

REGISTRY["exact_dedup"] = QuerySpec(
    q_exact_dedup, ORACLE_EXACT_DEDUP, "hash-groupBy exact dedup"
)
REGISTRY["shingle_pairs"] = QuerySpec(
    q_shingle_pairs, ORACLE_SHINGLE_PAIRS, "n-gram Jaccard near-dup"
)
REGISTRY["simhash"] = QuerySpec(q_simhash, ORACLE_SIMHASH, "SimHash fingerprint")

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

REGISTRY["minhash_lsh"] = QuerySpec(
    q_minhash_lsh, ORACLE_MINHASH_LSH, "MinHash+LSH near-dup candidates"
)
REGISTRY["lsh_recall"] = QuerySpec(
    q_lsh_recall, ORACLE_LSH_RECALL,
    "LSH banding recall ladder vs exact-Jaccard ground truth "
    "(b4r2 vs b2r4 over one signature table)",
)
REGISTRY["winnow_fingerprint"] = QuerySpec(
    q_winnow_fingerprint, ORACLE_WINNOW, "winnowing rolling-hash fingerprints"
)
REGISTRY["dedup_clusters"] = QuerySpec(
    q_dedup_clusters, ORACLE_DEDUP_CLUSTERS,
    "connected-components dedup clustering over MinHash edges",
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


# ---------------------------------------------------------------------------
# embedding-cosine near-duplicate detection
# ---------------------------------------------------------------------------

_NEARDUP_TAU = 0.30


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup assignment: candidate pairs from an
    equi-join on the blocking cell (``label`` — at scale, the IVF/SRP
    bucket), exact cosine verify with the floor-quantized dot recipe,
    then per-vector keeper = min matching lower id. Vectors absent from
    the output are cluster keepers."""
    emb = load_table(spark, sf_dir, "embeddings")
    # materialize the normed vectors once — both self-join sides read it
    # (same pattern as textdedup.minhash_lsh_pairs). Repartition by the
    # blocking cell FIRST: the self-join is then co-partitioned on its
    # key, the pairwise scoring parallelizes across cells, and AQE can't
    # funnel the (explodes-after-the-shuffle) pair space into one task
    # just because the pre-join bytes look small.
    e = (
        emb.select(
            "vec_id",
            "label",
            _to_double("embedding").alias("v"),
        )
        .repartition(16, "label")
        .withColumn("nrm", norm_exact("v"))
        .localCheckpoint(eager=False)
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), "label",
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), "label",
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    scored = (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (dot_exact("va", "vb") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= _NEARDUP_TAU)
    )
    return (
        scored.groupBy(F.col("vec_b").alias("vec_id"))
        .agg(
            F.min("vec_a").alias("dup_of"),
            F.count(F.lit(1)).alias("n_matches"),
            F.max("cos").alias("max_cosine"),
        )
        .orderBy("vec_id")
    )


ORACLE_EMBEDDING_NEARDUP = f"""
WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.embedding AS va, b.embedding AS vb
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
),
elems AS (
  SELECT vec_a, vec_b,
         CAST(UNNEST(va) AS DOUBLE) AS xa,
         CAST(UNNEST(vb) AS DOUBLE) AS xb
  FROM pairs
),
sums AS (
  SELECT vec_a, vec_b,
         CAST(SUM(CAST(FLOOR(xa * xb * 1000000000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000000000.0 AS dot,
         CAST(SUM(CAST(FLOOR(xa * xa * 1000000000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000000000.0 AS aa,
         CAST(SUM(CAST(FLOOR(xb * xb * 1000000000000.0) AS BIGINT)) AS DOUBLE)
           / 1000000000000.0 AS bb
  FROM elems GROUP BY 1, 2
),
scored AS (
  SELECT vec_a, vec_b, dot / (SQRT(aa) * SQRT(bb)) AS cos FROM sums
  WHERE dot / (SQRT(aa) * SQRT(bb)) >= {_NEARDUP_TAU}
)
SELECT vec_b AS vec_id,
       MIN(vec_a) AS dup_of,
       COUNT(*) AS n_matches,
       MAX(cos) AS max_cosine
FROM scored GROUP BY 1 ORDER BY 1
"""


def q_length_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-blocking near-dup prefilter: pairs of documents whose char
    counts differ by ≤ 2, via the banded range join (operators/rangejoin.py
    — bucket floor(n/eps), join own+adjacent buckets, exact refine). The
    same plan at 100 TB is one hash shuffle + 3× replication of one side,
    not the O(n²) inequality nested loop Spark would otherwise plan."""
    from data_lake_spark.operators.rangejoin import band_join

    docs = load_table(spark, sf_dir, "documents")
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("n_chars").alias("chars_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("n_chars").alias("chars_b"))
    return (
        band_join(a, b, "chars_a", "chars_b", eps=2.0)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            "chars_a",
            "chars_b",
            F.abs(F.col("chars_a") - F.col("chars_b")).cast("long").alias("char_diff"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE_LENGTH_BAND_JOIN = """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.n_chars AS chars_a, b.n_chars AS chars_b,
       CAST(ABS(a.n_chars - b.n_chars) AS BIGINT) AS char_diff
FROM documents a JOIN documents b
  ON a.doc_id < b.doc_id AND ABS(a.n_chars - b.n_chars) <= 2
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# SemDeDup semantic dedup (cell-blocked, centroid-farthest keeper)
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.30
_PS12 = "1000000000000.0"


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.semantic_dedup): within each
    cell, pairwise-cosine duplicate groups above τ keep only the member
    FARTHEST from the cell centroid (lowest centroid cosine — the
    least-prototypical example; min-id tiebreak). One row per vector
    with its centroid cosine and drop verdict; centroids come from the
    persisted artifact (stored_centroids), so the prototypicality pass
    is an equi-join against a stored model, not a retrain."""
    from data_lake_spark.operators.similarity import semantic_dedup
    from data_lake_spark.queries.ann import stored_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb, stored_centroids(spark, sf_dir), tau=_SEMDEDUP_TAU
    ).orderBy("vec_id")


ORACLE_SEMANTIC_DEDUP = f"""
WITH elems AS (
  SELECT vec_id, label,
         CAST(UNNEST(embedding) AS DOUBLE) AS x,
         GENERATE_SUBSCRIPTS(embedding, 1) - 1 AS d
  FROM embeddings
),
cent AS (
  SELECT label AS cell, d,
         CAST(SUM(CAST(FLOOR(x * {_PS12}) AS BIGINT)) AS DOUBLE) / {_PS12} / COUNT(x) AS c
  FROM elems GROUP BY 1, 2
),
vnorm AS (
  SELECT vec_id,
         SQRT(CAST(SUM(CAST(FLOOR(x * x * {_PS12}) AS BIGINT)) AS DOUBLE) / {_PS12}) AS nrm
  FROM elems GROUP BY 1
),
cnorm AS (
  SELECT cell,
         SQRT(CAST(SUM(CAST(FLOOR(c * c * {_PS12}) AS BIGINT)) AS DOUBLE) / {_PS12}) AS cn
  FROM cent GROUP BY 1
),
cdot AS (
  SELECT e.vec_id,
         SUM(CAST(FLOOR(e.x * c.c * {_PS12}) AS BIGINT)) AS dq
  FROM elems e JOIN cent c ON e.label = c.cell AND e.d = c.d
  GROUP BY 1
),
cc AS (
  SELECT v.vec_id, v.label AS cell,
         (CAST(dq AS DOUBLE) / {_PS12}) / (nrm * cn) AS cos_cent
  FROM (SELECT DISTINCT vec_id, label FROM embeddings) v
  JOIN cdot USING (vec_id)
  JOIN vnorm USING (vec_id)
  JOIN cnorm ON cnorm.cell = v.label
),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.embedding AS va, b.embedding AS vb
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
),
pelems AS (
  SELECT ia, ib,
         CAST(UNNEST(va) AS DOUBLE) AS xa,
         CAST(UNNEST(vb) AS DOUBLE) AS xb
  FROM pairs
),
psums AS (
  SELECT ia, ib,
         CAST(SUM(CAST(FLOOR(xa * xb * {_PS12}) AS BIGINT)) AS DOUBLE) / {_PS12} AS dot
  FROM pelems GROUP BY 1, 2
),
scored AS (
  SELECT p.ia, p.ib
  FROM psums p
  JOIN vnorm n1 ON n1.vec_id = p.ia
  JOIN vnorm n2 ON n2.vec_id = p.ib
  WHERE p.dot / (n1.nrm * n2.nrm) >= {_SEMDEDUP_TAU}
),
orient AS (
  SELECT ib AS x, ia AS y FROM scored
  UNION ALL
  SELECT ia AS x, ib AS y FROM scored
),
dropped AS (
  SELECT DISTINCT b.x AS vec_id
  FROM orient b
  JOIN cc cx ON cx.vec_id = b.x
  JOIN cc cy ON cy.vec_id = b.y
  WHERE cy.cos_cent < cx.cos_cent
     OR (cy.cos_cent = cx.cos_cent AND b.y < b.x)
)
SELECT cc.vec_id, CAST(cc.cell AS BIGINT) AS cell, cc.cos_cent,
       (d.vec_id IS NOT NULL) AS dropped
FROM cc LEFT JOIN dropped d ON d.vec_id = cc.vec_id
ORDER BY cc.vec_id
"""


_SEMDEDUP_MAX_CELL = 64


def q_semantic_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup with the SemDeDup scale knob engaged: pair
    blocking on deterministic sub-cells of ≤~64 members
    (operators/similarity.subsplit_cells), so pairwise cost is
    O(N·max_cell) — flat at any corpus size — instead of quadratic in
    the cell population. Centroid cosines keep the true cell; capped
    drops are a subset of the exact query's drops."""
    from data_lake_spark.operators.similarity import semantic_dedup
    from data_lake_spark.queries.ann import stored_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(
        emb,
        stored_centroids(spark, sf_dir),
        tau=_SEMDEDUP_TAU,
        max_cell=_SEMDEDUP_MAX_CELL,
    ).orderBy("vec_id")


def _oracle_semantic_capped() -> str:
    from data_lake_spark.queries.curation import _oracle_u16

    u16a = _oracle_u16("a.vec_id")
    u16b = _oracle_u16("b.vec_id")
    nsub = (
        f"CAST(CEIL(CAST(s.n AS DOUBLE) / {_SEMDEDUP_MAX_CELL}) AS BIGINT)"
    )
    # identical to ORACLE_SEMANTIC_DEDUP except the pairs CTE blocks on
    # the sub-cell: same cell AND same u16(id) % ceil(n/max) bucket
    return ORACLE_SEMANTIC_DEDUP.replace(
        """pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.embedding AS va, b.embedding AS vb
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
),""",
        f"""sizes AS (
  SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1
),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib, a.embedding AS va, b.embedding AS vb
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  JOIN sizes s ON s.label = a.label
  WHERE ({u16a}) % {nsub} = ({u16b}) % {nsub}
),""",
    )


REGISTRY["semantic_dedup"] = QuerySpec(
    q_semantic_dedup, ORACLE_SEMANTIC_DEDUP,
    "SemDeDup: cell-blocked cosine dup groups keep the "
    "centroid-farthest member (stored-centroid prototypicality)",
)
REGISTRY["semantic_dedup_capped"] = QuerySpec(
    q_semantic_dedup_capped, _oracle_semantic_capped(),
    "SemDeDup with sub-split cells (max ~64 members): flat "
    "O(N*max_cell) pair cost — the corpus-scale form",
)
REGISTRY["embedding_neardup"] = QuerySpec(
    q_embedding_neardup, ORACLE_EMBEDDING_NEARDUP,
    "embedding-cosine near-dup keeper assignment",
)
REGISTRY["length_band_join"] = QuerySpec(
    q_length_band_join, ORACLE_LENGTH_BAND_JOIN,
    "banded range join (length-blocked near-dup prefilter)",
)

_SEG_W = 10  # words per segment ("line")
_CAP_K = 30  # max documents kept per source


def _segments(docs: DataFrame) -> DataFrame:
    """Fixed 10-word segments per document: (doc_id, pos, seg), map-only."""
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).withColumn(
        "n_segs",
        F.ceil(F.size("toks") / F.lit(float(_SEG_W))).cast("long"),
    )
    return toks.select(
        "doc_id",
        "n_segs",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_segs") - 1),
                lambda i: F.array_join(
                    F.slice("toks", i * _SEG_W + 1, _SEG_W), " "
                ),
            )
        ).alias("pos", "seg"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-segment removal over the corpus: any 10-word segment
    appearing in the corpus more than once is dropped from every
    document (duplicate document families share all their segments, so
    this also guts exact/near duplicates). Output keeps every document
    (empty text when everything was boilerplate); cleaned text is
    md5-compared to keep the oracle hash small."""
    docs = load_table(spark, sf_dir, "documents")
    cleaned = drop_common_segments(_segments(docs), max_freq=1)
    return (
        docs.select("doc_id")
        .join(cleaned, "doc_id", "left")
        .select(
            "doc_id",
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("clean_md5"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        )
        .orderBy("doc_id")
    )


ORACLE_LINE_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
),
segs AS (
  SELECT doc_id, i AS pos,
         ARRAY_TO_STRING(t[(i * {_SEG_W} + 1):(i * {_SEG_W} + {_SEG_W})], ' ')
           AS seg
  FROM toks
  CROSS JOIN UNNEST(range(CAST(CEIL(LEN(t) / {_SEG_W}.0) AS BIGINT))) AS u(i)
),
hot AS (
  SELECT seg FROM segs GROUP BY 1 HAVING COUNT(*) > 1
),
kept AS (
  SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM hot)
),
rebuilt AS (
  SELECT doc_id, STRING_AGG(seg, ' ' ORDER BY pos, seg) AS text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY 1
)
SELECT d.doc_id,
       MD5(COALESCE(r.text, '')) AS clean_md5,
       COALESCE(r.n_kept, 0) AS n_kept
FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
ORDER BY d.doc_id
"""


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap: keep at most K documents per source,
    chosen by deterministic md5(doc_id) rank — a reproducible uniform
    sample per domain, no RNG. The window partitions by source (parallel
    across sources); output is the kept docs with their in-source rank
    plus the source's total, the shape downstream mixture weighting
    consumes."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    return (
        docs.select("doc_id", "source")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _CAP_K)
        .join(F.broadcast(totals), "source")
        .select("doc_id", "source", "rk", "n_source")
        .orderBy("source", "rk")
    )


ORACLE_SOURCE_CAP = f"""
WITH ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS BIGINT) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_source
  FROM documents
)
SELECT doc_id, source, rk, CAST(n_source AS BIGINT) AS n_source
FROM ranked WHERE rk <= {_CAP_K}
ORDER BY source, rk
"""


# ---------------------------------------------------------------------------
# partial_overlap — partial-copy detection from winnowing fingerprints
# ---------------------------------------------------------------------------

_MIN_SHARED = 3


def q_partial_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-copy pair detection: documents sharing >= 3 winnowing
    fingerprints (k=5 tokens, window=4 — the MOSS recipe). Whole-document
    MinHash misses a page that copies two paragraphs from another;
    winnowing guarantees any shared run of >= k+window-1 tokens leaves at
    least one common fingerprint, so the fingerprint equi-join surfaces
    exactly the partial overlaps. ``containment`` = shared / smaller
    profile — the asymmetric-copy score.

    Scale shape: inverted-index self-join on the fingerprint (never
    doc x doc); fingerprints are winnow-sparsified (~1/window of shingle
    count), and at 100 TB the boilerplate-hot fingerprints should be
    frequency-capped before the join exactly like LSH bands
    (operators/textdedup.cap_hot_bands)."""
    from data_lake_spark.operators.textdedup import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, k=5, window=4).localCheckpoint(eager=False)
    cnt = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fp.select(F.col("doc_id").alias("doc_a"), "fingerprint")
    b = fp.select(F.col("doc_id").alias("doc_b"), "fingerprint")
    pairs = (
        a.join(b, "fingerprint")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _MIN_SHARED)
    )
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("_na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("_nb"))
    return (
        pairs.join(F.broadcast(ca), "doc_a")
        .join(F.broadcast(cb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least(F.col("_na"), F.col("_nb"))
            ).alias("containment"),
        )
        .orderBy("doc_a", "doc_b")
    )


ORACLE_PARTIAL_OVERLAP = f"""
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
),
cnt AS (SELECT doc_id, COUNT(*) AS n_fp FROM fp GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM fp a JOIN fp b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING COUNT(*) >= {_MIN_SHARED}
)
SELECT p.doc_a, p.doc_b, p.n_shared,
       CAST(p.n_shared AS DOUBLE) / LEAST(ca.n_fp, cb.n_fp) AS containment
FROM pairs p
JOIN cnt ca ON p.doc_a = ca.doc_id
JOIN cnt cb ON p.doc_b = cb.doc_id
ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# curation_funnel — the whole pipeline as one query with retention stats
# ---------------------------------------------------------------------------

_F_NGRAM = 5
_F_CAP = 40


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation chain as one composable query, reporting
    the doc/token retention funnel every production pipeline publishes:

    raw → quality gate (length bounds) → exact dedup (min-id keeper per
    text hash) → boilerplate gate (≥2 non-boilerplate segments) →
    benchmark decontamination (no shared 5-gram with the eval set, GPT-3
    style) → per-source cap (deterministic hash rank ≤ 40).

    Each stage is defined over the PREVIOUS stage's survivors (keeper
    election, boilerplate frequency, and source ranks are all computed
    within the surviving set — the semantics a sequential pipeline run
    would produce). Intermediate frames are lazily checkpointed so the
    six stage aggregates don't recompute the chain. Output: one row per
    stage with surviving docs and whitespace tokens — integers only,
    bit-stable everywhere."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks"),
    )

    def stage(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("n_toks"), F.lit(0)).cast("long").alias("n_tokens"),
        )

    d0 = docs
    d1 = d0.filter((F.col("n_toks") >= 10) & (F.col("n_toks") <= 500))
    # exact dedup among survivors: min-id keeper per text hash
    wdup = Window.partitionBy(F.md5("text"))
    d2 = (
        d1.withColumn("_min_id", F.min("doc_id").over(wdup))
        .filter(F.col("doc_id") == F.col("_min_id"))
        .drop("_min_id")
        .localCheckpoint(eager=False)
    )
    # boilerplate gate among survivors: >= 2 segments that are corpus-unique
    segs = _segments(d2)
    hot = (
        segs.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .select("seg")
    )
    kept_per_doc = (
        segs.join(hot, "seg", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("_n_kept"))
        .filter(F.col("_n_kept") >= 2)
        .select("doc_id")
    )
    d3 = d2.join(kept_per_doc, "doc_id", "left_semi").localCheckpoint(eager=False)
    # decontam: corpus = doc_id >= 10; benchmark 5-grams from doc_id < 10
    tok = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    grams = (
        tok.select("doc_id", "toks", F.posexplode("toks").alias("i", "w"))
        .filter(F.col("i") <= F.size("toks") - _F_NGRAM)
        .select(
            "doc_id",
            F.expr(f"concat_ws(' ', slice(toks, i + 1, {_F_NGRAM}))").alias("g"),
        )
    )
    bench = grams.filter(F.col("doc_id") < 10).select("g").distinct()
    contaminated = (
        grams.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    d4 = (
        d3.filter(F.col("doc_id") >= 10)
        .join(contaminated, "doc_id", "left_anti")
        .localCheckpoint(eager=False)
    )
    # per-source cap among survivors
    wcap = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    d5 = d4.withColumn("_rk", F.row_number().over(wcap)).filter(
        F.col("_rk") <= _F_CAP
    )
    funnel = (
        stage(d0, "s0_raw")
        .unionByName(stage(d1, "s1_quality"))
        .unionByName(stage(d2, "s2_exact_dedup"))
        .unionByName(stage(d3, "s3_boilerplate"))
        .unionByName(stage(d4, "s4_decontam"))
        .unionByName(stage(d5, "s5_source_cap"))
    )
    return funnel.orderBy("stage")


ORACLE_CURATION_FUNNEL = f"""
WITH d0 AS (
  SELECT doc_id, source, text,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_toks
  FROM documents
),
d1 AS (SELECT * FROM d0 WHERE n_toks BETWEEN 10 AND 500),
d2 AS (
  SELECT doc_id, source, text, n_toks FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY MD5(text)) AS _min_id FROM d1
  ) WHERE doc_id = _min_id
),
segs AS (
  SELECT d.doc_id,
         ARRAY_TO_STRING(
           STRING_SPLIT(d.text, ' ')[(i * {_SEG_W} + 1):(i * {_SEG_W} + {_SEG_W})],
           ' ') AS seg
  FROM d2 d
  CROSS JOIN UNNEST(range(CAST(CEIL(LEN(STRING_SPLIT(d.text, ' ')) / {_SEG_W}.0)
                          AS BIGINT))) AS u(i)
),
hot AS (SELECT seg FROM segs GROUP BY 1 HAVING COUNT(*) > 1),
kept AS (
  SELECT doc_id FROM segs WHERE seg NOT IN (SELECT seg FROM hot)
  GROUP BY 1 HAVING COUNT(*) >= 2
),
d3 AS (SELECT d.* FROM d2 d JOIN kept k ON d.doc_id = k.doc_id),
t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM d0),
pos AS (SELECT doc_id, GENERATE_SUBSCRIPTS(w, 1) AS i FROM t),
grams AS (
  SELECT p.doc_id,
         ARRAY_TO_STRING(LIST_SLICE(t.w, p.i, p.i + {_F_NGRAM - 1}), ' ') AS g
  FROM pos p JOIN t ON p.doc_id = t.doc_id
  WHERE p.i + {_F_NGRAM - 1} <= ARRAY_LENGTH(t.w)
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10),
contaminated AS (
  SELECT DISTINCT gr.doc_id FROM grams gr JOIN bench b ON gr.g = b.g
  WHERE gr.doc_id >= 10
),
d4 AS (
  SELECT d.* FROM d3 d
  WHERE d.doc_id >= 10
    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
d5 AS (
  SELECT * FROM (
    SELECT d.*,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id)
             AS _rk
    FROM d4 d
  ) WHERE _rk <= {_F_CAP}
)
SELECT stage, n_docs, n_tokens FROM (
  SELECT 's0_raw' AS stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS n_tokens FROM d0
  UNION ALL
  SELECT 's1_quality', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM d1
  UNION ALL
  SELECT 's2_exact_dedup', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM d2
  UNION ALL
  SELECT 's3_boilerplate', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM d3
  UNION ALL
  SELECT 's4_decontam', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM d4
  UNION ALL
  SELECT 's5_source_cap', CAST(COUNT(*) AS BIGINT),
         CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) FROM d5
) ORDER BY stage
"""

REGISTRY["line_dedup"] = QuerySpec(
    q_line_dedup, ORACLE_LINE_DEDUP,
    "corpus boilerplate-segment removal (C4/CCNet line dedup)",
)
REGISTRY["source_cap"] = QuerySpec(
    q_source_cap, ORACLE_SOURCE_CAP,
    "per-source cap via deterministic hash rank",
)
REGISTRY["partial_overlap"] = QuerySpec(
    q_partial_overlap, ORACLE_PARTIAL_OVERLAP,
    "partial-copy pairs from winnowing fingerprints",
)
REGISTRY["curation_funnel"] = QuerySpec(
    q_curation_funnel, ORACLE_CURATION_FUNNEL,
    "end-to-end curation chain with per-stage retention",
)


# ---------------------------------------------------------------------------
# mirror_matrix — cross-source duplication attribution
# ---------------------------------------------------------------------------


def q_mirror_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which sources mirror which: for every FULL 10-word segment (the
    line_dedup boilerplate unit) shared across sources, one row per unordered
    source pair — (source_a < source_b, n_shared segments, distinct
    docs involved on each side). The provenance matrix a curation run
    reads before source caps: a heavy pair means one feed syndicates or
    templates the other, so their combined cap should be one source's
    worth, not two. Segment-level (not whole-document md5) because real
    mirrors edit headers/footers — exact-content sharing across sources
    is empty at sf0.01 while segment sharing is dense at every SF.

    Scale shape: segment families collapse to ONE row per
    (segment-hash, source) with a DISTINCT doc count BEFORE any pairing
    (groupBy on the hash key — the line_dedup shuffle), so the pair
    space per hash is bounded by |sources|² (the source dim is small by
    construction) and never by document multiplicity — a segment shared
    by 10⁶ docs in two mirrors contributes exactly one pair row. The
    pairing itself is a self-equi-join on the hash key. Partial tail
    segments (< 10 words) are excluded: two-word tails collide
    spuriously and would read as mirroring."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).withColumn(
        "n_full", (F.size("toks") / F.lit(_SEG_W)).cast("long")
    )
    # sequence(0, n_full-1) DESCENDS when n_full == 0 (the bpe_learn
    # trap) — guard short docs to an empty segment list instead
    segs = toks.select(
        "source",
        "doc_id",
        F.explode(
            F.when(
                F.col("n_full") >= 1,
                F.transform(
                    F.sequence(F.lit(0), F.col("n_full") - 1),
                    lambda i: F.array_join(
                        F.slice("toks", i * _SEG_W + 1, _SEG_W), " "
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("seg"),
    )
    hs = (
        segs.select("source", "doc_id", F.md5(F.col("seg")).alias("h"))
        .groupBy("h", "source")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    )
    a = hs.select(
        "h", F.col("source").alias("source_a"), F.col("n_docs").alias("da")
    )
    b = hs.select(
        "h", F.col("source").alias("source_b"), F.col("n_docs").alias("db")
    )
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum("da").cast("long").alias("docs_a"),
            F.sum("db").cast("long").alias("docs_b"),
        )
        .orderBy("source_a", "source_b")
    )


ORACLE_MIRROR_MATRIX = f"""
WITH toks AS (
  SELECT source, doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS tok,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
  FROM documents
),
segs AS (
  SELECT source, doc_id,
         MD5(STRING_AGG(tok, ' ' ORDER BY pos)) AS h
  FROM (SELECT source, doc_id, tok, pos,
               (pos - 1) // {_SEG_W} AS seg_idx FROM toks)
  GROUP BY source, doc_id, seg_idx
  HAVING COUNT(*) = {_SEG_W}
),
hs AS (
  SELECT h, source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM segs GROUP BY 1, 2
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       CAST(SUM(a.n_docs) AS BIGINT) AS docs_a,
       CAST(SUM(b.n_docs) AS BIGINT) AS docs_b
FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
"""


REGISTRY["mirror_matrix"] = QuerySpec(
    q_mirror_matrix,
    ORACLE_MIRROR_MATRIX,
    "cross-source exact-dup attribution: unordered source pairs per "
    "shared content hash (dup families collapsed before pairing)",
)

_K = 10  # gram width: the resolution of the duplicate index
_MIN_TOKENS = 20  # report/remove threshold (the paper uses 50 @ web scale)


def q_exact_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Removable verbatim spans >= 20 tokens (non-keeper occurrences of
    corpus-duplicated runs): (doc_id, span_start, span_tokens)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = exact_substr_spans(docs, k=_K, min_tokens=_MIN_TOKENS)
    return s.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    ).orderBy("doc_id", "span_start")


def q_exact_substr_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applied transform: every span cut out, remainder reassembled
    in token order; whole-doc copies survive as empty text."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_substr_dedup(docs, k=_K, min_tokens=_MIN_TOKENS).orderBy(
        "doc_id"
    )


# The oracle replays the identical index: md5 over the same space-joined
# token windows (DuckDB list slicing is 1-based inclusive; positions are
# emitted 0-based to match posexplode), the same doc_id*2^20+pos keeper
# packing, the same islands.
_ORACLE_SPANS_CTE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{_K}-1], ' ')) AS h
  FROM toks, UNNEST(range(1, len(t) - {_K} + 2)) AS u(i)
),
keep AS (
  SELECT h, min(doc_id * 1048576 + pos) AS keeper
  FROM grams GROUP BY h HAVING count(*) > 1
),
marked AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN keep k ON g.h = k.h
  WHERE g.doc_id * 1048576 + g.pos <> k.keeper
),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, min(pos) AS span_start,
         max(pos) + {_K} - 1 - min(pos) + 1 AS span_tokens
  FROM runs GROUP BY doc_id, grp
  HAVING max(pos) + {_K} - 1 - min(pos) + 1 >= {_MIN_TOKENS}
)
"""

ORACLE_EXACT_SUBSTR = (
    _ORACLE_SPANS_CTE
    + """
SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(span_tokens AS BIGINT) AS span_tokens
FROM spans ORDER BY doc_id, span_start
"""
)

ORACLE_EXACT_SUBSTR_CLEAN = (
    _ORACLE_SPANS_CTE
    + """
, covered AS (
  SELECT DISTINCT doc_id, p AS pos
  FROM spans, UNNEST(range(span_start, span_start + span_tokens)) AS c(p)
),
tok AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)
),
kept AS (
  SELECT k.doc_id,
         string_agg(k.tok, ' ' ORDER BY k.pos) AS clean_text,
         count(*) AS n_kept
  FROM tok k LEFT JOIN covered c
    ON k.doc_id = c.doc_id AND k.pos = c.pos
  WHERE c.doc_id IS NULL
  GROUP BY k.doc_id
),
removed AS (
  SELECT doc_id, count(*) AS n_removed FROM covered GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(kept.clean_text, '') AS clean_text,
       CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept,
       CAST(COALESCE(removed.n_removed, 0) AS BIGINT) AS n_removed
FROM documents d
LEFT JOIN kept ON d.doc_id = kept.doc_id
LEFT JOIN removed ON d.doc_id = removed.doc_id
ORDER BY d.doc_id
"""
)

_DC_K = 5  # the curation.decontam gram width, kept for comparability
_DC_MIN = 13  # GPT-3's collision width (Brown et al. 2020 §C)
_DC_BENCH = 10  # doc_id < 10 stands in for the eval set (the decontam split)


def q_decontam_substr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination: contaminated token spans (>= 13
    tokens of benchmark-colliding 5-grams, extended+merged) in every
    training doc — where q_decontam (curation.py) only counts per-doc
    gram hits, this locates WHAT to excise."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = decontam_spans(
        docs.filter(F.col("doc_id") >= _DC_BENCH),
        docs.filter(F.col("doc_id") < _DC_BENCH),
        k=_DC_K,
        min_tokens=_DC_MIN,
    )
    return s.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    ).orderBy("doc_id", "span_start")


ORACLE_DECONTAM_SUBSTR = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{_DC_K}-1], ' ')) AS h
  FROM toks, UNNEST(range(1, len(t) - {_DC_K} + 2)) AS u(i)
),
bench AS (
  SELECT DISTINCT h FROM grams WHERE doc_id < {_DC_BENCH}
),
marked AS (
  SELECT g.doc_id, g.pos
  FROM grams g JOIN bench b ON g.h = b.h
  WHERE g.doc_id >= {_DC_BENCH}
),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM marked
),
spans AS (
  SELECT doc_id, min(pos) AS span_start,
         max(pos) + {_DC_K} - 1 - min(pos) + 1 AS span_tokens
  FROM runs GROUP BY doc_id, grp
  HAVING max(pos) + {_DC_K} - 1 - min(pos) + 1 >= {_DC_MIN}
)
SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(span_tokens AS BIGINT) AS span_tokens
FROM spans ORDER BY doc_id, span_start
"""

REGISTRY["exact_substr"] = QuerySpec(
    q_exact_substr,
    ORACLE_EXACT_SUBSTR,
    "ExactSubstr dedup spans: verbatim >=20-token runs duplicated "
    "corpus-wide, non-keeper occurrences (rolling-hash inverted "
    "index + extend-and-merge)",
)
REGISTRY["exact_substr_clean"] = QuerySpec(
    q_exact_substr_clean,
    ORACLE_EXACT_SUBSTR_CLEAN,
    "ExactSubstr applied: duplicated spans excised, remainder "
    "reassembled in token order",
)
REGISTRY["decontam_substr"] = QuerySpec(
    q_decontam_substr,
    ORACLE_DECONTAM_SUBSTR,
    "span-level benchmark decontamination: locate >=13-token "
    "benchmark-colliding spans in training docs (broadcast bench "
    "grams + islands)",
)


# ---------------------------------------------------------------------------
# dup_histogram — duplicate-family size distribution
# ---------------------------------------------------------------------------


def q_dup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of exact-duplicate families (md5 of
    lowercased text, the exact_dedup key): for each family size s, how
    many families, how many redundant documents ((s-1) per family) and
    how many redundant tokens they carry — the one-page report that
    says what exact dedup will actually buy before anyone runs it.
    family_size=1 rows are the unique mass (redundant = 0), kept so
    the histogram sums to the corpus.

    Plan: groupBy(content hash) — map-side combinable, uniform key —
    then groupBy(family size) over the FAMILY frame (≤ corpus/s rows),
    map-only arithmetic after. Token counts stay int64: a family's
    token total is bounded by the corpus token count. 2 shuffles."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.md5(F.lower(F.col("text"))).alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    fams = docs.groupBy("h").agg(
        F.count(F.lit(1)).alias("s"),
        F.sum("n_tok").alias("fam_toks"),
        F.max("n_tok").alias("keeper_toks"),
    )
    return (
        fams.groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_families"),
            ((F.col("s") - 1) * F.count(F.lit(1)))
            .cast("long")
            .alias("redundant_docs"),
            F.sum(F.col("fam_toks") - F.col("keeper_toks"))
            .cast("long")
            .alias("redundant_tokens"),
        )
        .select(
            F.col("s").cast("long").alias("family_size"),
            "n_families",
            "redundant_docs",
            "redundant_tokens",
        )
        .orderBy("family_size")
    )


ORACLE_DUP_HISTOGRAM = """
WITH docs AS (
  SELECT md5(lower(text)) AS h,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
fams AS (
  SELECT h, CAST(COUNT(*) AS BIGINT) AS s,
         CAST(SUM(n_tok) AS BIGINT) AS fam_toks,
         CAST(MAX(n_tok) AS BIGINT) AS keeper_toks
  FROM docs GROUP BY 1
)
SELECT s AS family_size,
       CAST(COUNT(*) AS BIGINT) AS n_families,
       CAST((s - 1) * COUNT(*) AS BIGINT) AS redundant_docs,
       CAST(SUM(fam_toks - keeper_toks) AS BIGINT) AS redundant_tokens
FROM fams GROUP BY s ORDER BY family_size
"""

REGISTRY["dup_histogram"] = QuerySpec(
    q_dup_histogram,
    ORACLE_DUP_HISTOGRAM,
    "exact-duplicate family-size histogram with redundant doc/token "
    "mass — what dedup will buy, measured before running it",
)


# ---------------------------------------------------------------------------
# exact_substr_pairs — dedup provenance: which keeper each copy matches
# ---------------------------------------------------------------------------

_PAIR_MIN_GRAMS = 11  # 11 consecutive k=10 grams == a 20-token run


def q_exact_substr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance of the ExactSubstr removals: for every (copy doc,
    keeper doc) pair, how many duplicated k-grams the copy shares with
    that keeper and where the overlap starts — the lineage table a
    curation audit reads next to exact_substr's spans ("dedup removed
    1.2k tokens from doc X" is actionable only with "...copied from
    doc Y"). Pairs below 11 shared grams (< a 20-token run at k=10)
    are single-collision noise and drop.

    Plan: the same gram index + keeper frame as exact_substr; the
    keeper doc id unpacks from the int64 keeper key (div 2^20), so
    provenance costs ONE extra groupBy over the marked frame — no new
    pair space (pairs only exist where the inverted index already
    placed both docs on one hash)."""
    from data_lake_spark.operators.textdedup import (
        _POS_BITS,
        gram_keeper_marks,
        pack_doc_pos,
        token_kgrams,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = token_kgrams(docs, _K, guard_pos=True).withColumn(
        "enc", pack_doc_pos(F.col("doc_id"), F.col("pos"), pos_bounded=True)
    )
    # keeper + non-keeper marks from the shared salted two-level helper
    # (r11 skew posture — see gram_keeper_marks; same one heavy
    # exchange, no single-task hash, keeper value kept for provenance)
    marked = gram_keeper_marks(grams).select(
        "doc_id",
        "pos",
        F.expr(f"_keeper div {_POS_BITS}").alias("src_doc"),
    )
    return (
        marked.groupBy("doc_id", "src_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("shared_grams"),
            F.min("pos").cast("long").alias("first_pos"),
        )
        .filter(F.col("shared_grams") >= _PAIR_MIN_GRAMS)
        .orderBy("doc_id", "src_doc")
    )


ORACLE_EXACT_SUBSTR_PAIRS = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{_K}-1], ' ')) AS h
  FROM toks, UNNEST(range(1, len(t) - {_K} + 2)) AS u(i)
),
keep AS (
  SELECT h, min(doc_id * 1048576 + pos) AS keeper
  FROM grams GROUP BY h HAVING count(*) > 1
),
marked AS (
  SELECT g.doc_id, g.pos, k.keeper // 1048576 AS src_doc
  FROM grams g JOIN keep k ON g.h = k.h
  WHERE g.doc_id * 1048576 + g.pos <> k.keeper
)
SELECT doc_id, src_doc,
       CAST(COUNT(*) AS BIGINT) AS shared_grams,
       CAST(MIN(pos) AS BIGINT) AS first_pos
FROM marked
GROUP BY doc_id, src_doc
HAVING COUNT(*) >= {_PAIR_MIN_GRAMS}
ORDER BY doc_id, src_doc
"""

REGISTRY["exact_substr_pairs"] = QuerySpec(
    q_exact_substr_pairs,
    ORACLE_EXACT_SUBSTR_PAIRS,
    "ExactSubstr provenance: (copy doc, keeper doc) pairs with shared "
    "duplicated-gram counts — dedup lineage at inverted-index cost",
)


# ---------------------------------------------------------------------------
# takedown_screen — the subtractable gram index, oracle-checked
# ---------------------------------------------------------------------------


def q_takedown_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr screen AFTER a takedown, answered from the FULL
    corpus's gram postings with the deleted documents' rows subtracted
    — never rebuilt from the surviving text. This is the operation a
    GDPR/DMCA takedown forces on a lake-scale dedup index
    (streaming/takedown.py: the index partials are per-(gram, document)
    postings with the document id packed into ``keeper``, so deletion
    is an exact filter), and the oracle proves subtract-then-fold ≡
    rebuild-on-reduced-corpus: the SQL recomputes spans from scratch
    over only the surviving documents. Deleted set: doc_id % 17 == 3
    (deterministic, ~6% of the corpus — legal-request-sized).

    Plan shape: one gram pass + one (h, doc) aggregate over the full
    corpus (the index build, here in-plan for oracle pairing; in
    production it is the already-persisted streaming index), a
    map-side filter for the tombstones, the fold, and the survivors'
    screen join — inverted-index cost throughout, no pair space."""
    from data_lake_spark.operators.textdedup import (
        _POS_BITS,
        exact_substr_spans_from_index,
    )
    from data_lake_spark.streaming.incremental import _gram_partials

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    partials = _gram_partials(docs, _K, "doc_id", "text")
    live = partials.filter(F.expr(f"(keeper DIV {_POS_BITS}) % 17 <> 3"))
    index = live.groupBy("h").agg(
        F.min("keeper").alias("keeper"), F.sum("c").alias("c")
    )
    survivors = docs.filter(F.col("doc_id") % 17 != 3)
    s = exact_substr_spans_from_index(
        survivors, index, k=_K, min_tokens=_MIN_TOKENS
    )
    return s.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    ).orderBy("doc_id", "span_start")


# rebuild-from-scratch on the reduced corpus: if the Spark side's
# subtracted index produced anything else, the takedown machinery
# would be leaking deleted content into dedup decisions
ORACLE_TAKEDOWN_SCREEN = (
    _ORACLE_SPANS_CTE.replace(
        "FROM documents", "FROM documents WHERE doc_id % 17 <> 3"
    )
    + """
SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(span_tokens AS BIGINT) AS span_tokens
FROM spans ORDER BY doc_id, span_start
"""
)

REGISTRY["takedown_screen"] = QuerySpec(
    q_takedown_screen,
    ORACLE_TAKEDOWN_SCREEN,
    "takedown propagation: ExactSubstr screen from the full-corpus "
    "gram postings with deleted docs' rows SUBTRACTED (per-(gram,doc) "
    "posting granularity) — oracle proves subtract-then-fold equals "
    "rebuild-on-reduced-corpus",
)


# ---------------------------------------------------------------------------
# dup_rate_by_source — what dedup will buy, per source, before running it
# ---------------------------------------------------------------------------
#
# The first question a curation pipeline asks of a new source: how much
# of it is copies? Exact content-hash families per source (md5 of the
# text — the exact_dedup definition), rolled up to docs / distinct
# texts / redundant docs / a floored micro dup-rate. One scan, one
# (source, hash)-keyed aggregate that map-side-combines, then a
# source-sized rollup — scan-linear at any corpus size, and the
# decision number (keep the source? dedup it first?) is exact.


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.md5(F.col("text")).alias("h")
    )
    fam = docs.groupBy("source", "h").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        fam.groupBy("source")
        .agg(
            F.sum("n").alias("n_docs"),
            F.count(F.lit(1)).alias("n_distinct_texts"),
            (F.sum("n") - F.count(F.lit(1))).alias("n_redundant"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            "n_redundant",
            F.expr(micro_share_sql("n_redundant", "n_docs")).alias(
                "dup_rate_micro"
            ),
        )
        .orderBy("source")
    )


ORACLE_DUP_RATE_BY_SOURCE = f"""
WITH fam AS (
  SELECT source, MD5(text) AS h, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
per_source AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
         CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_redundant
  FROM fam GROUP BY 1
)
SELECT source, n_docs, n_distinct_texts, n_redundant,
       CAST({oracle_micro_share_sql("n_redundant", "n_docs")} AS BIGINT)
         AS dup_rate_micro
FROM per_source ORDER BY source
"""

REGISTRY["dup_rate_by_source"] = QuerySpec(
    q_dup_rate_by_source,
    ORACLE_DUP_RATE_BY_SOURCE,
    "per-source exact-copy census: docs / distinct texts / redundant "
    "docs / floored micro dup-rate — the what-will-dedup-buy audit, "
    "one scan + one map-side-combinable (source, hash) aggregate",
)
