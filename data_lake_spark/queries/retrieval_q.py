"""Retrieval-side queries: BM25 lexical scoring, hybrid lexical+vector
rank fusion (RRF), and PageRank over the near-dup candidate graph.

The reference's query surface stops at SQL rollups (its Lambda handlers
serve aggregates — e.g. `/root/reference/src/lambdas/earnings_analytics/
lambda_function.py`); a training-data engine also has to ANSWER
retrieval questions over the corpus it curates: "which documents match
this query" (lexical BM25), "which match semantically" (the hashed-
embedding cosine stack from queries/ann.py), and "which are most
central in the duplication graph" (PageRank over the shingle-candidate
edges — a centrality prior for keeper selection). All three are exact
by construction — integer fixed-point arithmetic throughout, the
functions/exact.py philosophy — so driver-vs-oracle comparison is
bit-identical and, more importantly, results don't drift with
partitioning at cluster scale.

Plan shapes (the 100 TB contract):

- ``bm25_topk``: per-doc term frequencies are higher-order-function
  expressions over the split token array — ZERO explode, zero shuffle;
  the corpus-level (N, total_tokens, per-term df) statistics are ONE
  map-side-combinable aggregate broadcast back as a one-row frame; the
  final top-k is TakeOrderedAndProject (never a global window sort).
- ``rrf_fusion``: query-by-document — candidate generation is an
  inverted-index equi-join on token (the shingle_pairs scale pattern,
  never query×corpus on anything but the tiny top-k lists), fused with
  the cosine top-k by a full outer join on the two ≤k rank lists.
- ``pagerank_docs``: operators/graph.pagerank — one rank-frame shuffle
  per iteration against a materialized degree-annotated edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from data_lake_spark.catalog import load_table
from data_lake_spark.operators.partitioning import shuffle_parallelism
from data_lake_spark.queries import QuerySpec
from data_lake_spark.session import overlap

# BM25 constants k1=1.2, b=0.75 cleared of fractions (×10·avgdl): with
# A = floored average doc length (t_tokens div n_docs — the floor is
# the documented quantization), the per-term normalizer
# tf·(k1+1) / (tf + k1·(1−b+b·dl/A)) becomes the all-integer
# 22·tf·A·SCALE div (10·tf·A + 3·A + 9·dl). idf (N−df+0.5)/(df+0.5)
# clears to (2N−2df+1)·SCALE div (2df+1). Floor-per-term then integer
# SUM — the deterministic-quantize-then-sum recipe of
# functions/exact.py, and transcendental-free (engines disagree in the
# last ULP of ln; they cannot disagree about integer div — the queries/text.py
# vocab-pruning rule).
#
# Overflow headroom: A-form keeps the normalizer ≤ 22·dl·A·10⁴ (corpus
# TOTALS never enter per-row arithmetic — the earlier T-form multiplied
# total corpus tokens ×10⁴ and left int64 around 10¹³ tokens). The
# remaining bound is idf·norm ≤ (2N+1)·10⁶/3 · 2.2·10⁴, safe past 10⁸
# docs per corpus; for larger N drop _IDF_SCALE a decade per 10×.
_IDF_SCALE = 1_000_000
_NORM_SCALE = 10_000
_TERMS = ("spark", "join", "window", "vector")
_RRF_K = 60  # standard reciprocal-rank-fusion constant (Cormack 2009)


def _bm25_core(tf_col: str, df_col: str) -> str:
    """The ONE textual source of the integer BM25 term score —
    identical text runs under Spark SQL and DuckDB (only unsigned
    `div`/`//` differs, parameterized via ``{div}``). bm25_topk and
    rrf_fusion's lexical side both render from here, so a formula
    change (e.g. the idf rescale the header comment anticipates) can
    never leave the two rankings disagreeing."""
    idf = f"((2*n_docs - 2*{df_col} + 1) * {_IDF_SCALE} {{div}} (2*{df_col} + 1))"
    norm = (
        f"((22 * {tf_col} * avgdl * {_NORM_SCALE}) "
        f"{{div}} (10 * {tf_col} * avgdl + 3 * avgdl + 9 * dl))"
    )
    return f"{idf} * {norm}"


def _bm25_term_expr(t: str) -> str:
    """Per-literal-term wrapper: zero for absent terms (tf = 0)."""
    return (
        f"(CASE WHEN tf_{t} > 0 "
        f"THEN {_bm25_core(f'tf_{t}', f'df_{t}')} ELSE 0 END)"
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 documents by BM25 for the literal query {spark join window
    vector}. Map-only per-doc features (dl + one HOF count per term over
    the split-once token array), one broadcast one-row stats frame, and
    a TakeOrderedAndProject top-k — no explode, no groupBy shuffle, no
    global sort; at 100 TB this is a single scan."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        # NB: a two-arg lambda would be read by F.filter as
        # (element, index) — bind the term via a closure factory
        *[
            F.size(F.filter(toks, (lambda term: lambda x: x == F.lit(term))(t)))
            .cast("long")
            .alias(f"tf_{t}")
            for t in _TERMS
        ],
    ).localCheckpoint(eager=False)  # stats agg + scored side both read it
    # (one corpus tokenization instead of two; r10 A/B 0.73 s -> 0.58 s)
    stats = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("t_tokens"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in _TERMS
        ],
    ).withColumn("avgdl", F.expr("t_tokens div n_docs"))
    score = " + ".join(_bm25_term_expr(t).format(div="div") for t in _TERMS)
    n_terms = " + ".join(
        f"(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)" for t in _TERMS
    )
    scored = (
        base.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.expr(score).cast("long").alias("score"),
            F.expr(n_terms).cast("long").alias("n_terms"),
        )
        .filter(F.col("score") > 0)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
    )
    # rank over the already-reduced 10-row frame, not the corpus
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return scored.withColumn("rk", F.row_number().over(w).cast("long"))


def _oracle_bm25(where: str = "") -> str:
    tf_cols = ",\n         ".join(
        f"CAST(LEN(LIST_FILTER(STRING_SPLIT(text,' '), x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in _TERMS
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}" for t in _TERMS
    )
    score = " + ".join(_bm25_term_expr(t).format(div="//") for t in _TERMS)
    n_terms = " + ".join(
        f"(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)" for t in _TERMS
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS dl,
         {tf_cols}
  FROM documents {where}
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS t_tokens,
         CAST(SUM(dl) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS avgdl,
         {df_cols}
  FROM base
),
scored AS (
  SELECT doc_id,
         CAST({score} AS BIGINT) AS score,
         CAST({n_terms} AS BIGINT) AS n_terms
  FROM base CROSS JOIN stats
)
SELECT doc_id, score, n_terms,
       CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rk
FROM scored WHERE score > 0
ORDER BY score DESC, doc_id LIMIT 10
"""


ORACLE_BM25_TOPK = _oracle_bm25()


# ---------------------------------------------------------------------------
# rrf_fusion — hybrid lexical+semantic retrieval, query-by-document
# ---------------------------------------------------------------------------

_TOPN = 20  # per-list depth fed into the fusion
_FINAL_K = 5


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two query-by-document rankings for the
    first 3 documents: a lexical BM25 ranking (query terms = the query
    doc's distinct tokens, candidates generated by an inverted-index
    token join) and a semantic ranking (cosine over the in-engine
    hashed embeddings, queries/ann.py). rrf = Σ_list 10^6 div
    (60 + rank), absent-from-list contributes 0 — integer arithmetic,
    exact on both engines.

    Scale shape: the token join is inverted-index (tiny broadcast query
    term list × corpus term frequencies, never query×corpus); the
    cosine side broadcasts 3 query vectors and streams the corpus; the
    fusion full-outer-joins two ≤TOPN·|Q| rank lists — dim-sized."""
    from data_lake_spark.operators.similarity import cosine_topk
    from data_lake_spark.queries.ann import doc_embed_arrays

    docs = load_table(spark, sf_dir, "documents")
    toks_arr = F.split(F.col("text"), " ")

    # --- lexical side: corpus term stats once, per-query-term join ----
    tokens = (
        docs.select("doc_id", "text")
        .repartition(shuffle_parallelism(spark))
        .select(
            "doc_id",
            F.size(toks_arr).cast("long").alias("dl"),
            F.explode(toks_arr).alias("tok"),
        )
    )
    # materialize the per-(doc, token) frequencies ONCE: dfreq, the
    # query-term list, and the scoring join all read it — without the
    # checkpoint each consumer re-tokenizes the whole corpus
    # Overlap the two independent side builds (r11, guide §2.6): the
    # lexical tf table (corpus tokenize + groupBy) and the semantic
    # hashed-embedding table (md5-heavy map pass) share no lineage but
    # used to build back to back. Each side pays ~0.45 s of
    # DRIVER-SIDE Catalyst planning inside localCheckpoint (the r10
    # measured constant) plus its cluster pass; planning is serial on
    # the driver thread regardless of core count — the reason rrf's
    # 8↔32-core bench ratio sat at 0.98. Each thread now plans AND
    # materializes its own side, so the driver work overlaps the other
    # side's cluster work.
    def _tf() -> DataFrame:
        t = tokens.groupBy("doc_id", "tok").agg(
            F.count(F.lit(1)).cast("long").alias("tf"),
            F.min("dl").alias("dl"),  # constant within the group
        ).localCheckpoint(eager=False)
        t.count()
        return t

    def _vecs() -> DataFrame:
        v = (
            doc_embed_arrays(
                docs.select("doc_id", "text").repartition(
                    shuffle_parallelism(spark)
                )
            )
            .select("doc_id", F.col("emb").cast("array<double>").alias("v"))
            .localCheckpoint(eager=False)
        )
        v.count()
        return v

    tf, vecs = overlap(_tf, _vecs)

    dfreq = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    # corpus stats from the already-materialized tf frame, not a second
    # corpus scan: split() never returns an empty array, so every doc
    # carries >= 1 (doc, tok) row and count(distinct doc_id) == n_docs,
    # sum(tf) == total token occurrences — bit-identical to the
    # docs-side aggregate (r10; A/B 3.41 s -> 3.20 s at sf0.1).
    # INVARIANT (r11 ADVICE): this equivalence additionally assumes
    # documents.text is NEVER NULL — explode(split(NULL)) emits zero
    # rows, so a NULL-text doc would drop out of n_docs here while the
    # old docs.agg(count(1)) counted it. The documents table is
    # generated NOT NULL (catalog contract; every text query in the
    # registry splits text unguarded on the same invariant) — if a
    # nullable-text source ever lands, coalesce(text, '') at toks_arr.
    stats = tf.agg(
        F.count_distinct(F.col("doc_id")).cast("long").alias("n_docs"),
        F.sum("tf").cast("long").alias("t_tokens"),
    ).withColumn("avgdl", F.expr("t_tokens div n_docs"))
    qterms = (
        tf.filter(F.col("doc_id") < 3)
        .select(F.col("doc_id").alias("query_id"), "tok")
    )
    lex_scores = (
        tf.join(F.broadcast(qterms), "tok")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", F.col("doc_id").alias("cand_id"))
        .agg(
            F.sum(F.expr(_bm25_core("tf", "df").format(div="div")))
            .cast("long")
            .alias("score")
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("cand_id")
    )
    lex = (
        lex_scores.withColumn("rank_lex", F.row_number().over(wq).cast("long"))
        .filter(F.col("rank_lex") <= _TOPN)
        .select("query_id", "cand_id", "rank_lex")
    )

    # --- semantic side: hashed-embedding cosine top-N (ann.py doc_embed stack) ----
    # the corpus ships as one parquet row group, so the CPU-bound md5
    # token hashing needs the same narrow spread q_doc_embed documents
    # (vecs built above so its materialization overlaps tf's)
    sem = (
        cosine_topk(
            vecs.filter(F.col("doc_id") < 3).select(
                F.col("doc_id").alias("query_id"), F.col("v").alias("qv")
            ),
            vecs.select(F.col("doc_id").alias("cand_id"), F.col("v").alias("cv")),
            k=_TOPN,
        )
        .select("query_id", "cand_id", F.col("rk").alias("rank_sem"))
    )

    # --- fusion: two ≤TOPN·|Q| lists, integer reciprocal ranks --------
    fused = (
        lex.join(sem, ["query_id", "cand_id"], "full_outer")
        .select(
            "query_id",
            "cand_id",
            F.coalesce("rank_lex", F.lit(0)).cast("long").alias("rank_lex"),
            F.coalesce("rank_sem", F.lit(0)).cast("long").alias("rank_sem"),
            (
                F.expr(
                    f"CASE WHEN rank_lex IS NULL THEN 0 "
                    f"ELSE {_IDF_SCALE} div ({_RRF_K} + rank_lex) END"
                )
                + F.expr(
                    f"CASE WHEN rank_sem IS NULL THEN 0 "
                    f"ELSE {_IDF_SCALE} div ({_RRF_K} + rank_sem) END"
                )
            ).cast("long").alias("rrf_micro"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micro").desc(), F.col("cand_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(wf).cast("long"))
        .filter(F.col("rk") <= _FINAL_K)
        .orderBy("query_id", "rk")
    )


_PS = "1000000000000.0"  # the ann/similarity quantized-dot scale

# Lexical CTE chain (mirrors the q_rrf_fusion lexical side textually).
_SQL_LEX = f"""
tokens AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT) AS dl,
         UNNEST(STRING_SPLIT(text,' ')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf, MIN(dl) AS dl
  FROM tokens GROUP BY 1, 2
),
dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT)) AS BIGINT) AS t_tokens,
         CAST(SUM(CAST(LEN(STRING_SPLIT(text,' ')) AS BIGINT)) AS BIGINT)
           // CAST(COUNT(*) AS BIGINT) AS avgdl
  FROM documents
),
qterms AS (
  SELECT DISTINCT doc_id AS query_id, tok FROM tokens WHERE doc_id < 3
),
lex_scores AS (
  SELECT q.query_id, t.doc_id AS cand_id,
         CAST(SUM(
           {_bm25_core("tf", "df").format(div="//")}
         ) AS BIGINT) AS score
  FROM tf t
  JOIN qterms q ON t.tok = q.tok AND t.doc_id != q.query_id
  JOIN dfreq d ON d.tok = t.tok
  CROSS JOIN stats
  GROUP BY 1, 2
),
lex AS (
  SELECT query_id, cand_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, cand_id) AS BIGINT) AS rank_lex
  FROM lex_scores QUALIFY rank_lex <= {_TOPN}
)"""

# Semantic CTE chain: the ann.py hashed-embedding vectors (imported
# textually so the recipes can never drift apart) + the quantized
# cosine, per-query rank capped at _TOPN.
_SQL_SEM = f"""
sq AS (SELECT doc_id AS query_id, embedding AS qv FROM vecs WHERE doc_id < 3),
sc AS (SELECT doc_id AS cand_id, embedding AS cv FROM vecs),
spelems AS (
  SELECT query_id, cand_id,
         CAST(UNNEST(qv) AS DOUBLE) AS qe,
         CAST(UNNEST(cv) AS DOUBLE) AS ce
  FROM sq CROSS JOIN sc WHERE query_id != cand_id
),
spsums AS (
  SELECT query_id, cand_id,
         CAST(SUM(CAST(FLOOR(qe * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS dot,
         CAST(SUM(CAST(FLOOR(qe * qe * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS qq,
         CAST(SUM(CAST(FLOOR(ce * ce * {_PS}) AS BIGINT)) AS DOUBLE) / {_PS} AS cc
  FROM spelems GROUP BY 1, 2
),
sem AS (
  SELECT query_id, cand_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY dot / (SQRT(qq) * SQRT(cc)) DESC,
                                          cand_id) AS BIGINT) AS rank_sem
  FROM spsums QUALIFY rank_sem <= {_TOPN}
)"""


def _oracle_rrf() -> str:
    from data_lake_spark.queries.ann import _SQL_TOK_EMBED

    return f"""
WITH {_SQL_LEX},
{_SQL_TOK_EMBED},
{_SQL_SEM},
fused AS (
  SELECT COALESCE(l.query_id, s.query_id) AS query_id,
         COALESCE(l.cand_id, s.cand_id) AS cand_id,
         CAST(COALESCE(l.rank_lex, 0) AS BIGINT) AS rank_lex,
         CAST(COALESCE(s.rank_sem, 0) AS BIGINT) AS rank_sem,
         CAST(
           (CASE WHEN l.rank_lex IS NULL THEN 0
                 ELSE {_IDF_SCALE} // ({_RRF_K} + l.rank_lex) END)
         + (CASE WHEN s.rank_sem IS NULL THEN 0
                 ELSE {_IDF_SCALE} // ({_RRF_K} + s.rank_sem) END)
         AS BIGINT) AS rrf_micro
  FROM lex l
  FULL OUTER JOIN sem s
    ON l.query_id = s.query_id AND l.cand_id = s.cand_id
)
SELECT query_id, cand_id, rank_lex, rank_sem, rrf_micro,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_micro DESC, cand_id) AS BIGINT) AS rk
FROM fused QUALIFY rk <= {_FINAL_K}
ORDER BY query_id, rk
"""


# ---------------------------------------------------------------------------
# pagerank_docs — centrality over the near-dup candidate graph
# ---------------------------------------------------------------------------

_PR_WINDOW = 80  # the shingle_pairs doc window — bounded pair volume
_PR_ITER = 3


def q_pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the undirected shingle-Jaccard
    candidate graph (the shingle_pairs edge set, both directions):
    which documents sit at the center of duplication neighborhoods — a
    centrality prior for cluster-keeper selection beyond min-id. Exact
    integer fixed-point throughout (operators/graph.pagerank), so the
    iterative fixpoint is bit-identical to the oracle's unrolled CTEs."""
    from data_lake_spark.operators.graph import pagerank
    from data_lake_spark.operators.textdedup import jaccard_pairs, shingles

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _PR_WINDOW
    )
    pairs = jaccard_pairs(shingles(docs, n=3), min_jaccard=0.01).select(
        "doc_a", "doc_b"
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    ranks = pagerank(
        docs.select(F.col("doc_id").alias("node")),
        edges,
        n_iter=_PR_ITER,
    )
    return ranks.select(
        F.col("node").alias("doc_id"), "rank_units"
    ).orderBy(F.col("rank_units").desc(), "doc_id")


_PR_ONE = 1_000_000_000_000
_PR_SQL_GRAPH = f"""
toks AS (
  SELECT doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS tok,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
  FROM documents WHERE doc_id < {_PR_WINDOW}
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
),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.01
),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION ALL
  SELECT doc_b AS u, doc_a AS v FROM pairs
),
nodes AS (SELECT doc_id AS node FROM documents WHERE doc_id < {_PR_WINDOW}),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS out_deg FROM edges GROUP BY 1),
ed AS (SELECT e.u, e.v, d.out_deg FROM edges e JOIN deg d USING (u))"""


def _pr_iter_sql(i: int) -> str:
    """One unrolled power iteration: per-edge integer contribution,
    grouped sum by destination, teleport + damped sum — textually the
    operators/graph.pagerank schedule."""
    prev = f"r{i - 1}"
    return f"""
c{i} AS (
  SELECT e.v AS node, SUM(r.rank_units // e.out_deg) AS s
  FROM ed e JOIN {prev} r ON r.node = e.u GROUP BY 1
),
r{i} AS (
  SELECT nd.node,
         CAST((SELECT ({_PR_ONE} * 15) // (100 * n) FROM nn)
              + (85 * COALESCE(c.s, 0)) // 100 AS BIGINT) AS rank_units
  FROM nodes nd LEFT JOIN c{i} c USING (node)
)"""


ORACLE_PAGERANK_DOCS = f"""
WITH {_PR_SQL_GRAPH},
r0 AS (
  SELECT node,
         CAST({_PR_ONE} // (SELECT n FROM nn) AS BIGINT) AS rank_units
  FROM nodes
),{",".join(_pr_iter_sql(i) for i in range(1, _PR_ITER + 1))}
SELECT node AS doc_id, rank_units
FROM r{_PR_ITER}
ORDER BY rank_units DESC, doc_id
"""


REGISTRY: dict[str, QuerySpec] = {
    "bm25_topk": QuerySpec(
        q_bm25_topk,
        ORACLE_BM25_TOPK,
        "integer-exact BM25 top-10, map-only tf via HOFs + broadcast stats",
    ),
    "rrf_fusion": QuerySpec(
        q_rrf_fusion,
        _oracle_rrf(),
        "hybrid retrieval: BM25 inverted-index + hashed-embedding cosine, "
        "reciprocal-rank fused",
    ),
    "pagerank_docs": QuerySpec(
        q_pagerank_docs,
        ORACLE_PAGERANK_DOCS,
        "integer fixed-point PageRank over the shingle near-dup graph",
    ),
}


# ---------------------------------------------------------------------------
# central_keeper — dedup keeper selection by centrality, not min-id
# ---------------------------------------------------------------------------


def q_central_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup decision with a centrality-aware canonical choice: MinHash
    band-collision pairs become the near-dup graph; connected components
    assign clusters (the dedup_clusters closure), and the KEEPER of each
    cluster is its highest-PageRank member (most-connected ≈ the most
    representative copy; min doc_id only breaks exact rank ties) instead
    of the arbitrary min-id. Both graph algorithms run on the same edge
    set; both are integer-exact, so the composition is oracle-checkable
    end to end.

    Scale: edges are LSH-sparse (never pairwise), components and ranks
    are each a few join+agg rounds over the edge frame, and the final
    per-cluster argmax is one window over cluster-partitioned rows —
    clusters are dup groups, i.e. tiny."""
    from data_lake_spark.operators.graph import connected_components, pagerank
    from data_lake_spark.operators.textdedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, n=3, n_hashes=8, rows_per_band=2).select(
        "doc_a", "doc_b"
    ).localCheckpoint(eager=False)  # cc and pagerank both read it
    nodes = docs.select(F.col("doc_id").alias("node"))

    # CC and PageRank build back to back: threading the two driver folds
    # measured within noise at sf0.1.
    cc = connected_components(nodes, pairs, src_col="doc_a", dst_col="doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    pr = pagerank(nodes, edges, n_iter=3)

    joined = cc.join(pr, "node").select(
        F.col("node").alias("doc_id"), "cluster_id", "rank_units"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("rank_units").desc(), F.col("doc_id")
    )
    return (
        joined.withColumn(
            "is_keeper", (F.row_number().over(w) == 1).cast("long")
        )
        .orderBy("doc_id")
    )


def _oracle_central_keeper() -> str:
    from data_lake_spark.queries.dedup import _SHINGLES_SQL

    prs = ",".join(_pr_iter_sql(i) for i in range(1, _PR_ITER + 1))
    return f"""
WITH RECURSIVE {_SHINGLES_SQL.strip().rstrip()},
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
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id
),
undirected AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL SELECT doc_b, doc_a FROM pairs
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.b, r.root FROM reach r JOIN undirected u ON u.a = r.node
),
clusters AS (
  SELECT node, MIN(root) AS cluster_id FROM reach GROUP BY 1
),
edges AS (SELECT a AS u, b AS v FROM undirected),
nodes AS (SELECT doc_id AS node FROM documents),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS out_deg FROM edges GROUP BY 1),
ed AS (SELECT e.u, e.v, d.out_deg FROM edges e JOIN deg d USING (u)),
r0 AS (
  SELECT node,
         CAST({_PR_ONE} // (SELECT n FROM nn) AS BIGINT) AS rank_units
  FROM nodes
),{prs},
joined AS (
  SELECT c.node AS doc_id, c.cluster_id, r.rank_units
  FROM clusters c JOIN r{_PR_ITER} r ON r.node = c.node
)
SELECT doc_id, cluster_id, rank_units,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY rank_units DESC, doc_id) = 1
            AS BIGINT) AS is_keeper
FROM joined ORDER BY doc_id
"""


REGISTRY["central_keeper"] = QuerySpec(
    q_central_keeper,
    _oracle_central_keeper(),
    "near-dup clusters with PageRank-centrality keeper selection "
    "(CC + PageRank composed on one LSH edge set)",
)


# ---------------------------------------------------------------------------
# triangle_count — local clustering structure of the near-dup graph
# ---------------------------------------------------------------------------


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document triangle count and local clustering coefficient over
    the shingle-Jaccard candidate graph (the pagerank_docs edge set):
    how CLIQUE-LIKE each document's duplication neighborhood is. Dedup
    triage reads this directly — a high-clustering node sits inside a
    mutually-similar blob (template families, boilerplate mills) where
    cluster-level keeper selection is safe; a high-degree low-clustering
    hub bridges unrelated near-dup groups and needs pairwise review
    before transitive merging.

    Node-iterator plan (the standard distributed shape): edges oriented
    doc_a < doc_b, wedges from one self-equi-join on the shared middle
    vertex, closed by one more equi-join against the oriented edge set —
    each triangle (a < b < c) is found exactly once, no dedup pass. Both
    joins shuffle on node keys only; the pair space is the LSH-bounded
    candidate set, never documents². At 100 TB the documented skew hedge
    is degree-orientation (low-degree endpoint first) instead of
    id-orientation, which bounds per-vertex wedge fan-out by
    sqrt(|E|); id-orientation keeps the oracle replay trivial here.
    Clustering coefficient rides micro-units: 2·tri·10⁶ div d(d−1),
    exact integer floor on both engines."""
    from data_lake_spark.operators.textdedup import jaccard_pairs, shingles

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _PR_WINDOW
    )
    # pairs feeds three join sides — materialize once. Eager: the edge
    # frame is window-bounded (_PR_WINDOW docs), so paying it at build
    # time keeps the visible plan the real runtime shape (a lazy
    # checkpoint triple-expands the shared inverted-index subtree in
    # explain and in the shuffle-budget census)
    pairs = (
        jaccard_pairs(shingles(docs, n=3), min_jaccard=0.01)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    wedges = (
        pairs.alias("e1")
        .join(pairs.alias("e2"), F.col("e1.doc_b") == F.col("e2.doc_a"))
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )
    tris = wedges.join(
        pairs.alias("p"),
        (F.col("a") == F.col("p.doc_a")) & (F.col("c") == F.col("p.doc_b")),
    ).select("a", "b", "c")
    # one explode, not a 3-way union — a union would re-expand the tris
    # join subtree three times in the plan (tris is not materialized)
    tri_nodes = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionAll(pairs.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    return (
        docs.select(F.col("doc_id").alias("node"))
        .join(deg, "node", "left")
        .join(tri_nodes, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree"),
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_tri"),
            F.when(
                F.coalesce(F.col("degree"), F.lit(0)) >= 2,
                F.expr(
                    "(2 * coalesce(n_tri, 0) * 1000000)"
                    " div (degree * (degree - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("clustering_micro"),
        )
        .orderBy("doc_id")
    )


ORACLE_TRIANGLE_COUNT = f"""
WITH {_PR_SQL_GRAPH},
wedges AS (
  SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
  FROM pairs e1 JOIN pairs e2 ON e1.doc_b = e2.doc_a
),
tris AS (
  SELECT w.a, w.b, w.c
  FROM wedges w JOIN pairs p ON p.doc_a = w.a AND p.doc_b = w.c
),
tn AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
    SELECT a AS node FROM tris
    UNION ALL SELECT b FROM tris
    UNION ALL SELECT c FROM tris
  ) GROUP BY 1
),
udeg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
    SELECT doc_a AS node FROM pairs
    UNION ALL SELECT doc_b FROM pairs
  ) GROUP BY 1
)
SELECT nd.node AS doc_id,
       COALESCE(d.degree, 0) AS degree,
       COALESCE(t.n_tri, 0) AS n_tri,
       CASE WHEN COALESCE(d.degree, 0) >= 2
            THEN (2 * COALESCE(t.n_tri, 0) * 1000000)
                   // (d.degree * (d.degree - 1))
            ELSE 0 END AS clustering_micro
FROM nodes nd
LEFT JOIN udeg d ON d.node = nd.node
LEFT JOIN tn t ON t.node = nd.node
ORDER BY doc_id
"""


REGISTRY["triangle_count"] = QuerySpec(
    q_triangle_count,
    ORACLE_TRIANGLE_COUNT,
    "per-doc triangles + clustering coefficient on the near-dup graph "
    "(node-iterator, oriented edges, no dedup pass)",
)
