"""Training-data curation queries: deterministic sampling (uniform and
length-weighted), dataset splitting, repetition-based quality filtering,
and benchmark decontamination — the corpus-preparation stages of an LLM
data pipeline, beyond the reference surface (BASELINE.json north star).

Determinism across engines AND cluster sizes is the design center:

- Sampling/splitting keys on ``md5(doc_id)`` — not ``rand()`` — so the
  sample is a pure function of the row. Re-running on 1 executor or 1000
  yields the same sample; adding documents never reshuffles existing
  membership (the property reservoir/“sample 10%” jobs lose at scale).
  The first 4 hex chars become a uniform u16 via digit lookup
  (``instr``/``strpos`` on '0123456789abcdef' — identical in Spark and
  DuckDB), and thresholds are integer literals.
- Repetition stats (Gopher-style repetition rules: Rae et al. 2021,
  arXiv:2112.11446 §A1.1) are pure per-document explode→groupBy — map-side
  combinable, no cross-document shuffle.
- Decontamination blocks on the n-gram string itself: the benchmark side
  is tiny and broadcast, so the corpus side never shuffles — at 100 TB
  this is a map-only scan + broadcast hash join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.queries import QuerySpec

REGISTRY: dict[str, QuerySpec] = {}

# --- deterministic per-document uniform u16 from md5 ----------------------

_HEX = "0123456789abcdef"


def doc_u16(id_col: str = "doc_id") -> Column:
    """Uniform integer in [0, 65536) as a pure function of the id: first
    4 hex chars of md5(id), decoded via digit lookup (portable — both
    engines lowercase their md5 hex)."""
    h = F.md5(F.col(id_col).cast("string"))
    val = F.lit(0)
    for i in range(1, 5):
        digit = F.instr(F.lit(_HEX), F.substring(h, i, 1)) - 1
        val = val * 16 + digit
    return val.cast("long")


def _oracle_u16(id_expr: str) -> str:
    h = f"MD5(CAST({id_expr} AS VARCHAR))"
    val = "0"
    for i in range(1, 5):
        val = f"(({val}) * 16 + STRPOS('{_HEX}', SUBSTR({h}, {i}, 1)) - 1)"
    return f"CAST({val} AS BIGINT)"


# 30% Bernoulli keep-rate: floor(0.30 * 65536) = 19660
_SAMPLE_CUT = 19660
# 80/10/10 split: floor(.8*65536)=52428, floor(.9*65536)=58982
_TRAIN_CUT, _VAL_CUT = 52428, 58982


# ---------------------------------------------------------------------------
# hash_sample — deterministic Bernoulli document sample
# ---------------------------------------------------------------------------


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~30% deterministic sample of the corpus: keep documents whose md5
    u16 falls under the threshold. No rand(), no seed plumbing — identical
    membership on any cluster, stable under corpus growth."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("sample_key", doc_u16())
        .filter(F.col("sample_key") < _SAMPLE_CUT)
        .select("doc_id", "lang", "sample_key")
        .orderBy("doc_id")
    )


ORACLE_HASH_SAMPLE = f"""
SELECT doc_id, lang, {_oracle_u16('doc_id')} AS sample_key
FROM documents
WHERE {_oracle_u16('doc_id')} < {_SAMPLE_CUT}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# train_split — 80/10/10 split assignment + per-split token budget
# ---------------------------------------------------------------------------


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based 80/10/10 train/val/test assignment, reported as document
    and token counts per (lang, split) — the dataset-card table. A
    document's split is a pure function of its id: no leakage when the
    pipeline reruns, and val/test never drift into train as data grows."""
    docs = load_table(spark, sf_dir, "documents")
    u = doc_u16()
    split = (
        F.when(u < _TRAIN_CUT, "train")
        .when(u < _VAL_CUT, "val")
        .otherwise("test")
    )
    return (
        docs.select(
            "lang",
            split.alias("split"),
            F.size(F.split(F.col("text"), " ")).alias("toks"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
        )
        .orderBy("lang", "split")
    )


ORACLE_TRAIN_SPLIT = f"""
WITH assigned AS (
  SELECT lang,
         CASE WHEN {_oracle_u16('doc_id')} < {_TRAIN_CUT} THEN 'train'
              WHEN {_oracle_u16('doc_id')} < {_VAL_CUT} THEN 'val'
              ELSE 'test' END AS split,
         ARRAY_LENGTH(STRING_SPLIT(text, ' ')) AS toks
  FROM documents
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(toks) AS BIGINT) AS n_tokens
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# repetition_stats — Gopher-style repetition quality signals
# ---------------------------------------------------------------------------


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals: distinct-token ratio and
    top-bigram fraction (share of bigram slots taken by the most frequent
    bigram — Gopher's 'top 2-gram' rule, threshold 0.18). Everything is a
    per-document explode→groupBy: map-side combinable, zero cross-document
    traffic."""
    docs = load_table(spark, sf_dir, "documents")
    # materialize the token array once — referencing split() inside a
    # higher-order-function lambda re-evaluates it per element (O(n²)/doc)
    tok = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    base = tok.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        (
            F.size(F.array_distinct(F.col("toks"))).cast("double")
            / F.size("toks")
        ).alias("distinct_ratio"),
    )
    # bigrams via posexplode-then-project for the same Generate-filter
    # reason as decontam: keep the generator input cheap
    top = (
        tok.select("doc_id", "toks", F.posexplode("toks").alias("i", "w"))
        .filter(F.col("i") < F.size("toks") - 1)
        .select(
            "doc_id",
            F.concat(
                F.col("w"), F.lit(" "), F.expr("element_at(toks, i + 2)")
            ).alias("bg"),
        )
        .groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_cnt"))
    )
    return (
        base.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "distinct_ratio",
            (
                F.coalesce(F.col("top_cnt"), F.lit(0)).cast("double")
                / (F.col("n_tokens") - 1)
            ).alias("top_bigram_frac"),
        )
        .withColumn(
            "repetitive",
            (F.col("top_bigram_frac") > 0.18).cast("long"),
        )
        .orderBy("doc_id")
    )


ORACLE_REPETITION_STATS = """
WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
uw AS (
  SELECT doc_id, UNNEST(w) AS word, GENERATE_SUBSCRIPTS(w, 1) AS i FROM t
),
ds AS (
  SELECT doc_id, COUNT(*) AS n,
         COUNT(DISTINCT word) AS nd
  FROM uw GROUP BY 1
),
bg AS (
  SELECT a.doc_id, a.word || ' ' || b.word AS b
  FROM uw a JOIN uw b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
bgc AS (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
top AS (SELECT doc_id, MAX(c) AS top_cnt FROM bgc GROUP BY 1)
SELECT ds.doc_id, CAST(ds.n AS BIGINT) AS n_tokens,
       CAST(ds.nd AS DOUBLE) / ds.n AS distinct_ratio,
       CAST(COALESCE(top.top_cnt, 0) AS DOUBLE) / (ds.n - 1) AS top_bigram_frac,
       CAST(CAST(COALESCE(top.top_cnt, 0) AS DOUBLE) / (ds.n - 1) > 0.18
            AS BIGINT) AS repetitive
FROM ds LEFT JOIN top ON ds.doc_id = top.doc_id
ORDER BY ds.doc_id
"""


# ---------------------------------------------------------------------------
# decontam — benchmark n-gram overlap scan
# ---------------------------------------------------------------------------

_NGRAM = 5


def corpus_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, g) 5-gram stream — THE decontam gram construction,
    shared by q_decontam and scale_q.q_decontam_bloom (whose shared
    ORACLE_DECONTAM pairing requires the two engines' gram streams to
    stay byte-equivalent forever — one builder, no copies to drift).

    Grams are built AFTER a plain posexplode, not inside the generator
    expression: Catalyst's infer-filters-from-Generate otherwise copies
    the whole gram-array construction into a pre-Generate Filter and
    evaluates it 3× per row. Here the Generate input is the cheap toks
    array and each output row slices exactly one n-gram."""
    tok = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    return (
        tok.select("doc_id", "toks", F.posexplode("toks").alias("i", "w"))
        .filter(F.col("i") <= F.size("toks") - _NGRAM)
        .select(
            "doc_id",
            F.expr(f"concat_ws(' ', slice(toks, i + 1, {_NGRAM}))").alias("g"),
        )
    )


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    5-gram with a held-out benchmark set (here: doc_id < 10 stands in for
    the eval set). The benchmark side is tiny → distinct n-grams broadcast;
    the corpus side is a map-only n-gram explode + broadcast hash join —
    no corpus shuffle at any scale. GPT-3-style n-gram collision filtering
    (Brown et al. 2020, arXiv:2005.14165 §C)."""
    docs = load_table(spark, sf_dir, "documents")
    grams = corpus_grams(docs)
    bench = (
        grams.filter(F.col("doc_id") < 10).select("g").distinct()
    )
    return (
        grams.filter(F.col("doc_id") >= 10)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_hits"))
        .orderBy("doc_id")
    )


ORACLE_DECONTAM = f"""
WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
pos AS (SELECT doc_id, GENERATE_SUBSCRIPTS(w, 1) AS i FROM t),
grams AS (
  SELECT p.doc_id, ARRAY_TO_STRING(LIST_SLICE(t.w, p.i, p.i + {_NGRAM - 1}), ' ') AS g
  FROM pos p JOIN t ON p.doc_id = t.doc_id
  WHERE p.i + {_NGRAM - 1} <= ARRAY_LENGTH(t.w)
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 10)
SELECT c.doc_id, COUNT(DISTINCT c.g) AS n_hits
FROM grams c JOIN bench b ON c.g = b.g
WHERE c.doc_id >= 10
GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# mixture_weights — language-balanced deterministic subsample
# ---------------------------------------------------------------------------


def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing: per-language keep-rate chosen so every
    language contributes ≈ the minority language's document count, applied
    with the same deterministic md5 u16 key as hash_sample. The rate table
    is integer arithmetic (thr = 65536·min_cnt ÷ cnt) computed from a
    dim-sized aggregate and broadcast — the corpus scan stays map-only."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    # scalar min over the rate table via a constant-partition window —
    # the frame is bounded at the LANGUAGE count by construction, so the
    # single partition is safe at any corpus size and the rate table
    # stays one pass (no checkpoint, no scalar cross join)
    thr = counts.withColumn(
        "mn", F.min("cnt").over(Window.partitionBy(F.lit(0)))
    ).select("lang", "cnt", F.expr("(65536 * mn) div cnt").alias("thr"))
    return (
        docs.withColumn("u", doc_u16())
        .join(F.broadcast(thr), "lang")
        .filter(F.col("u") < F.col("thr"))
        .groupBy("lang", "cnt", "thr")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .select("lang", F.col("cnt").alias("n_total"), "thr", "n_kept")
        .orderBy("lang")
    )


ORACLE_MIXTURE_WEIGHTS = f"""
WITH counts AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1),
thr AS (
  SELECT lang, cnt,
         (65536 * (SELECT MIN(cnt) FROM counts)) // cnt AS thr
  FROM counts
)
SELECT d.lang, t.cnt AS n_total, t.thr, COUNT(*) AS n_kept
FROM documents d JOIN thr t ON d.lang = t.lang
WHERE {_oracle_u16('d.doc_id')} < t.thr
GROUP BY 1, 2, 3 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# bigram_lm_score — corpus-statistics language-model quality signal
# ---------------------------------------------------------------------------


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-style quality scoring without a model: score each document by
    the average corpus frequency of its bigrams — a document whose word
    transitions are common corpus-wide reads as fluent, one full of
    never-seen-elsewhere transitions as noise (the integer-count stand-in
    for unigram/bigram LM perplexity filters). Two shuffles total: the
    corpus bigram count (map-side combinable) and the bigram equi-join
    back to documents — both on uniformly-hashed n-gram keys, no skew."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    bgs = (
        tok.select("doc_id", "toks", F.posexplode("toks").alias("i", "w"))
        .filter(F.col("i") < F.size("toks") - 1)
        .select(
            "doc_id",
            F.concat(
                F.col("w"), F.lit(" "), F.expr("element_at(toks, i + 2)")
            ).alias("bg"),
        )
    )
    corpus = bgs.groupBy("bg").agg(F.count("*").alias("cf"))
    return (
        bgs.join(corpus, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("cf").alias("cf_sum"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "cf_sum",
            F.expr("cf_sum div n_bigrams").alias("lm_score"),
        )
        .orderBy("doc_id")
    )


ORACLE_BIGRAM_LM = """
WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents),
uw AS (
  SELECT doc_id, UNNEST(w) AS word, GENERATE_SUBSCRIPTS(w, 1) AS i FROM t
),
bg AS (
  SELECT a.doc_id, a.word || ' ' || b.word AS b
  FROM uw a JOIN uw b ON a.doc_id = b.doc_id AND b.i = a.i + 1
),
corpus AS (SELECT b, COUNT(*) AS cf FROM bg GROUP BY 1)
SELECT bg.doc_id,
       COUNT(*) AS n_bigrams,
       CAST(SUM(corpus.cf) AS BIGINT) AS cf_sum,
       CAST(SUM(corpus.cf) AS BIGINT) // COUNT(*) AS lm_score
FROM bg JOIN corpus USING (b)
GROUP BY 1 ORDER BY 1
"""

REGISTRY["bigram_lm_score"] = QuerySpec(
    q_bigram_lm_score, ORACLE_BIGRAM_LM,
    "corpus-bigram-frequency LM quality score per document",
)
REGISTRY["hash_sample"] = QuerySpec(
    q_hash_sample, ORACLE_HASH_SAMPLE,
    "deterministic md5-keyed Bernoulli document sample",
)
REGISTRY["train_split"] = QuerySpec(
    q_train_split, ORACLE_TRAIN_SPLIT,
    "hash-based 80/10/10 split with per-split token budgets",
)
REGISTRY["repetition_stats"] = QuerySpec(
    q_repetition_stats, ORACLE_REPETITION_STATS,
    "Gopher-style repetition quality signals",
)
REGISTRY["decontam"] = QuerySpec(
    q_decontam, ORACLE_DECONTAM,
    "benchmark n-gram overlap decontamination scan",
)
REGISTRY["mixture_weights"] = QuerySpec(
    q_mixture_weights, ORACLE_MIXTURE_WEIGHTS,
    "language-balanced deterministic mixture subsample",
)


# ---------------------------------------------------------------------------
# temp_weights — temperature-sampling mixture weights (p ∝ √share)
# ---------------------------------------------------------------------------


def q_temp_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (the mT5/XLM-R recipe at
    α = 0.5): per-language sampling weight ∝ √(token share), the
    standard middle ground between proportional sampling (drowns
    minority languages) and q_mixture_weights' equal-contribution
    extreme (starves the head). ``boost_micro`` = weight/share is the
    upsampling factor a loader applies per language.

    Determinism (why α = 0.5 and not 0.3/0.7): share^α needs pow(),
    which is libm-dependent — but SQRT is IEEE-754 correctly rounded
    on every engine. So the one float step is
    floor(√(share_micro·10⁶)) — int64 → double is exact below 2⁵³,
    sqrt is correctly rounded, floor is exact — and everything on
    either side is integer micro-arithmetic (digit-split division),
    bit-identical across engines and partitionings.

    Plan: one map-side-combinable groupBy(lang); the total and the
    √-sum ride constant-partition windows over the LANGUAGE frame
    (bounded by construction). 1 corpus shuffle."""
    from pyspark.sql import Window

    from data_lake_spark.functions.exact import (
        micro_share_guarded_sql,
        micro_share_sql,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens")
    )
    w = Window.partitionBy(F.lit(0))
    shares = counts.withColumn(
        "tot", F.sum("n_tokens").over(w)
    ).withColumn(
        "share_micro", F.expr(micro_share_sql("n_tokens", "tot"))
    ).withColumn(
        "sqrt_micro",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(share_micro * 1000000 AS DOUBLE)))"
            " AS BIGINT)"
        ),
    ).withColumn("sqrt_tot", F.sum("sqrt_micro").over(w))
    return shares.select(
        "lang",
        "n_tokens",
        "share_micro",
        F.expr(micro_share_sql("sqrt_micro", "sqrt_tot")).alias(
            "weight_micro"
        ),
        # share_micro can floor to 0 for a language below one
        # part-per-million of the corpus — guarded (mleval_q convention)
        F.expr(
            micro_share_guarded_sql(
                micro_share_sql("sqrt_micro", "sqrt_tot"), "share_micro"
            )
        ).alias("boost_micro"),
    ).orderBy("lang")


def _oracle_temp_weights() -> str:
    from data_lake_spark.functions.exact import (
        oracle_micro_share_guarded_sql,
        oracle_micro_share_sql,
    )

    share = oracle_micro_share_sql("n_tokens", "tot")
    weight = oracle_micro_share_sql("sqrt_micro", "sqrt_tot")
    boost = oracle_micro_share_guarded_sql(weight, "share_micro")
    return f"""
WITH counts AS (
  SELECT lang,
         CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
),
shares AS (
  SELECT lang, n_tokens,
         CAST({share} AS BIGINT) AS share_micro
  FROM (SELECT lang, n_tokens,
               CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot
        FROM counts)
),
sq AS (
  SELECT lang, n_tokens, share_micro,
         CAST(FLOOR(SQRT(CAST(share_micro * 1000000 AS DOUBLE)))
              AS BIGINT) AS sqrt_micro
  FROM shares
),
tot2 AS (
  SELECT lang, n_tokens, share_micro, sqrt_micro,
         CAST(SUM(sqrt_micro) OVER () AS BIGINT) AS sqrt_tot
  FROM sq
)
SELECT lang, n_tokens, share_micro,
       CAST({weight} AS BIGINT) AS weight_micro,
       CAST({boost} AS BIGINT) AS boost_micro
FROM tot2 ORDER BY lang
"""


REGISTRY["temp_weights"] = QuerySpec(
    q_temp_weights,
    _oracle_temp_weights(),
    "temperature-0.5 mixture weights: per-language sampling weight "
    "proportional to sqrt(token share), integer-exact with one "
    "IEEE-correctly-rounded sqrt step",
)

# p = min(1, n_chars / _FULL_KEEP_CHARS), evaluated in u16 integer space:
# keep iff u16(doc_id) < min(65536, n_chars * 65536 div _FULL_KEEP_CHARS)
_FULL_KEEP_CHARS = 4000


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted Bernoulli sample, reported per language: document
    and char counts, total vs sampled. The keep decision is a pure
    integer function of (doc_id, n_chars) — map-only scan, one dim-sized
    aggregate; no rand(), no seed plumbing, no driver state."""
    docs = load_table(spark, sf_dir, "documents")
    # integer `div`, not floor(double /): both engines then compute the
    # identical exact integer quotient
    cut = F.least(
        F.lit(65536).cast("long"),
        F.expr(f"CAST(n_chars AS BIGINT) * 65536 div {_FULL_KEEP_CHARS}"),
    )
    keep = (doc_u16() < cut).cast("long")
    return (
        docs.withColumn("keep", keep)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("docs_total"),
            F.sum("keep").alias("docs_sampled"),
            F.sum("n_chars").cast("long").alias("chars_total"),
            F.sum(F.col("keep") * F.col("n_chars")).cast("long").alias(
                "chars_sampled"
            ),
        )
        .orderBy("lang")
    )


ORACLE_WEIGHTED_SAMPLE = f"""
WITH k AS (
  SELECT lang, n_chars,
         CASE WHEN {_oracle_u16('doc_id')} <
                   LEAST(65536, (CAST(n_chars AS BIGINT) * 65536) // {_FULL_KEEP_CHARS})
              THEN 1 ELSE 0 END AS keep
  FROM documents
)
SELECT lang,
       COUNT(*) AS docs_total,
       CAST(SUM(keep) AS BIGINT) AS docs_sampled,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(SUM(keep * n_chars) AS BIGINT) AS chars_sampled
FROM k GROUP BY 1 ORDER BY 1
"""

REGISTRY["weighted_sample"] = QuerySpec(
    q_weighted_sample,
    ORACLE_WEIGHTED_SAMPLE,
    "length-weighted deterministic Bernoulli sample per language",
)
