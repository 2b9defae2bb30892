"""Text-analysis queries over ``documents``: quality stats, language ID,
tokenization (BPE fertility, vocabulary statistics and pruning, n-gram
coverage), sequence packing and chunking, PII redaction and detection,
URL/markup extraction, TF-IDF, linear-classifier filtering, stratified
sampling and mixture audits.

Most plans are per-row projections in whole-stage codegen (one corpus
scan, no UDF) followed by a dim-sized rollup. The synthetic corpus has
no PII, URLs or markup, so scan inputs are salted deterministically from
doc_id with pure literal+arithmetic concat that each oracle reproduces
textually — every regex hit is cross-engine checked rather than
vacuously zero. Integer-exact arithmetic (floor-micros shares, md5-u16
sampling keys) keeps every output bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.functions.exact import (
    micro_share_guarded_sql,
    micro_share_sql,
    oracle_micro_share_guarded_sql,
    oracle_micro_share_sql,
)
from data_lake_spark.operators.packing import pack_sequences
from data_lake_spark.operators.redact import PII_PATTERNS, PII_SCAN_PATTERNS, redact_pii
from data_lake_spark.queries import QuerySpec
from data_lake_spark.queries.curation import _oracle_u16, doc_u16

REGISTRY: dict[str, QuerySpec] = {}

_STOPWORDS = ("the", "a", "of", "and", "to")
_SW_SQL = "('the', 'a', 'of', 'and', 'to')"


def _toks(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text statistics: token count (whitespace tokenizer),
    char count, mean token length, stopword ratio, and a deterministic
    quality score — the length/stopword heuristics used to filter LLM
    training corpora. All built-in expressions; no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*_STOPWORDS)))
    return (
        docs.select(
            "doc_id",
            "lang",
            F.length("text").alias("n_chars"),
            n_tokens.cast("long").alias("n_tokens"),
            (F.length("text") * 1.0 / n_tokens).alias("avg_token_len"),
            (n_stop * 1.0 / n_tokens).alias("stopword_ratio"),
            (
                F.least(n_tokens / 100.0, F.lit(1.0)) * 0.5
                + (n_stop * 1.0 / n_tokens) * 0.5
            ).alias("quality_score"),
        )
        .orderBy("doc_id")
    )


ORACLE_TEXT_STATS = f"""
SELECT doc_id, lang,
       LENGTH(text) AS n_chars,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens,
       LENGTH(text) * 1.0 / LEN(STRING_SPLIT(text, ' ')) AS avg_token_len,
       LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_SW_SQL})) * 1.0
         / LEN(STRING_SPLIT(text, ' ')) AS stopword_ratio,
       LEAST(LEN(STRING_SPLIT(text, ' ')) / 100.0, 1.0) * 0.5
         + (LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t IN {_SW_SQL})) * 1.0
            / LEN(STRING_SPLIT(text, ' '))) * 0.5 AS quality_score
FROM documents ORDER BY 1
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID: score = occurrence counts of
    language-marker substrings (the classic stopword-profile detector,
    here with 3 profiles), predicted = argmax with a fixed tie order.
    occurrences(s, p) = (len(s) - len(replace(s, p, ''))) / len(p) — pure
    built-ins, identical in both engines."""
    docs = load_table(spark, sf_dir, "documents")

    def occ(p: str) -> F.Column:
        return (F.length("text") - F.length(F.replace(F.col("text"), F.lit(p)))) / len(p)

    s_en = (occ(" the ") + occ(" and ")).alias("score_en")
    s_es = (occ(" el ") + occ(" la ")).alias("score_es")
    s_fr = (occ(" le ") + occ(" et ")).alias("score_fr")
    scored = docs.select("doc_id", "lang", s_en, s_es, s_fr)
    return (
        scored.select(
            "doc_id",
            F.col("lang").alias("labeled_lang"),
            "score_en",
            "score_es",
            "score_fr",
            F.when(
                (F.col("score_en") >= F.col("score_es"))
                & (F.col("score_en") >= F.col("score_fr")),
                "en",
            )
            .when(F.col("score_es") >= F.col("score_fr"), "es")
            .otherwise("fr")
            .alias("predicted_lang"),
        )
        .orderBy("doc_id")
    )


def _occ_sql(p: str) -> str:
    return f"(LENGTH(text) - LENGTH(REPLACE(text, '{p}', ''))) / {len(p)}"


ORACLE_LANG_ID = f"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
         {_occ_sql(' the ')} + {_occ_sql(' and ')} AS score_en,
         {_occ_sql(' el ')} + {_occ_sql(' la ')} AS score_es,
         {_occ_sql(' le ')} + {_occ_sql(' et ')} AS score_fr
  FROM documents
)
SELECT doc_id, labeled_lang, score_en, score_es, score_fr,
       CASE WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
            WHEN score_es >= score_fr THEN 'es'
            ELSE 'fr' END AS predicted_lang
FROM scored ORDER BY 1
"""

REGISTRY["text_stats"] = QuerySpec(
    q_text_stats, ORACLE_TEXT_STATS, "token/char/stopword/quality"
)
REGISTRY["lang_id"] = QuerySpec(
    q_lang_id, ORACLE_LANG_ID, "n-gram heuristic language ID"
)

# GPT-2-style pretokenizer, lookahead-free so Java regex (Spark) and RE2
# (DuckDB) produce identical token streams: contractions, space-prefixed
# letter runs, digit runs, punctuation runs, whitespace runs.
_BPE_PAT = "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+| +"
_BPE_PAT_SQL = _BPE_PAT.replace("'", "''")


# ---------------------------------------------------------------------------
# token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting with two tokenizers: whitespace split
    and a BPE-style regex pretokenizer (regexp_extract_all — JVM-side, no
    UDF). ``fertility`` = regex tokens per whitespace word, the standard
    tokenizer-cost metric for corpus sizing."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(_BPE_PAT), 0)
    return (
        docs.select(
            "doc_id",
            F.size(ws).cast("long").alias("n_ws_tokens"),
            F.size(bpe).cast("long").alias("n_bpe_tokens"),
            F.size(F.array_distinct(bpe)).cast("long").alias("n_unique_tokens"),
            (F.size(bpe) * 1.0 / F.size(ws)).alias("fertility"),
        )
        .orderBy("doc_id")
    )


ORACLE_BPE_TOKENS = f"""
SELECT doc_id,
       CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_ws_tokens,
       CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_PAT_SQL}')) AS BIGINT)
         AS n_bpe_tokens,
       CAST(LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(text, '{_BPE_PAT_SQL}')))
            AS BIGINT) AS n_unique_tokens,
       LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_PAT_SQL}')) * 1.0
         / LEN(STRING_SPLIT(text, ' ')) AS fertility
FROM documents ORDER BY 1
"""


def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus curation by per-language quality quantile: score every doc
    (length/stopword heuristic), compute each language's exact p25 with
    ``F.percentile`` (interpolation arithmetic matches DuckDB
    quantile_cont bit-for-bit), broadcast the tiny per-lang thresholds
    back, keep docs at or above threshold. One pass + one broadcast join —
    the shape that drops straight onto a 100 TB corpus."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    n_stop = F.size(F.filter(ws, lambda t: t.isin("the", "a", "of", "and", "to")))
    scored = docs.select(
        "doc_id",
        "lang",
        (
            F.least(F.size(ws) / 100.0, F.lit(1.0)) * 0.5
            + (n_stop * 1.0 / F.size(ws)) * 0.5
        ).alias("quality_score"),
    )
    thresholds = scored.groupBy("lang").agg(
        F.percentile("quality_score", 0.25).alias("p25")
    )
    return (
        scored.join(F.broadcast(thresholds), "lang")
        .filter(F.col("quality_score") >= F.col("p25"))
        .select("doc_id", "lang", "quality_score", "p25")
        .orderBy("doc_id")
    )


ORACLE_QUALITY_QUANTILE = """
WITH scored AS (
  SELECT doc_id, lang,
         LEAST(LEN(STRING_SPLIT(text, ' ')) / 100.0, 1.0) * 0.5
           + (LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                              t -> t IN ('the', 'a', 'of', 'and', 'to'))) * 1.0
              / LEN(STRING_SPLIT(text, ' '))) * 0.5 AS quality_score
  FROM documents
),
thresholds AS (
  SELECT lang, QUANTILE_CONT(quality_score, 0.25) AS p25 FROM scored GROUP BY 1
)
SELECT s.doc_id, s.lang, s.quality_score, t.p25
FROM scored s JOIN thresholds t ON s.lang = t.lang
WHERE s.quality_score >= t.p25
ORDER BY s.doc_id
"""


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: term frequency + document frequency per token,
    top-200 by (tf desc, token). One explode + one groupBy — the partial
    (map-side) aggregation means the shuffle carries one row per distinct
    (partition, token), not one per occurrence; at 100 TB the token key
    space shards uniformly. df/tf are the inputs to IDF weighting and
    vocab pruning (IDF's log is left to the caller: transcendental
    functions aren't bit-portable across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("token"))
        .limit(200)
    )


ORACLE_VOCAB_STATS = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
)
SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
FROM toks GROUP BY 1
ORDER BY 2 DESC, 1
LIMIT 200
"""

REGISTRY["bpe_tokens"] = QuerySpec(
    q_bpe_tokens, ORACLE_BPE_TOKENS, "whitespace + BPE-regex token counting"
)
REGISTRY["quality_quantile_filter"] = QuerySpec(
    q_quality_quantile_filter, ORACLE_QUALITY_QUANTILE,
    "per-language p25 quality-threshold curation",
)
REGISTRY["vocab_stats"] = QuerySpec(
    q_vocab_stats, ORACLE_VOCAB_STATS,
    "corpus vocabulary: term + document frequency, top-200",
)
_BUDGET = 2048


# ---------------------------------------------------------------------------
# seq_pack — contiguous-fill sequence packing per language
# ---------------------------------------------------------------------------


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each language's documents (doc_id order, whitespace token
    counts) into 2048-token training sequences by start offset, then
    report per-sequence fill: how many documents, how many tokens, and
    the id span. The reference has no training surface; this is the
    pretraining-side twin of its gold-zone rollups."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    packed = pack_sequences(
        docs, budget=_BUDGET, group_cols=["lang"], order_cols=["doc_id"]
    )
    return (
        packed.groupBy("lang", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "seq_id")
    )


ORACLE_SEQ_PACK = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT lang, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_off
  FROM t
)
SELECT lang, start_off // {_BUDGET} AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM packed GROUP BY 1, 2 ORDER BY 1, 2
"""


# ---------------------------------------------------------------------------
# pack_efficiency — the packing DECISION table (seq_pack's rollup)
# ---------------------------------------------------------------------------


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language packing efficiency audit — the numbers that decide
    whether the 2048-token budget is right for this corpus: sequence
    count, boundary-SPLIT documents (a doc spanning two sequences
    leaks cross-document attention unless masked — the count is the
    masking workload), padding waste in the final sequence, and the
    integer-exact fill rate (ppm). Same one-window plan as seq_pack
    (per-group running sum, one exchange) plus a language-sized
    rollup; integer arithmetic throughout so any engine agrees."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        docs, budget=_BUDGET, group_cols=["lang"], order_cols=["doc_id"]
    ).select(
        "lang",
        "n_tokens",
        F.expr(f"start_off DIV {_BUDGET}").alias("first_seq"),
        F.expr(f"(start_off + n_tokens - 1) DIV {_BUDGET}").alias(
            "last_seq"
        ),
    )
    return (
        packed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.max("last_seq") + F.lit(1)).cast("long").alias("n_seqs"),
            F.sum(
                (F.col("last_seq") > F.col("first_seq")).cast("long")
            ).alias("n_split_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_seqs",
            "n_split_docs",
            "total_tokens",
            (F.col("n_seqs") * F.lit(_BUDGET) - F.col("total_tokens"))
            .cast("long")
            .alias("waste_tokens"),
            F.expr(
                f"total_tokens * 1000000 DIV (n_seqs * {_BUDGET})"
            ).alias("fill_ppm"),
        )
        .orderBy("lang")
    )


ORACLE_PACK_EFFICIENCY = f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT lang, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
              AS BIGINT) AS start_off
  FROM t
),
d AS (
  SELECT lang, n_tokens,
         start_off // {_BUDGET} AS first_seq,
         (start_off + n_tokens - 1) // {_BUDGET} AS last_seq
  FROM packed
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(MAX(last_seq) + 1 AS BIGINT) AS n_seqs,
       CAST(SUM(CASE WHEN last_seq > first_seq THEN 1 ELSE 0 END)
            AS BIGINT) AS n_split_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST((MAX(last_seq) + 1) * {_BUDGET} - SUM(n_tokens)
            AS BIGINT) AS waste_tokens,
       CAST(SUM(n_tokens) * 1000000 // ((MAX(last_seq) + 1) * {_BUDGET})
            AS BIGINT) AS fill_ppm
FROM d GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# pii_redact — regex scrub with audit counts
# ---------------------------------------------------------------------------


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/redact.py) demonstrated end-to-end: the
    corpus text is deterministically salted with synthetic PII (an email,
    an IP, a phone derived from doc_id — the testdata itself contains
    none), then redacted; output is the audit counts plus the md5 of the
    scrubbed text, so the oracle checks every replaced byte."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(".7 call 555-"),
            (1000 + F.col("doc_id") % 1000).cast("string"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    red = redact_pii(docs, "text")
    return red.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.length("redacted").cast("long").alias("red_len"),
        F.md5("redacted").alias("red_md5"),
    ).orderBy("doc_id")


_EMAIL_PAT, _EMAIL_REPL = PII_PATTERNS["email"]
_IP_PAT, _IP_REPL = PII_PATTERNS["ipv4"]
_PHONE_PAT, _PHONE_REPL = PII_PATTERNS["phone"]

ORACLE_PII_REDACT = f"""
WITH salted AS (
  SELECT doc_id,
         'u' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.0.'
             || CAST(doc_id % 250 AS VARCHAR) || '.7 call 555-'
             || CAST(1000 + doc_id % 1000 AS VARCHAR) || ' ' || text AS text
  FROM documents
),
red AS (
  SELECT doc_id,
         CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_EMAIL_PAT}')) AS BIGINT) AS n_email,
         CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_IP_PAT}')) AS BIGINT) AS n_ipv4,
         CAST(LEN(REGEXP_EXTRACT_ALL(text, '{_PHONE_PAT}')) AS BIGINT) AS n_phone,
         REGEXP_REPLACE(
           REGEXP_REPLACE(
             REGEXP_REPLACE(text, '{_EMAIL_PAT}', '{_EMAIL_REPL}', 'g'),
             '{_IP_PAT}', '{_IP_REPL}', 'g'),
           '{_PHONE_PAT}', '{_PHONE_REPL}', 'g') AS redacted
  FROM salted
)
SELECT doc_id, n_email, n_ipv4, n_phone,
       CAST(LENGTH(redacted) AS BIGINT) AS red_len,
       MD5(redacted) AS red_md5
FROM red ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# tfidf_topterms — per-document characteristic terms
# ---------------------------------------------------------------------------


def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by a TF-IDF-style integer
    score: ``tf * 1e6 div df`` (monotone in tf/idf, exact in integers so
    both engines rank identically — no float log). The document-frequency
    table is vocabulary-sized and broadcast; term counting combines
    map-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfreq = toks.groupBy("tok").agg(
        F.countDistinct("doc_id").alias("doc_freq")
    )
    scored = tf.join(F.broadcast(dfreq), "tok").select(
        "doc_id",
        "tok",
        "tf",
        "doc_freq",
        F.expr("tf * 1000000L div doc_freq").alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .orderBy("doc_id", "rk")
    )


ORACLE_TFIDF = """
WITH toks AS (
  SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT tok, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY 1)
SELECT doc_id, tf.tok AS tok, tf.tf AS tf, dfreq.doc_freq AS doc_freq,
       tf.tf * 1000000 // dfreq.doc_freq AS score,
       CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tf.tf * 1000000 // dfreq.doc_freq DESC,
                                        tf.tok) AS BIGINT) AS rk
FROM tf JOIN dfreq USING (tok)
QUALIFY rk <= 3
ORDER BY doc_id, rk
"""


# ---------------------------------------------------------------------------
# classifier_filter — linear quality-classifier inference
# ---------------------------------------------------------------------------

_CLS_THRESHOLD = 1500


def q_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based curation (the FastText-quality-filter pattern):
    a linear model with integer weights over per-document features,
    applied corpus-wide as pure JVM arithmetic — model inference as a
    projection, no UDF, no serving infra. Features: distinct-token ratio
    (per-mille) and capped length; integer weights keep both engines
    bit-identical (no float dot product to drift)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    ).select(
        "doc_id",
        F.expr("1000L * n_uniq div n_tok").alias("distinct_milli"),
        F.least("n_tok", F.lit(512)).cast("long").alias("len_cap"),
    )
    return (
        scored.select(
            "doc_id",
            "distinct_milli",
            "len_cap",
            (3 * F.col("distinct_milli") + 2 * F.col("len_cap")).alias("score"),
        )
        .withColumn("keep", (F.col("score") >= _CLS_THRESHOLD).cast("long"))
        .orderBy("doc_id")
    )


ORACLE_CLASSIFIER_FILTER = f"""
WITH feats AS (
  SELECT doc_id,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok,
         CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_uniq
  FROM documents
),
scored AS (
  SELECT doc_id,
         1000 * n_uniq // n_tok AS distinct_milli,
         LEAST(n_tok, 512) AS len_cap
  FROM feats
)
SELECT doc_id, distinct_milli, len_cap,
       3 * distinct_milli + 2 * len_cap AS score,
       CAST(3 * distinct_milli + 2 * len_cap >= {_CLS_THRESHOLD} AS BIGINT) AS keep
FROM scored ORDER BY doc_id
"""

REGISTRY["seq_pack"] = QuerySpec(
    q_seq_pack, ORACLE_SEQ_PACK,
    "contiguous-fill 2048-token sequence packing per language",
)
REGISTRY["pack_efficiency"] = QuerySpec(
    q_pack_efficiency, ORACLE_PACK_EFFICIENCY,
    "per-language packing decision table: sequences, boundary-split "
    "docs (the attention-masking workload), padding waste, "
    "integer-exact fill ppm",
)
REGISTRY["pii_redact"] = QuerySpec(
    q_pii_redact, ORACLE_PII_REDACT,
    "regex PII scrub with audit counts, md5-checked output",
)
REGISTRY["tfidf_topterms"] = QuerySpec(
    q_tfidf_topterms, ORACLE_TFIDF,
    "top-3 TF-IDF terms per document (integer-exact score)",
)
REGISTRY["classifier_filter"] = QuerySpec(
    q_classifier_filter, ORACLE_CLASSIFIER_FILTER,
    "linear quality-classifier inference as a projection",
)

_CHUNK = 64  # tokens per window
_OVERLAP = 16  # tokens shared with the previous window
_STRIDE = _CHUNK - _OVERLAP


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunks per document: start offsets
    1, 1+stride, ... while start <= max(1, n - overlap); each chunk is
    ``slice(toks, start, CHUNK)`` (clamped at the tail). Every token is
    covered and consecutive chunks share exactly ``overlap`` tokens
    except the (possibly shorter) last one."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    ).withColumn("n", F.size("toks"))
    return (
        toks.select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.lit(1), F.col("n") - F.lit(_OVERLAP)),
                    F.lit(_STRIDE),
                )
            ).alias("start"),
        )
        .select(
            "doc_id",
            ((F.col("start") - 1) / _STRIDE).cast("long").alias("chunk_id"),
            F.slice("toks", F.col("start"), F.lit(_CHUNK)).alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_id",
            F.size("chunk").cast("long").alias("n_tokens"),
            F.md5(F.array_join("chunk", " ")).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_id")
    )


ORACLE_CHUNK_DOCS = f"""
WITH t AS (
  SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
),
s AS (
  SELECT doc_id, w,
         UNNEST(GENERATE_SERIES(1, GREATEST(1, LEN(w) - {_OVERLAP}),
                                {_STRIDE})) AS start
  FROM t
)
SELECT doc_id,
       CAST((start - 1) // {_STRIDE} AS BIGINT) AS chunk_id,
       CAST(LEN(LIST_SLICE(w, start, start + {_CHUNK} - 1)) AS BIGINT)
         AS n_tokens,
       MD5(ARRAY_TO_STRING(LIST_SLICE(w, start, start + {_CHUNK} - 1), ' '))
         AS chunk_hash
FROM s
ORDER BY doc_id, chunk_id
"""


# ---------------------------------------------------------------------------
# stratified_sample — exactly-N-per-stratum deterministic sample
# ---------------------------------------------------------------------------

_PER_STRATUM = 20


def _stratified_rank(d: DataFrame) -> DataFrame:
    """Rank within language by (md5(doc_id), doc_id) and keep the top
    N — deterministic, content-independent, partitioning-independent."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _PER_STRATUM)
        .select("doc_id", "lang", F.col("rk").cast("long").alias("rk"))
        .orderBy("lang", "rk")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly N docs per language for eval-set carving. Rate-based
    sampling (hash_sample / mixture_weights) can't promise exact counts;
    this does.

    Scale shape: a naive per-stratum row_number funnels the WHOLE corpus
    through as many reducers as there are languages — a single-reducer
    choke with 5 strata at 100 TB. So phase 1 pre-filters map-only to the
    rows whose md5-prefix fraction is within 8N/count of the stratum
    (expected ~8N survivors each; counts come from one map-side-combinable
    agg), and only survivors — thousands of rows, not the corpus — are
    ranked. Because the prefix fraction is monotone in the md5 sort
    order, survivors containing >= min(N, n) rows per stratum guarantee
    the result is IDENTICAL to ranking everything; that invariant is
    checked pre-flight and the corpus-wide ranking is the (practically
    unreachable, p < 1e-40) fallback."""
    d = load_table(spark, sf_dir, "documents")
    hexlen = 15
    frac = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, hexlen),
            16,
            10,
        ).cast("decimal(20,0)")
        / F.lit(16**hexlen)
    ).cast("double")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("__n"))
    keep = F.least(F.lit(1.0), F.lit(8.0 * _PER_STRATUM) / F.col("__n"))
    survivors = (
        d.withColumn("__frac", frac)
        .join(F.broadcast(counts.withColumn("__keep", keep)), "lang")
        .filter(F.col("__frac") <= F.col("__keep"))
    )
    ok = (
        survivors.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("__s"), F.first("__n").alias("__n"))
        .filter(F.col("__s") < F.least(F.lit(_PER_STRATUM), F.col("__n")))
        .count()
        == 0
    )
    if not ok:  # pragma: no cover - p < 1e-40 with the 8x margin
        return _stratified_rank(d)
    return _stratified_rank(survivors.select("doc_id", "lang"))


ORACLE_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
) WHERE rk <= {_PER_STRATUM}
ORDER BY lang, rk
"""

REGISTRY["chunk_docs"] = QuerySpec(
    q_chunk_docs, ORACLE_CHUNK_DOCS,
    "overlapping context-window chunking (64-token windows, 16 overlap)",
)
REGISTRY["stratified_sample"] = QuerySpec(
    q_stratified_sample, ORACLE_STRATIFIED_SAMPLE,
    "exactly-N-per-language deterministic hash-ordered sample",
)


# ---------------------------------------------------------------------------
# pii_scan — corpus-level PII prevalence by language × kind
# ---------------------------------------------------------------------------
#
# The detection-side complement of q_pii_redact's per-doc scrub: before a
# corpus ships, governance wants "how much PII, of which kinds, where" —
# per (lang, kind): documents hit, total matches, and the floored
# micro-share of affected documents. Five kinds (email, ipv4, phone,
# iban, cc) with mutually non-overlapping patterns so counts are
# order-independent.

_PII_SALTS = {
    # kind -> (spark Column factory over doc_id, SQL fragment) — the modulo
    # staggering gives each kind a different, overlapping prevalence
    "email": (3, " contact u", "@example.com"),
    "ipv4": (5, " from 10.1.", ".9"),
    "phone": (7, " call 555-", ""),
    "iban": (11, " acct GB82WEST", ""),
    "cc": (13, " card 4111 1111 1111 ", ""),
}


def _salt_col() -> F.Column:
    did = F.col("doc_id")
    parts = [F.col("text")]
    for kind, (mod, pre, post) in _PII_SALTS.items():
        if kind == "email":
            mid = did.cast("string")
        elif kind == "ipv4":
            mid = (did % 250).cast("string")
        elif kind == "phone":
            mid = (1000 + did % 1000).cast("string")
        elif kind == "iban":
            mid = (10000000 + did % 1000).cast("string")
        else:  # cc
            mid = (1000 + did % 9000).cast("string")
        parts.append(
            F.when(
                did % mod == 0, F.concat(F.lit(pre), mid, F.lit(post))
            ).otherwise(F.lit(""))
        )
    return F.concat(*parts)


def _salt_sql() -> str:
    frags = ["text"]
    mids = {
        "email": "CAST(doc_id AS VARCHAR)",
        "ipv4": "CAST(doc_id % 250 AS VARCHAR)",
        "phone": "CAST(1000 + doc_id % 1000 AS VARCHAR)",
        "iban": "CAST(10000000 + doc_id % 1000 AS VARCHAR)",
        "cc": "CAST(1000 + doc_id % 9000 AS VARCHAR)",
    }
    for kind, (mod, pre, post) in _PII_SALTS.items():
        frags.append(
            f"CASE WHEN doc_id % {mod} = 0"
            f" THEN '{pre}' || {mids[kind]} || '{post}' ELSE '' END"
        )
    return " || ".join(frags)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII prevalence: per (lang, kind) — documents containing at
    least one match, total matches, and the micro-share of the language's
    documents affected. One scan (all five regexes evaluate per row in
    whole-stage codegen), one lang-sized shuffle; the kind unpivot runs
    on the LANG×KIND frame, not the corpus."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", _salt_col().alias("salted")
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for kind in _PII_SALTS:
        pat, _ = PII_SCAN_PATTERNS[kind]
        cnt = F.regexp_count(F.col("salted"), F.lit(pat))
        aggs.append(
            F.sum(F.when(cnt > 0, 1).otherwise(0)).cast("long").alias(f"d_{kind}")
        )
        aggs.append(F.sum(cnt).cast("long").alias(f"h_{kind}"))
    per_lang = docs.groupBy("lang").agg(*aggs)
    stack_args = ", ".join(
        f"'{kind}', d_{kind}, h_{kind}" for kind in _PII_SALTS
    )
    stacked = per_lang.select(
        "lang",
        "n_docs",
        F.expr(
            f"stack({len(_PII_SALTS)}, {stack_args})"
            " AS (kind, docs_hit, n_hits)"
        ),
    )
    return stacked.select(
        "lang",
        "kind",
        "n_docs",
        "docs_hit",
        "n_hits",
        F.expr(micro_share_sql("docs_hit", "n_docs")).alias("prev_micro"),
    ).orderBy("lang", "kind")


def _oracle_pii_scan() -> str:
    cols = []
    for kind in _PII_SALTS:
        pat, _ = PII_SCAN_PATTERNS[kind]
        n = f"LEN(REGEXP_EXTRACT_ALL(salted, '{pat}'))"
        cols.append(
            f"CAST(SUM(CASE WHEN {n} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS d_{kind}"
        )
        cols.append(f"CAST(SUM({n}) AS BIGINT) AS h_{kind}")
    unions = "\nUNION ALL\n".join(
        f"SELECT lang, n_docs, '{kind}' AS kind, d_{kind} AS docs_hit,"
        f" h_{kind} AS n_hits FROM per_lang"
        for kind in _PII_SALTS
    )
    prev = oracle_micro_share_sql("docs_hit", "n_docs")
    return f"""
WITH salted AS (
  SELECT doc_id, lang, {_salt_sql()} AS salted FROM documents
),
per_lang AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, {", ".join(cols)}
  FROM salted GROUP BY 1
),
stacked AS (
  {unions}
)
SELECT lang, kind, n_docs, docs_hit, n_hits,
       CAST({prev} AS BIGINT) AS prev_micro
FROM stacked ORDER BY lang, kind
"""


REGISTRY["pii_scan"] = QuerySpec(
    q_pii_scan,
    _oracle_pii_scan(),
    "corpus PII prevalence by language and kind: docs hit, total "
    "matches, micro-share affected — one codegen scan, lang-sized shuffle",
)


# ---------------------------------------------------------------------------
# url_domains — link extraction + per-domain rollup (the C4/CCNet stage)
# ---------------------------------------------------------------------------

_URL_PAT = r"https?://([a-z0-9.-]+)"

_URL_SALT = (
    "text"
    " || CASE WHEN doc_id % 2 = 0 THEN ' see https://site'"
    " || CAST(doc_id % 40 AS VARCHAR) || '.example.org/p/'"
    " || CAST(doc_id AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 9 = 0 THEN ' and http://mirror'"
    " || CAST(doc_id % 7 AS VARCHAR) || '.example.net/x' ELSE '' END"
)


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain link census over the corpus: extract every URL host
    (regexp_extract_all, capture group 1), explode, roll up to (domain,
    links, distinct docs). The filter-by-domain-blocklist stage of a
    C4-style pipeline reads exactly this table. Scan + explode are
    map-only; the one shuffle is keyed on domain (host-sized space —
    partial aggregation collapses per-partition duplicates first)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_URL_SALT.replace("VARCHAR", "STRING")).alias("salted"),
    )
    hosts = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("salted", F.lit(_URL_PAT), F.lit(1))
        ).alias("domain"),
    )
    return (
        hosts.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_links").desc(), "domain")
    )


ORACLE_URL_DOMAINS = f"""
WITH salted AS (
  SELECT doc_id, {_URL_SALT} AS salted FROM documents
),
hosts AS (
  SELECT doc_id,
         UNNEST(REGEXP_EXTRACT_ALL(salted, '{_URL_PAT}', 1)) AS domain
  FROM salted
)
SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_links,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM hosts GROUP BY 1 ORDER BY n_links DESC, domain
"""

REGISTRY["url_domains"] = QuerySpec(
    q_url_domains,
    ORACLE_URL_DOMAINS,
    "URL host extraction + per-domain link census (the blocklist-filter "
    "input of a C4-style pipeline); explode is map-only, one domain shuffle",
)


# ---------------------------------------------------------------------------
# html_strip — boilerplate/tag removal with a byte-exact audit
# ---------------------------------------------------------------------------

_TAG_PAT = "<[^>]*>"

_HTML_SALT = (
    "'<html><p id=\"d' || CAST(doc_id AS VARCHAR) || '\">' || text"
    " || '</p>'"
    " || CASE WHEN doc_id % 4 = 0 THEN '<br/>' ELSE '' END"
    " || '</html>'"
)


def q_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET-style markup strip: remove every ``<...>`` tag, report per-doc
    tag count, raw/clean lengths, and the md5 of the cleaned text (every
    surviving byte checked, the q_pii_redact convention). Map-only — a
    regexp_replace projection in whole-stage codegen, one corpus scan at
    100 TB, zero shuffle before the output sort."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_HTML_SALT.replace("VARCHAR", "STRING")).alias("raw"),
    )
    clean = F.regexp_replace(F.col("raw"), _TAG_PAT, "")
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("raw"), F.lit(_TAG_PAT)).cast("long").alias(
            "n_tags"
        ),
        F.length("raw").cast("long").alias("raw_len"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    ).orderBy("doc_id")


ORACLE_HTML_STRIP = f"""
WITH raws AS (
  SELECT doc_id, {_HTML_SALT} AS raw FROM documents
)
SELECT doc_id,
       CAST(LEN(REGEXP_EXTRACT_ALL(raw, '{_TAG_PAT}')) AS BIGINT) AS n_tags,
       CAST(LENGTH(raw) AS BIGINT) AS raw_len,
       CAST(LENGTH(REGEXP_REPLACE(raw, '{_TAG_PAT}', '', 'g')) AS BIGINT)
         AS clean_len,
       MD5(REGEXP_REPLACE(raw, '{_TAG_PAT}', '', 'g')) AS clean_md5
FROM raws ORDER BY doc_id
"""

REGISTRY["html_strip"] = QuerySpec(
    q_html_strip,
    ORACLE_HTML_STRIP,
    "markup strip with byte-exact audit (tag count, lengths, md5 of the "
    "cleaned text) — map-only codegen projection, one corpus scan",
)


# ---------------------------------------------------------------------------
# unicode_nfc_audit — normalization-form hygiene before dedup/hashing
# ---------------------------------------------------------------------------
#
# Composed vs decomposed Unicode ('café' as U+00E9 vs 'e'+U+0301) makes
# byte-identical-looking text hash differently, silently defeating
# exact dedup, gram indexes, and MinHash. The audit measures, per
# language: how many documents NFC changes, and the codepoint delta —
# the go/no-go read before running normalization at bronze→silver.
# The synthetic corpus is pure ASCII, so (the pii_scan salt
# convention) deterministic non-ASCII suffixes are planted from
# doc_id: every third doc gets DECOMPOSED marks (NFC changes it),
# every third gets the COMPOSED forms (NFC is a no-op on it), the
# rest stay ASCII — all three regimes cross-engine-checked rather
# than vacuously zero.

_NFC_DECOMP = " café Ångström"  # e+acute, A+ring, o+diaeresis
_NFC_COMP = " café Ångström"  # the same text, precomposed


def q_unicode_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language NFC audit: docs changed by normalization, codepoint
    counts before/after, changed micro-share. One Arrow-batched NFC
    pass (no JVM builtin exists — the honest-Python-stage argument of
    the media decodes) + one lang-sized aggregate."""
    from data_lake_spark.operators.textnorm import nfc_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 1, F.lit(_NFC_DECOMP))
            .when(F.col("doc_id") % 3 == 2, F.lit(_NFC_COMP))
            .otherwise(F.lit("")),
        ).alias("salted"),
    )
    normed = docs.withColumn("nfc", nfc_col(F.col("salted")))
    return (
        normed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("nfc") != F.col("salted"), 1).otherwise(0)
            )
            .cast("long")
            .alias("docs_changed"),
            F.sum(F.length("salted")).cast("long").alias("cp_before"),
            F.sum(F.length("nfc")).cast("long").alias("cp_after"),
        )
        .withColumn(
            "changed_micro",
            F.expr(micro_share_sql("docs_changed", "n_docs")),
        )
        .orderBy("lang")
    )


ORACLE_UNICODE_NFC_AUDIT = f"""
WITH salted AS (
  SELECT doc_id, lang,
         text || CASE WHEN doc_id % 3 = 1 THEN ' café Ångström'
                      WHEN doc_id % 3 = 2 THEN ' café Ångström'
                      ELSE '' END AS salted
  FROM documents
),
normed AS (
  SELECT lang, salted, NFC_NORMALIZE(salted) AS nfc FROM salted
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN nfc <> salted THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_changed,
       CAST(SUM(LENGTH(salted)) AS BIGINT) AS cp_before,
       CAST(SUM(LENGTH(nfc)) AS BIGINT) AS cp_after,
       CAST({oracle_micro_share_sql("SUM(CASE WHEN nfc <> salted THEN 1 ELSE 0 END)", "COUNT(*)")} AS BIGINT)
         AS changed_micro
FROM normed GROUP BY lang ORDER BY lang
"""

REGISTRY["unicode_nfc_audit"] = QuerySpec(
    q_unicode_nfc_audit,
    ORACLE_UNICODE_NFC_AUDIT,
    "Unicode NFC hygiene audit: per-language docs changed by "
    "normalization + codepoint deltas — Arrow-batched NFC pass "
    "(Python unicodedata vs DuckDB nfc_normalize, both Unicode NFC) "
    "+ one lang aggregate; the read before normalizing at "
    "bronze->silver so composed/decomposed twins stop defeating dedup",
)


# ---------------------------------------------------------------------------
# mixture_audit — did the sampler hit the temperature targets?
# ---------------------------------------------------------------------------
#
# temp_weights PLANS a mixture (weight ∝ √share); this query RUNS the
# deterministic sampler that implements the plan and measures what it
# achieved: per language, the target micro-weight, the u16 keep
# threshold (∝ weight/share, normalized so the most-boosted language
# keeps everything), sampled token counts, the achieved micro-share,
# and |achieved − target|. The audit a pipeline runs after every
# sampling job — plan, execute, MEASURE.


def q_mixture_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    w = Window.partitionBy(F.lit(0))
    counts = docs.groupBy("lang").agg(F.sum("n_tok").alias("lang_tok"))
    # target weight ∝ √share (the temp_weights α=0.5 recipe, same
    # IEEE-exact single-sqrt step), threshold ∝ weight/share rescaled
    # to keep the most-boosted language fully
    lang = (
        counts.withColumn("tot", F.sum("lang_tok").over(w))
        .withColumn("share_micro", F.expr(micro_share_sql("lang_tok", "tot")))
        .withColumn(
            "sqrt_micro",
            F.expr(
                "CAST(FLOOR(SQRT(CAST(share_micro * 1000000 AS DOUBLE)))"
                " AS BIGINT)"
            ),
        )
        .withColumn("sqrt_tot", F.sum("sqrt_micro").over(w))
        .withColumn(
            "target_micro", F.expr(micro_share_sql("sqrt_micro", "sqrt_tot"))
        )
        # share_micro floors to 0 for a sub-ppm language — guarded
        # (the temp_weights boost convention): such a language samples
        # at thr 0 rather than poisoning the whole table cross-engine
        .withColumn(
            "boost_micro",
            F.expr(micro_share_guarded_sql("target_micro", "share_micro")),
        )
        .withColumn("max_boost", F.max("boost_micro").over(w))
        .withColumn(
            "thr", F.expr("(65536 * boost_micro) div max_boost")
        )
        .select("lang", "lang_tok", "share_micro", "target_micro", "thr")
    )
    sampled = (
        docs.withColumn("u", doc_u16())
        .join(F.broadcast(lang.select("lang", "thr")), "lang")
        .filter(F.col("u") < F.col("thr"))
        .groupBy("lang")
        .agg(F.sum("n_tok").alias("samp_tok"))
    )
    out = (
        lang.join(sampled, "lang", "left")
        .withColumn("samp_tok", F.coalesce("samp_tok", F.lit(0)))
        .withColumn("samp_tot", F.sum("samp_tok").over(w))
        .withColumn(
            "achieved_micro", F.expr(micro_share_sql("samp_tok", "samp_tot"))
        )
    )
    return out.select(
        "lang",
        "lang_tok",
        "target_micro",
        "thr",
        "samp_tok",
        "achieved_micro",
        F.abs(F.col("achieved_micro") - F.col("target_micro")).alias(
            "abs_err_micro"
        ),
    ).orderBy("lang")


def _oracle_mixture_audit() -> str:
    share = oracle_micro_share_sql("lang_tok", "tot")
    target = oracle_micro_share_sql("sqrt_micro", "sqrt_tot")
    boost = oracle_micro_share_guarded_sql("target_micro", "share_micro")
    achieved = oracle_micro_share_sql("samp_tok", "samp_tot")
    return f"""
WITH d AS (
  SELECT doc_id, lang,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
counts AS (SELECT lang, CAST(SUM(n_tok) AS BIGINT) AS lang_tok FROM d GROUP BY 1),
s1 AS (
  SELECT lang, lang_tok, CAST({share} AS BIGINT) AS share_micro
  FROM (SELECT lang, lang_tok, CAST(SUM(lang_tok) OVER () AS BIGINT) AS tot
        FROM counts)
),
s2 AS (
  SELECT lang, lang_tok, share_micro,
         CAST(FLOOR(SQRT(CAST(share_micro * 1000000 AS DOUBLE))) AS BIGINT)
           AS sqrt_micro
  FROM s1
),
s3 AS (
  SELECT lang, lang_tok, share_micro, sqrt_micro,
         CAST(SUM(sqrt_micro) OVER () AS BIGINT) AS sqrt_tot
  FROM s2
),
s4 AS (
  SELECT lang, lang_tok, share_micro,
         CAST({target} AS BIGINT) AS target_micro
  FROM s3
),
s5 AS (
  SELECT lang, lang_tok, share_micro, target_micro,
         CAST({boost} AS BIGINT) AS boost_micro
  FROM s4
),
lang_t AS (
  SELECT lang, lang_tok, share_micro, target_micro,
         (65536 * boost_micro) // MAX(boost_micro) OVER () AS thr
  FROM s5
),
sampled AS (
  SELECT d.lang, CAST(SUM(d.n_tok) AS BIGINT) AS samp_tok
  FROM d JOIN lang_t t ON d.lang = t.lang
  WHERE {_oracle_u16("d.doc_id")} < t.thr
  GROUP BY 1
),
joined AS (
  SELECT t.lang, t.lang_tok, t.target_micro, t.thr,
         COALESCE(s.samp_tok, 0) AS samp_tok,
         CAST(SUM(COALESCE(s.samp_tok, 0)) OVER () AS BIGINT) AS samp_tot
  FROM lang_t t LEFT JOIN sampled s ON t.lang = s.lang
)
SELECT lang, lang_tok, target_micro, thr, samp_tok,
       CAST({achieved} AS BIGINT) AS achieved_micro,
       ABS(CAST({achieved} AS BIGINT) - target_micro) AS abs_err_micro
FROM joined ORDER BY lang
"""


REGISTRY["mixture_audit"] = QuerySpec(
    q_mixture_audit,
    _oracle_mixture_audit(),
    "temperature-mixture sampling audit: deterministic u16 sampler at "
    "sqrt-share targets, achieved vs target token share per language",
)


# ---------------------------------------------------------------------------
# vocab_prune — min-df pruning ladder with OOV cost
# ---------------------------------------------------------------------------

_DF_CUTS = [1, 2, 4, 8, 16, 32]


def q_vocab_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer/feature-vocabulary design table: for each min-df
    threshold, the surviving type count, kept token occurrences, and
    the OOV micro-share a lookup built at that threshold would pay.
    One explode + one groupBy(token); the 6-row threshold dim
    broadcast-joins the VOCABULARY frame (never the corpus), and the
    corpus-total occurrence count rides a constant window over it."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy("tf")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    from data_lake_spark.functions.localframe import values_df

    cuts = values_df(
        docs.sparkSession, [(c,) for c in _DF_CUTS], "min_tf long"
    )
    # tf-histogram frame (one row per distinct frequency — far smaller
    # than the vocabulary) against the 6-row cut dim
    w = Window.partitionBy(F.lit(0))
    hist = vocab.withColumn(
        "total_occ", F.sum(F.col("tf") * F.col("n_types")).over(w)
    )
    ladder = (
        F.broadcast(cuts)
        .join(hist, hist["tf"] >= cuts["min_tf"])
        .groupBy("min_tf")
        .agg(
            F.sum("n_types").alias("n_types"),
            F.sum(F.col("tf") * F.col("n_types")).alias("kept_occ"),
            F.max("total_occ").alias("total_occ"),
        )
    )
    return ladder.select(
        "min_tf",
        "n_types",
        "kept_occ",
        F.expr(
            micro_share_sql("(total_occ - kept_occ)", "total_occ")
        ).alias("oov_micro"),
    ).orderBy("min_tf")


def _oracle_vocab_prune() -> str:
    oov = oracle_micro_share_sql("(total_occ - kept_occ)", "total_occ")
    cuts = ", ".join(f"({c})" for c in _DF_CUTS)
    return f"""
WITH toks AS (
  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
),
vocab AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY 1),
hist AS (
  SELECT tf, CAST(COUNT(*) AS BIGINT) AS n_types FROM vocab GROUP BY 1
),
tot AS (SELECT CAST(SUM(tf * n_types) AS BIGINT) AS total_occ FROM hist),
ladder AS (
  SELECT c.min_tf,
         CAST(SUM(h.n_types) AS BIGINT) AS n_types,
         CAST(SUM(h.tf * h.n_types) AS BIGINT) AS kept_occ,
         MAX(t.total_occ) AS total_occ
  FROM (VALUES {cuts}) AS c(min_tf)
  JOIN hist h ON h.tf >= c.min_tf
  CROSS JOIN tot t
  GROUP BY 1
)
SELECT min_tf, n_types, kept_occ,
       CAST({oov} AS BIGINT) AS oov_micro
FROM ladder ORDER BY min_tf
"""


REGISTRY["vocab_prune"] = QuerySpec(
    q_vocab_prune,
    _oracle_vocab_prune(),
    "min-df vocabulary pruning ladder: surviving types, kept "
    "occurrences, OOV micro-share per threshold — ladder rides the "
    "tf-histogram frame, never the corpus",
)


# ---------------------------------------------------------------------------
# ngram_coverage — how much corpus the top-K bigrams cover
# ---------------------------------------------------------------------------

_RANK_CUTS = [10, 100, 1000]


def q_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus compressibility/redundancy read: cumulative share of all
    bigram slots covered by the top-10/100/1000 bigrams. The census is
    one per-doc window + one groupBy(bigram); only the TOP-1000 frame
    (TakeOrdered — no global sort of the vocabulary) carries the
    cumulative window; the corpus slot total attaches as a one-row
    broadcast (the bm25_topk scalar shape)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = (
        toks.withColumn("nxt", F.lead("tok").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.concat_ws(" ", "tok", "nxt").alias("bigram"))
    )
    top = (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "bigram")
        .limit(max(_RANK_CUTS))
    )
    total = bigrams.groupBy().agg(
        F.count(F.lit(1)).alias("total_slots")
    )
    wrank = Window.orderBy(F.col("cnt").desc(), "bigram")
    ranked = (
        top.withColumn("rk", F.row_number().over(wrank))
        .withColumn(
            "cum_occ",
            F.sum("cnt").over(wrank.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .crossJoin(F.broadcast(total))
    )
    cuts = ranked.filter(F.col("rk").isin(_RANK_CUTS))
    return cuts.select(
        F.col("rk").cast("long").alias("rank_cut"),
        F.col("cum_occ").cast("long").alias("covered_slots"),
        "total_slots",
        F.expr(micro_share_sql("cum_occ", "total_slots")).alias(
            "coverage_micro"
        ),
    ).orderBy("rank_cut")


def _oracle_ngram_coverage() -> str:
    cov = oracle_micro_share_sql("cum_occ", "total_slots")
    cuts = ", ".join(str(c) for c in _RANK_CUTS)
    return f"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(STRING_SPLIT(text, ' ')) AS tok,
         GENERATE_SUBSCRIPTS(STRING_SPLIT(text, ' '), 1) AS pos
  FROM documents
),
bi AS (
  SELECT tok || ' ' || LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos)
           AS bigram
  FROM toks
),
census AS (
  SELECT bigram, COUNT(*) AS cnt FROM bi WHERE bigram IS NOT NULL GROUP BY 1
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_slots FROM bi
  WHERE bigram IS NOT NULL
),
ranked AS (
  SELECT bigram, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, bigram) AS rk,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, bigram
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_occ
  FROM census
)
SELECT CAST(rk AS BIGINT) AS rank_cut, cum_occ AS covered_slots,
       t.total_slots,
       CAST({cov} AS BIGINT) AS coverage_micro
FROM ranked CROSS JOIN tot t
WHERE rk IN ({cuts})
ORDER BY rank_cut
"""


REGISTRY["ngram_coverage"] = QuerySpec(
    q_ngram_coverage,
    _oracle_ngram_coverage(),
    "top-K bigram cumulative coverage of all bigram slots (corpus "
    "redundancy curve) — census groupBy + TakeOrdered(1000) window",
)


# ---------------------------------------------------------------------------
# domain_doc_quality — the blocklist DECISION table (url_domains' sequel)
# ---------------------------------------------------------------------------
#
# url_domains counts links; a C4-style blocklist decision also needs to
# know WHAT is linking: a domain cited by many short low-content docs is
# spam-shaped, one cited by long documents is citation-shaped. Per
# domain: link count, distinct docs, mean linking-doc length (floored
# integer), and the domain's micro-share of all corpus links — all
# integer-exact, one extract+explode scan, one domain-keyed shuffle with
# map-side combine (the host-sized key space of url_domains).

_URL_PAT_Q = r"https?://([A-Za-z0-9.-]+)"
_URL_SALT_Q = (
    "text"
    " || CASE WHEN doc_id % 2 = 0 THEN ' see https://site'"
    " || CAST(doc_id % 40 AS VARCHAR) || '.example.org/p/'"
    " || CAST(doc_id AS VARCHAR) ELSE '' END"
    " || CASE WHEN doc_id % 9 = 0 THEN ' and http://mirror'"
    " || CAST(doc_id % 7 AS VARCHAR) || '.example.net/x' ELSE '' END"
)


def q_domain_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.expr(_URL_SALT_Q.replace("VARCHAR", "STRING")).alias("salted"),
    )
    hosts = docs.select(
        "doc_id",
        "n_chars",
        F.explode(
            F.regexp_extract_all("salted", F.lit(_URL_PAT_Q), F.lit(1))
        ).alias("domain"),
    )
    per_dom = hosts.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_links"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )
    w_all = Window.partitionBy(F.lit(0))
    return (
        per_dom.withColumn("total_links", F.sum("n_links").over(w_all))
        .select(
            "domain",
            "n_links",
            "n_docs",
            F.expr("sum_chars div n_links").alias("avg_link_doc_chars"),
            F.expr(micro_share_sql("n_links", "total_links")).alias(
                "link_share_micro"
            ),
        )
        .orderBy(F.col("n_links").desc(), "domain")
    )


ORACLE_DOMAIN_DOC_QUALITY = f"""
WITH salted AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         {_URL_SALT_Q} AS salted
  FROM documents
),
hosts AS (
  SELECT doc_id, n_chars,
         UNNEST(REGEXP_EXTRACT_ALL(salted, 'https?://([A-Za-z0-9.-]+)', 1))
           AS domain
  FROM salted
),
per_dom AS (
  SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_links,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM hosts GROUP BY 1
),
tot AS (
  SELECT *, CAST(SUM(n_links) OVER () AS BIGINT) AS total_links
  FROM per_dom
)
SELECT domain, n_links, n_docs,
       CAST(sum_chars // n_links AS BIGINT) AS avg_link_doc_chars,
       CAST({oracle_micro_share_sql("n_links", "total_links")} AS BIGINT)
         AS link_share_micro
FROM tot ORDER BY n_links DESC, domain
"""

REGISTRY["domain_doc_quality"] = QuerySpec(
    q_domain_doc_quality,
    ORACLE_DOMAIN_DOC_QUALITY,
    "per-domain blocklist decision table: link census + mean "
    "linking-doc length + link micro-share, integer-exact — one "
    "extract+explode scan, one domain-keyed shuffle",
)
