"""In-engine model evaluation: the PR/F1 threshold curve and the
quality-vs-quantity retention curve — closing the classifier loop that
train_q (fit) and text.classifier_filter (infer) open. A curation run
publishes these two tables to pick its operating point; computing them
in-engine means the 100 TB corpus is scanned ONCE into a ~17-row bin
histogram and every threshold's confusion matrix falls out of suffix
sums over that dim-sized frame (the histogram-based PR-curve shape —
never one corpus pass per threshold).

Exactness: the score is classifier_filter's integer linear model verbatim
(3·distinct_milli + 2·len_cap); bins are score div 250; every rate is
a floored micro-share; denominators are guarded (a degenerate corpus
with no positive labels reports 0, not a divide-by-zero job failure —
the round-5 degenerate-input convention).

Plan shapes: one map-only feature projection + one map-side-combinable
groupBy(bin), then windows over the ≤17-row bin frame (the constant-
partition window over a by-construction-bounded frame, the
mixture_weights convention) and an ORDER BY for driver-stable output.
1 shuffle each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.functions.exact import (
    micro_share_sql,
    oracle_micro_share_sql,
)
from data_lake_spark.queries import QuerySpec

_SCALE = 1_000_000
_BIN = 250  # score bin width; score range is ~0..4024 → ≤17 bins


def _binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bin, n, n_pos, n_tok): the one corpus pass both curves read.
    Label = doc is English (the train_q convention); score = the classifier_filter
    integer linear model."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feats = docs.select(
        (F.col("lang") == "en").cast("long").alias("pos"),
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    ).select(
        "pos",
        "n_tok",
        F.expr(
            "(3 * (1000 * n_uniq div n_tok) + 2 * least(n_tok, 512))"
            f" div {_BIN}"
        ).alias("bin"),
    )
    return feats.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("n_tok").cast("long").alias("n_tok"),
    )


def q_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at every occupied score-bin threshold, from
    suffix sums over the bin histogram: predict-positive at threshold
    t = bin·250 means score ≥ t, so tp/fp are running sums down the
    score-descending bin frame and fn/tn are the complements against
    the corpus totals. F1 rides its fraction-free rational form
    2·tp·10⁶ div (2·tp + fp + fn) — no intermediate float."""
    b = _binned(spark, sf_dir)
    w_desc = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy(F.lit(0))
    cum = (
        b.withColumn("tp", F.sum("n_pos").over(w_desc))
        .withColumn("pp", F.sum("n").over(w_desc))
        .withColumn("tot", F.sum("n").over(w_all))
        .withColumn("tot_pos", F.sum("n_pos").over(w_all))
    )
    return cum.select(
        (F.col("bin") * _BIN).cast("long").alias("threshold"),
        F.col("tp").cast("long").alias("tp"),
        (F.col("pp") - F.col("tp")).cast("long").alias("fp"),
        (F.col("tot_pos") - F.col("tp")).cast("long").alias("fn"),
        (F.col("tot") - F.col("pp") - F.col("tot_pos") + F.col("tp"))
        .cast("long")
        .alias("tn"),
        F.when(
            F.col("pp") > 0, F.expr(f"(tp * {_SCALE}) div pp")
        ).otherwise(F.lit(0)).cast("long").alias("precision_micro"),
        F.when(
            F.col("tot_pos") > 0,
            F.expr(f"(tp * {_SCALE}) div tot_pos"),
        ).otherwise(F.lit(0)).cast("long").alias("recall_micro"),
        F.when(
            (F.col("tp") + F.col("pp") + F.col("tot_pos")) > 0,
            F.expr(f"(2 * tp * {_SCALE}) div (pp + tot_pos)"),
        ).otherwise(F.lit(0)).cast("long").alias("f1_micro"),
    ).orderBy("threshold")


ORACLE_CLASSIFIER_EVAL = f"""
WITH feats AS (
  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok,
         CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_uniq
  FROM documents
),
binned AS (
  SELECT (3 * (1000 * n_uniq // n_tok) + 2 * LEAST(n_tok, 512)) // {_BIN} AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos
  FROM feats GROUP BY 1
),
cum AS (
  SELECT bin, n, n_pos,
         SUM(n_pos) OVER (ORDER BY bin DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
         SUM(n) OVER (ORDER BY bin DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
         SUM(n) OVER () AS tot,
         SUM(n_pos) OVER () AS tot_pos
  FROM binned
)
SELECT CAST(bin * {_BIN} AS BIGINT) AS threshold,
       CAST(tp AS BIGINT) AS tp,
       CAST(pp - tp AS BIGINT) AS fp,
       CAST(tot_pos - tp AS BIGINT) AS fn,
       CAST(tot - pp - tot_pos + tp AS BIGINT) AS tn,
       CAST(CASE WHEN pp > 0 THEN (tp * {_SCALE}) // pp ELSE 0 END AS BIGINT)
         AS precision_micro,
       CAST(CASE WHEN tot_pos > 0 THEN (tp * {_SCALE}) // tot_pos ELSE 0 END AS BIGINT)
         AS recall_micro,
       CAST(CASE WHEN (tp + pp + tot_pos) > 0
                 THEN (2 * tp * {_SCALE}) // (pp + tot_pos) ELSE 0 END AS BIGINT)
         AS f1_micro
FROM cum ORDER BY threshold
"""


def q_quality_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-vs-quantity retention curve: at every occupied
    score-bin threshold, how many documents and TOKENS survive the
    quality bar, what share of the corpus that is, and how English-pure
    the survivors are — the table a curation run consults to set the
    classifier_filter threshold against its token budget. Same one-pass
    bin histogram as classifier_eval, different suffix sums."""
    b = _binned(spark, sf_dir)
    w_desc = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy(F.lit(0))
    cum = (
        b.withColumn("docs_kept", F.sum("n").over(w_desc))
        .withColumn("pos_kept", F.sum("n_pos").over(w_desc))
        .withColumn("toks_kept", F.sum("n_tok").over(w_desc))
        .withColumn("tot_docs", F.sum("n").over(w_all))
        .withColumn("tot_toks", F.sum("n_tok").over(w_all))
    )
    return cum.select(
        (F.col("bin") * _BIN).cast("long").alias("threshold"),
        F.col("docs_kept").cast("long").alias("docs_kept"),
        F.col("toks_kept").cast("long").alias("toks_kept"),
        F.expr(micro_share_sql("docs_kept", "tot_docs")).alias(
            "doc_share_micro"
        ),
        F.expr(micro_share_sql("toks_kept", "tot_toks")).alias(
            "tok_share_micro"
        ),
        F.expr(f"(pos_kept * {_SCALE}) div docs_kept").alias("en_share_micro"),
    ).orderBy("threshold")


ORACLE_QUALITY_TRADEOFF = f"""
WITH feats AS (
  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
         CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tok,
         CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_uniq
  FROM documents
),
binned AS (
  SELECT (3 * (1000 * n_uniq // n_tok) + 2 * LEAST(n_tok, 512)) // {_BIN} AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(n_tok) AS BIGINT) AS n_tok
  FROM feats GROUP BY 1
),
cum AS (
  SELECT bin,
         SUM(n) OVER w AS docs_kept,
         SUM(n_pos) OVER w AS pos_kept,
         SUM(n_tok) OVER w AS toks_kept,
         SUM(n) OVER () AS tot_docs,
         SUM(n_tok) OVER () AS tot_toks
  FROM binned
  WINDOW w AS (ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT CAST(bin * {_BIN} AS BIGINT) AS threshold,
       CAST(docs_kept AS BIGINT) AS docs_kept,
       CAST(toks_kept AS BIGINT) AS toks_kept,
       CAST({oracle_micro_share_sql("docs_kept", "tot_docs")} AS BIGINT)
         AS doc_share_micro,
       CAST({oracle_micro_share_sql("toks_kept", "tot_toks")} AS BIGINT)
         AS tok_share_micro,
       CAST((pos_kept * {_SCALE}) // docs_kept AS BIGINT) AS en_share_micro
FROM cum ORDER BY threshold
"""


REGISTRY: dict[str, QuerySpec] = {
    "classifier_eval": QuerySpec(
        q_classifier_eval,
        ORACLE_CLASSIFIER_EVAL,
        "PR/F1 curve at every score threshold from ONE binned corpus "
        "pass + suffix sums (histogram PR-curve shape)",
    ),
    "quality_tradeoff": QuerySpec(
        q_quality_tradeoff,
        ORACLE_QUALITY_TRADEOFF,
        "quality-vs-quantity retention curve: docs/tokens surviving "
        "each threshold + survivor purity, same one-pass histogram",
    ),
}


# ---------------------------------------------------------------------------
# lang_confusion — confusion matrix + per-cell precision/recall for the
# heuristic language classifier against the gold labels
# ---------------------------------------------------------------------------


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of text.q_lang_id's stopword-profile classifier
    vs the labeled ``lang`` column, with integer-exact per-cell rates:
    recall_micro = n / (gold-label row total), precision_micro =
    n / (predicted-label column total) — the table a pipeline reads
    before trusting a cheap classifier to route a 100 TB corpus (e.g.
    "every zh doc is mislabeled en" shows up as one loud row here).

    Plan: the classifier is a map-only projection (pure built-ins, the
    lang_id contract); ONE map-side-combinable groupBy
    (labeled, predicted); both marginals ride windows over the K×K
    cell frame (≤ |langs|² rows — bounded by construction). Rates are
    floored micro-shares via the digit-split division. 1 corpus
    shuffle."""
    from data_lake_spark.queries.text import q_lang_id

    cells = (
        q_lang_id(spark, sf_dir)
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wl = Window.partitionBy("labeled_lang")
    wp = Window.partitionBy("predicted_lang")
    return (
        cells.withColumn("label_tot", F.sum("n").over(wl))
        .withColumn("pred_tot", F.sum("n").over(wp))
        .select(
            "labeled_lang",
            "predicted_lang",
            "n",
            F.expr(micro_share_sql("n", "label_tot")).alias("recall_micro"),
            F.expr(micro_share_sql("n", "pred_tot")).alias(
                "precision_micro"
            ),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


_REC = oracle_micro_share_sql("n", "label_tot")
_PREC = oracle_micro_share_sql("n", "pred_tot")


def _oracle_lang_confusion() -> str:
    from data_lake_spark.queries.text import ORACLE_LANG_ID

    return f"""
WITH lang_pred AS ({ORACLE_LANG_ID}),
cells AS (
  SELECT labeled_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM lang_pred GROUP BY 1, 2
),
marg AS (
  SELECT labeled_lang, predicted_lang, n,
         CAST(SUM(n) OVER (PARTITION BY labeled_lang) AS BIGINT)
           AS label_tot,
         CAST(SUM(n) OVER (PARTITION BY predicted_lang) AS BIGINT)
           AS pred_tot
  FROM cells
)
SELECT labeled_lang, predicted_lang, n,
       {_REC} AS recall_micro,
       {_PREC} AS precision_micro
FROM marg ORDER BY labeled_lang, predicted_lang
"""


REGISTRY["lang_confusion"] = QuerySpec(
    q_lang_confusion,
    _oracle_lang_confusion(),
    "confusion matrix of the heuristic language classifier vs gold "
    "labels with integer-exact per-cell precision/recall micro-shares",
)


# ---------------------------------------------------------------------------
# calibration_bins — the reliability diagram for the linear probe
# ---------------------------------------------------------------------------


def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability-diagram) table for the integer linear
    quality model: per score bin — population, empirical positive rate
    (floored micro-share), mean model score (milli), the score mapped
    to a predicted micro-probability (score / 4024, the model's max),
    and the |gap| between predicted and empirical. Well-calibrated
    bins have small gaps; classifier_eval picks the operating point,
    THIS says whether the scores can be trusted as probabilities
    (temperature-scale / recalibrate before using them as sampling
    weights if not).

    Same one-pass shape as classifier_eval: map-only features + one
    map-side-combinable groupBy(bin) over ≤17 bins. Integer exactness:
    avg_score_milli = sum_score·10³ div n is int64-safe to n ~2.3e12
    docs per bin (sum_score ≤ 4024·n), and the milli→micro predicted
    mapping divides AFTER the per-bin average so no term ever exceeds
    4.024e9."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    feats = docs.select(
        (F.col("lang") == "en").cast("long").alias("pos"),
        F.size(toks).cast("long").alias("n_tok"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_uniq"),
    ).select(
        "pos",
        F.expr(
            "3 * (1000 * n_uniq div n_tok) + 2 * least(n_tok, 512)"
        ).alias("score"),
    )
    b = (
        feats.withColumn("bin", F.expr(f"score div {_BIN}"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("score").cast("long").alias("sum_score"),
        )
    )
    return (
        b.withColumn(
            "pos_rate_micro", F.expr(micro_share_sql("n_pos", "n"))
        )
        .withColumn(
            "avg_score_milli", F.expr("(sum_score * 1000) div n")
        )
        .withColumn(
            "pred_micro", F.expr("(avg_score_milli * 1000) div 4024")
        )
        .withColumn(
            "gap_micro", F.expr("abs(pred_micro - pos_rate_micro)")
        )
        .select(
            "bin",
            "n",
            "n_pos",
            "pos_rate_micro",
            "avg_score_milli",
            "pred_micro",
            "gap_micro",
        )
        .orderBy("bin")
    )


ORACLE_CALIBRATION_BINS = f"""
WITH feats AS (
  SELECT CAST(lang = 'en' AS BIGINT) AS pos,
         3 * (1000 * LEN(ARRAY_DISTINCT(STRING_SPLIT(text, ' ')))
              // LEN(STRING_SPLIT(text, ' ')))
           + 2 * LEAST(LEN(STRING_SPLIT(text, ' ')), 512) AS score
  FROM documents
),
b AS (
  SELECT score // {_BIN} AS bin,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(SUM(score) AS BIGINT) AS sum_score
  FROM feats GROUP BY 1
)
SELECT bin, n, n_pos,
       CAST({oracle_micro_share_sql("n_pos", "n")} AS BIGINT)
         AS pos_rate_micro,
       CAST((sum_score * 1000) // n AS BIGINT) AS avg_score_milli,
       CAST(((sum_score * 1000) // n * 1000) // 4024 AS BIGINT)
         AS pred_micro,
       CAST(ABS(((sum_score * 1000) // n * 1000) // 4024
                - ({oracle_micro_share_sql("n_pos", "n")})) AS BIGINT)
         AS gap_micro
FROM b ORDER BY bin
"""

REGISTRY["calibration_bins"] = QuerySpec(
    q_calibration_bins,
    ORACLE_CALIBRATION_BINS,
    "classifier calibration (reliability diagram): per score bin, "
    "empirical positive rate vs the score as a predicted probability, "
    "|gap| — one corpus pass into a <=17-row bin frame, all integer "
    "micro-arithmetic (the classifier_eval histogram shape)",
)
