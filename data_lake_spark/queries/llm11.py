"""Training-data-pipeline queries, part 11 (round 7): PII detection at
corpus granularity, URL/domain extraction, HTML boilerplate stripping,
and an embedding-norm audit — each with a bit-identical DuckDB oracle.

Beyond the reference surface (north-star extensions per BASELINE.json —
the reference has no text corpus; its closest analogue is the per-column
conform/validate stage in src/lambdas/ingest/*). Scale notes:

- pii_scan and html_strip are per-row regex projections in whole-stage
  codegen — ONE corpus scan at 100 TB, no UDF, no shuffle until the
  dim-sized rollup;
- url_domains is scan → explode(matches) → groupBy(domain): the shuffle
  carries one row per (partition, domain) after map-side combine, and
  the domain key space is web-host-sized, not corpus-sized;
- embedding_norms rides the exact floor-micros recipe (operators/
  similarity.dot_exact): per-vector work is map-only, the rollup is one
  label-sized shuffle.

The synthetic corpus contains no PII / URLs / markup (lowercase word
soup — verified), so the scan inputs are SALTED deterministically from
doc_id, same convention as q_pii_redact (queries/llm4.py): the salt is
pure literal+arithmetic concat, reproduced textually in the oracle, so
every regex hit is cross-engine-checked rather than vacuously zero.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lake_spark.catalog import load_table
from data_lake_spark.functions.exact import (
    micro_share_sql,
    oracle_micro_share_sql,
)
from data_lake_spark.operators.partitioning import decode_spread
from data_lake_spark.operators.redact import PII_SCAN_PATTERNS
from data_lake_spark.queries import QuerySpec

REGISTRY: dict[str, QuerySpec] = {}


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
# image_dhash_pairs — perceptual near-dup pairs over the image column
# ---------------------------------------------------------------------------


def q_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup end-to-end (operators/imagehash.py):
    documents synthesized into VALID 16×16 BMPs (pure JVM byte concat —
    near-identical texts become near-identical images), REAL pixel
    decode + integer dHash in one Arrow pass, 8-band inverted-index
    candidates (exhaustive for Hamming ≤ 7), exact bit_count refine.
    Per-pair rollup to (media_a, dup-of counts) keeps the output stable.

    FULLY oracle-paired as of r8 (was the registry's one rows-only
    row): the synthesized BMP is deterministic from the text (first
    768 ASCII bytes as bottom-up BGR pixels, space-padded), so DuckDB
    recomputes the dHash DEFINITION — integer Rec.601 grayscale,
    area-average 8×9 cells, gradient bits — straight from the text.
    The bytes→BMP→pixels equivalence (that the Arrow kernel's decode
    of the synthesized container yields exactly those pixels) is what
    tests/test_imagehash.py + the property suite pin."""
    from data_lake_spark.operators.imagehash import (
        bmp_from_text_col,
        dhash_table,
        hamming_pairs,
    )

    docs = decode_spread(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    pairs = hamming_pairs(dhash_table(bmp_from_text_col(docs)), max_hamming=6)
    return (
        pairs.groupBy("media_a")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("media_b").alias("first_dup"),
            F.min("hamming").alias("min_hamming"),
        )
        .orderBy("media_a")
    )


# The oracle mirrors the whole pipeline from the text bytes the
# synthesis is defined over: byte j of the 16×16 bottom-up BGR pixel
# array maps to top-down (r = 15 − j div 48, c = (j mod 48) div 3,
# channel = j mod 3); grayscale is integer Rec.601; the 8×9
# area-average cells follow the integer boundaries ((c·16) div 9 —
# widths 1,2,2,2,1,2,2,2,2 hard-coded via colmap); then gradient
# bits, 8-bit banding, the ≤64 hot-bucket cap, exact Hamming ≤ 6.
# The CTE list is exposed separately (IMG_PAIR_CORE_SQL) so the keeper
# query (llm13.dedup_images_keepers) can extend it with the recursive
# connected-components tail.
IMG_PAIR_CORE_SQL = """docs_ascii AS (
  -- mirror of operators.imagehash.ascii_text: the synthesis deletes
  -- non-ASCII codepoints before slicing, so codepoints == bytes
  SELECT doc_id, REGEXP_REPLACE(text, '[^\\x00-\\x7f]', '', 'g') AS text
  FROM documents
),
bytes AS (
  SELECT d.doc_id, t.j,
         CASE WHEN t.j + 1 <= LENGTH(d.text)
              THEN ORD(SUBSTRING(d.text, CAST(t.j + 1 AS INT), 1))
              ELSE 32 END AS v
  FROM docs_ascii d, GENERATE_SERIES(0, 767) AS t(j)
),
gray AS (
  SELECT doc_id, 15 - (j // 48) AS r, (j % 48) // 3 AS c,
         CAST((299 * SUM(CASE WHEN j % 3 = 2 THEN v END)
             + 587 * SUM(CASE WHEN j % 3 = 1 THEN v END)
             + 114 * SUM(CASE WHEN j % 3 = 0 THEN v END)) // 1000 AS BIGINT)
           AS g
  FROM bytes GROUP BY 1, 2, 3
),
colmap(pc, cc, wdt) AS (VALUES
  (0,0,1),(1,1,2),(2,1,2),(3,2,2),(4,2,2),(5,3,2),(6,3,2),(7,4,1),
  (8,5,2),(9,5,2),(10,6,2),(11,6,2),(12,7,2),(13,7,2),(14,8,2),(15,8,2)),
cells AS (
  SELECT doc_id, r // 2 AS rc, m.cc,
         CAST(SUM(g) // (2 * m.wdt) AS BIGINT) AS cell
  FROM gray JOIN colmap m ON gray.c = m.pc
  GROUP BY doc_id, r // 2, m.cc, m.wdt
),
bits AS (
  SELECT a.doc_id, a.rc * 8 + a.cc AS k,
         CASE WHEN a.cell > b.cell THEN 1 ELSE 0 END AS bit
  FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND a.rc = b.rc
            AND b.cc = a.cc + 1
  WHERE a.cc < 8
),
bandvals AS (
  SELECT doc_id, k // 8 AS band,
         CAST(SUM(bit * (1 << CAST(k % 8 AS INT))) AS BIGINT) AS val
  FROM bits GROUP BY 1, 2
),
ok_buckets AS (
  SELECT band, val FROM bandvals GROUP BY 1, 2 HAVING COUNT(*) <= 64
),
cands AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS media_a,
                  GREATEST(a.doc_id, b.doc_id) AS media_b
  FROM bandvals a
  JOIN ok_buckets o ON a.band = o.band AND a.val = o.val
  JOIN bandvals b ON b.band = a.band AND b.val = a.val
                 AND a.doc_id <> b.doc_id
),
ham AS (
  SELECT c.media_a, c.media_b,
         CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS BIGINT)
           AS hamming
  FROM cands c
  JOIN bits x ON x.doc_id = c.media_a
  JOIN bits y ON y.doc_id = c.media_b AND y.k = x.k
  GROUP BY 1, 2
)"""

ORACLE_IMAGE_DHASH_PAIRS = f"""
WITH {IMG_PAIR_CORE_SQL}
SELECT media_a, CAST(COUNT(*) AS BIGINT) AS n_dups,
       MIN(media_b) AS first_dup, MIN(hamming) AS min_hamming
FROM ham WHERE hamming <= 6 GROUP BY 1 ORDER BY media_a
"""

REGISTRY["image_dhash_pairs"] = QuerySpec(
    q_image_dhash_pairs,
    ORACLE_IMAGE_DHASH_PAIRS,
    "perceptual image dedup: real BMP pixel decode + integer dHash in "
    "one Arrow pass, 8-band Hamming LSH candidates, bit_count refine — "
    "fully oracle-paired (the synthesis is deterministic from text, so "
    "SQL recomputes the dHash definition; container decode pytest-pinned)",
)


# ---------------------------------------------------------------------------
# image_dhash_pairs_stored — the image family served from a persisted
# hash index (the video_frame_pairs_stored argument, one modality down)
# ---------------------------------------------------------------------------


def stored_image_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_lake_spark.artifacts import stored_artifact
    from data_lake_spark.operators.imagehash import (
        bmp_from_text_col,
        dhash_table,
    )

    def build() -> DataFrame:
        docs = decode_spread(
            spark,
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        )
        return dhash_table(bmp_from_text_col(docs)).filter(
            F.col("dhash").isNotNull()
        )

    # version "1" = the 16x16 Rec.601 + 8x9-cell dHash definition
    return stored_artifact(
        spark, sf_dir, "image_dhash", ["documents"], build, version="1"
    )


def q_image_dhash_pairs_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs served from the persisted (media_id, dhash)
    index: the Arrow decode ran once at ingest (the streaming twin is
    start_dhash_index_ingest's at-rest format); every screen after that
    is pure JVM banding + refine — zero decode stages in-plan, same
    oracle verbatim."""
    from data_lake_spark.operators.imagehash import hamming_pairs

    pairs = hamming_pairs(
        stored_image_hashes(spark, sf_dir), max_hamming=6, checkpoint=False
    )
    return (
        pairs.groupBy("media_a")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("media_b").alias("first_dup"),
            F.min("hamming").alias("min_hamming"),
        )
        .orderBy("media_a")
    )


REGISTRY["image_dhash_pairs_stored"] = QuerySpec(
    q_image_dhash_pairs_stored,
    ORACLE_IMAGE_DHASH_PAIRS,
    "image near-dup pairs served from the PERSISTED dHash index: pure "
    "JVM banding + refine, zero Arrow decode stages in-plan (the "
    "stored-artifact serving twin of image_dhash_pairs, same oracle "
    "verbatim)",
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
