"""Training-data-pipeline queries, part 13 (round 8): perceptual audio
dedup over the REAL WAV decode path, and perceptual video dedup over
REAL RIFF/AVI frame extraction.

Beyond the reference surface (BASELINE.json north_star "multimodal
columns"). Completes the near-dup family across every modality — text
(ExactSubstr/MinHash/SimHash), images (dHash), audio (envelope
fingerprint), video (per-frame dHash) — on the ONE shared topology:
single Arrow hash pass → banded inverted-index candidates → exact
refine, never all-pairs.
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
from data_lake_spark.queries import QuerySpec

REGISTRY: dict[str, QuerySpec] = {}


# ---------------------------------------------------------------------------
# audio_fp_pairs — perceptual near-dup pairs over the audio column
# ---------------------------------------------------------------------------


def q_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup end-to-end (operators/audiofp.py):
    documents synthesized into VALID 8-bit PCM WAVs (pure JVM byte
    concat — near-identical texts become near-identical waveforms),
    REAL RIFF/PCM sample decode + integer envelope-difference
    fingerprint in one Arrow pass, 8-band inverted-index candidates
    (exhaustive for Hamming ≤ 7 by pigeonhole), exact bit_count refine.
    Per-clip rollup to (media_a, dup-of counts) keeps the output
    stable — the image_dhash_pairs shape on the audio column.

    FULLY oracle-paired, unlike most media kernels: the synthesized
    WAV is deterministic from the text (first 1040 ASCII bytes,
    space-padded; amplitude = |byte − 128|; 65 equal 16-sample
    windows), so DuckDB can recompute the fingerprint DEFINITION
    straight from the text — no byte decoding required. The
    bytes→RIFF→samples equivalence (that the Arrow kernel's decode of
    the synthesized container yields exactly those amplitudes) is
    what tests/test_audiofp.py pins (hand-derived bits, independent
    scalar reference, volume invariance, decode edges)."""
    from data_lake_spark.operators.audiofp import (
        audio_pairs,
        wav_from_text_col,
    )

    # no decode_spread: the audio kernel is too cheap for the extra
    # exchange to pay (see q_dedup_audio_keepers, r11 measured)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = audio_pairs(wav_from_text_col(docs), max_hamming=6)
    return (
        pairs.groupBy("media_a")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("media_b").alias("first_dup"),
            F.min("hamming").alias("min_hamming"),
        )
        .orderBy("media_a")
    )


# The oracle mirrors the WHOLE pipeline — fingerprint definition (equal
# windows ⇒ plain sum comparison; the kernel's cross-multiplied form
# reduces to it), 8-bit banding, the ≤64 hot-bucket cap, candidate
# generation, exact Hamming refine, rollup — from the text bytes the
# synthesis is defined over. Constants locked to the synthesis/query:
# 1040 samples, 16-sample windows, 8 bands, cap 64, max_hamming 6.
AUD_PAIR_CORE_SQL = """docs_ascii AS (
  -- mirror of operators.imagehash.ascii_text: the synthesis deletes
  -- non-ASCII codepoints before slicing, so codepoints == bytes
  SELECT doc_id, REGEXP_REPLACE(text, '[^\\x00-\\x7f]', '', 'g') AS text
  FROM documents
),
samples AS (
  SELECT d.doc_id, t.i,
         ABS(CASE WHEN t.i <= LENGTH(d.text)
                  THEN ORD(SUBSTRING(d.text, CAST(t.i AS INT), 1))
                  ELSE 32 END - 128) AS amp
  FROM docs_ascii d, GENERATE_SERIES(1, 1040) AS t(i)
),
wins AS (
  SELECT doc_id, (i - 1) // 16 AS w, CAST(SUM(amp) AS BIGINT) AS s
  FROM samples GROUP BY 1, 2
),
bits AS (
  SELECT a.doc_id, a.w AS k,
         CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
  FROM wins a JOIN wins b ON a.doc_id = b.doc_id AND b.w = a.w + 1
  WHERE a.w < 64
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

ORACLE_AUDIO_FP_PAIRS = f"""
WITH {AUD_PAIR_CORE_SQL}
SELECT media_a, CAST(COUNT(*) AS BIGINT) AS n_dups,
       MIN(media_b) AS first_dup, MIN(hamming) AS min_hamming
FROM ham WHERE hamming <= 6 GROUP BY 1 ORDER BY media_a
"""

REGISTRY["audio_fp_pairs"] = QuerySpec(
    q_audio_fp_pairs,
    ORACLE_AUDIO_FP_PAIRS,
    "perceptual audio dedup: real RIFF/PCM sample decode + integer "
    "envelope-difference fingerprint in one Arrow pass, 8-band Hamming "
    "LSH candidates, bit_count refine — fully oracle-paired (the "
    "synthesis is deterministic from text, so SQL recomputes the "
    "fingerprint definition; the container decode is pytest-pinned)",
)


# ---------------------------------------------------------------------------
# video_frame_pairs — frame-aligned near-dup pairs over the video column
# ---------------------------------------------------------------------------


def q_video_frame_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual video dedup end-to-end (operators/videofp.py):
    documents synthesized into VALID 4-frame uncompressed-DIB AVIs
    (pure JVM byte concat), REAL RIFF/AVI frame extraction + the image
    dHash kernel per frame in one Arrow pass, frame-aligned 8-band
    candidates, every-frame bit_count refine. Per-clip rollup keeps
    the output stable — the image/audio shape, one modality up.

    FULLY oracle-paired (the audio_fp_pairs argument): the synthesized
    AVI's frames are deterministic text slices, so DuckDB recomputes
    the per-frame dHash definition straight from the text; the RIFF
    container walk itself (that avi_frames yields exactly those
    frames) is pinned by tests/test_videofp.py (synthesis round-trip
    vs the image kernel, planted frame-aligned near-dups, the
    one-bad-frame rejection, decode edges)."""
    from data_lake_spark.operators.videofp import (
        avi_from_text_col,
        video_pairs,
    )

    docs = decode_spread(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    pairs = video_pairs(avi_from_text_col(docs), max_hamming=6)
    return (
        pairs.groupBy("media_a")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("media_b").alias("first_dup"),
            F.max("max_frame_hamming").alias("worst_frame_hamming"),
        )
        .orderBy("media_a")
    )


# Shared oracle scaffolding: per-(doc, frame) dHash bits recomputed
# from the text bytes the synthesis is defined over (frame f = bytes
# f·768..f·768+767 of the 3072-padded text; within a frame, the
# image_dhash_pairs byte→pixel mapping). The container walk itself
# (that avi_frames of the synthesized AVI yields exactly those frames)
# is what tests/test_videofp.py pins.
_VIDEO_BITS_SQL = """
docs_ascii AS (
  -- mirror of operators.imagehash.ascii_text: the synthesis deletes
  -- non-ASCII codepoints before slicing, so codepoints == bytes
  SELECT doc_id, REGEXP_REPLACE(text, '[^\\x00-\\x7f]', '', 'g') AS text
  FROM documents
),
bytes AS (
  SELECT d.doc_id, t.jj // 768 AS f, t.jj % 768 AS j,
         CASE WHEN t.jj + 1 <= LENGTH(d.text)
              THEN ORD(SUBSTRING(d.text, CAST(t.jj + 1 AS INT), 1))
              ELSE 32 END AS v
  FROM docs_ascii d, GENERATE_SERIES(0, 3071) AS t(jj)
),
gray AS (
  SELECT doc_id, f, 15 - (j // 48) AS r, (j % 48) // 3 AS c,
         CAST((299 * SUM(CASE WHEN j % 3 = 2 THEN v END)
             + 587 * SUM(CASE WHEN j % 3 = 1 THEN v END)
             + 114 * SUM(CASE WHEN j % 3 = 0 THEN v END)) // 1000 AS BIGINT)
           AS g
  FROM bytes GROUP BY 1, 2, 3, 4
),
colmap(pc, cc, wdt) AS (VALUES
  (0,0,1),(1,1,2),(2,1,2),(3,2,2),(4,2,2),(5,3,2),(6,3,2),(7,4,1),
  (8,5,2),(9,5,2),(10,6,2),(11,6,2),(12,7,2),(13,7,2),(14,8,2),(15,8,2)),
cells AS (
  SELECT doc_id, f, r // 2 AS rc, m.cc,
         CAST(SUM(g) // (2 * m.wdt) AS BIGINT) AS cell
  FROM gray JOIN colmap m ON gray.c = m.pc
  GROUP BY doc_id, f, r // 2, m.cc, m.wdt
),
bits AS (
  SELECT a.doc_id, a.f, a.rc * 8 + a.cc AS k,
         CASE WHEN a.cell > b.cell THEN 1 ELSE 0 END AS bit
  FROM cells a JOIN cells b ON a.doc_id = b.doc_id AND a.f = b.f
            AND a.rc = b.rc AND b.cc = a.cc + 1
  WHERE a.cc < 8
)"""

_VIDEO_PAIR_CORE_SQL = f"""{_VIDEO_BITS_SQL},
bandvals AS (
  SELECT doc_id, f, k // 8 AS band,
         CAST(SUM(bit * (1 << CAST(k % 8 AS INT))) AS BIGINT) AS val
  FROM bits GROUP BY 1, 2, 3
),
ok_buckets AS (
  SELECT f, band, val FROM bandvals GROUP BY 1, 2, 3 HAVING COUNT(*) <= 64
),
cands AS (
  SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS media_a,
                  GREATEST(a.doc_id, b.doc_id) AS media_b
  FROM bandvals a
  JOIN ok_buckets o ON a.f = o.f AND a.band = o.band AND a.val = o.val
  JOIN bandvals b ON b.f = a.f AND b.band = a.band AND b.val = a.val
                 AND a.doc_id <> b.doc_id
),
fham AS (
  SELECT c.media_a, c.media_b, x.f,
         CAST(SUM(CASE WHEN x.bit <> y.bit THEN 1 ELSE 0 END) AS BIGINT)
           AS fh
  FROM cands c
  JOIN bits x ON x.doc_id = c.media_a
  JOIN bits y ON y.doc_id = c.media_b AND y.f = x.f AND y.k = x.k
  GROUP BY 1, 2, 3
),
pairham AS (
  SELECT media_a, media_b,
         CAST(COUNT(*) AS BIGINT) AS n_aligned,
         MAX(fh) AS max_frame_hamming
  FROM fham GROUP BY 1, 2
)"""

ORACLE_VIDEO_FRAME_PAIRS = f"""
WITH {_VIDEO_PAIR_CORE_SQL}
SELECT media_a, CAST(COUNT(*) AS BIGINT) AS n_dups,
       MIN(media_b) AS first_dup,
       MAX(max_frame_hamming) AS worst_frame_hamming
FROM pairham
WHERE n_aligned = 4 AND max_frame_hamming <= 6
GROUP BY 1 ORDER BY media_a
"""

REGISTRY["video_frame_pairs"] = QuerySpec(
    q_video_frame_pairs,
    ORACLE_VIDEO_FRAME_PAIRS,
    "perceptual video dedup: real RIFF/AVI frame extraction + image "
    "dHash per frame in one Arrow pass, frame-aligned 8-band Hamming "
    "LSH candidates, every-frame bit_count refine — fully oracle-paired "
    "(SQL recomputes per-frame dHash from the deterministic synthesis; "
    "the container walk is pytest-pinned)",
)


def q_dedup_videos_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call video dedup decision (operators/videofp.
    dedup_videos): frame-aligned pairs → connected components →
    (media_id, keeper, is_dup). Oracle-paired end to end — the
    recursive-closure SQL reproduces the min-label fixpoint over the
    every-frame-verified edges (the dedup_images_keepers argument, one
    modality up)."""
    from data_lake_spark.operators.videofp import (
        avi_from_text_col,
        dedup_videos,
    )

    docs = decode_spread(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return dedup_videos(avi_from_text_col(docs), max_hamming=6).orderBy(
        "media_id"
    )


ORACLE_DEDUP_VIDEOS_KEEPERS = f"""
WITH RECURSIVE {_VIDEO_PAIR_CORE_SQL},
vedges AS (
  SELECT media_a AS a, media_b AS b FROM pairham
  WHERE n_aligned = 4 AND max_frame_hamming <= 6
  UNION ALL
  SELECT media_b AS a, media_a AS b FROM pairham
  WHERE n_aligned = 4 AND max_frame_hamming <= 6
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.root FROM reach r JOIN vedges e ON e.a = r.node
)
SELECT node AS media_id, MIN(root) AS keeper,
       (MIN(root) <> node) AS is_dup
FROM reach GROUP BY 1 ORDER BY 1
"""

REGISTRY["dedup_videos_keepers"] = QuerySpec(
    q_dedup_videos_keepers,
    ORACLE_DEDUP_VIDEOS_KEEPERS,
    "video dedup keeper assignment: frame-aligned pairs -> connected "
    "components -> (media_id, keeper, is_dup) — the CC label set "
    "itself hash-checked via a recursive-closure oracle",
)


# ---------------------------------------------------------------------------
# video_frame_pairs_stored / dedup_videos_keepers_stored — the media
# dedup family served from a PERSISTED frame-hash index
# ---------------------------------------------------------------------------
#
# video_frame_pairs and dedup_videos_keepers re-decode every video on
# every call — honest for a one-shot scan, wrong for a lake where the
# same corpus is screened repeatedly (every new-batch dedup pass, every
# takedown audit). The production split is the bpe_encode_stored /
# pca_project_stored pattern one more time: decode ONCE into a
# persisted (media_id, frame_idx, dhash) table — the exact at-rest
# format the streaming ingest maintains incrementally
# (streaming/incremental.start_dhash_index_ingest) — then every
# pairs/keepers call is pure JVM banding + refine over the index,
# ZERO decode stages in-plan (census-pinned). At 100 TB the decode
# pass is hours of Arrow CPU; the banded screen over the hash table is
# an equi-join on (frame_idx, band, band_val). Oracles are the decode
# twins' oracles verbatim — same answer, different serving cost.


def stored_video_frame_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_lake_spark.artifacts import stored_artifact
    from data_lake_spark.operators.videofp import (
        avi_from_text_col,
        frame_hash_table,
    )

    def build() -> DataFrame:
        docs = decode_spread(
            spark,
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        )
        return frame_hash_table(avi_from_text_col(docs)).filter(
            F.col("dhash").isNotNull()
        )

    # builder-format version: "1" = image-kernel dHash over 16x16
    # 24bpp DIB frames (bump if the hash definition changes — the data
    # fingerprint alone cannot see code drift)
    return stored_artifact(
        spark, sf_dir, "video_frame_hashes", ["documents"], build, version="1"
    )


def q_video_frame_pairs_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-aligned near-dup pairs served from the persisted
    frame-hash index — the serving twin of q_video_frame_pairs (see
    block comment)."""
    from data_lake_spark.operators.videofp import video_pairs_from_hashes

    pairs = video_pairs_from_hashes(
        stored_video_frame_hashes(spark, sf_dir), max_hamming=6
    )
    return (
        pairs.groupBy("media_a")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("media_b").alias("first_dup"),
            F.max("max_frame_hamming").alias("worst_frame_hamming"),
        )
        .orderBy("media_a")
    )


def q_dedup_videos_keepers_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The video dedup DECISION served from the persisted frame-hash
    index — the serving twin of q_dedup_videos_keepers. Node set comes
    from the corpus ids (undecodable media have no index rows but must
    still survive as their own keepers)."""
    from data_lake_spark.operators.videofp import (
        keepers_from_pairs,
        video_pairs_from_hashes,
    )

    pairs = video_pairs_from_hashes(
        stored_video_frame_hashes(spark, sf_dir), max_hamming=6
    )
    nodes = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("node"))
    )
    return keepers_from_pairs(nodes, pairs).orderBy("media_id")


REGISTRY["video_frame_pairs_stored"] = QuerySpec(
    q_video_frame_pairs_stored,
    ORACLE_VIDEO_FRAME_PAIRS,
    "frame-aligned video near-dup pairs served from the PERSISTED "
    "(media_id, frame_idx, dhash) index: pure JVM banding + refine, "
    "zero Arrow decode stages in-plan (the stored-artifact serving "
    "twin of video_frame_pairs, same oracle verbatim)",
)

REGISTRY["dedup_videos_keepers_stored"] = QuerySpec(
    q_dedup_videos_keepers_stored,
    ORACLE_DEDUP_VIDEOS_KEEPERS,
    "video dedup keeper assignment served from the persisted "
    "frame-hash index: banding + refine + connected components, zero "
    "decode stages in-plan (the serving twin of dedup_videos_keepers, "
    "same recursive-closure oracle verbatim)",
)


# ---------------------------------------------------------------------------
# video_clip_spans — recut-clip detection across videos at any offset
# ---------------------------------------------------------------------------


def q_video_clip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip detection (operators/videofp.video_clip_spans): contiguous
    frame runs shared across videos at ANY offset — the ExactSubstr
    dedup machinery run on frame-hash token sequences, one operator
    family across text and video. Frame-aligned whole-clip near-dup is
    video_frame_pairs; this catches the recut/shifted copies that
    alignment misses.

    Corpus synthesis models recut broadcast footage: one document per
    FRAME, videos cut as stride-2 sliding windows over the doc_id
    frame stream (avi_from_frame_text_cols) — consecutive clips
    genuinely share 2-frame runs at DIFFERENT offsets, exactly the
    structure a recut detector exists for. The window joins are key-
    arithmetic equi-joins (doc_id + j), never a global-order window.
    Per-clip rollup keeps the output stable.

    FULLY oracle-paired: each frame's token is the per-doc image
    dHash (the frame IS doc media_id+j's first-768-byte image), which
    SQL recomputes from the text; the gram/keeper/island span algebra
    mirrors exact_substr_spans at k=2 over 4-token documents. The
    container walk + token rendering are pinned by
    tests/test_videofp.py's planted offset-clip case (found here,
    invisible to the aligned pairs) and textdedup's ExactSubstr
    property suite."""
    from data_lake_spark.operators.videofp import (
        avi_from_frame_text_cols,
        video_clip_spans,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("media_id"), F.col("text").alias("t0")
    )
    for j in (1, 2, 3):
        base = base.join(
            docs.select(
                (F.col("doc_id") - j).alias("media_id"),
                F.col("text").alias(f"t{j}"),
            ),
            "media_id",
        )
    # spread AFTER the window-assembly joins: one narrow exchange of the
    # assembled (id, t0..t3) rows instead of a spread docs frame feeding
    # four join consumers (the decode_spread rationale, placed once)
    media = avi_from_frame_text_cols(
        decode_spread(spark, base), "media_id", ["t0", "t1", "t2", "t3"]
    )
    spans = video_clip_spans(media, min_frames=2)
    return (
        spans.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_frames").alias("clip_frames"),
            F.min("span_start").alias("first_span_start"),
        )
        .orderBy("media_id")
    )


# Frame tokens are per-doc image dHashes rendered as 64-char
# bitstrings (value identity is all the gram machinery needs); the
# blank remap mirrors the operator's ignore_hashes=(0,) — an all-zero
# bitstring becomes a per-occurrence unique token. Keeper packing uses
# 10^6 (any constant > max position preserves the (video, pos)
# lexicographic MIN the operator takes); islands via pos − row_number;
# spans extend k−1 = 1 past the last marked position.
ORACLE_VIDEO_CLIP_SPANS = f"""
WITH {_VIDEO_BITS_SQL.replace("GENERATE_SERIES(0, 3071) AS t(jj)",
                              "GENERATE_SERIES(0, 767) AS t(jj)")},
doc_tok AS (
  SELECT doc_id, STRING_AGG(CAST(bit AS VARCHAR), '' ORDER BY k) AS tok
  FROM bits GROUP BY 1
),
vids AS (
  SELECT d0.doc_id AS media_id, t.p,
         CASE WHEN dt.tok = REPEAT('0', 64)
              THEN 'u' || CAST(d0.doc_id AS VARCHAR) || 'x'
                   || CAST(t.p AS VARCHAR)
              ELSE dt.tok END AS token
  FROM documents d0, GENERATE_SERIES(0, 3) AS t(p)
  JOIN doc_tok dt ON dt.doc_id = d0.doc_id + t.p
  WHERE d0.doc_id % 2 = 0
    AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d0.doc_id + 1)
    AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d0.doc_id + 2)
    AND EXISTS (SELECT 1 FROM documents x WHERE x.doc_id = d0.doc_id + 3)
),
grams AS (
  SELECT a.media_id, a.p, a.token || '|' || b.token AS gram
  FROM vids a JOIN vids b ON a.media_id = b.media_id AND b.p = a.p + 1
  WHERE a.p < 3
),
dup AS (
  SELECT gram, MIN(media_id * 1000000 + p) AS keeper
  FROM grams GROUP BY 1 HAVING COUNT(*) > 1
),
redundant AS (
  SELECT g.media_id, g.p
  FROM grams g JOIN dup d ON g.gram = d.gram
  WHERE g.media_id * 1000000 + g.p > d.keeper
),
islands AS (
  SELECT media_id, p,
         p - ROW_NUMBER() OVER (PARTITION BY media_id ORDER BY p) AS grp
  FROM redundant
),
spans AS (
  SELECT media_id, CAST(MIN(p) AS BIGINT) AS span_start,
         CAST(MAX(p) - MIN(p) + 2 AS BIGINT) AS span_frames
  FROM islands GROUP BY media_id, grp
)
SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(span_frames) AS BIGINT) AS clip_frames,
       MIN(span_start) AS first_span_start
FROM spans GROUP BY 1 ORDER BY media_id
"""

REGISTRY["video_clip_spans"] = QuerySpec(
    q_video_clip_spans,
    ORACLE_VIDEO_CLIP_SPANS,
    "recut-clip detection: ExactSubstr over frame-hash token sequences "
    "— shared contiguous frame runs at any offset, reported as "
    "removable spans; fully oracle-paired (frame tokens recomputed "
    "from the deterministic synthesis, span algebra mirrored in SQL)",
)


# ---------------------------------------------------------------------------
# dedup_images_keepers / dedup_audio_keepers — the dedup DECISION,
# connected components included, oracle-checked end to end
# ---------------------------------------------------------------------------
#
# The pair queries check candidate generation + refine; these check the
# step that actually drops data — connected components over the
# verified pairs, keeper = min reachable id (operators/graph.py). The
# oracle computes the SAME fixpoint as a recursive transitive closure
# (reach(node, root) seeded with (n, n), stepped over symmetric edges,
# UNION-deduped to termination; keeper = MIN(root) per node) — closure
# row count is Σ family_size², tiny for near-dup graphs. This is the
# registry's first oracle-paired ITERATIVE-algorithm result: the CC
# label set itself is hash-checked, not just counted.

_CC_TAIL_SQL = """,
edges AS (
  SELECT media_a AS a, media_b AS b FROM ham WHERE hamming <= 6
  UNION ALL
  SELECT media_b AS a, media_a AS b FROM ham WHERE hamming <= 6
),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS media_id, MIN(root) AS keeper,
       (MIN(root) <> node) AS is_dup
FROM reach GROUP BY 1 ORDER BY 1
"""


def q_dedup_images_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call image dedup decision (operators/imagehash.
    dedup_images): dHash pairs → connected components → (media_id,
    keeper, is_dup). Oracle-paired end to end — the recursive-closure
    SQL reproduces the min-label fixpoint bit-for-bit (see block
    comment)."""
    from data_lake_spark.operators.imagehash import (
        bmp_from_text_col,
        dedup_images,
    )

    docs = decode_spread(
        spark, load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return dedup_images(bmp_from_text_col(docs), max_hamming=6).orderBy(
        "media_id"
    )


def q_dedup_audio_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-call audio dedup decision (operators/audiofp.
    dedup_audio): envelope-fingerprint pairs → connected components →
    (media_id, keeper, is_dup). Oracle-paired end to end.

    No decode_spread here (r11, measured): the audio fingerprint is
    ~0.3 s of vectorized Python at sf0.1 — too cheap for the extra
    exchange to pay for itself (interleaved A/B: fingerprint stage
    0.61 s spread vs 0.63 s not), while the keepers tail pays the
    32-task scheduling overhead on every CC probe job. On cluster
    files the decode parallelism comes from file splits for free."""
    from data_lake_spark.operators.audiofp import (
        dedup_audio,
        wav_from_text_col,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup_audio(wav_from_text_col(docs), max_hamming=6).orderBy(
        "media_id"
    )


REGISTRY["dedup_audio_keepers"] = QuerySpec(
    q_dedup_audio_keepers,
    f"WITH RECURSIVE {AUD_PAIR_CORE_SQL}{_CC_TAIL_SQL}",
    "audio dedup keeper assignment: fingerprint pairs -> connected "
    "components -> (media_id, keeper, is_dup) — the CC label set "
    "itself hash-checked via a recursive-closure oracle",
)


def _img_keepers_oracle() -> str:
    from data_lake_spark.queries.llm11 import IMG_PAIR_CORE_SQL

    return f"WITH RECURSIVE {IMG_PAIR_CORE_SQL}{_CC_TAIL_SQL}"


REGISTRY["dedup_images_keepers"] = QuerySpec(
    q_dedup_images_keepers,
    _img_keepers_oracle(),
    "image dedup keeper assignment: dHash pairs -> connected "
    "components -> (media_id, keeper, is_dup) — the CC label set "
    "itself hash-checked via a recursive-closure oracle",
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


# ---------------------------------------------------------------------------
# audio_fp_pairs_stored — the audio family served from a persisted
# fingerprint index (the image/video stored-twin argument)
# ---------------------------------------------------------------------------


def stored_audio_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from data_lake_spark.artifacts import stored_artifact
    from data_lake_spark.operators.audiofp import (
        audiofp_table,
        wav_from_text_col,
    )

    def build() -> DataFrame:
        docs = decode_spread(
            spark,
            load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        )
        return (
            audiofp_table(wav_from_text_col(docs))
            .withColumnRenamed("afp", "dhash")
            .filter(F.col("dhash").isNotNull())
        )

    # version "1" = the 65-window envelope-difference fingerprint
    return stored_artifact(
        spark, sf_dir, "audio_fp", ["documents"], build, version="1"
    )


def q_audio_fp_pairs_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs served from the persisted (media_id,
    fingerprint) index — the stored-artifact serving twin of
    q_audio_fp_pairs, zero decode stages in-plan, same oracle."""
    from data_lake_spark.operators.imagehash import hamming_pairs

    pairs = hamming_pairs(
        stored_audio_fps(spark, sf_dir), max_hamming=6, checkpoint=False
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


REGISTRY["audio_fp_pairs_stored"] = QuerySpec(
    q_audio_fp_pairs_stored,
    ORACLE_AUDIO_FP_PAIRS,
    "audio near-dup pairs served from the PERSISTED fingerprint index: "
    "pure JVM banding + refine, zero Arrow decode stages in-plan (the "
    "stored-artifact serving twin of audio_fp_pairs, same oracle "
    "verbatim)",
)


def q_dedup_images_keepers_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The image dedup DECISION served from the persisted dHash index
    (the dedup_videos_keepers_stored argument, one modality down):
    banding + refine + connected components over the at-rest hashes,
    zero decode stages. Node set from the corpus ids, so undecodable
    media survive as their own keepers."""
    from data_lake_spark.operators.imagehash import hamming_pairs
    from data_lake_spark.operators.videofp import keepers_from_pairs
    from data_lake_spark.queries.llm11 import stored_image_hashes

    pairs = hamming_pairs(
        stored_image_hashes(spark, sf_dir), max_hamming=6, checkpoint=False
    )
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    return keepers_from_pairs(nodes, pairs).orderBy("media_id")


def q_dedup_audio_keepers_stored(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The audio dedup DECISION served from the persisted fingerprint
    index — same shape, same recursive-closure oracle verbatim."""
    from data_lake_spark.operators.imagehash import hamming_pairs
    from data_lake_spark.operators.videofp import keepers_from_pairs

    pairs = hamming_pairs(
        stored_audio_fps(spark, sf_dir), max_hamming=6, checkpoint=False
    )
    nodes = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("node")
    )
    return keepers_from_pairs(nodes, pairs).orderBy("media_id")


REGISTRY["dedup_images_keepers_stored"] = QuerySpec(
    q_dedup_images_keepers_stored,
    _img_keepers_oracle(),
    "image dedup keeper assignment served from the persisted dHash "
    "index: banding + refine + connected components, zero decode "
    "stages (the serving twin of dedup_images_keepers, same "
    "recursive-closure oracle verbatim)",
)

REGISTRY["dedup_audio_keepers_stored"] = QuerySpec(
    q_dedup_audio_keepers_stored,
    f"WITH RECURSIVE {AUD_PAIR_CORE_SQL}{_CC_TAIL_SQL}",
    "audio dedup keeper assignment served from the persisted "
    "fingerprint index: banding + refine + connected components, zero "
    "decode stages (the serving twin of dedup_audio_keepers, same "
    "recursive-closure oracle verbatim)",
)
