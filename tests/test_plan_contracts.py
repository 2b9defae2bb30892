"""Plan contracts: the physical-plan properties the 100 TB posture rests
on, asserted so a future edit can't silently regress them.

These don't check answers (the oracle suite does); they check HOW Spark
will execute — dims broadcast, predicates reach the parquet scan, and no
operator falls back to a cartesian/nested-loop pair space.
"""

from __future__ import annotations

import re

import pytest

from data_lake_spark.queries import full_registry

_REG = full_registry()


def _explain(spark, df, mode: str = "formatted") -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _plan(spark, sf_dir, name: str) -> str:
    return _explain(spark, _REG[name].fn(spark, sf_dir))


# literal-dim LEFT JOINs against one-row aggregates legitimately plan a
# 3x1 BroadcastNestedLoopJoin, and percentage-of-total queries attach a
# one-row grand-total scalar via operators/ranking.with_broadcast_scalar
# (also a 1-row BNLJ — the canonical scalar-subquery shape); everything
# else must stay out of the pair-space fallbacks
_BNLJ_OK = {
    "api_needle",
    "api_avg_profitability",
    "api_total_profit",
    "api_profit_avg",
    # scalar grand-total broadcasts:
    "top5_distribution",
    "api_models_distribution",
    "api_dow",
    # Athena-dialect pct-of-total: uncorrelated scalar subquery -> 1-row BNLJ
    "athena_dow_dist",
    # sketch-vs-exact comparisons attach 1-row broadcast frames (the
    # frequent-items set / grand totals / the exact-distinct scalar)
    "heavy_hitters",
    "theta_distinct",
    "skew_report",
    "kll_quantile",
    # the PQ codebook rides along as a broadcast ONE-ROW frame (model
    # state as an attribute, not thousands of literal nodes)
    "pq_encode",
    "pq_search",
    "pq_rerank",
    "ivf_pq",
    "ivf_pq_stored",
    # recall report runs the exact baseline (labeled broadcast crossJoin,
    # same as cosine_topk) next to the compressed probe
    "ann_recall",
    # exact scan over derived hashed embeddings — same labeled
    # broadcast-crossJoin baseline shape as cosine_topk
    "doc_topk",
    # three one-row scalar aggregates (candidate/truth/caught counts)
    # assembled via broadcast crossJoin per config rung
    "lsh_recall",
    # one-row corpus-stats frame (N, total tokens, per-term df) attached
    # via broadcast crossJoin — the scalar-subquery shape again
    "bm25_topk",
    # int8-SQ top-k: broadcast-queries / stream-corpus, the cosine_topk
    # labeled crossJoin shape over quantized codes
    "sq_search",
    # the one-row n_refs scalar frame attaches via broadcast crossJoin —
    # the lsh_recall measurement-harness shape
    "er_recall",
    # broadcast anchor set crossJoined into the corpus scan (hash-as-
    # distance variant of the cosine_topk shape)
    "negative_pairs",
    # same one-row stats frame on the lexical side + the cosine side's
    # labeled broadcast-crossJoin exact scan (the cosine_topk shape)
    "rrf_fusion",
    # 6-row min-tf ladder dim range-joins (>=) the tf-HISTOGRAM frame
    # (distinct frequencies, far smaller than the vocabulary) — a
    # broadcast nested loop over dozens×dozens of rows by construction
    "vocab_prune",
    # one-row total-slots frame attached via broadcast crossJoin to the
    # 1000-row top-bigram frame (the bm25_topk scalar shape)
    "ngram_coverage",
    # one-row min/max stats frame (the quantizer bounds) attached via
    # broadcast crossJoin before the Morton interleave — the standard
    # scalar-subquery shape
    "zorder_layout",
}


@pytest.mark.parametrize("name", sorted(_REG))
def test_no_cartesian_anywhere(spark, sf_dir, name):
    # one build per registry query, two census checks on it:
    df = _REG[name].fn(spark, sf_dir)
    plan = _explain(spark, df)
    assert "CartesianProduct" not in plan
    if name not in _BNLJ_OK and name != "cosine_topk":
        assert "BroadcastNestedLoopJoin" not in plan, name
    # driver-compat guard: the correctness harness canonicalizes results
    # with a pandas sort over every column, which cannot order list/dict
    # cells — an array-typed output column poisons the round's row (this
    # is exactly how doc_embed went red in CORRECTNESS_r04). Oracle-paired
    # queries must emit scalar columns only; flatten vectors to CSV
    # strings or exploded (id, dim, value) rows instead.
    if _REG[name].oracle is not None:
        for f in df.schema.fields:
            assert f.dataType.typeName() not in ("array", "map", "struct"), (
                name,
                f.name,
                f.dataType.simpleString(),
            )


@pytest.mark.parametrize(
    "name",
    [
        "earnings_by_day",
        "multi_agg_attrs",
        "or_key_join",
        "top5_distribution",
        # small-side joins in the extension families must broadcast too:
        # vocabulary (tfidf), centroids (kmeans), date spine, unpivot dim
        "tfidf_topterms",
        "kmeans_refine",
        "date_spine_fill",
        "unpivot_metrics",
        "decontam",
    ],
)
def test_dim_joins_broadcast(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must never shuffle the fact


# Shuffle budgets for flagship plans: the hashEx counts PLANS.md records,
# pinned as upper bounds. A future edit that adds an Exchange to one of
# these (a lost broadcast, an un-pushed aggregate, a stray repartition)
# fails here instead of silently shipping a slower plan.
_SHUFFLE_BUDGET = {
    "earnings_by_day": 1,
    "text_stats": 0,
    "simhash": 0,
    "bpe_tokens": 0,
    "exact_dedup": 1,
    "minhash_lsh": 1,
    "embedding_neardup": 1,
    "multimodal_decode": 0,
    "chunk_docs": 0,
    "classifier_filter": 0,
    "embedding_quantize": 0,
    "ivf_stored": 3,
    "curation_funnel": 1,
    "classifier_train": 0,
    "doc_embed": 0,  # round-robin spread is not a hash shuffle
    "doc_topk": 1,
    "ivf_pq_stored": 6,
    "semantic_dedup": 6,
    "semantic_dedup_capped": 10,
    # three composed top-k pipelines (exact baseline + coarse IVF-PQ +
    # rerank ladder) — each rung's shuffles are the stored-artifact
    # serving shape, none scan the corpus twice
    "ann_recall": 14,
    # truth jaccard join + two banding rungs over one checkpointed
    # signature table; scalar-count assembly adds no hash exchange
    "lsh_recall": 4,
    # map-only HOF term counts + broadcast one-row stats + TakeOrdered:
    # BM25 over the corpus is a single scan, zero shuffles
    "bm25_topk": 0,
    # inverted-index tf/df aggregates (one checkpointed tf frame), two
    # per-query rank windows, and the (tiny-list) full-outer fusion join;
    # +1 in r10: the stats row's count_distinct(doc_id) over the
    # MATERIALIZED tf frame — it replaced a second full-corpus
    # tokenization scan whose single-partition agg exchange this census
    # never counted (strictly cheaper at scale, one more hash exchange
    # in the ledger)
    "rrf_fusion": 8,
    # iterations are lineage-cut per round (the connected_components
    # pattern); the visible final stage is teleport + damped-sum only
    "pagerank_docs": 0,
    # per-(source,lang) agg + per-source agg with exact distinct (2) +
    # the floored-share Gini agg and two dim-sized source joins
    "dataset_card": 5,
    # inverted-index novelty: shingle agg, join back, per-doc agg
    "ngram_novelty": 3,
    # block-key equi-join + levenshtein verify; the block frame
    # broadcasts at test SF (a lost broadcast shows up here)
    "fuzzy_match": 0,
    # + the candidate-cap row_number window's block-key exchange
    "fuzzy_match_capped": 1,
    # skyline: one group-by-x shuffle; the frontier window runs over the
    # dim-sized group frame and joins back by broadcast
    "pareto_front": 1,
    # (segment, month) rollup + segment fit — two map-side-combinable
    # aggregations; the customer dim broadcasts into the fact scan
    "trend_slopes": 2,
    # quantized-cosine top-k: broadcast crossJoin + one per-query window
    "sq_search": 1,
    # one grouped-percentile agg (5-row bounds frame broadcast back)
    # + the final clamped aggregate
    "winsorize": 2,
    # all widths in one exploded pass: two (width, prefix) count aggs +
    # their key join, one per-width matched agg after the broadcast
    # verify join, and the final width join
    "er_recall": 4,
    # sessionize window + session agg reuse ONE user_id exchange; the
    # chunk equi-join's small incident side broadcasts at test SF
    "interval_overlap": 1,
    # grouped-map applyInPandas: exactly the one group-key exchange
    "lang_fit": 1,
    # exact side: day and window-day aggs; sketch side: day agg +
    # window merge + the result join — all on uniform day keys
    "sliding_distinct": 5,
    # ONE shuffle to the daily rollup; the trailing-percentile window
    # runs on the calendar-bounded daily series (single partition by
    # design — 2405 rows at sf0.1, 36.5k for a century)
    "anomaly_days": 1,
    # the learned-vocabulary encoder broadcasts; one doc-key aggregation
    # (bpe_learn's training rounds run BEFORE the plan under test)
    "bpe_encode": 1,
    # per-anchor top-k window on the broadcast-crossJoin pair stream
    "negative_pairs": 1,
    # two-phase global row number: RANGE repartition only, no hash
    # exchange (the bounds frame broadcasts)
    "curriculum_order": 0,
    # one single-row aggregate per fact table (orders carries the one
    # distinct-count; lineitem likewise) + two FK left joins against
    # distinct parent keys — the check rows themselves are literal
    # selects over one-row frames, no exchange of their own
    "dq_checks": 4,
    # exactly the groupBy(source); the corpus total rides a window over
    # the source-sized frame and the plan itself is map-only after it
    "epoch_plan": 1,
    # node-iterator triangles over the eagerly-materialized edge frame:
    # wedge self-join (2) + closing join (2) + per-node triangle agg (1)
    # + degree agg (1) + the node left-joins share one exchange
    "triangle_count": 7,
    # one binned corpus aggregation each; the PR / retention curves are
    # suffix sums over the ≤17-row bin frame (dim-sized windows)
    "classifier_eval": 1,
    "quality_tradeoff": 1,
    # explode → groupBy(source,term); term totals + min-df reduce from
    # that frame and join back on term; source totals broadcast; the
    # top-5 window rides the (source,term) partitioning
    "source_lift": 6,
    # posexplode → (label,dim) agg; the K×K pair space is a self-equi-
    # join on dim + one pair agg; norm joins broadcast
    "label_affinity": 7,
    # segment explode → (hash, source) distinct-doc agg, hash-key pair
    # self-join, (source_a, source_b) agg
    "mirror_matrix": 5,
    # one conditional daily groupBy; the five moment windows ride the
    # calendar-bounded daily frame (single partition by design)
    "rolling_corr": 1,
    # one QI-pair groupBy; the nation rollup re-aggregates the
    # dim-sized class frame; union of detail + rollup is dim-sized
    "k_anonymity": 3,
    # r11 salted-keeper shape (gram_keeper_marks, skew posture §2.5):
    # token window rides one doc_id exchange — PRINTED once per
    # consumer branch with distinct expr IDs in the initial plan but
    # ReusedExchange-deduped at runtime (2 of the 7) — plus the ONE
    # heavy (h, salt) probe exchange, the map-side-combined (h, salt)
    # partials exchange (one row per group per task), the tiny (h)
    # keeper window + (h, salt) build-side exchanges over the partials
    # frame, and the islands doc_id window. Only probe + one doc_id
    # exchange move corpus-sized rows.
    "exact_substr": 7,
    # spans pipeline (7, above) + covered distinct + the (doc_id,pos)
    # anti-join + per-doc reassembly agg + the final corpus left joins,
    # which planned SMJ under the salted marks' larger size estimates —
    # the honest scale choice (rebuilt/removed are corpus-sized at
    # 100 TB; their old broadcast was an sf artifact) at two exchanges
    # per join side
    "exact_substr_clean": 16,
    # one conditional groupBy(bin) + the detail/total union re-agg;
    # cohort totals ride single-partition windows over the 10-row bin
    # frame (bounded by construction, not counted here)
    "dist_drift": 2,
    # gram window + bench distinct; the collision join is BROADCAST
    # (bench side tiny) so the train grams never shuffle on the gram
    # key; islands ride the doc_id partitioning
    "decontam_substr": 3,
    # map-only classify + one (labeled,predicted) groupBy; both
    # marginal windows ride the ≤|langs|² cell frame
    "lang_confusion": 3,
    # id equi-join (broadcast at test SF; ≤2 key exchanges when both
    # sides go fact-sized) + groupBy(source) + anti-join orphan count
    "embedding_coverage": 3,
    # content-hash family agg + family-size histogram agg
    "dup_histogram": 2,
    # one groupBy(lang) over the explode; the learned vocabulary joins
    # broadcast (dim-sized); BPE merge rounds run driver-side over the
    # vocabulary frame, not the corpus (the bpe_merges budget argument)
    "bpe_fertility": 4,
    # the exact_substr salted gram/keeper frames (6 — marks stage of
    # the exact_substr budget above) + ONE extra (copy, keeper)
    # groupBy — provenance without a pair space
    "exact_substr_pairs": 7,
    # one groupBy(lang); totals and the sqrt-sum ride constant-
    # partition windows over the language frame
    "temp_weights": 1,
    # the ivf_assign frames (centroid agg + dim-join + per-vec argmin)
    # + one groupBy(cell); totals ride the cell frame
    "ivf_balance": 4,
    # one codegen scan + one groupBy(lang); the kind unpivot and the
    # prevalence shares ride the lang×kind frame
    "pii_scan": 1,
    # countDistinct(doc_id) inside the domain rollup is the standard
    # two-phase distinct-aggregate: partial on (domain, doc_id), final
    # on domain — both exchanges carry the host-sized key space
    "url_domains": 2,
    # map-only regexp projection: strip, count, lengths, md5 — zero
    # exchanges before the output sort
    "html_strip": 0,
    # map-only per-vector norm + one groupBy(label)
    "embedding_norms": 1,
    # one Arrow hash pass (no exchange), bucket-size groupBy + the
    # capped band equi-joins sharing the (band, band_val) partitioning,
    # candidate distinct, per-image rollup
    "image_dhash_pairs": 4,
    # token-count groupBy(lang) + sampled re-aggregate + the lang-frame
    # join; targets/thresholds ride constant windows on the lang frame
    "mixture_audit": 3,
    # explode + groupBy(token) + the tf-histogram re-aggregate; the
    # 6-row ladder joins the histogram frame, never the corpus
    "vocab_prune": 2,
    # per-doc bigram window + census groupBy + TakeOrdered(1000); the
    # cumulative window runs on the 1000-row frame
    "ngram_coverage": 3,
    # two power steps: each is a vec_id projection window + a 64-key
    # per-dim re-aggregate; direction frames broadcast back
    "embedding_pca": 4,
    # the tokenizer-as-artifact serving form: one explode + broadcast
    # vocabulary join + doc rollup — zero training rounds in-plan
    "bpe_encode_stored": 1,
    # banding + refine over the persisted frame-hash index: bucket-size
    # groupBy, capped band equi-joins on (frame_idx, band, band_val),
    # candidate distinct, per-video rollup + frame-count joins — the
    # same exchange set as the decode twin, minus the Arrow pass
    "video_frame_pairs_stored": 6,
    # connected components materializes its rounds internally; the
    # visible final stage is the label projection only
    "dedup_videos_keepers_stored": 0,
    # gram pass + per-(h,doc) posting agg, the tombstone-subtracted
    # fold (h), and the survivors' screen join share the h key space
    "takedown_screen": 3,
    # banding + refine over the persisted hash parquet (no checkpoint,
    # no decode): bucket census, band self-join, candidate distinct,
    # rollup — the image_dhash_pairs exchange set minus the Arrow pass
    "image_dhash_pairs_stored": 4,
    "audio_fp_pairs_stored": 4,
    # keeper stored twins: connected components materializes its
    # rounds internally; the visible final stage is the projection
    "dedup_images_keepers_stored": 0,
    "dedup_audio_keepers_stored": 0,
    # one Arrow NFC pass + one lang-sized aggregate
    "unicode_nfc_audit": 1,
    # one map-only feature projection + one groupBy(bin) over <=17 bins
    "calibration_bins": 1,
    # map-only banding over the stored signature parquet + the band
    # self-join's pair groupBy (zero shingle/signature stages)
    "minhash_pairs_stored": 1,
    # packing audit: the per-lang running-sum window's ONE exchange is
    # REUSED by the lang rollup (same partitioning key)
    "pack_efficiency": 1,
    # bloom prefilter is a map-only codegen probe (zero exchanges —
    # the bit array is a literal); budget = bench-gram distinct + the
    # two-phase count_distinct(doc_id, g) rollup, same as decontam
    "decontam_bloom": 3,
    # (lang, band) census + lang rollup — the pair space never shuffles
    # because it never exists
    "pair_space_audit": 2,
    # (layout, bucket) envelope agg + 2-row layout rollup; the
    # quantizer stats frame is a SinglePartition scalar agg (not
    # counted, dim-sized by construction)
    "zorder_layout": 2,
    # map-only Arrow-batched mapInPandas histogram kernel — zero
    # exchanges before the output sort
    "char_diversity": 0,
}


@pytest.mark.parametrize("name", sorted(_SHUFFLE_BUDGET))
def test_shuffle_budget(spark, sf_dir, name):
    # simple mode prints the partitioning inline ("Exchange
    # hashpartitioning(...)"), matching tools/plan_report.py's counting;
    # the final orderBy's rangepartitioning exchange is not counted —
    # it exists only for driver-comparable output ordering
    plan = _explain(spark, _REG[name].fn(spark, sf_dir), "simple")
    # Count DISTINCT exchange nodes, not occurrences: a persist()ed
    # multi-consumer subtree prints once per consumer but its internal
    # exchange executes once (the cache is populated on first use);
    # node identity is the line text itself — expr IDs and plan_id make
    # distinct physical exchanges render distinctly (same convention as
    # tools/plan_report.py since r10).
    lines = [
        ln.strip()
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln
    ]
    n = len(set(lines))
    assert n <= _SHUFFLE_BUDGET[name], (name, n, plan)
    # r11 ADVICE guard: distinct counting alone would under-count if two
    # PHYSICALLY DISTINCT exchanges ever rendered with identical expr
    # IDs (un-re-aliased duplicated subtrees). A loose cap on TOTAL
    # occurrences keeps that failure mode visible without flagging
    # legitimate multi-consumer re-prints (a checkpointed subtree
    # prints once per consumer; none of ours has more than 3 consumers).
    assert len(lines) <= 4 * _SHUFFLE_BUDGET[name] + 2, (
        name,
        len(lines),
        plan,
    )


def test_filters_reach_parquet_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "point_lookup")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any(p.strip() for p in pushed), plan


def test_projection_prunes_columns(spark, sf_dir):
    # flagship reads orders (9 cols); the scan schema must not carry
    # columns the query never touches (e.g. o_comment, o_clerk)
    plan = _plan(spark, sf_dir, "earnings_by_day")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    assert "o_comment" not in m.group(1) and "o_clerk" not in m.group(1)


def test_watermark_filter_pushes_to_scan(spark, sf_dir):
    # S11 incremental scan: the high-watermark predicate must reach the
    # parquet scanner as a raw-column comparison even though events.ts is
    # normalized to epoch nanos above it (catalog.load_table since_ns).
    # A filter on the derived column would read every row-group at 100 TB.
    from data_lake_spark.catalog import load_table

    df = load_table(spark, sf_dir, "events", since_ns=1_600_000_000 * 10**9)
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("GreaterThan(ts" in p for p in pushed), plan


def test_runtime_bloom_filter_on_shuffle_join(spark, sf_dir):
    # When a dim is too large to broadcast (the 100 TB case), Spark must
    # inject a runtime bloom filter from the selective build side into the
    # fact scan (might_contain). Locks spark.sql.optimizer.runtime.
    # bloomFilter.enabled staying on in session.py's config surface.
    from data_lake_spark.catalog import load_table
    from pyspark.sql import functions as F

    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "100MB",
    )
    conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "1KB",
    )
    try:
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        txt = _explain(spark, j)
        assert "might_contain" in txt, txt
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        )
        conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )


def test_ivf_stored_artifact_is_pure_probe(spark, sf_dir):
    # The serving IVF query consumes a PERSISTED centroid artifact: its
    # plan must read the artifact parquet and must NOT contain the
    # full-corpus training stage (a posexplode of every embedding row
    # feeding the centroid aggregation). The self-training twin is the
    # yardstick: same query, centroids retrained in-query.
    stored = _plan(spark, sf_dir, "ivf_stored")
    self_training = _plan(spark, sf_dir, "ivf_search")
    # artifact parquet is scanned ...
    assert "ivf_centroids_" in stored
    # ... instead of re-exploding the corpus: the only Generate left is
    # the id-filtered query-vector explode, whose predicate reaches the
    # parquet scan
    def n_explodes(plan: str) -> int:
        return len(re.findall(r"\(\d+\) Generate", plan))

    assert n_explodes(stored) < n_explodes(self_training)
    assert n_explodes(stored) == 1, stored
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", stored)
    assert any("In(vec_id" in p for p in pushed), stored


def test_ivf_pq_stored_zero_corpus_scan(spark, sf_dir):
    # The fully-artifact-served IVF-PQ: every scan of the embeddings
    # table must carry the query-id In-filter (the LUT + probe sides);
    # candidate membership and codes come from the persisted
    # cell-partitioned index, so NO unfiltered corpus scan of any kind
    # may appear in the plan.
    plan = _plan(spark, sf_dir, "ivf_pq_stored")
    assert "ivfpq_index_" in plan and "ivf_centroids_" in plan
    # formatted mode: each scan node's detail block starts at
    # "(n) Scan parquet" and contains Location + PushedFilters lines
    blocks = re.split(r"\(\d+\) Scan parquet", plan)[1:]
    emb_blocks = [b for b in blocks if "embeddings.parquet" in b.split("\n\n")[0]]
    assert emb_blocks, plan  # the query vectors ARE read...
    for b in emb_blocks:
        head = b.split("\n\n")[0]
        assert "In(vec_id" in head, head  # ...but only by id pushdown


def test_bpe_encode_stored_zero_retraining(spark, sf_dir):
    # The tokenizer-as-artifact serving claim: the plan reads the
    # persisted vocabulary parquet, scans documents ONCE (doc_id + text
    # only), and contains none of the training machinery (bpe_merges
    # replays 8 vocabulary-table merge rounds; the budget test already
    # pins this plan at <= 1 exchange).
    plan = _plan(spark, sf_dir, "bpe_encode_stored")
    assert "bpe_vocab_" in plan
    blocks = re.split(r"\(\d+\) Scan parquet", plan)[1:]
    doc_blocks = [
        b for b in blocks if "documents.parquet" in b.split("\n\n")[0]
    ]
    assert len(doc_blocks) == 1, plan  # one corpus scan, not per-round
    head = doc_blocks[0].split("\n\n")[0]
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in head, head


def test_pca_project_stored_zero_training_stages(spark, sf_dir):
    # The PCA serving twin: the plan reads the persisted 64-row
    # component parquet and projects in ONE corpus pass — no
    # power-iteration machinery. Training (embedding_pca) needs
    # per-vector projection WINDOWS and re-reads the element frame per
    # iteration; serving must contain ZERO window stages and exactly
    # one embeddings scan + one explode.
    stored = _plan(spark, sf_dir, "pca_project_stored")
    training = _plan(spark, sf_dir, "embedding_pca")
    assert "pca_component_" in stored
    assert "Window" in training  # the yardstick: training does window
    assert "Window" not in stored, stored
    blocks = re.split(r"\(\d+\) Scan parquet", stored)[1:]
    emb_blocks = [
        b for b in blocks if "embeddings.parquet" in b.split("\n\n")[0]
    ]
    assert len(emb_blocks) == 1, stored  # one corpus pass, not per-step
    assert len(re.findall(r"\(\d+\) Generate", stored)) == 1, stored


def test_video_stored_twins_zero_decode_stages(spark, sf_dir):
    # The media-dedup-as-artifact serving claim: the stored twins read
    # the persisted (media_id, frame_idx, dhash) parquet and band/refine
    # in pure JVM — no Arrow decode stage, no checkpointed decode RDD.
    # The decode twin is the yardstick: its plan starts from the eager
    # localCheckpoint of the Arrow hash pass (an ExistingRDD scan).
    stored = _plan(spark, sf_dir, "video_frame_pairs_stored")
    decode = _plan(spark, sf_dir, "video_frame_pairs")
    assert "video_frame_hashes_" in stored, stored
    for marker in ("MapInPandas", "ArrowEval", "BatchEvalPython",
                   "ExistingRDD"):
        assert marker not in stored, (marker, stored)
    assert "ExistingRDD" in decode  # the yardstick: decode pays Arrow

    # the keeper twin's visible plan starts after connected_components'
    # internal lineage cut, so the artifact scan shows in the PAIRS
    # plan above; here we pin only that no Python stage survives
    keep = _plan(spark, sf_dir, "dedup_videos_keepers_stored")
    for marker in ("MapInPandas", "ArrowEval", "BatchEvalPython"):
        assert marker not in keep, (marker, keep)

    # image/audio/text stored twins: fully transparent plans — artifact
    # parquet scans only, no Python stage, no checkpoint RDD
    for name, artifact in (
        ("image_dhash_pairs_stored", "image_dhash_"),
        ("audio_fp_pairs_stored", "audio_fp_"),
        ("minhash_pairs_stored", "minhash_sigs_"),
    ):
        p = _plan(spark, sf_dir, name)
        assert artifact in p, (name, p)
        for marker in ("MapInPandas", "ArrowEval", "BatchEvalPython",
                       "ExistingRDD"):
            assert marker not in p, (name, marker)


def test_events_normalization_session_tz_independent(spark, sf_dir):
    # The driver calls queries() with its own SparkSession; events.ts
    # normalization and the watermark literal must not shift with that
    # session's timezone (catalog._normalize uses NTZ wall-clock
    # arithmetic, never an NTZ->TIMESTAMP cast).
    from data_lake_spark.catalog import load_table

    old = spark.conf.get("spark.sql.session.timeZone")

    def snap():
        ev = load_table(spark, sf_dir, "events")
        head = sorted(r.ts for r in ev.limit(20).collect())[:3]
        n = load_table(
            spark, sf_dir, "events", since_ns=1_600_000_000 * 10**9
        ).count()
        return head, n

    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        a = snap()
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        b = snap()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert a == b


def test_sq_search_scale_evaluated_once_per_row(spark, sf_dir):
    # sq_code_cols hoists the per-vector scale to its own projection:
    # each branch (queries, candidates) evaluates array_max ONCE per
    # row as the _scale column, and the per-element quantize lambda
    # reads that attribute. Inlined, array_max sits inside the lambda
    # and runs twice per element, 2d times per row.
    from data_lake_spark.catalog import load_table
    from data_lake_spark.queries.ann import sq_codes_expr

    plan = _plan(spark, sf_dir, "sq_search")
    n_max = len(re.findall(r"array_max\(", plan))
    assert n_max == len(re.findall(r"\) AS _scale#\d+", plan)) == 2, plan
    assert not re.search(r"lambdafunction\([^\n]*array_max", plan), plan
    assert len(re.findall(r"lambdafunction\(CASE WHEN \(_scale#", plan)) == 2

    # the yardstick: the single-Column form inlines the max subtree
    inlined = _explain(
        spark,
        load_table(spark, sf_dir, "embeddings").select(
            sq_codes_expr("embedding").alias("qv")
        ),
    )
    assert re.search(r"lambdafunction\([^\n]*array_max", inlined), inlined


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn()`` launches, counted through a fresh job group."""
    import uuid

    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "site", ["load_table", "read_version", "stored_artifact", "athena_weekly"]
)
def test_warm_reads_and_builds_launch_no_jobs(
    spark, sf_dir, tmp_path, monkeypatch, site
):
    # after one warm call the schema registry serves every parquet
    # schema, the Athena views and shims are in place, and the build is
    # pure planning: no footer-inference (or any other) Spark job
    from data_lake_spark import versioned
    from data_lake_spark.artifacts import stored_artifact
    from data_lake_spark.catalog import load_table

    root = str(tmp_path / "versioned")
    versioned.write_version(spark.range(5).selectExpr("id AS k"), root)
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "store"))
    fn = {
        "load_table": lambda: load_table(spark, sf_dir, "orders"),
        "read_version": lambda: versioned.read_version(spark, root, 1),
        # the build runs on the warm call only; later calls just read
        "stored_artifact": lambda: stored_artifact(
            spark, sf_dir, "budget_toy", ["region"],
            lambda: spark.range(3).selectExpr("id AS k"),
        ),
        "athena_weekly": lambda: _REG["athena_weekly"].fn(spark, sf_dir),
    }[site]
    fn()
    assert _jobs_launched(spark, fn) == 0
