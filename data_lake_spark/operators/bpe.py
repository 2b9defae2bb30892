"""In-engine BPE merge learning (Sennrich et al. 2016) — the tokenizer
TRAINING side; queries/text.py's ``bpe_tokens`` covers the accounting
(fertility) side with a fixed regex pretokenizer.

The industrial shape: BPE never iterates over the corpus. One
corpus-scale aggregation builds the (word, count) vocabulary table —
after that, every merge round runs over the vocabulary only (tens of
thousands of rows at any corpus size), so 100 TB of text and 100 MB of
text pay the same per-round cost. Each round is:

1. adjacent symbol-pair counts weighted by word frequency — a map-only
   pair expansion over the vocabulary + one map-side-combinable SUM;
2. argmax pair (count desc, then lexicographic — the deterministic
   tie-break; ONE row crosses to the driver per round, model state,
   the kmeans/classifier_train convention);
3. apply the merge to every word's symbol array — a left-to-right fold
   as a higher-order ``aggregate`` expression: zero shuffle, lineage
   cut per round with localCheckpoint.

All arithmetic is integer counts; ties break lexicographically — the
whole procedure is deterministic on any partitioning, proven against a
plain-Python reference replay in tests/test_bpe_learn.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Above this many distinct words the vocabulary stops being driver-safe
# and the distributed merge rounds take over (the graph.py
# DRIVER_MAX_EDGES convention). 200k words ≈ a few MB on the driver —
# broadcast-table scale; real corpora vocabularies follow Heaps' law, so
# even 100 TB of text usually stays within an order of magnitude of it,
# and the distributed path remains bit-identical when they don't.
DRIVER_MAX_WORDS = 200_000

# Symbol-list delimiter for the driver path's VALUES-literal vocabulary
# frame (symbols re-split in-plan). Any word containing it falls back to
# the distributed path rather than risk an ambiguous join.
_SYM_SEP = "\x1f"


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, n) vocabulary table — the single corpus-scale pass."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def _merge_expr(sym: Column, a: Column, b: Column, joined: Column) -> Column:
    """Left-to-right single-pass merge of adjacent (a, b) into
    ``joined`` within the symbols array — the BPE apply step as one
    fold; the skip flag consumes the right element of a merged pair so
    overlapping occurrences (e.g. 'aaa' with merge (a,a)) resolve
    leftmost-first, exactly like the reference implementation."""
    n = F.size(sym)
    return F.aggregate(
        F.sequence(F.lit(1), n),
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(False).alias("skip"),
        ),
        lambda acc, i: F.when(
            acc["skip"], F.struct(acc["out"].alias("out"), F.lit(False).alias("skip"))
        )
        .when(
            (i < n) & (F.element_at(sym, i) == a) & (F.element_at(sym, i + 1) == b),
            F.struct(
                F.concat(acc["out"], F.array(joined)).alias("out"),
                F.lit(True).alias("skip"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["out"], F.array(F.element_at(sym, i))).alias("out"),
                F.lit(False).alias("skip"),
            )
        ),
        lambda acc: acc["out"],
    )


def _driver_bpe(
    wc: dict[str, int], n_merges: int
) -> tuple[list[tuple[str, str]], dict[str, list[str]]]:
    """Driver-side BPE over a (word → count) dict: same argmax rule
    (count desc, then lexicographic pair) and same leftmost-first merge
    application as the distributed rounds — Python string comparison is
    code-point order, which equals Spark's UTF-8 byte order, so the two
    paths pick identical merges (tests/test_bpe_learn.py proves it).
    O(vocab × word-length) per round, microseconds at broadcast scale
    where the distributed form pays a shuffle + a collect per round."""
    vocab = {w: list(w) + ["</w>"] for w in wc}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in vocab.items():
            n = wc[w]
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + n
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        a, b = best[0]
        merges.append((a, b))
        ab = a + b
        for w, syms in vocab.items():
            out: list[str] = []
            skip = False
            for i, s in enumerate(syms):
                if skip:
                    skip = False
                    continue
                if s == a and i + 1 < len(syms) and syms[i + 1] == b:
                    out.append(ab)
                    skip = True
                else:
                    out.append(s)
            vocab[w] = out
    return merges, vocab


def bpe_learn(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    driver_max_words: int = DRIVER_MAX_WORDS,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merge rules from a corpus.

    Returns (merges, vocab_symbols): the ordered merge list, and the
    final (word, n, symbols) vocabulary frame (useful for fertility
    accounting of the learned tokenizer). Stops early if no adjacent
    pair repeats. Word boundary handling: words are split to characters
    with a ``</w>`` end-of-word marker appended as its own symbol (the
    Sennrich formulation), so merges never cross word boundaries.

    Adaptive placement, the connected_components pattern: BPE state is
    the VOCABULARY, not the corpus — one corpus-scale aggregation
    produces it, after which every merge round is vocabulary-only work.
    When the vocabulary is counted driver-safe (≤ ``driver_max_words``,
    checked with a LIMIT probe on the same single pass), the rounds run
    as a driver fold over the collected (word, count) table — removing
    ~2 Spark jobs per round (the pair-count argmax collect + the
    checkpoint of the merged vocabulary) — and the final vocabulary
    returns as a VALUES-literal frame (functions/localframe.py).
    Larger vocabularies keep the distributed rounds; both paths pick
    bit-identical merges (tests/test_bpe_learn.py drives both against
    the same reference). ``driver_max_words=0`` forces the distributed
    path."""
    wc = word_counts(docs, text_col)
    if driver_max_words:
        rows = wc.limit(driver_max_words + 1).collect()
        if len(rows) <= driver_max_words and not any(
            _SYM_SEP in r["word"] for r in rows
        ):
            counts = {r["word"]: r["n"] for r in rows}
            merges, vocab_map = _driver_bpe(counts, n_merges)
            spark = docs.sparkSession
            vrows = [
                (w, counts[w], _SYM_SEP.join(syms))
                for w, syms in vocab_map.items()
            ]
            if len(vrows) <= 10_000:
                from data_lake_spark.functions.localframe import values_df

                joined = values_df(
                    spark, vrows, "word string, n long, __sym string"
                )
            else:
                joined = spark.createDataFrame(
                    vrows, "word string, n long, __sym string"
                )
            vocab_df = joined.select(
                "word", "n", F.split("__sym", _SYM_SEP).alias("symbols")
            )
            return merges, vocab_df
    vocab = wc.select(
        "word",
        "n",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit("</w>"))
        ).alias("symbols"),
    ).localCheckpoint(eager=False)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        # guard single-symbol words: sequence(1, 0) DESCENDS in Spark
        # ([1, 0]), so an unguarded transform would index out of bounds
        # once a merge collapses a whole word to one symbol
        pair_arr = F.when(
            F.size("symbols") > 1,
            F.transform(
                F.sequence(F.lit(1), F.size("symbols") - 1),
                lambda i: F.struct(
                    F.element_at("symbols", i).alias("a"),
                    F.element_at("symbols", i + 1).alias("b"),
                ),
            ),
        ).otherwise(F.expr("CAST(array() AS array<struct<a:string,b:string>>)"))
        pairs = vocab.select("n", F.explode(pair_arr).alias("p"))
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        vocab = vocab.select(
            "word",
            "n",
            _merge_expr(
                F.col("symbols"), F.lit(a), F.lit(b), F.lit(a + b)
            ).alias("symbols"),
        ).localCheckpoint(eager=False)
    return merges, vocab
