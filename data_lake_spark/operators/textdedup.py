"""Near-duplicate text detection at scale: shingling, MinHash, LSH banding,
winnowing fingerprints.

The scale architecture (the point of these operators): candidate pairs are
ALWAYS generated by an equi-join on a derived key (shingle, band hash,
fingerprint) — an inverted-index join that shuffles each doc a constant
number of times — never by a pairwise cross join. Verification (Jaccard)
then runs only on the candidate set. All hashing is md5 (hex, identical
across engines); MIN over hex strings is plain lexicographic order, so
signatures are reproducible on any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle). posexplode +
    lead keeps the whole thing in built-ins; distinct makes each shingle
    count once per doc (set semantics for Jaccard)."""
    toks = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    cols = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        toks.select(F.col(id_col), *[c.alias(f"t{i}") for i, c in enumerate(cols)])
        .filter(F.col(f"t{n-1}").isNotNull())
        .select(F.col(id_col), F.concat_ws(" ", *[f"t{i}" for i in range(n)]).alias("shingle"))
        .distinct()
    )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash: signature_i = MIN over shingles of md5(i ':' shingle).
    One pass, map-side combinable (n_hashes MIN aggregates); the classic
    permutation-min estimator with hash families indexed by seed."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"sig{i}")
        for i in range(n_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sigs: DataFrame, rows_per_band: int = 2, id_col: str = "doc_id") -> DataFrame:
    """Band the signature: band_hash_j = md5(sig_{j*r} .. sig_{j*r+r-1}).
    Docs agreeing on ANY band become candidates — the standard S-curve
    trade-off (b bands × r rows)."""
    sig_cols = [c for c in sigs.columns if c.startswith("sig")]
    n_bands = len(sig_cols) // rows_per_band
    bands = F.array(
        *[
            F.md5(
                F.concat(
                    *[F.col(f"sig{j * rows_per_band + k}") for k in range(rows_per_band)]
                )
            )
            for j in range(n_bands)
        ]
    )
    return sigs.select(
        F.col(id_col), F.posexplode(bands).alias("band_idx", "band_hash")
    )


def cap_hot_bands(
    bands: DataFrame, max_band_size: int
) -> DataFrame:
    """Drop degenerate bands before the candidate self-join.

    A band shared by m docs emits m·(m-1)/2 pairs: boilerplate text
    (license headers, templated pages) creates bands with m in the
    millions — quadratic blowup concentrated in ONE join key, the skew
    that kills the self-join at 100 TB. Capping band frequency bounds
    every key's pair count at max_band_size²/2. Near-dup RECALL is
    preserved for non-boilerplate pairs: a pair agreeing on a dropped
    band almost surely agrees on another (that's what makes the band
    hot), and true boilerplate families are better handled by exact
    dedup on the boilerplate span. One count aggregate + one left-semi
    equi-join — both map-side-combinable/shuffle-on-uniform-keys."""
    sizes = bands.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("_band_n")
    )
    ok = sizes.filter(F.col("_band_n") <= max_band_size).select(
        "band_idx", "band_hash"
    )
    return bands.join(ok, ["band_idx", "band_hash"], "left_semi")


def lsh_candidate_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_band_size: int | None = None,
) -> DataFrame:
    """Equi-join on (band_idx, band_hash), a < b: the inverted-index
    candidate join. Returns (doc_a, doc_b, n_shared_bands). A hot band
    (many docs with identical band hash) is the skew risk at 100 TB —
    AQE skew-join splitting handles moderate cases; pass
    ``max_band_size`` to frequency-cap degenerate (boilerplate) bands
    via :func:`cap_hot_bands` before the join. Default None keeps exact
    LSH semantics (every band joins)."""
    if max_band_size is not None:
        bands = cap_hot_bands(bands, max_band_size)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    max_band_size: int | None = None,
) -> DataFrame:
    """End-to-end near-dup candidates: shingle → minhash → band → join.

    The bands frame is localCheckpoint'ed (lazy) before the self-join:
    both join sides then read one materialization instead of re-running
    the shingle explosion + signature aggregation twice (measured ~2× at
    sf0.1; on a cluster the equivalent is persisting the signature
    table, which a production dedup would do anyway to reuse across
    runs)."""
    bands = lsh_bands(
        minhash_signatures(shingles(docs, n), n_hashes), rows_per_band
    ).localCheckpoint(eager=False)
    return lsh_candidate_pairs(bands, max_band_size=max_band_size)


def jaccard_pairs(
    sh: DataFrame,
    min_jaccard: float = 0.0,
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard on the shingle inverted index (the verify
    stage after LSH, or standalone for bounded corpora).

    ``sh`` is consumed three times (sizes + both join sides) —
    materialize it once (lazy localCheckpoint) instead of re-deriving
    the shingle explosion thrice. Callers that embed this frame in a
    larger plan where the downstream exchanges already dedupe via
    ReuseExchange pass ``materialize=False``: the localCheckpoint then
    only costs its eager Catalyst planning (~0.45 s/call, r10 guide §1
    measurement) without buying any exec reuse."""
    if materialize:
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            (
                F.col("n_common") * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def verify_candidates(
    cands: DataFrame, sh: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact-Jaccard verification restricted to LSH candidate pairs —
    the verify stage at scale. Work is candidates × shingles-per-doc
    (explode the pair by side A's shingles, equi-join side B), never the
    all-pairs co-occurrence space. Returns (doc_a, doc_b, jaccard)."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sha = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    shb = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        cands.select("doc_a", "doc_b")
        .join(sha, "doc_a")
        .join(shb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common") * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def dedup_corpus(
    docs: DataFrame,
    n: int = 3,
    n_hashes: int = 8,
    rows_per_band: int = 2,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
    max_band_size: int | None = None,
) -> tuple[DataFrame, dict]:
    """The whole near-dup pipeline as one call: shingle → MinHash/LSH
    candidates → exact-Jaccard verify (candidates only) → connected
    components → keep the min-id document per duplicate cluster.

    Returns (kept_docs, stats). Idempotent: deduping the result removes
    nothing. Every stage is an equi-join or map-side-combinable
    aggregate — the composition stays 100 TB-shaped because each piece
    is (see each operator's docstring)."""
    from data_lake_spark.operators.graph import connected_components

    # shingles feed minhash AND the 3-way verify — one materialization
    sh = shingles(docs, n, id_col=id_col).localCheckpoint(eager=False)
    cands = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(sh, n_hashes, id_col=id_col),
                  rows_per_band, id_col=id_col),
        id_col=id_col,
        max_band_size=max_band_size,
    )
    edges = verify_candidates(cands, sh, id_col=id_col).filter(
        F.col("jaccard") >= min_jaccard
    )
    nodes = docs.select(F.col(id_col).alias("node"))
    clusters = connected_components(nodes, edges, src_col="doc_a", dst_col="doc_b")
    keep_ids = clusters.filter(F.col("node") == F.col("cluster_id")).select(
        F.col("node").alias(id_col)
    )
    kept = docs.join(keep_ids, id_col, "left_semi")
    stats = {
        "n_docs": docs.count(),
        "n_candidate_pairs": cands.count(),
        "n_verified_edges": edges.count(),
        "n_kept": kept.count(),
    }
    stats["n_removed"] = stats["n_docs"] - stats["n_kept"]
    return kept, stats


def simhash16_expr(text_col: str = "text") -> Column:
    """Map-only 16-bit SimHash of a whitespace-tokenized text column.

    Same hash family and arithmetic as the explode→groupBy formulation
    (md5 hex chars 1..16 vote ±1 per bit over DISTINCT tokens; bit set
    when the vote sum is positive) but computed with higher-order array
    functions — one row per document, ZERO shuffle, where the explode
    form pushed tokens×16 vote rows through two hash aggregations. The
    vote sums are exact integer folds, so fingerprints are bit-identical
    to the explode form and to the DuckDB oracle (queries/dedup.py)."""

    def votebits(h: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(16)),
            lambda i: F.when(
                F.ascii(h.substr(i, F.lit(1))) % 2 == 1, F.lit(1)
            ).otherwise(F.lit(-1)),
        )

    # hash each distinct token ONCE up front: lambda bodies get no
    # common-subexpression elimination, so folding over raw tokens would
    # recompute the md5 16× (once per bit) per token
    hashes = F.transform(
        F.array_distinct(F.split(F.col(text_col), " ")), lambda t: F.md5(t)
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 16),
        lambda acc, h: F.zip_with(acc, votebits(h), lambda a, b: a + b),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(15)),
            lambda v, b: F.when(
                v > 0, F.pow(F.lit(2.0), b).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash16_exploded(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash16) via explode→groupBy — the SHUFFLE-based twin of
    :func:`simhash16_expr`, kept as a measured alternative, not the
    default. Same hash family and exact integer vote sums, so
    fingerprints are bit-identical (parity test in
    tests/test_simhash_forms.py).

    Regime guide (measured at sf0.1 local[32], see PLANS.md): the two
    forms are within VM noise of each other locally — the explode form
    pays two hash-aggregate shuffles of tokens×16 vote rows; the
    map-only form pays more interpreted per-row expression work. At
    100 TB shuffle capacity is the binding constraint, so the
    zero-shuffle expression form stays the default; pick this one only
    when per-core CPU is the bottleneck and the cluster's shuffle tier
    is idle."""
    toks = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).distinct()
    bits = toks.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.substring(F.md5(F.col("tok")), 1, 16), "(?!^)")
        ).alias("bit", "ch"),
    ).select(
        F.col(id_col),
        "bit",
        F.when(F.ascii(F.col("ch")) % 2 == 1, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("vote"),
    )
    votes = bits.groupBy(id_col, "bit").agg(F.sum("vote").alias("v"))
    return votes.groupBy(id_col).agg(
        F.sum(
            F.when(
                F.col("v") > 0,
                F.pow(F.lit(2.0), F.col("bit")).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("simhash16")
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 5, window: int = 4, id_col: str = "doc_id"
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03) document
    fingerprints: hash k-token shingles (the rolling hash, here md5),
    keep the MIN hash of each sliding window of `window` consecutive
    shingle hashes, distinct. Output: (id, fingerprint) — join on
    fingerprint to find local (partial-copy) overlap, which whole-doc
    MinHash misses."""
    toks = docs.select(
        F.col(id_col), F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    cols = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    hashed = (
        toks.select(F.col(id_col), F.col("pos"), *[c.alias(f"t{i}") for i, c in enumerate(cols)])
        .filter(F.col(f"t{k-1}").isNotNull())
        .select(
            F.col(id_col),
            "pos",
            F.md5(F.concat_ws(" ", *[f"t{i}" for i in range(k)])).alias("h"),
        )
    )
    wmin = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    return (
        hashed.select(F.col(id_col), F.min("h").over(wmin).alias("fingerprint"))
        .distinct()
    )


def token_kgrams(
    docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    guard_pos: bool = False,
) -> DataFrame:
    """Positioned k-token rolling grams: (id, pos, h) with h =
    md5(k space-joined tokens starting at 0-based token pos). The
    winnow_fingerprints gram builder factored out so ExactSubstr can
    reuse it WITH positions (winnowing throws positions away after the
    window-min). One narrow shuffle (the per-doc lead window).

    ``guard_pos=True`` enforces the :func:`pack_doc_pos` position bound
    ONCE PER DOCUMENT instead of once per gram row: the per-row
    ``when``/``raise_error`` branch inside ``enc`` measured +0.2–0.4 s
    per gram-family query at sf0.1 (guide §1 A/B), while the per-doc
    check on the un-exploded array is one comparison per document. The
    bound is EXACT, not conservative: a doc of n tokens emits max pos
    n - k, so every emitted pos fits iff n <= _POS_BITS + k - 1 (the
    r10 form checked n <= _POS_BITS, which rejected previously-valid
    docs with n in (_POS_BITS, _POS_BITS + k - 1] — the round-10
    ADVICE equivalence fix). Callers that pack the result pair this
    with ``pack_doc_pos(..., pos_bounded=True)``."""
    arr = F.split(F.col(text_col), " ")
    if guard_pos:
        arr = F.when(F.size(arr) <= F.lit(_POS_BITS + k - 1), arr).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "pack_doc_pos overflow: document token count > "
                        f"{_POS_BITS + k - 1} cannot be position-packed "
                        "into the int64 (doc_id,pos) key; raise _POS_BITS or "
                        "switch the keeper to a (doc_id,pos) struct MIN "
                        "— n_tokens="
                    ),
                    F.size(F.split(F.col(text_col), " ")).cast("string"),
                )
            )
        )
    toks = docs.select(
        F.col(id_col),
        F.posexplode(arr).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    cols = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    return (
        toks.select(
            F.col(id_col), "pos", *[c.alias(f"t{i}") for i, c in enumerate(cols)]
        )
        .filter(F.col(f"t{k-1}").isNotNull())
        .select(
            F.col(id_col),
            "pos",
            F.md5(F.concat_ws(" ", *[f"t{i}" for i in range(k)])).alias("h"),
        )
    )


# Positions are packed with doc_id into one int64 join/compare key:
# doc_id·2²⁰ + pos. 2²⁰ tokens/doc is far above this corpus's max and
# the packing keeps the per-hash keeper a single MIN aggregate that is
# bit-identical across engines; at 100 TB (64-bit hashed doc ids) swap
# the packing for MIN over a (doc_id, pos) struct — same plan shape.
_POS_BITS = 1 << 20


def pack_doc_pos(id_col, pos_col, pos_bounded: bool = False):
    """The canonical (doc_id, pos) → int64 packing, with a HARD
    overflow guard: a position ≥ ``_POS_BITS`` raises at compute time
    (i.e. at index WRITE time for the streaming ingests) instead of
    silently bleeding into the next doc_id. The bound is enforced, not
    assumed, because takedown correctness now rides on decoding the
    doc id back out of ``keeper`` (``keeper DIV 2²⁰``): an unguarded
    overflow would make a tombstone filter leave a deleted document's
    postings live — a silent legal-deletion leak — and could drop a
    survivor's. The ``when`` branch stays inside whole-stage codegen
    (one comparison per row, no Python).

    ``pos_bounded=True`` skips the per-row branch when the caller has
    ALREADY enforced the bound upstream at document granularity
    (``token_kgrams(..., guard_pos=True)`` — one comparison per doc
    instead of per gram; the r10 A/B measured the per-row form at
    +0.2–0.4 s per gram-family query at sf0.1). Every packing call
    site must keep exactly one of the two guards live."""
    if pos_bounded:
        return id_col.cast("long") * F.lit(_POS_BITS) + pos_col
    return id_col.cast("long") * F.lit(_POS_BITS) + F.when(
        pos_col < F.lit(_POS_BITS), pos_col
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "pack_doc_pos overflow: token position >= "
                    f"{_POS_BITS} cannot be packed (doc too long for the "
                    "int64 (doc_id,pos) key; raise _POS_BITS or switch "
                    "the keeper to a (doc_id,pos) struct MIN) — pos="
                ),
                pos_col.cast("string"),
            )
        )
    )


def exact_substr_spans(
    docs: DataFrame,
    k: int = 10,
    min_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better"): find verbatim token runs of >=
    ``min_tokens`` that also occur elsewhere in the corpus — at ANY
    offset, crossing any line/segment boundary — and report the
    non-canonical occurrences as removable spans. The paper builds a
    corpus suffix array; the scalable Spark re-expression is the
    k-token rolling-hash inverted index + extend-and-merge:

    1. every k-gram occurring more than once corpus-wide is "duplicated";
       its canonical occurrence (keeper) is the MIN (doc_id, pos);
    2. a position is REDUNDANT if its k-gram is duplicated and it is not
       the keeper — a duplicated run of s tokens marks s-k+1 consecutive
       positions, so runs re-emerge as islands of redundant positions;
    3. islands (gaps-and-islands via pos - row_number) extend k-1 tokens
       past their last marked position and become spans; spans shorter
       than ``min_tokens`` are noise (single colliding k-grams) and drop.

    Differences from the suffix-array exact algorithm, both conservative
    and documented: runs shorter than k tokens are invisible (k <=
    min_tokens, so never a reported-span miss), and two distinct
    duplicated runs closer than k tokens merge into one span
    (extend-and-merge over-removal, the standard approximation).

    Scale shape: one narrow per-doc window (gram build), one
    map-side-combinable groupBy(h) for the keeper index, one equi-join
    of grams against the (duplicated-only, far smaller) keeper index,
    one per-doc island window. No pair space anywhere — the candidate
    structure is the inverted index itself, never doc×doc.

    Returns (id, span_start, span_tokens) — 0-based token offset and
    length, non-keeper occurrences only.
    """
    grams = token_kgrams(docs, k, id_col, text_col, guard_pos=True).withColumn(
        "enc", pack_doc_pos(F.col(id_col), F.col("pos"), pos_bounded=True)
    )
    marked = gram_keeper_marks(grams).select(id_col, "pos")
    return spans_from_marked(marked, k, min_tokens, id_col)


# Salt-bucket count for the two-level keeper min: the bound on one
# task's input for a hash h is |h| / _GRAM_SALTS-ish regardless of how
# hot a boilerplate gram gets. 0 selects the unsalted single-window
# form, the reference path the skew test compares against.
_GRAM_SALTS = 16


def gram_keeper_marks(grams: DataFrame) -> DataFrame:
    """Non-keeper gram occurrences with the corpus-wide keeper
    attached: every row of ``grams`` (… h, enc …) whose ``enc`` is NOT
    the minimum for its hash, plus a ``_keeper`` column holding that
    minimum. ``enc > min(enc) over h`` is exactly the old
    ``(count > 1) AND (enc != keeper)`` mark (enc is unique per row, so
    the keeper row itself is the only unmarked row of a duplicated
    hash, and a count-1 hash's sole row IS its keeper) — the count
    aggregate is redundant and dropped.

    Skew posture (r11, guide §2.5): the r10 form was one
    ``Window.partitionBy(h)`` — every gram row shuffles by raw h and a
    mega-frequent gram (boilerplate at 100 TB) lands ONE window task,
    which AQE cannot split (skew handling applies to joins only). The
    salted shape makes the per-task bound STRUCTURAL:

    1. keeper index: ``groupBy(h).agg(min(enc), count)`` — map-side
       combined, so the reduce input per hash is bounded by the map
       task count no matter how hot the gram; ``count > 1`` keeps only
       DUPLICATED grams (the old pre-r10 filter, far smaller);
    2. the index fans out ×salts (``explode``) to one row per
       (h, salt) — duplicated-hash rows only, narrow;
    3. marks: the heavy gram frame joins that index on (h, salt) with
       salt = xxhash64(enc) mod salts — deterministic under task retry
       (guide §2.5 / SPARK-38388) — via SHUFFLE_HASH (probe streams,
       no sort), so a hot hash's probe rows spread across its salt
       buckets: no task ever owns a whole hash (pinned by the
       synthetic hot-gram test in tests/test_exact_substr.py).

    The index branch re-derives (h, enc) above the gram builder's
    per-doc token exchange, which IS ReusedExchange-shared with the
    probe branch (verified in the r11 executedPlan) — the extra work
    is the lead-window + md5 projection, never a second corpus scan or
    a second corpus-sized shuffle. Measured at sf0.1 this shape costs
    ~0.3 s over the window form (interleaved A/B, OPTIMIZATION_r11.md)
    — the deliberate price of unconditional skew boundedness at scale.
    Identical output to the window form for every input
    (tests/test_exact_substr.py pins both directions)."""
    salts = _GRAM_SALTS
    if salts <= 0:  # reference path: the r10 single-window form
        wh = Window.partitionBy("h")
        return grams.withColumn("_keeper", F.min("enc").over(wh)).filter(
            F.col("enc") > F.col("_keeper")
        )
    idx = (
        grams.groupBy("h")
        .agg(F.min("enc").alias("_keeper"), F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(salts - 1)).cast("array<long>")),
        )
        .select("h", "_salt", "_keeper")
    )
    return (
        grams.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("enc")), F.lit(salts))
        )
        .join(idx.hint("shuffle_hash"), ["h", "_salt"])
        .filter(F.col("enc") > F.col("_keeper"))
        .drop("_salt")
    )


def exact_substr_spans_from_index(
    docs: DataFrame,
    index: DataFrame,
    k: int = 10,
    min_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """:func:`exact_substr_spans` against a PREBUILT keeper index —
    ``index`` is the (h, keeper, c) frame the batch form derives
    internally (keeper = corpus-wide MIN packed (doc_id, pos) per gram
    hash, c = corpus-wide occurrence count). Both stats are mergeable
    (MIN of per-batch MINs, SUM of per-batch counts), so the index can
    be maintained incrementally by streaming ingest
    (streaming/incremental.start_gram_index_ingest +
    read_gram_index) instead of rebuilt from scratch per run: new
    documents screen against all history at inverted-index cost. When
    the index covers exactly ``docs``, the result is bit-identical to
    :func:`exact_substr_spans` (the stream==batch equivalence test)."""
    grams = token_kgrams(docs, k, id_col, text_col, guard_pos=True).withColumn(
        "enc", pack_doc_pos(F.col(id_col), F.col("pos"), pos_bounded=True)
    )
    keep = index.filter(F.col("c") > 1).select("h", "keeper")
    marked = (
        grams.join(keep, "h")
        .filter(F.col("enc") != F.col("keeper"))
        .select(id_col, "pos")
    )
    return spans_from_marked(marked, k, min_tokens, id_col)


def spans_from_marked(
    marked: DataFrame, k: int, min_tokens: int, id_col: str = "doc_id"
) -> DataFrame:
    """Gaps-and-islands over marked k-gram positions → token spans:
    consecutive marked positions (pos - row_number per doc) merge into
    runs, each run extends k-1 tokens past its last marked position,
    and runs shorter than ``min_tokens`` drop as noise. Shared by
    :func:`exact_substr_spans` (corpus-duplicate marks) and the
    span-level decontaminator (benchmark-collision marks). The window
    partitions by document — parallel over docs, never corpus-wide."""
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = marked.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy(id_col, "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
        )
        .withColumn(
            "span_tokens", F.col("span_end") - F.col("span_start") + 1
        )
        .filter(F.col("span_tokens") >= min_tokens)
        .select(id_col, "span_start", "span_tokens")
    )


def decontam_spans(
    train: DataFrame,
    bench: DataFrame,
    k: int = 5,
    min_tokens: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Span-level benchmark decontamination — the surgical upgrade of
    whole-doc n-gram collision filtering (GPT-3, Brown et al. 2020
    §C): instead of dropping any training doc that shares one n-gram
    with the eval set, report the maximal contaminated SPANS (runs of
    benchmark-colliding k-grams extending k-1 tokens, >= ``min_tokens``
    — 13 is the GPT-3 collision width), so the pipeline can excise
    benchmark text and keep the rest of the document.

    Scale shape: the benchmark side is distinct gram hashes of a tiny
    corpus → broadcast; the train side is one positioned-gram build +
    a broadcast hash semi-join + the per-doc islands window. No corpus
    shuffle on the gram key at any scale.

    Returns (id, span_start, span_tokens) on the TRAIN side.
    """
    grams = token_kgrams(train, k, id_col, text_col)
    bench_h = (
        token_kgrams(bench, k, id_col, text_col).select("h").distinct()
    )
    marked = grams.join(F.broadcast(bench_h), "h").select(id_col, "pos")
    return spans_from_marked(marked, k, min_tokens, id_col)


def exact_substr_dedup(
    docs: DataFrame,
    k: int = 10,
    min_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply :func:`exact_substr_spans`: cut every reported span out of
    its document and reassemble the remainder in token order — the
    transform ExactSubstr actually ships (the keeper occurrence of each
    duplicated run survives; every other occurrence is excised).

    Span token ranges can OVERLAP (an island's k-1 extension can reach
    into the next island), so coverage is the DISTINCT union of their
    positions. Reassembly sorts (pos, tok) structs inside the aggregate
    — partition-order-independent on any cluster. Documents that lose
    every token (whole-doc verbatim copies) still appear, with empty
    text — the left join from the corpus, the drop_common_segments
    convention.

    Returns (id, clean_text, n_kept, n_removed).
    """
    spans = exact_substr_spans(docs, k, min_tokens, id_col, text_col)
    covered = spans.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.col("span_start"),
                F.col("span_start") + F.col("span_tokens") - 1,
            )
        ).alias("pos"),
    ).distinct()
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    kept = toks.join(covered, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    removed = covered.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_removed")
    )
    return (
        docs.select(id_col)
        .join(rebuilt, id_col, "left")
        .join(removed, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_removed", F.lit(0)).cast("long").alias("n_removed"),
        )
    )


def drop_common_segments(
    segs: DataFrame,
    max_freq: int = 1,
    id_col: str = "doc_id",
    pos_col: str = "pos",
    seg_col: str = "seg",
    sep: str = " ",
) -> DataFrame:
    """Corpus-level boilerplate removal — the CCNet/C4 "line dedup"
    generalized to any segmentation (lines, sentences, fixed word
    windows). Input is one row per (doc, position, segment); any segment
    whose CORPUS frequency exceeds ``max_freq`` (navigation chrome,
    license headers, cookie banners — text shared across documents, not
    duplicated documents) is dropped from every document, and documents
    are reassembled in original segment order.

    Scale shape: one map-side-combinable frequency aggregate, one
    left-anti equi-join on the segment key (short strings; substitute
    ``xxhash64(seg)`` as the join key at petabyte scale if segment
    shuffle width dominates — exactness then modulo 64-bit collisions),
    and one per-document reassembly aggregate whose collect_list is
    ordered deterministically by sorting (pos, seg) structs — partition-
    order-independent at any cluster size. Documents that lose every
    segment still appear (empty text): callers left-join this output
    back to the corpus.

    Returns (id, text, n_kept).
    """
    hot = (
        segs.groupBy(seg_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_freq)
        .select(seg_col)
    )
    kept = segs.join(hot, seg_col, "left_anti")
    return kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct(pos_col, seg_col))),
                lambda x: x[seg_col],
            ),
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
