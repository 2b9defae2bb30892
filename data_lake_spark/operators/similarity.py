"""Similarity search over embedding columns (array<float>).

Two tiers, mirroring production ANN systems:

- :func:`cosine_topk` — exact brute force: correct baseline, O(Q×N);
  right when Q (queries) is small and broadcastable.
- :func:`srp_buckets` + :func:`ann_topk_bucketed` — sign-random-projection
  (SimHash-for-vectors) bucketing: each vector maps to a small bucket id
  from the signs of n_planes ±1-weighted projections; candidates come from
  an equi-join on the bucket — the LSH scale path, O(Q×bucket size).
- :func:`ivf_assign` — IVF-style partitioning: assign every vector to its
  nearest centroid; searches then probe only the closest cells. Here
  centroids come from the labeled groups (k-means' update step is the same
  aggregation, iterated).

Determinism: per-element products stay in IEEE double and are quantized
with floor at 1e-12 before the (exact, associative) integer sum — the
same recipe as functions/exact.py, so scores are bit-identical across
partitionings and engines. Plane weights are ±1 derived from md5 parity,
reproducible everywhere with no RNG.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

PSCALE = 1e12


def _to_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def dot_exact(a: str, b: str) -> Column:
    """Order-independent dot product of two array<double> columns."""
    prods = F.zip_with(F.col(a), F.col(b), lambda x, y: F.floor(x * y * F.lit(PSCALE)))
    return F.aggregate(prods, F.lit(0).cast("long"), lambda acc, p: acc + p).cast(
        "double"
    ) / F.lit(PSCALE)


def cosine(a: str, b: str) -> Column:
    return dot_exact(a, b) / (F.sqrt(dot_exact(a, a)) * F.sqrt(dot_exact(b, b)))


def norm_exact(col: str) -> Column:
    """L2 norm with the same quantized-sum determinism as dot_exact.
    Precompute this per vector BEFORE any pairwise join: it turns
    O(pairs × dim) self-dot work into O(vectors × dim) — same IEEE value
    (sqrt of the identical exact sum), just computed once."""
    return F.sqrt(dot_exact(col, col))


def cosine_topk(
    queries: DataFrame, candidates: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k: broadcast the (small) query set, stream the corpus.
    queries: (query_id, qv), candidates: (cand_id, cv). Norms are
    precomputed per side so each pair pays one dot product, not three.
    (r10 measured: an Arrow mapInArrow pair-dot kernel was ~1.3x SLOWER
    here — see the semantic_dedup note — so the dot stays a JVM HOF.)"""
    q = queries.withColumn("qn", norm_exact("qv"))
    c = candidates.withColumn("cn", norm_exact("cv"))
    pairs = F.broadcast(q).crossJoin(c).filter(
        F.col("query_id") != F.col("cand_id")
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        (dot_exact("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def srp_bucket_expr(vec_col: str, n_planes: int = 8) -> Column:
    """Sign-random-projection bucket id as a single Column expression.

    Plane weights w(p, d) ∈ {+1, -1} come from md5 parity of "p:d" — a
    fixed, engine-independent hash family. bit_p = [Σ_d w(p,d)·x_d > 0];
    bucket = Σ 2^p·bit_p.

    Computed entirely with higher-order array functions — an outer
    ``transform`` over the plane sequence, an inner indexed ``transform``
    + ``aggregate`` over the vector — so each vector stays ONE row with
    zero explode and zero shuffle (the old explode form emitted D×P rows
    per vector into a two-level groupBy: 4 orders of magnitude more
    shuffle input at 1024-dim × 16 planes). Per-term floor quantization
    and the exact integer sum are unchanged, so bucket ids are
    bit-identical to the explode formulation."""
    vec = _to_double(vec_col)

    def sign(p: Column, d: Column) -> Column:
        return F.when(
            F.ascii(
                F.substring(
                    F.md5(F.concat(p.cast("string"), F.lit(":"), d.cast("string"))),
                    1,
                    1,
                )
            )
            % 2
            == 1,
            F.lit(1),
        ).otherwise(F.lit(-1))

    def proj(p: Column) -> Column:
        terms = F.transform(vec, lambda x, d: F.floor(sign(p, d) * x * F.lit(PSCALE)))
        return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)

    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda p: F.when(
                proj(p) > 0, F.pow(F.lit(2.0), p).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )


def srp_weights(n_planes: int, dim: int) -> list[list[int]]:
    """The ±1 plane-weight matrix of :func:`srp_bucket_expr`, computed
    driver-side: md5("p:d") hex-parity — byte-identical to the in-engine
    md5 recipe, so both formulations bucket identically. The matrix is
    data-independent (pure constants), so there is no reason to evaluate
    P×D md5 calls per corpus ROW — precompute once, ship as ONE nested
    array Literal."""
    import hashlib

    return [
        [
            1 if ord(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0]) % 2 == 1 else -1
            for d in range(dim)
        ]
        for p in range(n_planes)
    ]


def srp_bucket_expr_lit(vec_col: str, n_planes: int, dim: int) -> Column:
    """:func:`srp_bucket_expr` with the weight matrix inlined as a single
    nested-array Literal (requires knowing ``dim``). Identical buckets,
    ~P×D fewer interpreted md5/substring evaluations per row — the form
    every fixed-dim corpus should use; the dim-agnostic expression form
    remains for schema-on-read paths where dim is unknown at plan time."""
    w_lit = F.lit(srp_weights(n_planes, dim))
    vec = _to_double(vec_col)

    def proj(p: Column) -> Column:
        terms = F.zip_with(
            F.element_at(w_lit, (p + 1).cast("int")),
            vec,
            lambda w, x: F.floor(w * x * F.lit(PSCALE)),
        )
        return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)

    return F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda p: F.when(
                proj(p) > 0, F.pow(F.lit(2.0), p).cast("long")
            ).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc + b,
    )


def _vec_dim(emb: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from one row (uniform-dim contract —
    the scan is LIMIT 1, a constant-cost driver lookup)."""
    row = emb.select(F.size(F.col(vec_col)).alias("d")).limit(1).first()
    return int(row["d"])


def srp_buckets(
    emb: DataFrame, n_planes: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, bucket) per vector — a pure map-side projection using the
    literal-weights bucket expression (dim probed once)."""
    dim = _vec_dim(emb, vec_col)
    return emb.select(
        F.col(id_col), srp_bucket_expr_lit(vec_col, n_planes, dim).alias("bucket")
    )


def ann_topk_bucketed(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scan_partitions: int = 16,
) -> DataFrame:
    """LSH-bucketed ANN: exact cosine only within the query's bucket.
    Recall < 1 by design (single probe); add multi-probe or more tables
    for higher recall — the plan shape stays an equi-join. Buckets are an
    inline projection (literal-weights form), not a join. The corpus is
    repartitioned before scoring so per-bucket cosine work spreads
    across tasks even when the input is one small file (AQE sizes
    stages by pre-join bytes; the scoring cost appears after)."""
    dim = _vec_dim(emb, vec_col)
    vecs = emb.repartition(scan_partitions).select(
        F.col(id_col),
        _to_double(vec_col).alias("v"),
        srp_bucket_expr_lit(vec_col, n_planes, dim).alias("bucket"),
    )
    q = (
        vecs.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("bucket").alias("qb"),
        )
    )
    c = vecs.select(
        F.col(id_col).alias("cand_id"), F.col("v").alias("cv"), F.col("bucket").alias("cb")
    )
    pairs = (
        F.broadcast(q.withColumn("qn", norm_exact("qv")))
        .join(c.withColumn("cn", norm_exact("cv")), F.col("qb") == F.col("cb"))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        (dot_exact("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def ivf_assign(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """IVF cell assignment: centroids = per-label exact means (micros per
    dimension), every vector assigned to the nearest centroid by squared
    L2. This is one k-means step; iterate to convergence for real IVF
    training. Explode → groupBy → join on dimension: every stage is a
    hash shuffle on uniform keys."""
    elems = emb.select(
        F.col(id_col),
        F.col(label_col),
        F.posexplode(_to_double(vec_col)).alias("d", "x"),
    )
    centroids = elems.groupBy(label_col, "d").agg(
        (
            F.sum(F.floor(F.col("x") * F.lit(PSCALE))).cast("double")
            / F.lit(PSCALE)
            / F.count("x")
        ).alias("c")
    )
    cj = centroids.select(
        F.col(label_col).alias("cell"), F.col("d"), F.col("c")
    )
    dists = (
        elems.join(cj, "d")
        .select(
            F.col(id_col),
            F.col(label_col),
            "cell",
            F.floor((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * F.lit(PSCALE)).alias("t"),
        )
        .groupBy(id_col, label_col, "cell")
        .agg(F.sum("t").alias("d2"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("cell").asc())
    return (
        dists.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            F.col(id_col),
            F.col(label_col).alias("orig_label"),
            F.col("cell").alias("assigned_cell"),
            (F.col("d2").cast("double") / F.lit(PSCALE)).alias("dist2"),
        )
    )


def ivf_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(cell, d, c): per-label exact-mean centroids — THE stored IVF
    artifact. Train once (this aggregation is the only full-corpus
    pass), persist (parquet / versioned.write_version), and hand the
    read-back frame to probed_cells / ivf_search / ivf_pq_topk so
    serving queries are pure probes that never rescan the corpus —
    the same fixed-model contract as streaming start_ivf_index_ingest.
    Cell-count × dim rows: always broadcastable."""
    elems = emb.select(
        F.col(label_col),
        F.posexplode(_to_double(vec_col)).alias("d", "x"),
    )
    return (
        elems.groupBy(label_col, "d")
        .agg(
            (
                F.sum(F.floor(F.col("x") * F.lit(PSCALE))).cast("double")
                / F.lit(PSCALE)
                / F.count("x")
            ).alias("c")
        )
        .select(F.col(label_col).alias("cell"), "d", "c")
    )


def probed_cells(
    emb: DataFrame,
    query_ids: list[int],
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(query_id, cell): the ``n_probe`` cells nearest each query by
    quantized squared L2 to the exact-mean centroids — the
    probe-selection stage shared by ivf_search (exact scoring inside
    cells) and ivf_pq_topk (compressed ADC scoring inside cells).

    Pass ``centroids`` (a persisted :func:`ivf_centroids` artifact,
    (cell, d, c)) to make this a pure probe: only the query vectors are
    read from the corpus (an id-pushdown scan), O(probe) not O(corpus)
    per call. Without it, centroids retrain in-query from the full
    corpus — the self-contained form the oracle queries use."""
    if centroids is None:
        centroids = ivf_centroids(emb, id_col, vec_col, label_col)

    q_elems = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col), F.posexplode(_to_double(vec_col)).alias("d", "x"))
        .select(F.col(id_col).alias("query_id"), "d", "x")
    )
    qdist = (
        q_elems.join(centroids, "d")
        .groupBy("query_id", "cell")
        .agg(
            F.sum(
                F.floor((F.col("x") - F.col("c")) * (F.col("x") - F.col("c")) * F.lit(PSCALE))
            ).alias("d2")
        )
    )
    w_cell = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cell").asc())
    return qdist.withColumn("cr", F.row_number().over(w_cell)).filter(
        F.col("cr") <= n_probe
    ).select("query_id", "cell")


def ivf_search(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF probe search: rank cells by query→centroid distance, search
    ONLY the ``n_probe`` nearest cells' inverted lists, exact cosine
    within them. The 100 TB shape: the corpus is partitioned by cell, a
    query touches n_probe/N_cells of it, and every step is an equi-join
    or map-side-combinable aggregate. Recall < 1 by design; raise n_probe
    to trade cost for recall. Pass a persisted :func:`ivf_centroids`
    artifact as ``centroids`` so serving calls skip in-query retraining
    (probe selection then reads only the query vectors)."""
    probed = probed_cells(
        emb, query_ids, n_probe, id_col, vec_col, label_col, centroids
    )

    vecs = emb.select(
        F.col(id_col), F.col(label_col), _to_double(vec_col).alias("v")
    ).withColumn("nrm", norm_exact("v"))
    q = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cands = (
        F.broadcast(probed.join(q, "query_id"))
        .join(vecs, F.col(label_col) == F.col("cell"))
        .filter(F.col(id_col) != F.col("query_id"))
    )
    scored = cands.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        F.col("cell"),
        (dot_exact("qv", "v") / (F.col("qn") * F.col("nrm"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def subsplit_cells(
    e: DataFrame,
    max_cell: int,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Replace ``label_col`` with a deterministic sub-cell id so no cell
    exceeds ≈``max_cell`` members: cell → "cell#(u16(id) mod n_sub)"
    with n_sub = ceil(members / max_cell), u16 = first 4 md5 hex digits
    of the id (the repo's engine-portable hash family).

    THE SemDeDup scale knob: the paper scales cluster count with corpus
    size precisely because within-cluster pairwise work is quadratic —
    sub-splitting bounds it at O(N · max_cell) total, trading recall
    (cross-sub-cell pairs are never compared) for a flat cost curve.
    Deterministic, so results are stable under any partitioning."""
    sizes = e.groupBy(label_col).agg(F.count(F.lit(1)).alias("__n"))
    h = F.md5(F.col(id_col).cast("string"))
    u16 = F.lit(0)
    for i in range(1, 5):
        u16 = u16 * 16 + (
            F.instr(F.lit("0123456789abcdef"), F.substring(h, i, 1)) - 1
        )
    n_sub = F.ceil(F.col("__n") / F.lit(max_cell)).cast("long")
    return (
        e.join(F.broadcast(sizes), label_col)
        .withColumn(
            label_col,
            F.concat_ws(
                "#",
                F.col(label_col).cast("string"),
                F.pmod(u16.cast("long"), n_sub).cast("string"),
            ),
        )
        .drop("__n")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: DataFrame,
    tau: float = 0.30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, arXiv
    2303.09540): within each cluster/cell, vectors whose pairwise cosine
    exceeds ``tau`` are duplicate groups; KEEP the member farthest from
    the cell centroid (lowest centroid cosine — the paper's rule: the
    least-prototypical example carries the most marginal information)
    and drop the rest. Tie on centroid cosine → smaller id wins.

    Output: one row per vector — (id, cell, cos_cent, dropped). The kept
    corpus is ``dropped = false``.

    Plan shape: pairwise work is BLOCKED by the cell (equi-join on the
    cluster id — O(Σ cell²), never O(N²)); centroid cosines are one
    equi-join of exploded elements against the broadcast-scale
    ``centroids`` artifact ((cell, d, c) — similarity.ivf_centroids,
    persisted in production). The drop rule is a pairwise-orientation
    filter + distinct, all equi-joins. Quantized-floor dot products
    keep every cosine bit-identical across partitionings and engines.

    ``max_cell`` bounds the per-cell pair space via
    :func:`subsplit_cells` (pair BLOCKING only — centroid cosines keep
    the true cell). REQUIRED when cell population grows with the
    corpus: with a fixed cluster count, K× data is K²× pairwise work
    (measured: 8× data → ~21× wall in SCALING.md's uncapped row);
    capped, the cost curve is flat. None = exact all-pairs-within-cell
    (the oracle form). Capped drops are a SUBSET of exact drops (fewer
    pairs compared, same per-pair rule)."""
    # hash-spread on the blocking key with an EXPLICIT partition count:
    # sized from shuffle.partitions so big clusters keep their
    # parallelism (a hardcoded 16 halved local[32]), but pinned —
    # repartition(col) without a count is AQE-coalescible, and AQE sizes
    # by PRE-join bytes, funneling the quadratic pairwise stage that
    # explodes AFTER the exchange into ~2 tasks (measured 1.4 s → 3.1 s
    # at sf0.1; same trap q_embedding_neardup documents).
    from data_lake_spark.operators.partitioning import shuffle_parallelism

    n_parts = shuffle_parallelism(emb.sparkSession)
    e = (
        emb.select(
            F.col(id_col), F.col(label_col), _to_double(vec_col).alias("v")
        )
        .repartition(n_parts, label_col)
        .withColumn("nrm", norm_exact("v"))
        .localCheckpoint(eager=False)
    )
    pair_e = (
        subsplit_cells(e, max_cell, id_col, label_col) if max_cell else e
    )

    # cosine(vector, own-cell centroid) with the exact quantized recipe
    elems = e.select(
        F.col(id_col), F.col(label_col), F.posexplode("v").alias("d", "x")
    )
    cnorm = centroids.groupBy("cell").agg(
        F.sqrt(
            F.sum(F.floor(F.col("c") * F.col("c") * F.lit(PSCALE))).cast(
                "double"
            )
            / F.lit(PSCALE)
        ).alias("cn")
    )
    cdot = (
        elems.join(
            F.broadcast(centroids),
            (F.col(label_col) == F.col("cell")) & (elems["d"] == centroids["d"]),
        )
        .groupBy(id_col)
        .agg(F.sum(F.floor(F.col("x") * F.col("c") * F.lit(PSCALE))).alias("dq"))
    )
    # LEFT joins: a vector whose cell is absent from the centroids
    # artifact (stale/subset-trained model) keeps its output row with a
    # null cos_cent — and since null never satisfies either drop
    # predicate below, such vectors are neither dropped nor cause drops.
    # An inner join here would silently erase them from the result,
    # violating the one-row-per-vector contract.
    cc = (
        e.select(F.col(id_col), F.col(label_col).alias("cell"), "nrm")
        .join(cdot, id_col, "left")
        .join(F.broadcast(cnorm), "cell", "left")
        .select(
            F.col(id_col),
            "cell",
            (
                (F.col("dq").cast("double") / F.lit(PSCALE))
                / (F.col("nrm") * F.col("cn"))
            ).alias("cos_cent"),
        )
        .localCheckpoint(eager=False)
    )

    # blocked pairwise cosine, kept as a<b then viewed in both orientations
    a = pair_e.select(
        F.col(id_col).alias("ia"), F.col(label_col),
        F.col("v").alias("va"), F.col("nrm").alias("na"),
    )
    b = pair_e.select(
        F.col(id_col).alias("ib"), F.col(label_col),
        F.col("v").alias("vb"), F.col("nrm").alias("nb"),
    )
    # r10 MEASURED NEGATIVE: routing this pair scoring through an Arrow
    # mapInArrow kernel (one vectorized numpy dot per batch) was 1.3-1.6x
    # SLOWER than this interpreted HOF at every call-site (interleaved
    # noop-sink A/B, sf0.1: semantic_dedup 1.73 s HOF vs 2.05 s kernel,
    # capped 1.44 vs 1.96, cosine_topk 0.78 vs 1.00) — each blocked pair
    # ships BOTH full vectors across the Python boundary, and that
    # serialization dwarfs the interpreted-lambda cost. The kernel
    # pattern wins only where Python REPLACES heavy per-element JVM work
    # (md5 in ann.doc_embed_arrays), not where it re-hosts multiplies.
    scored = (
        a.join(b, label_col)
        .filter(F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            (dot_exact("va", "vb") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(tau))
    )
    both = scored.select(
        F.col("ib").alias("x"), F.col("ia").alias("y")
    ).unionByName(scored.select(F.col("ia").alias("x"), F.col("ib").alias("y")))
    ccx = cc.select(F.col(id_col).alias("x"), F.col("cos_cent").alias("ccx"))
    ccy = cc.select(F.col(id_col).alias("y"), F.col("cos_cent").alias("ccy"))
    dropped = (
        both.join(ccx, "x")
        .join(ccy, "y")
        .filter(
            (F.col("ccy") < F.col("ccx"))
            | ((F.col("ccy") == F.col("ccx")) & (F.col("y") < F.col("x")))
        )
        .select(F.col("x").alias(id_col))
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        cc.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell").cast("long").alias("cell"),
            "cos_cent",
            F.coalesce(F.col("dropped"), F.lit(False)).alias("dropped"),
        )
    )


def ann_topk_multiprobe(
    emb: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scan_partitions: int = 16,
) -> DataFrame:
    """Multi-probe SRP ANN: each query searches its own bucket PLUS every
    bucket at Hamming distance 1 (one sign bit flipped) — the standard
    recall lever (Lv et al., "Multi-Probe LSH", VLDB'07) that costs
    (n_planes+1)× more candidates but needs no extra hash tables. Still a
    pure equi-join: the query side replicates to its probe buckets; each
    candidate lives in exactly ONE bucket, so no pair is emitted twice.
    Buckets are an inline projection (literal-weights form), not a join.
    Corpus repartitioned pre-scoring, same rationale as
    ann_topk_bucketed."""
    dim = _vec_dim(emb, vec_col)
    vecs = emb.repartition(scan_partitions).select(
        F.col(id_col),
        _to_double(vec_col).alias("v"),
        srp_bucket_expr_lit(vec_col, n_planes, dim).alias("bucket"),
    ).withColumn("nrm", norm_exact("v"))
    flips = F.array(F.lit(0), *[F.lit(2**i) for i in range(n_planes)])
    q = (
        vecs.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            F.col("bucket").alias("qb"),
        )
        .withColumn("flip", F.explode(flips))
        .withColumn("pb", F.col("qb").bitwiseXOR(F.col("flip")))
    )
    c = vecs.select(
        F.col(id_col).alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("bucket").alias("cb"),
    )
    pairs = F.broadcast(q).join(c, F.col("pb") == F.col("cb")).filter(
        F.col("query_id") != F.col("cand_id")
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        (dot_exact("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )
