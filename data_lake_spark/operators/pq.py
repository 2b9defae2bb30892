"""Product quantization (PQ) for embedding compression + ADC search.

The missing tier between exact scan and IVF probing (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011): split
each vector into ``m`` subvectors, learn a tiny per-subspace codebook
(``k`` centroids), and store each vector as ``m`` small codes. At 100 TB
this is the difference between scanning raw vectors (64 dims × 4 B =
256 B/vector) and scanning codes (m = 4 B/vector): a ~64× smaller scan
that is memory-bandwidth-, not compute-, bound.

Search uses asymmetric distance computation (ADC): per query, build a
lookup table LUT[s][c] = <query_sub(s), centroid(s, c)> (m×k entries —
dim-sized, broadcastable), then every candidate's approximate dot
product is a sum of m table lookups. In Spark that is an equi-join of
the codes table against the broadcast LUT on (subspace, code) followed
by a map-side-combinable sum — no shuffle of the raw vectors at all.
Compose with IVF cells (operators/similarity.py ivf_search) for IVF-PQ
when even the code scan must be pruned.

Determinism: codebook "training" is one deterministic k-means step —
seed assignment by md5 parity of (vec_id, subspace) (the same
engine-independent hash family as srp_bucket_expr), then exact
quantized means — so codebooks, codes, and ADC scores are bit-identical
across partitionings and reproducible in the DuckDB oracle
(queries/llm7.py) with the same arithmetic.

Reference parity: the reference has no ANN surface at all; this extends
the engine for the LLM-training-data workload (SURVEY §8) alongside
srp/ivf in operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_lake_spark.operators.similarity import PSCALE, _to_double, _vec_dim


_HEX = "0123456789abcdef"


def _seed_code(id_col: Column, s_col: Column, k: int) -> Column:
    """Deterministic initial code: first two md5 hex digits of "id:s"
    decoded to an int in [0, 256) (digit lookup — portable, both engines
    lowercase their md5 hex), mod k. Exactly uniform for any k dividing
    256; the earlier single-char ASCII form could only reach ~10 of 16
    codes at k=16 (ascii('0'..'9','a'..'f') % 16 collides 'a'-'f' onto
    1-6), silently shrinking the effective codebook."""
    h = F.md5(
        F.concat(id_col.cast("string"), F.lit(":"), s_col.cast("string"))
    )
    d1 = F.instr(F.lit(_HEX), F.substring(h, 1, 1)) - 1
    d2 = F.instr(F.lit(_HEX), F.substring(h, 2, 1)) - 1
    return ((d1 * 16 + d2) % k).cast("int")


def pq_elems(
    emb: DataFrame, m: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, s, d, x) element rows with subspace index s = d div (dim/m).
    One posexplode — the same uniform-key shuffle shape as ivf_assign."""
    dim = _vec_dim(emb, vec_col)
    subdim = dim // m
    return emb.select(
        F.col(id_col), F.posexplode(_to_double(vec_col)).alias("d", "x")
    ).withColumn("s", (F.col("d") / F.lit(subdim)).cast("int"))


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(s, code, d, c): per-subspace centroids from one deterministic
    k-means step — md5-parity seed assignment, exact quantized means.
    Output is m×k×dim rows (dim-sized): always broadcastable."""
    elems = pq_elems(emb, m, id_col, vec_col).withColumn(
        "code", _seed_code(F.col(id_col), F.col("s"), k)
    )
    return elems.groupBy("s", "code", "d").agg(
        (
            F.sum(F.floor(F.col("x") * F.lit(PSCALE))).cast("double")
            / F.lit(PSCALE)
            / F.count("x")
        ).alias("c")
    )


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, s, code): nearest centroid per subspace by quantized squared
    L2 (ties → smallest code). Broadcast-join elements against the
    dim-sized codebook, two map-side-combinable aggregations — the
    corpus shuffles only (id, s, code, d2) rows, never raw vectors
    against each other."""
    elems = pq_elems(emb, m, id_col, vec_col)
    d2 = (
        elems.join(F.broadcast(codebooks), ["s", "d"])
        .select(
            F.col(id_col),
            "s",
            "code",
            F.floor(
                (F.col("x") - F.col("c"))
                * (F.col("x") - F.col("c"))
                * F.lit(PSCALE)
            ).alias("t"),
        )
        .groupBy(id_col, "s", "code")
        .agg(F.sum("t").alias("d2"))
    )
    # argmin via min-of-struct: orders by d2 then code, so ties break to
    # the smallest code — no window needed, stays a hash aggregate
    return (
        d2.groupBy(id_col, "s")
        .agg(F.min(F.struct("d2", "code")).alias("best"))
        .select(F.col(id_col), "s", F.col("best.code").alias("code"))
    )


def pq_codebook_lit(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[list, list, int]:
    """Collect the (dim-sized: m×k×dim values) codebook to the driver
    for inlining as a Literal — the same move as srp_weights: model
    state that small has no business being a join side. Returns
    (values, present_codes, subdim) where values[s][c] is the subdim
    centroid slice (zeros when the seed assignment left (s, c) empty)
    and present_codes[s] lists the non-empty codes ascending."""
    dim = _vec_dim(emb, vec_col)
    subdim = dim // m
    rows = pq_codebooks(emb, m, k, id_col, vec_col).collect()
    values = [[[0.0] * subdim for _ in range(k)] for _ in range(m)]
    present: list[set] = [set() for _ in range(m)]
    for r in rows:
        values[r["s"]][r["code"]][r["d"] % subdim] = r["c"]
        present[r["s"]].add(r["code"])
    return values, [sorted(p) for p in present], subdim


def pq_encode_expr(
    vec_col: str, values: list, present: list, subdim: int
) -> Column:
    """Map-only PQ encode: codes for one vector as an array<int> Column,
    computed entirely with higher-order array functions against the
    inlined codebook Literal — ZERO shuffle, one row per vector, where
    the groupBy formulation shuffles N×dim element rows twice. Identical
    arithmetic (per-dim floor-quantized squared distance, exact long
    sum, ties to the smallest code), so codes are bit-identical to
    :func:`pq_encode`."""
    return _encode_col(vec_col, F.lit(values), len(values), present, subdim)


def _d2_of(sub: Column, cb: Column, s: int, c: Column) -> Column:
    cent = F.element_at(F.element_at(cb, s + 1), (c + 1).cast("int"))
    terms = F.zip_with(
        sub, cent, lambda x, cv: F.floor((x - cv) * (x - cv) * F.lit(PSCALE))
    )
    return F.aggregate(terms, F.lit(0).cast("long"), lambda acc, t: acc + t)


def _encode_col(
    vec_col: str, cb: Column, m: int, present: list, subdim: int
) -> Column:
    """Codes array for one vector against a codebook Column (a Literal
    or a broadcast one-row attribute — same arithmetic either way)."""
    vec = _to_double(vec_col)

    def best_code(s: int) -> Column:
        sub = F.slice(vec, s * subdim + 1, subdim)
        # array_min over (d2, code) structs: lexicographic struct order
        # gives argmin-with-smallest-code-on-ties — the same tie-break as
        # pq_encode's min-of-struct — and evaluates each candidate
        # distance exactly once
        pairs = F.transform(
            F.array(*[F.lit(c) for c in present[s]]),
            lambda c: F.struct(
                _d2_of(sub, cb, s, c).alias("d2"),
                c.cast("int").alias("code"),
            ),
        )
        return F.array_min(pairs)["code"]

    return F.array(*[best_code(s) for s in range(m)])


def _codebook_df(spark, values: list) -> DataFrame:
    """The collected codebook as a ONE-ROW broadcastable frame. Joining
    it (broadcast) and referencing the single array attribute keeps the
    per-query expression tree small — measurably less Catalyst/codegen
    time per run than re-inlining thousands of literal nodes, with
    identical results."""
    return spark.createDataFrame(
        [(values,)], "cb array<array<array<double>>>"
    )


def pq_codes_array(
    emb: DataFrame,
    values: list,
    present: list,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): the packed per-vector code word — the
    form an index stores (m small ints instead of dim floats). Same
    map-only encode, no explode at all."""
    cbdf = _codebook_df(emb.sparkSession, values)
    return (
        emb.crossJoin(F.broadcast(cbdf))
        .select(
            F.col(id_col),
            _encode_col(vec_col, F.col("cb"), len(values), present, subdim)
            .alias("codes"),
        )
    )


def pq_encode_map_only(
    emb: DataFrame,
    values: list,
    present: list,
    subdim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, s, code) rows via the map-only encode expression against the
    broadcast one-row codebook: a posexplode of the m-entry code array —
    no shuffle of the corpus. Bit-identical to :func:`pq_encode`
    (parity test in tests/test_pq.py)."""
    cbdf = _codebook_df(emb.sparkSession, values)
    return (
        emb.crossJoin(F.broadcast(cbdf))
        .select(
            F.col(id_col),
            F.posexplode(
                _encode_col(vec_col, F.col("cb"), len(values), present, subdim)
            ).alias("s", "code"),
        )
    )


def _codes_frame(
    emb: DataFrame,
    values: list,
    present: list,
    subdim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(cand_id, s, code), materialized once: the ADC join then plans
    against a small materialized input instead of re-optimizing the
    encode expression inside the larger query."""
    return (
        pq_encode_map_only(emb, values, present, subdim, id_col, vec_col)
        .select(F.col(id_col).alias("cand_id"), "s", "code")
        .localCheckpoint(eager=False)
    )


def codes_elems(codes_arr: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(cand_id, s, code) scoring rows from a STORED (id, codes
    array<int>) index — the :func:`pq_codes_array` /
    streaming start_ivfpq_index_ingest at-rest format. A map-only
    m-entry posexplode of the compressed codes; pass the result as
    ``codes`` to pq_adc_topk / ivf_pq_topk so serving calls read the
    m-byte index instead of re-encoding the corpus from raw vectors.

    When the index carries a ``batch_id`` column (the streaming
    ingest's per-batch directories), only each vector's LATEST entry is
    exploded — without this, a vector re-ingested in a later batch
    contributes code rows from both batches and its summed approx_dot
    doubles in pq_adc_topk / pq_adc_rerank_topk (the same trap
    ivf_pq_topk_indexed guards against, via the same shared helper)."""
    from data_lake_spark.operators.upsert import latest_batch

    return latest_batch(codes_arr, id_col).select(
        F.col(id_col).alias("cand_id"),
        F.posexplode("codes").alias("s", "code"),
    )


def _lut_frame(
    emb: DataFrame,
    query_ids: list[int],
    values: list,
    present: list,
    subdim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(query_id, s, code, lut): each query's m×k ADC lookup table.

    r10: computed on the DRIVER and emitted as a VALUES-literal frame.
    The LUT is model-state-sized (|Q|·m·k rows) and both inputs are
    already driver-local — the codebook IS the collected
    pq_codebook_lit triple, and the query vectors are an id-pushdown
    scan of |Q| parameter rows. The old expression form built m×k
    lambda subtrees per call (~1 s of py4j round-trips at m=8/k=16,
    measured via cProfile: 7k gateway calls inside q_ann_recall's
    build) and paid a crossJoin+explode at run time. Arithmetic here is
    the same IEEE schedule — floor(x·c·1e12) per element, exact integer
    sum — so every lut value is bit-identical (tests/test_pq.py parity
    suite drives both paths). Irregular rows (null / wrong-length
    vectors, where the HOF form's null-padding semantics differ from a
    Python zip) fall back to the expression form wholesale."""
    import math

    qvecs = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("q"), _to_double(vec_col).alias("v"))
        .collect()
    )
    dim = subdim * len(values)
    if all(r["v"] is not None and len(r["v"]) == dim for r in qvecs):
        rows = []
        for r in qvecs:
            vec = r["v"]
            for s in range(len(values)):
                sub = vec[s * subdim : (s + 1) * subdim]
                for c in present[s]:
                    cent = values[s][c]
                    lut = 0
                    for x, cv in zip(sub, cent):
                        lut += int(math.floor(x * cv * PSCALE))
                    rows.append((r["q"], s, c, lut))
        from data_lake_spark.functions.localframe import values_df

        id_type = emb.schema[id_col].dataType.simpleString()
        return values_df(
            emb.sparkSession,
            rows,
            f"query_id {id_type}, s int, code int, lut long",
        )
    return _lut_frame_expr(
        emb, query_ids, values, present, subdim, id_col, vec_col
    )


def _lut_frame_expr(
    emb: DataFrame,
    query_ids: list[int],
    values: list,
    present: list,
    subdim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The in-plan expression form of :func:`_lut_frame` (null-safe
    fallback): per-subspace transforms against the broadcast codebook
    column — small expression tree, zero shuffle."""
    cbdf = _codebook_df(emb.sparkSession, values)

    def lut_entries(cb: Column) -> Column:
        vec = _to_double(vec_col)
        per_s = []
        for s in range(len(values)):
            sub = F.slice(vec, s * subdim + 1, subdim)

            def mk(s: int, sub: Column):
                def lam(c: Column) -> Column:
                    cent = F.element_at(
                        F.element_at(cb, s + 1), (c + 1).cast("int")
                    )
                    t = F.aggregate(
                        F.zip_with(
                            sub,
                            cent,
                            lambda x, cv: F.floor(x * cv * F.lit(PSCALE)),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, t: acc + t,
                    )
                    return F.struct(
                        F.lit(s).cast("int").alias("s"),
                        c.cast("int").alias("code"),
                        t.alias("lut"),
                    )

                return lam

            per_s.append(
                F.transform(
                    F.array(*[F.lit(c) for c in present[s]]), mk(s, sub)
                )
            )
        return F.flatten(F.array(*per_s))

    return (
        emb.filter(F.col(id_col).isin(query_ids))
        .crossJoin(F.broadcast(cbdf))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(lut_entries(F.col("cb"))).alias("e"),
        )
        .select("query_id", "e.s", "e.code", "e.lut")
    )


def pq_adc_topk(
    emb: DataFrame,
    query_ids: list[int],
    k_top: int = 5,
    m: int = 4,
    k_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: tuple | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """PQ-ADC linear scan: approximate dot(query, candidate) as the sum
    of m LUT lookups; top-``k_top`` per query by approx score. Pass a
    precomputed ``codebook`` (from :func:`pq_codebook_lit`) to skip
    retraining — the production pattern, where the codebook is a stored
    artifact reused across queries — and ``codes`` (a persisted index in
    :func:`codes_elems` (cand_id, s, code) form) so the scan reads the
    compressed index, never the raw corpus.

    Plan shape: the codebook (m×k×dim values — model state, not data)
    trains in one elems aggregation, collects to the driver, and inlines
    as a Literal; corpus encode and the per-query LUT are then MAP-ONLY
    higher-order-function expressions (zero shuffle — the groupBy
    formulation re-shuffled N×dim element rows). The scan itself is
    codes ⋈ broadcast(LUT) on (s, code) + a hash aggregate on
    (query_id, cand_id) — the raw embedding column is read once to
    encode and never joined pairwise. approx_dot is deterministic
    (quantized means + quantized LUT terms, exact integer sums), and
    bit-identical to the pure-DataFrame formulation (parity test)."""
    if codebook is None:
        codebook = pq_codebook_lit(emb, m, k_codes, id_col, vec_col)
    values, present, subdim = codebook
    if codes is None:
        codes = _codes_frame(emb, values, present, subdim, id_col, vec_col)
    lut = _lut_frame(emb, query_ids, values, present, subdim, id_col, vec_col)
    scored = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("query_id", "cand_id")
        .agg((F.sum("lut").cast("double") / F.lit(PSCALE)).alias("approx_dot"))
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("cand_id")
    )
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= k_top)


def ivf_pq_topk(
    emb: DataFrame,
    query_ids: list[int],
    k_top: int = 5,
    n_probe: int = 2,
    m: int = 4,
    k_codes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    codebook: tuple | None = None,
    centroids: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ — the production composition of both ANN tiers: probe the
    ``n_probe`` cells nearest each query (partition pruning at 100 TB:
    the codes table lives cell-partitioned, a query touches
    n_probe/N_cells of it), then score ONLY those cells' members with
    the compressed PQ-ADC lookup-table sum. Neither raw-vector pairwise
    math nor a full code scan: candidate selection is an equi-join on
    the cell, scoring an equi-join on (query_id, s, code) against the
    broadcast LUT. Deterministic end to end (quantized centroid/LUT
    arithmetic), mirrored in the DuckDB oracle (queries/llm7.py).

    Serving calls should pass ALL stored artifacts — ``codebook``
    (pq_codebook_lit triple), ``centroids`` (a persisted
    similarity.ivf_centroids frame), and ``codes`` (a persisted index
    in :func:`codes_elems` form) — then the query reads ONLY artifact
    tables plus its own query vectors (an id-pushdown scan): no model
    retrains, no corpus re-encode, no raw-vector scan at all. Without
    them each piece derives from the corpus (the self-contained oracle
    form)."""
    from data_lake_spark.operators.similarity import probed_cells

    if codebook is None:
        codebook = pq_codebook_lit(emb, m, k_codes, id_col, vec_col)
    values, present, subdim = codebook
    # candidate selection BEFORE scoring: only probed cells' members
    # enter the ADC join — with codes cell-partitioned at scale this is
    # partition pruning, here it's a broadcast join on the cell
    cands = (
        F.broadcast(
            probed_cells(
                emb, query_ids, n_probe, id_col, vec_col, label_col, centroids
            )
        )
        .join(
            emb.select(F.col(id_col).alias("cand_id"), F.col(label_col)),
            F.col(label_col) == F.col("cell"),
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id")
    )
    if codes is None:
        codes = _codes_frame(emb, values, present, subdim, id_col, vec_col)
    lut = _lut_frame(emb, query_ids, values, present, subdim, id_col, vec_col)
    scored = (
        cands.join(codes, "cand_id")
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "cand_id")
        .agg((F.sum("lut").cast("double") / F.lit(PSCALE)).alias("approx_dot"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("cand_id")
    )
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= k_top)


def ivf_pq_topk_indexed(
    emb: DataFrame,
    query_ids: list[int],
    index: DataFrame,
    codebook: tuple,
    centroids: DataFrame,
    k_top: int = 5,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ served ENTIRELY from stored artifacts: ``index`` is the
    at-rest (vec_id, codes array<int>, cell) frame that
    streaming.start_ivfpq_index_ingest maintains (or a batch
    pq_codes_array ⋈ cell assignment), ``codebook`` the pq_codebook_lit
    triple, ``centroids`` a persisted similarity.ivf_centroids frame.

    The query then touches: the tiny centroid table (probe selection),
    the index rows of the probed cells (with the index cell-partitioned
    this is partition pruning — n_probe/N_cells of the m-byte codes),
    and its OWN query vectors (id-pushdown scan for the LUT). No
    full-corpus scan of any kind — not raw vectors, not even a
    (vec_id, label) membership projection: membership lives in the
    index, exactly as at 100 TB. Scores are bit-identical to
    ivf_pq_topk (same quantized LUT arithmetic, same candidates).

    If the index carries a ``batch_id`` column (the streaming ingest's
    per-batch directories), only each vector's LATEST entry scores: a
    vector re-embedded and re-ingested in a later micro-batch would
    otherwise contribute code rows from BOTH batches and its summed
    approx_dot would double, floating it to the top of every top-k.
    The dedup is one hash aggregate over the compressed codes — cheap
    relative to the scan it protects (shared helper:
    operators.upsert.latest_batch, also applied by codes_elems)."""
    from data_lake_spark.operators.similarity import probed_cells
    from data_lake_spark.operators.upsert import latest_batch

    index = latest_batch(index, id_col)

    probed = probed_cells(
        emb, query_ids, n_probe, id_col, vec_col, centroids=centroids
    )
    values, present, subdim = codebook
    cand_codes = (
        index.join(F.broadcast(probed), "cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("cand_id"),
            F.posexplode("codes").alias("s", "code"),
        )
    )
    lut = _lut_frame(emb, query_ids, values, present, subdim, id_col, vec_col)
    scored = (
        cand_codes.join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", "cand_id")
        .agg((F.sum("lut").cast("double") / F.lit(PSCALE)).alias("approx_dot"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), F.col("cand_id")
    )
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= k_top)


def pq_adc_rerank_topk(
    emb: DataFrame,
    query_ids: list[int],
    k_top: int = 5,
    shortlist: int = 100,
    m: int = 8,
    k_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: tuple | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """The production two-stage shape: PQ-ADC scan prunes the corpus to
    a per-query ``shortlist``, then exact cosine re-ranks ONLY the
    shortlist. The expensive raw-vector math touches Q×shortlist rows
    instead of Q×N; the N-sized pass reads only the 64×-compressed
    codes. Final recall equals the shortlist's containment of the true
    top-k — tune ``shortlist``/``m``/``k_codes`` for the recall-cost
    point (random vectors are PQ's worst case; clustered real
    embeddings recall far higher at the same settings)."""
    from data_lake_spark.operators.similarity import dot_exact, norm_exact

    short = pq_adc_topk(
        emb, query_ids, k_top=shortlist, m=m, k_codes=k_codes, id_col=id_col,
        vec_col=vec_col, codebook=codebook, codes=codes,
    ).select("query_id", "cand_id")
    vecs = emb.select(
        F.col(id_col), _to_double(vec_col).alias("v")
    ).withColumn("nrm", norm_exact("v"))
    q = vecs.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    pairs = (
        short.join(F.broadcast(q), "query_id")
        .join(
            vecs.select(
                F.col(id_col).alias("cand_id"),
                F.col("v").alias("cv"),
                F.col("nrm").alias("cn"),
            ),
            "cand_id",
        )
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        (dot_exact("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand_id")
    )
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    ).filter(F.col("rk") <= k_top)
