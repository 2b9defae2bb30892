#!/usr/bin/env python
"""Generate PLANS.md: physical-plan shape for every benchmark headline
query — exchanges (shuffles), broadcasts, join strategies, codegen
stages. The per-query scale argument made inspectable: run after any
plan-affecting change and diff."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from bench import HEADLINE
    from data_lake_spark.queries import full_registry
    from data_lake_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plan-report")
    reg = full_registry()

    rows = []
    for name in HEADLINE:
        df = reg[name].fn(spark, sf_dir)
        # simple mode: each physical node printed once with full labels
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        def uniq(marker: str) -> int:
            # DISTINCT nodes, not occurrences: a persist()ed
            # multi-consumer subtree prints once per consumer but its
            # internal exchange executes once (cache populated on first
            # use); expr IDs + plan_id make distinct physical nodes
            # render distinctly (r10 accounting, shared with
            # tests/test_plan_contracts.test_shuffle_budget)
            return len(
                {ln.strip() for ln in plan.splitlines() if marker in ln}
            )

        rows.append(
            (
                name,
                uniq("Exchange hashpartitioning"),
                uniq("Exchange rangepartitioning"),
                uniq("BroadcastExchange"),
                uniq("BroadcastHashJoin"),
                uniq("SortMergeJoin"),
                uniq("BroadcastNestedLoopJoin"),
                "yes" if "ArrowEvalPython" in plan or "MapInPandas" in plan else "",
            )
        )

    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write(
            "# PLANS — physical-plan shape of the bench headline set\n\n"
            f"Generated by `tools/plan_report.py` at {os.path.basename(sf_dir)}. "
            "Columns: hash/range exchanges (shuffles), broadcast exchanges, "
            "join strategies, Python stages.\n\n"
            "Reading guide: `hashEx` is the shuffle count — the number that "
            "must stay flat as data grows; `bcast > 0` with `SMJ = 0` means "
            "dim joins never reshuffle the fact; `BNLJ` is only acceptable "
            "against one-row/literal dims; `py = yes` marks the deliberate "
            "Arrow-batched Python stages (multimodal decode only). Iterative\n"
            "operators (dedup_clusters) materialize per-round via\n"
            "localCheckpoint, so only the final stage appears here.\n\n"
            "| query | hashEx | rangeEx | bcastEx | BHJ | SMJ | BNLJ | py |\n"
            "|---|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            fh.write("| " + " | ".join(str(x) for x in r) + " |\n")
        fh.write(_REGIME_NOTES)
    print(f"wrote PLANS.md ({len(rows)} queries)")


# static footer: measured regime decisions that a table of node counts
# can't carry — re-measure when the underlying operators change
_REGIME_NOTES = """
## Measured regime notes

**simhash — map-only HOF vs explode→groupBy** (sf0.1 local[32], n=5
measured passes × 2 rounds, 2026-08-14): map-only expr min 1.50–1.56 s
/ med 1.65–1.75 s; explode→groupBy min 1.31–1.42 s / med 1.42–1.61 s.
The shuffle form is ~10–15 % faster *on this corpus*, and the root
cause is now understood: the testdata ships ONE parquet row group per
file, byte-range splits cannot cross a row group, so the map-only
form's entire token-hashing CPU runs on a single task — while the
explode form's shuffle spreads its work across all 32 cores. (The r02
commit note claiming the map-only rewrite "cut the query 25 %" was
wrong — VM noise; simhash bench spread is ±0.35–0.47 s.) On
split-sized cluster files (128 MB row groups) the map-only form
parallelizes for free AND skips the tokens×16-row shuffle entirely, so
it stays the default; `operators/textdedup.simhash16_exploded` keeps
the shuffle regime available (bit-identical, parity-tested), and
queries/ann.py shows the local remedy when spread is needed on
single-row-group data — one narrow (id, text) exchange before the
expensive projection.

**ivf_stored vs ivf_search** (same bench run): 0.95 s vs 1.10 s at
sf0.1 — the persisted-centroid probe skips the full-corpus training
aggregation (plan census: one Generate, id-pushdown scan). The gap is
the in-query retraining cost and grows with corpus size; serving
deployments should always pass stored artifacts.

**ivf_pq_stored vs ivf_pq** (sf0.1 local[32], min-of-3): 1.67 s vs
2.39 s — serving from the full artifact stack (cell-partitioned codes
index in the streaming ingest's at-rest format + persisted centroids +
cached codebook) removes the per-call corpus re-encode AND the
(vec_id, label) membership projection; the only embeddings read left
is the id-pushdown scan of the query vectors (plan census:
test_ivf_pq_stored_zero_corpus_scan). Locally that is −30 %; at scale
it is the difference between O(corpus) and O(probe) per query.

**char_diversity — interpreted HOFs vs one Arrow pass** (sf0.1
local[32], 2026-08-17, same-session comparison during a documented
host-steal burst so only RELATIVE times are meaningful): the
per-distinct-char `filter` scan (O(alphabet×len)) benched 5.4 s; a
sorted run-length `aggregate` struct fold still 3.2 s — Spark
higher-order-function lambdas evaluate per element OUTSIDE
whole-stage codegen, and the per-element `named_struct` allocation
dominates; the shipped vectorized numpy histogram (one np.unique per
Arrow batch) ran 1.49 s in the same session where text_stats (pure
codegen scan) ran 2.4 s. Lesson: HOF `aggregate`/`transform` are fine
for SMALL per-row arrays (bloom words, quantizer folds) but lose to
an Arrow pass by ~an order of magnitude once per-row element counts
reach corpus-text lengths — the same census class as decode and NFC.
"""


if __name__ == "__main__":
    main()
