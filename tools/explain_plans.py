"""Physical-plan audit: dump .explain("formatted") for the headline queries
and assert the scale-critical plan properties hold:

  - filter/projection pushdown reaches the parquet scan (PushedFilters /
    narrow ReadSchema),
  - dimension joins broadcast (BroadcastHashJoin, no shuffle of the fact side),
  - aggregations have a map-side partial phase (partial_ HashAggregate),
  - hot paths stay inside WholeStageCodegen.

Usage: python tools/explain_plans.py [query ...]   (default: audit set)
Writes full plans to PLANS.md (a generated file, not committed) for review.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from ideafast_etl_spark import plan_audit  # noqa: E402
from ideafast_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# query → markers that MUST appear in its formatted plan
# NOTE: under AQE, explain("formatted") of an unexecuted plan does not print
# WholeStageCodegen spans — "Batched: true" (vectorized scan) and
# partial_ aggregate phases are the observable codegen-adjacent markers.
EXPECTATIONS: dict[str, list[str]] = {
    "tpch_q1_pricing_summary": ["PushedFilters: [IsNotNull(l_shipdate)", "partial_sum", "Batched: true"],
    "tpch_q6_forecast_revenue": ["PushedFilters", "LessThan(l_quantity,24.0)"],
    "revenue_by_nation": ["BroadcastHashJoin", "PushedFilters"],
    "top_customers_by_revenue": ["BroadcastHashJoin", "HashAggregate"],
    "hash_dedup_anti_join": ["LeftAnti"],
    "lookup_enrich": ["BroadcastHashJoin"],
    # r8 merge-scan strategy: NO join at all — union + one accumulative
    # window per device (the as-of lookup); a HashJoin here would mean the
    # quadratic per-key probe path came back
    "interval_containment_join": ["Union", "Window", "!HashJoin",
                                  "!BroadcastNestedLoopJoin",
                                  "!CartesianProduct"],
    "day_window_grouping": ["partial_count", "Batched: true"],
    "exact_dedup": ["partial_min", "Batched: true"],
    "dreem_pipeline_e2e": ["BroadcastHashJoin", "LeftAnti"],
    "text_stats": ["Batched: true", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # near-dup must be the grid-blocked EQUI-join plan: an all-pairs
    # BroadcastNestedLoopJoin/CartesianProduct here is the 100 TB scale-killer
    # flagged in VERDICT r1 (markers prefixed '!' must be ABSENT)
    "embedding_near_dup": ["!BroadcastNestedLoopJoin", "!CartesianProduct", "Join"],
    "incremental_embedding_near_dup": ["!BroadcastNestedLoopJoin", "!CartesianProduct", "Join"],
    # the dup-density posture must stay equi-join shaped too, and its fine-
    # group absorption is an aggregate (min_by), not another join
    "embedding_near_dup_star": ["!BroadcastNestedLoopJoin", "!CartesianProduct", "Join", "min_by"],
    # two-phase salted agg: partial on (key, salt), final on key
    "salted_event_counts": ["partial_count", "HashAggregate", "_salt"],
    # metadata path is pure JVM column expressions — no Python in the plan
    "multimodal_metadata": ["!BatchEvalPython", "!ArrowEvalPython", "Batched: true", "sha2"],
    # grouped-HAVING semi-join: aggregate feeds the join, no nested loop
    "tpch_q18_large_orders": ["HashAggregate", "!BroadcastNestedLoopJoin"],
    # scalar-subquery + anti-join: the 1-row average broadcasts, anti join stays hash
    "tpch_q22_dormant_customers": ["LeftAnti", "!CartesianProduct"],
    # disjunctive residual must not degrade the equi-join to a nested loop
    "tpch_q19_disjunctive_join": ["!BroadcastNestedLoopJoin", "!CartesianProduct"],
    # EXISTS/NOT EXISTS self-joins compile to semi+anti hash joins on orderkey
    "tpch_q21_waiting_suppliers": ["LeftSemi", "LeftAnti", "!BroadcastNestedLoopJoin"],
    # correlated per-part avg is ONE window over l_partkey, no lineitem self-join
    "tpch_q17_small_quantity_revenue": ["Window", "!BroadcastNestedLoopJoin"],
    # 5-way join: the part name predicate reaches the scan, nation broadcasts,
    # the profit sum has a map-side partial phase, and nothing nested-loops
    "tpch_q9_product_type_profit": ["PushedFilters", "StringContains(p_name,red)",
                                    "BroadcastHashJoin", "partial_sum",
                                    "!BroadcastNestedLoopJoin", "!CartesianProduct"],
    # link distinct + anti-join: the excluded-supplier side broadcasts and the
    # distinct agg keeps its partial phase; no nested loop
    "tpch_q16_supplier_part_counts": ["LeftAnti", "BroadcastHashJoin",
                                      "partial_count", "!CartesianProduct"],
    # nested-IN chain: part keys broadcast into the fact scan side, the
    # qualifying suppliers arrive as a LeftSemi hash join, never a loop
    "tpch_q20_excess_inventory_suppliers": ["LeftSemi", "BroadcastHashJoin",
                                            "!BroadcastNestedLoopJoin",
                                            "!CartesianProduct"],
    # deterministic sampling is a pure pushed predicate — NO shuffle at all
    "stratified_sample_docs": ["!Exchange", "Batched: true"],
    # argmax via max_by: partial (map-side) aggregate, no row_number window
    "latest_event_per_user": ["partial_max_by", "!Window"],
    # packing: one shuffle into FlatMapGroupsInPandas, nothing else
    "sequence_packing": ["FlatMapGroupsInPandas"],
    # explicit grouping-set lattice compiles to ONE Expand + hash agg pass
    "grouping_sets_flags": ["Expand", "partial_sum"],
    # eval shingle set broadcasts (bounded benchmark vs 100 TB corpus);
    # overlap join must be map-side hash, never a nested loop
    "decontaminate_ngrams": ["BroadcastHashJoin", "!BroadcastNestedLoopJoin"],
    # repetition QC: codegen aggs keyed on doc_id, no Python anywhere
    "repetition_stats": ["HashAggregate", "!BatchEvalPython", "!ArrowEvalPython"],
    # bounded per-stratum rate table broadcasts; corpus never shuffles
    "lang_temperature_sample": ["BroadcastHashJoin", "!BroadcastNestedLoopJoin"],
    # Morton key is unrolled shift/mask codegen — no Python, batched scan
    "zorder_curve": ["!BatchEvalPython", "!ArrowEvalPython", "Batched: true"],
    # split assignment is a pure column expression + partial agg
    "dataset_splits": ["partial_count", "!BatchEvalPython", "Batched: true"],
    # E-S weighted sample: keyed scan + global_rank (__pid-bounded windows)
    "weighted_doc_sample": ["Window", "!CartesianProduct", "!BatchEvalPython"],
    # cluster-aware split: one left equi-join + column expressions; the
    # cluster labels' component lineage is audited too (no checkpoint leaf)
    "leakage_safe_splits": ["LeftOuter", "!CartesianProduct", "!BatchEvalPython",
                            "!at localCheckpoint"],
    # sweep-line concurrency: the ONLY windows partition by __pid (range
    # partitions) — no global single-partition window over boundary rows
    "shipment_concurrency_by_month": ["Window", "partial_max", "!CartesianProduct", "!BatchEvalPython"],
    # point-in-time SCD2 join: equi on custkey + interval residual — must
    # compile to a hash/merge join with residual filter, never a loop
    "scd2_point_in_time_join": ["HashAggregate", "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # RRF fusion: candidate lists ranked via global_rank (__pid-bounded
    # windows over checkpointed range partitions), merged with a
    # full-outer equi-join — no corpus-sized single-partition window
    "hybrid_retrieval_rrf": ["FullOuter", "!CartesianProduct", "!BatchEvalPython"],
    # greedy loop is keyed aggs + windows over the bounded candidate set
    # and nothing drops to Python; audited at k=2 (one loop iteration —
    # every plan shape of the loop body) because the k=10 plan without its
    # checkpoints is optimizer-exponential (see VARIANTS)
    "mmr_diversified_topk": ["HashAggregate", "Window", "LeftAnti",
                             "!CartesianProduct", "!BatchEvalPython"],
    # bounded df/stats tables broadcast; corpus shuffles only on doc_id.
    # (a BroadcastNestedLoopJoin IS present and correct here: the 1-row
    # corpus-scalars frame cross-joined in — a broadcast scalar, not an
    # all-pairs data join, so it is not banned for this query)
    "bm25_retrieval": ["BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython"],
    # n-gram LM: gram construction is JVM generate/explode; count tables are
    # keyed aggs with map-side partials; the 1-row vocab scalar broadcasts
    # (BNLJ of a 1-row frame is a broadcast scalar, not an all-pairs join)
    "ngram_lm_perplexity": ["partial_count", "HashAggregate", "!CartesianProduct", "!BatchEvalPython"],
    "kneser_ney_perplexity": ["partial_count", "HashAggregate", "!CartesianProduct", "!BatchEvalPython"],
    # span dedup: ONE shuffle on the span sha256 feeding the first-occurrence
    # window; everything JVM
    "span_dedup": ["Window", "partial_count", "!BatchEvalPython", "Batched: true"],
    # bloom decontamination: bit-table rides a 1-row broadcast; membership is
    # a JVM expression; the exact verify join must never be a nested loop
    # over DATA (the only BNLJ is the 1-row bloom scalar)
    "bloom_decontaminate": ["HashAggregate", "!CartesianProduct", "!BatchEvalPython"],
    # classifier scoring: the weights are a literal array — the scoring side
    # is pure JVM fold (no Python at all in the plan)
    "quality_classifier_scores": ["!BatchEvalPython", "!ArrowEvalPython", "HashAggregate"],
    # multimodal demux/decode is Arrow-batched mapInPandas (the correct
    # posture — no JVM builtin decodes JPEG/BMFF)
    "mp4_frame_sample": ["MapInPandas"],
    "mp4v_frame_sample": ["MapInPandas"],
    "mp3_stream_info": ["MapInPandas"],
    "webm_stream_info": ["MapInPandas"],
    "ogg_stream_info": ["MapInPandas"],
    "tiff_decode_features": ["MapInPandas"],
    "zip_manifest": ["MapInPandas"],
    "warc_manifest": ["MapInPandas"],
    # DSIR: both fitted distributions are D-row broadcasts; the corpus side
    # is explode + keyed aggs + broadcast joins — no data-sized shuffle join
    "dsir_selection": ["partial_count", "HashAggregate", "!CartesianProduct", "!BatchEvalPython"],
    # substring dedup: window-count shuffle + doc-partition window; all JVM
    "substring_dup_spans": ["Window", "partial_count", "!BatchEvalPython", "Batched: true"],
    # waterfill: data-sized work is ONE keyed agg; windows run over the
    # bounded source table only
    "token_budget_mix": ["partial_sum", "Window", "!BatchEvalPython"],
    # Q9 shape: LIKE-filtered part dim broadcasts; fact shuffles once
    "profit_by_nation_year": ["BroadcastHashJoin", "partial_sum", "PushedFilters"],
    # Q16 shape: NOT-IN exclusion compiles to an anti join, never a loop
    "supplier_count_by_part_attrs": ["LeftAnti", "HashAggregate", "!CartesianProduct"],
    # Q20 shape: grouped-HAVING feeds a semi join
    "promo_supplier_candidates": ["LeftSemi", "HashAggregate", "!BroadcastNestedLoopJoin"],
    # Gopher/C4/PII heuristics: pure JVM projections over (doc_id, text) —
    # no Python, no data shuffle beyond the presentation sort
    "gopher_quality": ["!BatchEvalPython", "!ArrowEvalPython", "Batched: true", "ReadSchema: struct<doc_id:bigint,text:string>"],
    "c4_line_filter": ["!BatchEvalPython", "!ArrowEvalPython", "Batched: true", "ReadSchema: struct<doc_id:bigint,text:string>"],
    "pii_redaction": ["!BatchEvalPython", "!ArrowEvalPython", "Batched: true", "ReadSchema: struct<doc_id:bigint,text:string>"],
    # cross-doc line dedup: keyed min-struct AGGREGATION (map-side combine
    # absorbs boilerplate hot lines), NOT a content-partitioned window
    "line_dedup_first_wins": ["partial_min", "!Window", "!BatchEvalPython", "!CartesianProduct"],
    # chunking: Generate (explode) AFTER per-doc starts — no shuffle, no Python
    "doc_chunks": ["Generate", "!BatchEvalPython", "Batched: true"],
    # brute-force top-k: the per-query rank filter must trigger Spark 4's
    # WindowGroupLimit map-side prune ("row_number(), 5, Partial") — each
    # scan task keeps only its local top-k per query before the exchange,
    # so the per-query window task never sorts the full scored relation
    # (the straggler a bare window would create; see similarity.ranked_topk)
    "embedding_topk": ["row_number(), 5, Partial", "WindowGroupLimit",
                       "!CartesianProduct", "!BatchEvalPython"],
    # PQ ADC: codebook/table joins broadcast; scoring is keyed agg, no loops
    "embedding_topk_pq": ["BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython",
                          "!at localCheckpoint"],
    # exact percentile: sort-based agg with map-side partials, all JVM
    "order_value_percentiles": ["HashAggregate", "Batched: true", "!BatchEvalPython"],
    # pivot with explicit values: ONE conditional-count agg pass, no
    # distinct-values pre-job, no explode
    "order_status_pivot": ["partial_count", "!Generate", "!BatchEvalPython"],
    # PageRank: a top-k over every iteration's edge ⋈ rank join and dst
    # aggregate (production checkpoints each rank relation; the audit sees
    # the lineage) — the bounded top-k, and no loops/Python
    "supplier_pagerank": ["TakeOrderedAndProject", "!CartesianProduct", "!BatchEvalPython",
                          "!at localCheckpoint"],
    # funnel: three keyed min-aggs + equi-joins, no full-stream window
    "event_funnel": ["partial_min", "!CartesianProduct", "!BatchEvalPython"],
    # CCNet terciles: the ONLY window partitions by __pid (bounded) — a
    # global single-partition Window(no PARTITION BY) must not appear;
    # checked via the rank stage scanning the checkpointed range partitions
    "ccnet_perplexity_buckets": ["Window", "!CartesianProduct", "!BatchEvalPython"],
    # per-stratum sample: window bounded by the lang partition key
    "per_lang_sample": ["Window", "Batched: true", "!BatchEvalPython"],
    # Q2 shape: correlated min rewritten as a part-key window; dims broadcast
    "tpch_q2_min_cost_supplier": ["Window", "BroadcastHashJoin", "!CartesianProduct"],
    # Q11 shape: the only BNLJ is the 1-row total scalar broadcast
    "tpch_q11_important_stock": ["partial_sum", "!CartesianProduct", "!BatchEvalPython"],
    # as-of attribution: union-tag + user-partitioned forward-fill window
    "purchase_attribution": ["Window", "!CartesianProduct", "!BatchEvalPython"],
    # cohort matrix: keyed aggs + equi-join, JVM date math only
    "cohort_retention": ["HashAggregate", "!CartesianProduct", "!BatchEvalPython"],
    # entropy: (doc,char) hash agg + doc window + doc agg — all JVM
    "char_entropy": ["partial_count", "Window", "!BatchEvalPython"],
    # IVF-PQ: ADC scoring joins broadcast the codebook/table; no loops
    "embedding_topk_ivfpq": ["BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython",
                             "!at localCheckpoint"],
    # IVF-PQ hot-cell sub-split: the level-2 k-means joins members to
    # broadcast sub-centroids keyed by parent cell — no cross product, and
    # the per-member best-sub pick is a cell-bounded window, all JVM
    "embedding_topk_ivfpq_hotsplit": ["BroadcastHashJoin", "Window",
                                      "!CartesianProduct", "!BatchEvalPython",
                                      "!at localCheckpoint"],
    # r8 native IVF: centroid/query broadcasts + cell equi-join, no MLlib
    "embedding_topk_ivf": ["BroadcastHashJoin", "!CartesianProduct",
                           "!BatchEvalPython", "!at localCheckpoint"],
    # KMV sketches: two-phase bottom-k windows (partition-bounded), all JVM;
    # the only BNLJ in set-ops is the 1-row theta scalar broadcast
    "kmv_distinct_users": ["Window", "partial_count", "!BatchEvalPython"],
    "kmv_click_purchase_overlap": ["Window", "!CartesianProduct", "!BatchEvalPython"],
    # histogram: ONE hash agg with map-side partials over floor bins
    "event_value_histogram": ["partial_count", "Batched: true", "!BatchEvalPython"],
    # OLS: five exact decimal moments in one partial/final agg pass
    "price_quantity_regression": ["partial_sum", "HashAggregate", "!BatchEvalPython"],
    # corpus e2e: keyed line/fingerprint aggs, five tiny stage aggs
    "corpus_prep_e2e": ["partial_min", "!CartesianProduct", "!BatchEvalPython"],
    # gap-fill: ONE (key,bucket) partial agg; fill windows run over the
    # generated grid (Generate = sequence explode), everything JVM
    "timeseries_gapfill": ["partial_sum", "Generate", "Window", "!BatchEvalPython", "!CartesianProduct"],
    # transition matrix: per-key lag window then keyed partial count
    "event_transition_matrix": ["Window", "partial_count", "!BatchEvalPython"],
    # blocked fuzzy join: equi-join on the block key with the levenshtein
    # verify inside the joined stage — never a nested loop / all-pairs
    "fuzzy_name_pairs": ["levenshtein", "!BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython"],
    # minhash: ONE per-doc aggregation (count + 32 mins) reused across the
    # banding and both size branches — no second agg over the shingle set
    "minhash_near_dup": ["partial_min", "!CartesianProduct", "!BatchEvalPython"],
    # exact-NDV stats plan the multi-distinct Expand (documented cost of the
    # oracle-checkable variant; exact=False is the one-pass HLL path)
    "analyze_table_stats": ["Expand", "!BatchEvalPython", "Batched: true"],
    # MV maintenance: two partial-agg states + a merge re-agg, all map-side
    # combinable; no history rescan shape (no join back to raw rows)
    "incremental_revenue_mv": ["partial_sum", "partial_count", "!CartesianProduct", "!BatchEvalPython"],
    # TWA: ONE lead window per key then a partial-combinable keyed agg
    "time_weighted_avg": ["Window", "partial_sum", "!BatchEvalPython"],
    # z-score: moments agg broadcasts back onto the events (bounded: one
    # row per event type); scoring is pure JVM arithmetic
    "event_anomaly_zscore": ["BroadcastHashJoin", "partial_sum", "!BatchEvalPython"],
    # BFS (audited un-checkpointed): frontier⋈edges expansion per hop,
    # visited-set anti-join, union accumulation; no loops or Python
    "supplier_reachability": ["Union", "LeftAnti", "!CartesianProduct", "!BatchEvalPython"],
    # equi-depth histogram: the only window partitions by __pid (bounded);
    # final rollup is a keyed partial agg
    "value_equidepth_histogram": ["Window", "partial_count", "!BatchEvalPython"],
    # skew report: keyed partial count + two-phase bounded top-k (the
    # windows partition by __pid / the <= k x P survivors, never the full
    # distinct-key relation)
    "key_skew_report": ["partial_count", "Window", "!BatchEvalPython"],
    # CUSUM: keyed moments agg + two running windows (prefix sum, running
    # min) — the recursion's closed form, no Python, no state store
    "cusum_drift": ["partial_sum", "Window", "!BatchEvalPython", "!CartesianProduct"],
    # rolling z: trailing-window integer moments in ONE window pass
    "rolling_zscore_anomaly": ["Window", "!BatchEvalPython", "!CartesianProduct"],
    # PSI drift: two keyed bin-count aggs; all float work on the 20-row
    # bin relation
    "value_distribution_drift": ["partial_count", "!BatchEvalPython", "!CartesianProduct"],
    # gap report: one lead window per key over integer epochs
    "event_gaps_report": ["Window", "!BatchEvalPython", "Batched: true"],
    # r8 skew-proof twins: the heavy window partitions by (entity, bucket)
    # and the stitch joins/aggregates per entity; no Python, no nested loop
    "sessionization_bucketed": ["Window", "partial_min", "!BatchEvalPython",
                                "!BroadcastNestedLoopJoin"],
    "event_gaps_report_bucketed": ["Window", "Union", "!BatchEvalPython",
                                   "!BroadcastNestedLoopJoin"],
    "event_transition_matrix_bucketed": ["Window", "Union", "partial_count",
                                         "!BatchEvalPython",
                                         "!BroadcastNestedLoopJoin"],
    # r8 bucketed detector twins: heavy windows over (entity, bucket),
    # per-entity stitch over the bucket relation, equi-joins only
    "cusum_drift_bucketed": ["Window", "partial_sum", "!BatchEvalPython",
                             "!BroadcastNestedLoopJoin", "!CartesianProduct"],
    "rolling_zscore_bucketed": ["Window", "partial_count", "!BatchEvalPython",
                                "!BroadcastNestedLoopJoin",
                                "!CartesianProduct"],
    "time_weighted_avg_bucketed": ["Window", "Union", "partial_sum",
                                   "!BatchEvalPython",
                                   "!BroadcastNestedLoopJoin"],
    "purchase_attribution_bucketed": ["Window", "Union", "!BatchEvalPython",
                                      "!BroadcastNestedLoopJoin",
                                      "!CartesianProduct"],
    # funnel latency: three keyed min-aggs + equi-joins, exact sort-based
    # percentiles — no per-user windows or sorts
    "funnel_latency_percentiles": ["partial_min", "!Window", "!CartesianProduct", "!BatchEvalPython"],
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()



def _mmr_audit_k2(spark, sf_dir):
    """Plan-audit variant of mmr_diversified_topk: the registered k=10
    query, explained WITHOUT its per-iteration checkpoints, nests nine
    join+window+anti-join levels and the optimizer's plan exploration goes
    exponential (the audit never returns). One greedy iteration (k=2)
    contains every plan shape of the loop body — candidate window, pair
    hash joins, max-sim keyed agg, anti-join, argmax window — so it is the
    meaningful (and tractable) audit target. Execution semantics are
    unaffected: production runs keep the checkpoints."""
    from ideafast_etl_spark import tables
    from ideafast_etl_spark.operators.retrieval import mmr_rerank

    emb = tables.load(spark, "embeddings", sf_dir)
    # loop="distributed": the audit's subject is the distributed greedy
    # loop's plan — the driver strategy's final DataFrame is a
    # createDataFrame of k winners with no plan to audit
    return mmr_rerank(
        emb, emb.filter("vec_id < 5"), k=2, pool=30, loop="distributed"
    )


def _ivfpq_hotsplit_audit_iters1(spark, sf_dir):
    """Plan-audit variant of embedding_topk_ivfpq_hotsplit: the registered
    query, explained WITHOUT its k-means and PQ checkpoints, inlines every
    coarse (4), PQ (3) and sub-split (2) iteration into one lineage: a
    676,167-line formatted plan at sf0.001, 99,851 lines for this
    variant. One iteration of each loop contains every plan shape — the
    broadcast-centroid assignment joins, the cell-bounded best-sub
    window, the ADC scoring joins. Execution semantics are unaffected:
    production runs keep the registered iteration counts."""
    from ideafast_etl_spark import tables
    from ideafast_etl_spark.operators.ivfpq import ivfpq_topk

    emb = tables.load(spark, "embeddings", sf_dir)
    return ivfpq_topk(
        emb, emb.filter("vec_id < 5"), k=5, n_probe=3, max_cell_size=64,
        coarse_iters=1, pq_iters=1, split_iters=1,
    )


# audit-only builders for queries whose registered form cannot be
# explained un-checkpointed (see each builder's docstring). The audited
# plan is the VARIANT's, not the registered query's — the tag is appended
# to the audit name in stdout and PLANS.md so the artifact doesn't
# overstate coverage (r8 ADVICE).
VARIANTS = {
    "mmr_diversified_topk": _mmr_audit_k2,
    "embedding_topk_ivfpq_hotsplit": _ivfpq_hotsplit_audit_iters1,
}
VARIANT_TAGS = {
    "mmr_diversified_topk": "@k=2-variant",
    "embedding_topk_ivfpq_hotsplit": "@iters=1-variant",
}


def audit_query(spark, name: str, markers: list[str], sf_dir: str = SF_DIR,
                qs: dict | None = None) -> tuple[str, list[str]]:
    """Build + explain one audit entry; returns (plan, missing_markers).
    Shared by main() and the pytest gate (tests/test_plan_audits.py) so a
    plan regression between rounds fails CI, not just the by-hand run.

    The build + explain happens inside no_checkpoints(): operators that
    end in localCheckpoint otherwise explain as a bare `Scan
    ExistingRDD`, making the audit vacuous (markers missing, negatives
    trivially true). This returns the full lazy lineage instead."""
    builder = VARIANTS.get(name) or (qs if qs is not None else entrymod.queries()).get(name)
    with plan_audit.no_checkpoints():
        plan = plan_of(builder(spark, sf_dir))
    missing = [
        m
        for m in markers
        if ((m[1:] in plan) if m.startswith("!") else (m not in plan))
    ]
    return plan, missing


def main() -> int:
    only = set(sys.argv[1:])
    spark = get_spark("plan-audit")
    qs = entrymod.queries()
    failures = []
    sections = []
    for name, markers in EXPECTATIONS.items():
        if only and name not in only:
            continue
        plan, missing = audit_query(spark, name, markers, qs=qs)
        status = "OK" if not missing else f"MISSING {missing}"
        label = name + VARIANT_TAGS.get(name, "")
        print(f"{label}: {status}")
        if missing:
            failures.append(name)
        sections.append(f"## {label}\n\nexpect: {markers}\nstatus: {status}\n\n```\n{plan}\n```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# Physical plans (sf0.01) — audited markers\n\n"
            "Generated by tools/explain_plans.py; re-run after plan-affecting changes.\n\n"
            "Broadcast policy (VERDICT r1 #5): `F.broadcast` is forced ONLY for\n"
            "bounded dims (nation=25, region=5 rows at every SF) and literal config\n"
            "maps. SF-scaled tables (customer/part/supplier) are left to AQE +\n"
            "`autoBroadcastJoinThreshold`: at sf0.01/sf0.1 their size estimates are\n"
            "under the 10 MB threshold so the initial plan still shows\n"
            "BroadcastHashJoin (the markers below rely on that); at the 100 TB\n"
            "target the same query compiles to a shuffle join instead of forcing a\n"
            "multi-GB broadcast that would OOM the driver. A `BroadcastHashJoin`\n"
            "marker on a customer join therefore documents AQE's *choice at this\n"
            "SF*, not a forced hint.\n\n"
            "Checkpointed-lineage rule (VERDICT r6): an `expect:` marker list is\n"
            "only meaningful against a NON-checkpointed plan — a DataFrame ending\n"
            "in `localCheckpoint` explains as `Scan ExistingRDD`, so positive\n"
            "markers go MISSING and `!negative` assertions pass vacuously. Plans\n"
            "below are therefore built under `plan_audit.no_checkpoints()`, where\n"
            "every operator's `plan_audit.reuse()`/`plan_audit.materialize()`\n"
            "returns its full lazy lineage. The only `at localCheckpoint` leaves\n"
            "left come from the three raw sites the `plan_audit` docstring names;\n"
            "of those, only the `ranking` range barrier reaches an audited plan.\n"
            "`tests/test_plan_audit.py` fails on any other raw persist or\n"
            "checkpoint in the package.\n\n"
            + "\n".join(sections)
        )
    print(f"\n{len(failures)} plan audits failed" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
