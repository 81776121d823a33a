"""Whole-registry plan hygiene sweep: every registered query's physical
plan must be free of scale red flags — accidental cartesian products,
pickled row-at-a-time Python evaluation, and unintended nested-loop
joins. Broadcast cross-joins that ARE the algorithm (scoring every
centroid / hyperplane / query vector) are whitelisted explicitly."""

from __future__ import annotations

from bishe_gpu_database_spark.plans import single_partition_sort_offenders

# Intentional broadcast nested-loop joins: small side is the algorithm's
# constant factor (centroids, hyperplanes, query batch), not a data side.
_BNLJ_OK = {"join_cross", "ann_cosine_topk", "ann_ivf_topk", "ann_lsh_buckets",
            "dedup_embedding_cosine",
            # PQ codebook scoring: every vector × the 64-entry broadcast
            # codebook is the encode step itself.
            "ann_pq_topk",
            # RAG retrieve: broadcast 3-vector query batch scores the
            # corpus map-side — the bounded-query-batch pattern.
            "rag_retrieve_topk",
            # IVF-PQ composes both codebook cross-joins (constant-size
            # broadcast sides: coarse centroids + PQ codebook).
            "ann_ivfpq_topk",
            # SemDeDup reuses the IVF 1-row broadcast-centroid-array fold
            # for cell assignment; the pairwise step is a cid equi-join.
            "dedup_semdedup",
            # 1-row corpus-statistic scalar (N docs / total tokens /
            # median split / half totals) broadcast onto the aggregate —
            # O(n) with a 1-row build side.
            "text_salience_topk", "text_lift_bigrams", "quality_drift_ppm",
            "pipeline_mixture_temperature",
            "text_bm25_topk",
            # Query batch × corpus scoring, same bounded-broadcast shape
            # as ann_cosine_topk (recall eval reuses both index paths;
            # range search is the thresholded variant).
            "ann_eval_recall", "ann_range_search",
            # 1-row order-count scalar broadcast onto the rule set.
            "mining_assoc_rules",
            # 1-row pagination anchor broadcast onto the scan.
            "page_keyset",
            # 1-row global-mean scalar broadcast onto the category table.
            "feature_target_encoding",
            # 1-row global key-span bounds broadcast onto the bucket table.
            "quality_sequence_gaps",
            # 1-row total-count scalar + 1-row candidate-array broadcast
            # onto the (≤1/support)-row heavy-hitter table — the bound
            # check that makes the sketch hash-gateable.
            "agg_freq_items",
            # 1-row invariant scalars (counts, subset/repeat checks)
            # broadcast-folded into the sample's contract row.
            "sample_seeded", "agg_hll_sketch_merge",
            # 1-row adaptive rescale divisors (max|dot|, max|w|) broadcast
            # onto the per-row dots / 64-row direction each power step —
            # the fixed-point analogue of the power method's norm scalar.
            "embedding_pca_power3",
            # 1-row majority-class target broadcast onto the 5-row
            # per-class replication plan.
            "pipeline_oversample_balance",
            # Bounded query/anchor/eval batch broadcast × corpus stream —
            # the same shape as ann_cosine_topk (hard negatives, LOO kNN
            # eval, and dimension-truncation recall all score a ≤32-row
            # broadcast batch against the streaming corpus).
            "embedding_hard_negatives", "embedding_knn_classify",
            "embedding_matryoshka_recall",
            # 1-row exact-join-count scalar broadcast onto the 1-row
            # histogram estimate for the ppm comparison.
            "catalog_join_cardinality",
            # 1-row total-token-count scalar broadcast onto the ≤20-row
            # coverage curve.
            "pipeline_vocab_coverage",
            # 1-row corpus-max-date scalar broadcast onto the customer
            # aggregate for recency.
            "mart_rfm_segments",
            # 1-row watermark-cutoff scalar broadcast onto the emitted
            # window set (post-drain memory-sink read).
            "stream_runtime_chained",
            # 1-row refit m/u aggregate broadcast onto the folded
            # agreement-pattern pairs (linkage.py:553) — the EM M-step's
            # parameter row, metadata-sized by construction. The
            # convergence query chains TWO such 1-row refits (both
            # iterations' parameter rows).
            # The fixpoint runtime's returned plan carries the LAST
            # iteration's refit broadcast (the loop's earlier iterations
            # are localCheckpoint-truncated out of the lineage).
            "linkage_em_reclassify", "linkage_em_converged",
            "linkage_em_fixpoint"}

# Justified single-partition sorts/windows (r3 verdict item 2 red flag):
# each entry's input at the exchange is BOUNDED — a post-aggregate table
# whose cardinality is data-independent (or provably pruned), never the
# fact input. Everything data-sized was re-expressed on
# functions.rank.global_rank in r4.
_SP_WINDOW_OK: dict[str, str] = {
    "mining_chi_square": "window over the contingency CELL table "
    "(|event_types| x 2 rows — category-count-bounded, not data-sized)",
    "timeseries_seasonal_profile": "window over the 7x24=168 "
    "(dow, hour) seasonal cells — constant-bounded",
    "quality_benford_digits": "window over the 9-row leading-digit "
    "histogram — constant-bounded",
    "skyline_pareto": "stage-2 window over the locally-pruned frontier's "
    "price levels — survivor set is O(64 local frontiers), and the prune "
    "is the standard distributed-skyline cascade (see docstring)",
}


def test_no_plan_red_flags(sweep_plans):
    offenders = {}
    for name, sp in sweep_plans.items():
        plan = sp.formatted
        bad = []
        if "CartesianProduct" in plan:
            bad.append("cartesian-product")
        if "BatchEvalPython" in plan:
            bad.append("row-at-a-time-python")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_OK:
            bad.append("nested-loop-join")
        # The r3 scale-killer class: a Sort/Window fed by a
        # single-partition exchange funnels the whole input through one
        # task. Caught structurally from the simple-plan tree.
        if name not in _SP_WINDOW_OK:
            bad.extend(single_partition_sort_offenders(sp.simple))
        if bad:
            offenders[name] = bad
    assert not offenders, offenders
