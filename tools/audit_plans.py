"""Plan-quality audit: flag scale anti-patterns across every catalog query.

Flags: CartesianProduct (always wrong), BroadcastNestedLoopJoin (wrong
unless the build side is intentionally tiny), row-at-a-time PythonUDF
(BatchEvalPython) in any plan, and single-partition window exchanges.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from varda_spark.catalog import REGISTRY  # noqa: E402
from varda_spark.session import get_spark  # noqa: E402

# queries where a single-partition global sort/window is the documented,
# intentionally small-result shape (each docstring says why)
GLOBAL_ONE_TASK_OK = {
    "agg_kv_cache_plan",  # p95 cum window over the bounded length-domain
                         # histogram (the conformal discipline)
    "agg_best_of_n",     # CDF cum + lag windows over the <=1000-row
                         # reward VALUE-domain histogram
    "agg_auc_delong_ci",  # placement cum windows over the <=1000-row
                         # score VALUE-domain histogram
    "agg_ljung_box",     # residual rank + cumulative-LB windows over
                         # the calendar-bounded day spine
    "graph_attack_tolerance",  # degree rank over the PART dimension
                         # (dimension-sized, the agg_abc_class
                         # argument); the survival scan is distributed
    "agg_spearman_rho",  # rank cum windows over the <=50/<=130-row
                         # score VALUE-domain marginal histograms (the
                         # wilcoxon midrank discipline)
    "agg_speculative_tasks",  # median/p99 cum windows over the bounded
                         # task-duration VALUE-domain histogram
    "agg_hedging_plan",  # survival cum window over the dense bounded
                         # latency-unit spine (<=~500 rows)
    "agg_quota_fair_share",  # rank/prefix windows over the 20-row
                         # tenant spine
    "agg_successive_halving",  # rank windows over the <=16-row
                         # survivor spines
    "agg_pareto_skyline",  # running-max windows over the <=~1200-row
                         # price-VALUE-domain spine
    "agg_wilcoxon_signed",  # midrank cum window over the bounded
                         # |d| VALUE-domain histogram
    "win_burn_rate",     # trailing-6h RANGE window over the bounded
                         # hour-grain spine (the agg_forecast_mase
                         # discipline) — never over raw events
    "agg_conformal_coverage",  # cumulative windows over the <=100k-row
                         # VALUE-domain score histogram (the
                         # agg_mannwhitney argument); raw scores are
                         # folded map-side before any window
    "text_vocab_coverage",  # frequency rank over the VOCABULARY table
                         # (type-count-bounded — the text_zipf argument);
                         # the per-occurrence explode never enters it
    "sim_pq_distortion",  # row_number over the 8-row codebook init only
                         # (model-sized by construction); the
                         # per-(vec, subspace) argmin window IS partitioned
    "agg_bradley_terry",  # final rank over the m=8-row model strength
                         # table (model-count bounded, documented)
    "sample_mixture_temperature",  # totals + largest-remainder ranks
                         # over the ~100-row lang x source mixture
                         # board (taxonomy-bounded, documented)
    "qa_drift_ks",       # cumulative-ECDF + argmax windows over the
                         # $1000 price-BUCKET grid (~550 rows at any sf
                         # — value-domain bounded by construction)
    "paginate_window",   # offset-compat paging; scale path is paginate_seek
    "agg_abc_class",     # global cumulative rank over the PART dimension
                         # (one row per part after the fact rollup) —
                         # dimension-sized by construction, documented
    "text_zipf",         # rank window over the 50-row TakeOrdered top —
                         # vocabulary-head-sized by construction
    "agg_survival",      # risk-set / cumulative-hazard windows over the
                         # DAY-grain lead-time table (calendar-span
                         # bounded, ~4k rows at any sf — documented)
    "win_seasonal_decompose",  # 7-day MA + dow windows over the DAY-grain
                         # revenue rollup (calendar-bounded, documented)
    "agg_distinct_growth",  # cumulative sum over the DAY-grain new-user
                         # table (calendar-bounded, documented)
    "agg_mannwhitney",   # cumulative-count window over the VALUE-domain
                         # table (~50 distinct quantities, documented)
    "agg_auc",           # cumulative window over the whole-dollar price
                         # VALUE domain (bounded ~100k rows at any sf)
    "agg_forecast_mase", # lag windows over the DAY-grain revenue table
                         # (calendar-bounded, documented)
    "agg_growth_accounting",  # churn lag over the DAY-grain rollup only;
                         # the per-user classification window is
                         # partitioned and distributed (documented)
    "win_interpolate",   # IGNORE-NULLS navigation over the DAY-grain
                         # spine (calendar-bounded; entity grain would
                         # PARTITION BY key — documented)
    "win_rolling_slope", # five frame sums over the DAY-grain revenue
                         # table (calendar-bounded, documented)
    "agg_decile_lift",   # NTILE over the customer-dimension spend rollup
                         # (one row per customer) + cum/total windows over
                         # the 10-row decile table — same argument as
                         # agg_abc_class, documented in the docstring
    "agg_hist_quantile", # cumulative window over the ~120-row value-
                         # domain-bounded histogram (documented)
    "agg_mad_outliers",  # two rank windows over the DAY-grain revenue
                         # table (calendar-bounded ~2.4k rows, documented)
    "win_bollinger_breach",  # one 20-row frame over the DAY-grain
                         # revenue table (calendar-bounded, documented)
    "text_bpe_pair_counts",  # rank window over the charset²-bounded
                         # pair-count table (≤ a few hundred rows)
    "text_anneal_plan",  # largest-remainder apportionment windows over
                         # the |sources| rows (source-vocabulary-bounded
                         # ~21 rows, documented)
    "text_vocab_growth", # cumulative window over the 10-row hash-shard
                         # spine (shard-count-bounded, documented)
    "store_partition_skew",  # rank/total windows over the month-partition
                         # list (calendar-bounded ~80 rows, documented)
    "agg_price_elasticity",  # LAG window over the ship-month list
                         # (calendar-bounded ~80 rows, documented)
    "agg_fdr_bh",        # BH rank/threshold windows over the 25-row
                         # brand dimension (documented; the sample cap
                         # window upstream IS brand-partitioned)
    "interval_coverage_gini",  # Gini rank windows over the depth
                         # HISTOGRAM (value-domain-bounded, documented;
                         # the sweep itself is chromosome-partitioned)
    "text_bleu_pairs",   # rn window over the TakeOrdered(20) eval head
                         # (eval-set-sized by construction, documented)
    "qa_join_skew",      # rank window over the 10-row heavy-hitter head
    "agg_abc_xyz",       # Pareto/total windows over the 25-row brand
                         # dimension (the agg_abc_class argument)
    "agg_forecast_topdown",  # largest-remainder apportionment windows
                         # over the 25-row brand dimension
    "agg_tail_dependence",  # rank windows over the DAY-grain two-series
                         # table (calendar-bounded ~2.4k rows)
    "qa_sequence_gaps",  # rank window over the TakeOrdered(3) gap head
                         # (the gap LAG itself is bucket-partitioned)
    "sample_neyman_alloc",  # total/remainder-rank windows over the
                         # 5-row stratum board (dimension-sized)
    "win_hampel",        # 15-day list frame over the DAY-grain revenue
                         # rollup (calendar-bounded, documented; entity
                         # grain would PARTITION BY key)
    "sample_pps_systematic",  # offset-spine window over BUCKET TOTALS
                         # (4096x reduced vs the data; the per-row
                         # running sum is bucket-partitioned and
                         # distributes — at larger corpora add a second
                         # bucket level, documented)
}

# queries where a BroadcastNestedLoopJoin is a deliberate choice:
# scalar/tiny build sides (documented in their docstrings)
BNLJ_OK = {
    "agg_cochran_q",     # 1-row item-moment fold x 1-row variant-moment
                         # fold (k=4 contract constant) — the final
                         # single-row Q algebra
    "dedup_fellegi_sunter",  # 1-row m/u estimate folds crossed into the
                         # 1-row weight board, then broadcast onto the
                         # block-bounded pair stream (the FS score pass)
    "text_unigram_drift",  # vocab-bounded (~31-row) unigram model +
                         # 1-row total broadcast onto the |sources| spine
                         # (the dense chi-square grid), plus the 1-row
                         # top-word fit onto the token stream
    "agg_kv_cache_plan",  # 9-cell (B,L) grid broadcast onto the bounded
                         # length histogram; 1-row totals + p95 scalars
    "agg_spec_decode_accept",  # 4-row position spine broadcast onto the
                         # 5-row L histogram; 1-row totals scalar
    "agg_best_of_n",     # 1-row totals + 4-row N grid broadcast onto the
                         # <=1000-row CDF spine
    "sim_prefilter_vs_postfilter",  # 32-row query panel broadcast onto
                         # the corpus scan (the fixed-panel recall shape)
    "sample_raking_weights",  # 1-row total-mass scalar broadcast onto
                         # the 20-cell contingency table, per IPF step
    "graph_random_failure",  # 3-row sweep grid + 1-row node/edge
                         # totals broadcast onto the edge list (the
                         # graph_attack_tolerance shape)
    "agg_mde_floor",     # 1-row observed-rate scalar broadcast onto
                         # the 3-row n-multiple grid
    "agg_ljung_box",     # 1-row totals + 5-row lag grid broadcast
                         # onto the calendar-bounded day spine
    "sample_ess_audit",  # 1-row weight totals + 4-row clip grid
                         # broadcast fan-out onto the weight scan
    "agg_jackknife_ratio_se",  # 1-row totals broadcast onto the 10-row
                         # fold spine + 1-row jackknife fold
    "agg_mm1_queue_plan",  # 1-row measured (count, span) scalar
                         # broadcast onto the 3-row service-rate grid
    "emb_silhouette_centroids",  # L-row centroid table broadcast onto
                         # the corpus scan + L x L nearest fold
    "agg_auc_delong_ci",  # 1-row (m, n) totals + 1-row component fold
                         # broadcast over the bounded score histogram
    "agg_design_effect",  # 1-row N scalar broadcast into the per-
                         # cluster SSB fold + 1-row final algebra
    "agg_freshness_halflife",  # 1-row max-date scalar + 3-row
                         # half-life grid broadcast fan-out
    "graph_attack_tolerance",  # 3-row sweep grid + 1-row node/edge
                         # totals broadcast onto the edge list
    "dedup_hash_collision_audit",  # 3-row width grid + 1-row distinct
                         # total broadcast onto the fingerprint set
    "agg_rbo_overlap",   # 10-row depth grid broadcast onto the 20-row
                         # rank table + 1-row rbo fold
    "agg_arena_pipeline",  # 8-row depth grid + 8-row rank table
                         # self-paired via broadcast theta-join (28
                         # pairs) + 1-row rbo/tau folds (the
                         # rbo_overlap + leaderboard_churn shapes)
    "agg_mantel_haenszel",  # 1-row MH fold broadcast back onto the
                         # 5-row stratum cell table
    "agg_spearman_rho",  # 1-row corpus total + 1-row distinct counts
                         # broadcast onto the bounded joint histogram
    "agg_roofline_plan",  # 18-row literal hardware grid + 1-row corpus
                         # token fold broadcast
    "agg_grad_noise_scale",  # 8-row dim grid stateless fan-out
                         # (the agg_moe_balance shape)
    "pack_kv_paging",    # 3-row block-size grid stateless fan-out
    "agg_apdex_score",   # 3-row threshold grid stateless fan-out
    "agg_hedging_plan",  # survival windows + shift join on the DENSE
                         # latency-unit spine (value-domain bounded
                         # <=~500 rows); 3-row hedge grid broadcast
    "agg_quota_fair_share",  # rank/prefix windows over the 20-row
                         # tenant spine + 1-row cutoff/level folds
    "agg_noninferiority",  # 1-row Wald fold broadcast onto the 3-row
                         # margin grid
    "agg_judge_ensemble",  # 1-row 5-counter fold fanned to 4 report
                         # rows + 1-row lift broadcast
    "agg_interleaving_pref",  # 1-row 3-counter fold, rowwise CASE
                         # cascade never leaves the scan
    "agg_successive_halving",  # rank windows over the <=16-row survivor
                         # spines; 64-cell (round, arm) base
    "agg_speculative_tasks",  # median/p99 cum windows over the bounded
                         # duration histogram; 3-row multiplier grid
    "agg_strong_scaling",  # 4-row worker grid stateless fan-out
    "dedup_survivorship",  # 1-row corpus totals broadcast onto the
                         # |sources| spine
    "qa_license_mix",    # 4-row policy-ladder triangular broadcast +
                         # 1-row total
    "agg_pareto_skyline",  # 1-row cell/skyline totals broadcast onto
                         # the frontier rows
    "emb_hubness_audit",  # 1-row moment/skew fold broadcast onto the
                         # bounded in-degree histogram
    "agg_offered_load",  # per-event_type cells only, no broadcast
    "store_partition_advisor",  # 3-row spec grid stateless fan-out
    "agg_cliffs_delta",  # <=210 x <=200 VALUE-domain histogram cross
                         # (bounded, constant in corpus size) + 1-row
                         # arm totals
    "store_cache_tiering",  # 1-row max-day/mean/total folds broadcast
                         # + 3-row tier-ladder triangular join
    "agg_leaderboard_churn",  # 20-row rank table self-paired via
                         # broadcast theta-join (190 pairs) + 3-row
                         # k grid + 1-row tau fold
    "agg_group_sequential",  # 5-row look grid triangular broadcast
                         # join onto the 5 bucket cells + 5-row
                         # boundary spine
    "agg_cascade_cost_curve",  # 6-row threshold grid broadcast fan-out
                         # + 1-row corpus total
    "agg_moe_capacity_sweep",  # 1-row token total + 4-row factor grid
                         # broadcast onto the 8-row expert histogram
    "agg_winrate_sample_size",  # 3-row target grid broadcast onto the
                         # 1-row observed-rate fold
    "agg_checkpoint_plan",  # 1-row measured-MTBF scalar broadcast onto
                         # the 3-row checkpoint-cost grid
    "agg_quantile_treatment",  # 5-row quantile grid broadcast theta-join
                         # (cum >= rank) onto the bounded value-domain
                         # per-group cums
    "agg_fairness_gaps",  # 1-row gap fold broadcast back onto the 6 rows
    "agg_selective_accuracy",  # 5-row threshold grid broadcast theta-join
                         # (conf >= t fan-out) + 1-row corpus total
    "dedup_source_venn",  # 1-row distinct-total scalar broadcast onto
                         # the <=7-row region table
    "agg_fleiss_kappa",  # 1-row S1 / marginal-E / item-count scalars
                         # broadcast into the 1-row kappa fold
    "agg_conformal_coverage",  # 3-row alpha grid + 1-row totals broadcast
                         # onto the bounded score-domain cums (the range
                         # predicates cum>=k / score<=qhat are BNLJ by
                         # construction, 3 x <=100k rows)
    "agg_brier_decomposition",  # 1-row global scalars broadcast onto the
                         # 10-row forecast-bin table
    "agg_moe_balance",   # 1-row corpus-token scalar broadcast onto the
                         # 8-row expert table
    "agg_permutation_test",  # 1-row observed-delta scalar broadcast onto
                         # the 32-row replicate table + 1-row final fold
    "pack_length_binning",  # 1-row corpus totals + 1-row bucket-waste
                         # scalars broadcast onto the 3-row batch grid
    "dedup_ccnet_sharding",  # 1-row corpus-total scalar broadcast onto the
                         # 16-row shard table for the load_ppm quotient
    "emb_centroid_confusion",  # L-row (10) centroid table broadcast onto
                         # the corpus (a model-sized build side)
    "agg_krippendorff_alpha",  # 1-row marginal-totals and unit-count
                         # scalars broadcast onto the 1-row disagree agg
    "qa_length_drift",   # bounded bucket-grid dim broadcast across the
                         # 20-source spine + 1-row corpus total
    "emb_isotropy_audit",  # 1-row global (n, T) and 1-row S2 scalars
                         # broadcast for the label='-1' corpus row
    "text_vocab_coverage",  # 1-row coverage-totals scalar broadcast onto
                         # the 3-row vocab-size spine
    "agg_chinchilla_plan",  # 1-row corpus-token scalar broadcast onto
                         # the 21-row budget grid
    "agg_ndcg_eval",     # 64-row fixed panel broadcast onto the corpus
                         # for the exact ranking pass (the multiprobe
                         # truth-pass argument)
    "sim_pq_distortion",  # 8-row codebook broadcast onto the corpus
                         # (a model-sized build side)
    "sim_lsh_multiprobe",  # 64-row fixed panel broadcast onto the corpus
                         # for the exact-cosine truth pass, plus the
                         # 1-row totals x 3-row depth spine roll-up
    "dedup_bloom_prefilter",  # 1-row bloom fill-factor scalar broadcast
                         # onto the 20-row per-source audit table
    "join_range",        # small range dim (demo of non-equi)
    "stream_watermark",  # 1-row max-ts horizon
    "tpch_q15",          # 1-row scalar max
    "agg_ratio",         # 1-row total
    "join_cross",        # bounded dims-only cross join (25x5, documented)
    "tpch_q22",          # 1-row scalar avg-balance subquery
    "text_domain_mix",   # 1-row corpus-total scalar
    "sim_range_search",  # 1-row probe vector broadcast
    "tpch_q2",           # 1-row |supplier| count feeding synthetic partsupp
    "tpch_q9",           # same partsupp 1-row s_cnt scalar
    "tpch_q11",          # partsupp s_cnt + 1-row grand-total threshold
    "tpch_q16",          # same partsupp 1-row s_cnt scalar
    "tpch_q20",          # same partsupp 1-row s_cnt scalar
    "graph_triangles",   # 1-row wedge-sum and edge-count scalars joined in
    "graph_triangles_approx",  # same 1-row sampled-edge-count scalar join
    "graph_kcore",       # per-round 1-row node/edge-count scalar cross joins
    "graph_bfs",         # per-round 1-row frontier/visited-count scalar
                         # cross joins (4 rows out total)
    "text_tfidf",        # 1-row corpus-count scalar (N in the IDF)
    "interval_density",  # 1-row min/max scalar exploded into the bin spine
    "agg_chisq",         # 1-row grand-total N joined onto 6 contingency cells
    "agg_cramers_v",     # same 1-row margin totals onto the 6 cells
    "agg_benford",       # 1-row digit-count total for exact ppm shares
    "agg_survival",      # 1-row order-count total joined onto the day table
    "qa_drift_tvd",      # 1-row cohort totals + 1-row corpus TVD scalar
    "graph_modularity",  # 1-row edge-count total joined onto communities
    "text_collocations", # 1-row token-count total (N in the lift)
    "emb_pca_power",     # 1-row rescale maxima + 64-row v1 broadcast
    "graph_hits",        # 1-row hub/authority rescale maxima
    "text_burstiness",   # 1-row corpus doc-count scalar (D in the VMR)
    "graph_markov_stationary",  # type-count-sized vector/rowsum broadcasts
                         # per power iteration (k ~ 5 event types)
    "agg_retention_dn",  # 3-row N spine + 1-row horizon broadcasts
    "stream_watermark_audit",  # 4-row watermark spine broadcast
    "agg_cuped",         # 1-row pooled sufficient-stats scalar (theta)
    "agg_recency_score", # 1-row max-order-date scalar (age anchor)
    "graph_degree_ccdf", # <=64-row bucket table triangular self-join
                         # + 1-row total (bucket-count-sized, documented)
    "agg_session_gap_sensitivity",  # 3-row threshold spine + 1-row
                         # user-count broadcasts
    "qa_freshness",      # 1-row anchor-date scalar onto the 3-row board
    "store_zone_map_skip",  # calendar-bounded month probe spine (~84
                         # rows) broadcast against the file manifest —
                         # the audit's documented design
    "agg_mad_outliers",  # 1-row day-count / median / MAD scalars
                         # broadcast back across the day table
    "dedup_recall_eval", # 1-row candidate-count scalar joined onto the
                         # 1-row truth/hit rollup
    "graph_paths3",      # 1-row trigram total scalar (ppm denominator)
    "sample_temperature",  # 1-row min-source-count scalar for thresholds
    "join_bloom",        # 1-row filter-quality stats cross joins
    "agg_abc_class",     # 1-row grand-total revenue scalar
    "join_basket_lift",  # 1-row basket-count scalar (N in the lift)
    "text_upsample_plan",  # 1-row max-language token scalar
    "text_zipf",         # 1-row rank-1-count scalar (ppm denominator)
    "agg_kmv_union",     # 1-row sketch-estimate/exact-count scalars
                         # composed into the single output row
    "text_mix_dedup_report",  # 1-row total-token scalar (share denominators)
    "agg_hist_quantile", # 3-row percentile spine broadcast onto the
                         # ~120-row histogram (non-equi by design)
    "sim_mips_prune",    # query-sample-sized (~20-row) query+bound
                         # broadcast probing the corpus scan (documented)
    "dedup_cluster_stats",  # 1-row total-doc scalar (share denominator)
    "agg_kmv_intersect", # 1-row theta / n_common / exact-count scalars
                         # composed into the single output row
    "text_anneal_plan",  # 1-row corpus-total (w1, w2) scalar onto the
                         # |sources| rollup
    "store_vacuum_plan", # 1-row retention-anchor scalar onto the day table
    "agg_gk_tau",        # 1-row margin-total scalars composed into the
                         # single output row
    "agg_backlog_aging", # 1-row data-derived aging-anchor scalar
    "freq_roh",          # 1-row data-derived genome-span scalar (F_ROH
                         # denominator; replaced the fixed 500 kb span
                         # that drifted with sf — ADVICE r5)
    "store_cluster_advisor",  # 1-row n_queries scalar cross join
    "text_domain_score", # 1-row 50-token seed-array broadcast (the whole
                         # point: membership test in codegen, no explode
                         # join on the corpus side)
    "sim_hamming_topk",  # 5-row query-signature broadcast fan-out
                         # (two-phase salted top-k bounds every task)
    "agg_shapley_attribution",  # 16-row subset spine (mask & s) theta
                         # join against the <=15-row mask rollup +
                         # 1-row total — the whole lattice is tiny
    "sample_group_kfold",  # 1-row total-rows scalar onto the 5-row board
    "graph_conductance", # 1-row 2m edge-count scalar (same as modularity)
    "sim_hamming_recall",  # the sim_hamming_topk 5-row probe broadcast
                         # inside the approx side (same whitelist reason)
    "emb_hard_negatives",  # 5-row anchor broadcast fan-out (salted
                         # two-phase top-1 per label side)
    "text_kn_bigram",    # 1-row |bigram types| scalar (the T in the
                         # continuation probability)
    "graph_rich_club",   # 5-row threshold spine range-joined against
                         # the degree HISTOGRAMS (bounded tables; the
                         # edge list is never rescanned per threshold)
    "dedup_threshold_curve",  # 7-row threshold spine broadcast against
                         # the candidate-pair table (bounded x7 fan-out;
                         # the corpus is shingled once, not per threshold)
    "text_langid_kappa", # 1-row chance-agreement scalar onto the 1-row
                         # totals (everything after the confusion
                         # matrix is dimension-sized)
    "sim_nprobe_sweep",  # 3-row nprobe spine broadcast over the probed
                         # scored table + 5-row probe broadcast (one
                         # encode, one scan for all configurations)
    "qa_join_skew",      # 1-row total broadcast + rank window over the
                         # TakeOrdered(10) heavy-hitter head
    "agg_eb_shrinkage",  # 1-row global-rate scalar onto the 25-row
                         # brand rollup (the shrinkage prior)
    "agg_anova_oneway",  # 1-row Σx² scalar onto the 1-row group totals
    "agg_forecast_topdown",  # 1-row anchor/total/forecast scalars onto
                         # the 25-row brand rollup
    "sim_index_advisor", # 1-row corpus-stats scalar onto the 4-row
                         # budget spine (planning is metadata work)
    "agg_tail_dependence",  # 1-row q90-threshold scalar onto the day table
    "agg_benford_chisq", # 1-row total scalar onto the 9-digit spine
    "qa_sequence_gaps",  # 1-row min/max/count summary onto the 3-row head
    "agg_pass_at_k",     # 3-row k-spine broadcast onto the problem
                         # table (n >= k is non-equi by definition)
    "stream_cascade",    # 8-row query micro-batch broadcast onto the
                         # corpus sign-scan; the radius predicate is
                         # non-equi BY DESIGN (stateless => streaming-
                         # legal), so the planner must use BNLJ with
                         # the tiny side broadcast
    "sim_cascade_rerank",  # 5-row query-signature broadcast (stage 1,
                         # salted two-phase top-20) + <=100-row survivor
                         # broadcast joined back for the exact re-rank
    "agg_mrr_eval",      # 5-row query broadcast fan-out + 5-row
                         # true-NN broadcast; rank-by-count, no global
                         # candidate ordering materialized
    "sample_neyman_alloc",  # global windows over the 5-row stratum
                         # board (totals + largest-remainder ranks)
    "sample_pps_systematic",  # 1-row corpus-total broadcast + the
                         # bucket-total offset spine window (4096x
                         # reduced vs the data; the local running sum
                         # IS bucket-partitioned and distributes
    "agg_strata_effects",  # 1-row grand-total scalar onto the 5-row
                         # stratum board (the weight denominator)
    "sim_ivf_balance",   # 1-row totals scalar onto the ncells-row
                         # occupancy board
    "text_filter_attrition",  # 4-row waterfall spine stacked from the
                         # 1-row stage-counter aggregate
    "sample_walk_forward",  # 1-row calendar-limits scalar + 5-row fold
                         # spine broadcast over ONE fact scan
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("audit")
    bad = 0
    for name, entry in REGISTRY.items():
        qe = entry.fn(spark, sf_dir)._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            flags.append("BNLJ")
        if "BatchEvalPython" in plan:
            flags.append("ROW_PYTHON_UDF")
        # A Window with an empty partition spec forces every row through ONE
        # task (WindowExec single-partitions its input; even when Catalyst
        # pushes a limit below it, the window itself is still one task).
        # "Exchange SinglePartition" alone is not reliable in the plan
        # string, so inspect the optimized plan tree for Window nodes with
        # partitionSpec == [].
        if name not in GLOBAL_ONE_TASK_OK:
            nodes = json.loads(qe.optimizedPlan().toJSON())
            if any(
                n.get("class", "").endswith(".Window") and not n.get("partitionSpec")
                for n in nodes
            ):
                flags.append("ONE_TASK_WINDOW")
        if flags:
            bad += 1
            print(f"{name:24s} {','.join(flags)}")
    print(f"\n{len(REGISTRY) - bad}/{len(REGISTRY)} clean")


if __name__ == "__main__":
    main()
