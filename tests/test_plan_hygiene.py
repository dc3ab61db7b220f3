"""Fleet-wide plan hygiene: build (don't execute) every registered
query's plan and assert the two properties that must hold engine-wide at
100 TB — no row-at-a-time Python (BatchEvalPython) anywhere, and no
cartesian/broadcast-nested-loop joins outside the explicitly declared
all-pairs ground-truth queries.

Queries with build-time side effects (streaming runs, ML training,
bucketed-table writes, staged file writes, driver loops) are skipped:
their plans are audited by their own tests; this sweep covers the ~80
pure-plan queries in seconds.
"""

from __future__ import annotations

import pytest

from hadoop_digit_recognition_spark.all_queries import SPARK_QUERIES
from hadoop_digit_recognition_spark.plans import explain_formatted

from .conftest import SF_ORACLE

# build-time side effects: executed elsewhere, skipped here
_SIDE_EFFECT_PREFIXES = ("streaming_", "ml_", "source_")
_SIDE_EFFECT_NAMES = {"sim_ivf_topk", "dedup_connected_components",
                      "join_bucketed_colocated", "partition_pruned_scan",
                      "dedup_minhash_lsh", "dedup_fuzzy_levenshtein",
                      "dedup_incremental", "pipeline_llm_corpus",
                      "corpus_dedup_cascade",
                      "text_quality_filter_approx", "timeseries_gapfill",
                      "rbm_cd1_two_epochs",
                      # eager peel loop (persist+count per round, CC-style)
                      "graph_kcore_dup_clusters"}

# Registry-declared eager queries (run a job at construction time) are
# exempt via metadata, not a hand-kept name list (ADVICE r07).
from hadoop_digit_recognition_spark.registry import EAGER_QUERIES  # noqa: E402

_SIDE_EFFECT_NAMES |= EAGER_QUERIES

# declared all-pairs / nested-loop queries (test-SF ground truth or
# intentionally non-equi): the only places cartesian-family joins may appear
_ALLPAIRS_OK = {"dedup_ngram_jaccard", "simhash_dup_pairs",
                "dedup_embedding_cosine", "sim_topk_cosine",
                "join_theta_bnl", "join_nonequi_band",
                "sketch_cms_heavy_hitters",
                # constant-range matrix generation (literal-sized inputs)
                "gemm_sql",
                # 1024-row sampled-subvector PQ codebook built from
                # range() products + a 1-row stride scalar — literal-sized
                # generation, gemm_sql precedent
                "embedding_pq_quantize", "sim_pq_adc_topk",
                "sim_ivfpq_topk",
                # 1-row deterministic entry-point scalar crossed into the
                # query frontier (NSW search start)
                "sim_graph_greedy_search",
                # six 1-row best-pair scalars folded into the next merge
                # round's replace (BPE trainer loop state)
                "text_bpe_merge_train",
                # 1-row bigram-type-total scalar (the KN continuation
                # normalizer) crossed into the vocab-sized score table
                "text_kneser_ney_bigram",
                # banding S-curve: 4-row config x 19-row grid, both
                # literal-generated — no table is ever a join input
                "dedup_lsh_band_tuning",
                # midnight-carry interval stab: ~30-row day dimension
                # (broadcast) x session intervals, genuinely non-equi
                "window_peak_concurrency",
                # pairwise sketch comparison: the all-pairs join is over
                # the 5-row TYPE table and 256-row register state — model
                # state x model state, never data x data
                "sketch_hll_intersection",
                # same shape for the KMV/theta algebra: 5-row theta table
                # x K-row sketch samples — model state x model state
                "sketch_kmv_intersection",
                # replays the trainer's six 1-row best-pair scalars
                # (text_bpe_merge_train precedent, shared loop)
                "text_bpe_encode",
                # broadcast-query-side exact all-pairs baseline, the
                # declared twin of the bucketed ANN paths (sim_topk_cosine
                # precedent)
                "sim_matryoshka_truncation_eval",
                # broadcast benchmark-sized eval side x training stream —
                # the semantic-decontamination exact sweep (banded LSH is
                # the documented scale path when |eval| outgrows broadcast)
                "corpus_decontamination_semantic",
                # composes the semantic sweep above — same broadcast
                "corpus_contamination_report",
                # 1-ROW SCALAR broadcast cross joins (divisor cardinality /
                # overall mean / reference instant) — model state crossed
                # into the stream, never data x data
                "join_relational_division", "timeseries_seasonal_decompose",
                "events_ltv_decayed", "agg_abc_pareto",
                "ab_diff_in_diff", "dq_benford_test",
                "events_hour_dow_heatmap",
                # 1-row total-edge-mass / CI-bound / grand-total scalars
                # crossed into community- / replicate- / group-sized
                # tables (same class)
                "graph_modularity_regions", "ab_bootstrap_ci_poisson",
                # 1-row corpus/target feature-total scalar crossed into
                # the 256-row hashed-bucket model (DSIR log-ratio
                # normalizer) — model state, never data x data
                "corpus_dsir_importance",
                # 1-row sample-size / sup-D / critical-value scalars
                # crossed into the 1-row verdict (KS statistic epilogue)
                "dq_ks_two_sample",
                # 1-row KN normalizer / vocab-size / percentile-threshold
                # scalars crossed into the scored-documents stream
                # (text_kneser_ney_bigram precedent)
                "text_kn_perplexity_filter",
                "agg_theil_decomposition", "agg_ratio_to_report",
                # 7-row literal lag grid crossed into the days-count
                # frame (threshold-sweep / gemm literal-grid class)
                "timeseries_autocorrelation",
                # 1-row EM-estimate scalar (m/u/lambda from round 1)
                # crossed into the 8-row agreement-class table — model
                # state x model state (AdaBoost round-state class)
                "dedup_record_linkage_em",
                # |langs|-row global distribution + 1-row corpus-total
                # scalar crossed into class-sized audit state (the
                # dq_benford/ks scalar-broadcast class)
                "dq_t_closeness",
                # 40-row literal counter grid crossed into the
                # frequency stream (threshold-sweep / gemm grid class)
                "sketch_moments_ams",
                # 5-row region profile-vector table x itself (non-equi
                # a < b pairing) — model state x model state; DTW's
                # corpus-sized work is the profile pre-aggregate
                "timeseries_dtw_pairs",
                # 1-row max-score scalar crossed into the 25-node score
                # table (HITS normalization epilogue)
                "graph_hits_hubs_authorities",
                # 4-channel x 16-subset literal coalition grid (gemm /
                # threshold-sweep literal-grid class); exposure cells
                # join it broadcast
                "events_attribution_shapley",
                # broadcast-query-side 8-byte CODE scan (the
                # sim_topk_cosine declared-baseline class at 1/32 the
                # bytes — compression IS the scale story)
                "sim_binary_quantization_hamming",
                # 5-row literal step table crossed non-equi (stage <=
                # step) into the doc-count-sized stage frame — the
                # timeseries_autocorrelation lag-grid class
                "corpus_curriculum_order",
                # composed release chain: inherits the already-
                # allowlisted broadcast eval-side sweep from
                # corpus_decontamination_semantic (its only BNLJ);
                # every other rung joins equi on doc_id
                "pipeline_release_manifest",
                # 1-row (r, k) distinct-cardinality scalar crossed into
                # the 1-row chi-square statistic (dq_ks_two_sample
                # verdict-epilogue class)
                "dq_chi_square_cramers_v",
                # 3-row literal quantile grid crossed into the 5-row
                # per-type totals (threshold-sweep literal-grid class)
                "sketch_ddsketch_quantiles",
                # 1-row (N, n_sources, n_langs) totals scalar crossed
                # into the ~100-row contingency-cell table at each of
                # the four raking steps — model state x model state
                # (dq_ks_two_sample scalar-epilogue class)
                "corpus_sinkhorn_rebalance",
                # round 10, all the same 1-row-scalar class:
                # 1-row population-total scalar crossed into the 5-row
                # strata table (weight denominators)
                "ab_propensity_strata",
                # 1-row crude-estimate scalar x 1-row strata verdict
                # (dq_ks_two_sample verdict-epilogue class)
                "ab_simpsons_paradox_check",
                # 1-row (n, s) totals scalar crossed into the 5-row
                # per-group evidence table (H statistic epilogue)
                "dq_kruskal_wallis",
                # 1-row category-marginal scalar crossed into the 1-row
                # item-moment scalar (kappa epilogue)
                "dq_fleiss_kappa",
                # grades SemDeDup against the SAMPLED-PANEL truth: a
                # broadcast 200-vector panel swept against the corpus
                # (sim_graph_recall_eval convention — linear in the
                # corpus, round 11 replaced the all-pairs truth side)
                # + a 1-row verdict epilogue
                "dedup_semdedup_eval_pr",
                # same panel sweep grading the multi-probe quantizer
                "dedup_semdedup_mp_eval_pr",
                # same panel sweep grading the capped production rung
                "dedup_semdedup_mp_capped_eval_pr"}

# the Python UDTF demo is, by definition, Python in the plan
_PYTHON_OK = {"udtf_tokenize"}

_PURE = [n for n in sorted(SPARK_QUERIES)
         if not n.startswith(_SIDE_EFFECT_PREFIXES)
         and n not in _SIDE_EFFECT_NAMES]


@pytest.mark.parametrize("name", _PURE)
def test_plan_hygiene(spark, name):
    txt = explain_formatted(SPARK_QUERIES[name](spark, SF_ORACLE))
    if name not in _PYTHON_OK:
        assert "BatchEvalPython" not in txt, f"{name}: row-at-a-time Python"
    if name not in _ALLPAIRS_OK:
        assert "CartesianProduct" not in txt, f"{name}: cartesian product"
        assert "BroadcastNestedLoopJoin" not in txt, f"{name}: BNLJ"


def test_cc_consumers_default_to_star_family():
    """Structural ratchet (VERDICT r10 ask #8): every engine-side
    composition that only needs duplicate-cluster keys must ride the
    O(log n) large-star/small-star builder (dedup_cc_two_phase_star),
    never the O(diameter) min-label twin — the round-9/10 lesson,
    measured at sf10: license propagation 116s -> 43-64s, chaining
    audit 216.6s -> 32-43s after the swap. The min-label operator
    stays REGISTERED (it is the agreement-tested reference and its own
    driver row), but no other engine module may CALL it as a
    composition input. Oracle SQL may keep referencing its recursive
    CTE text — the oracles are label-identical by the agreement test."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "hadoop_digit_recognition_spark")
    offenders = []
    for dirpath, _, filenames in os.walk(pkg):
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            with open(path) as f:
                tree = ast.parse(f.read())
            rel = os.path.relpath(path, pkg)
            for node in ast.walk(tree):
                if not isinstance(node, ast.Call):
                    continue
                fname = (node.func.id if isinstance(node.func, ast.Name)
                         else node.func.attr
                         if isinstance(node.func, ast.Attribute) else None)
                if fname == "dedup_connected_components":
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == [], (
        f"engine code composes on the O(diameter) min-label CC at "
        f"{offenders} — compose on dedup_cc_two_phase_star (drop-in "
        f"(doc_id, canonical_id)) instead")


def test_only_streaming_state_stores_set_shuffle_width():
    """Structural ratchet: AQE owns every batch shuffle width. The only
    module that may write spark.sql.shuffle.partitions is
    streaming/pipeline.py, whose stateful queries run without AQE and
    fix their state-store partition count when first started. Driver
    loops and queries run at the caller's session width."""
    import ast
    import os

    pkg = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "hadoop_digit_recognition_spark")
    allowed = os.path.join("streaming", "pipeline.py")
    offenders = []
    for dirpath, _, filenames in os.walk(pkg):
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg)
            if rel == allowed:
                continue
            with open(path) as f:
                tree = ast.parse(f.read())
            for node in ast.walk(tree):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr == "set"
                        and isinstance(node.func.value, ast.Attribute)
                        and node.func.value.attr == "conf"
                        and node.args
                        and isinstance(node.args[0], ast.Constant)
                        and node.args[0].value
                        == "spark.sql.shuffle.partitions"):
                    offenders.append(f"{rel}:{node.lineno}")
    assert offenders == [], (
        f"batch code sets spark.sql.shuffle.partitions at {offenders} — "
        f"leave the width to the session and AQE")
