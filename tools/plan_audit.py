"""Regenerate PLANS.md: physical-plan evidence for representative queries.

For each audited key this captures the `explain("formatted")` operator tree
plus the scan details (PushedFilters / ReadSchema) and counts the plan's
shuffle exchanges and broadcast joins — the things that decide whether the
plan survives a 100x scale-up. Run from the repo root:

    python tools/plan_audit.py          # rewrites PLANS.md
"""

from __future__ import annotations

import io
import contextlib
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from billing_data_loader_spark.plans.catalog import catalog  # noqa: E402
from billing_data_loader_spark.session import get_spark  # noqa: E402

#: key -> what the plan must show (asserted in prose, verified by the reader
#: against the captured tree).
AUDITED = {
    "agg_q1_pricing": (
        "Flagship Q1: partial aggregation before the single exchange "
        "(map-side combine), filter and 7-of-16-column projection pushed "
        "into the parquet scan. One shuffle of 6 grouped rows per "
        "partition, regardless of input size."
    ),
    "join_star_5way": (
        "5-way star join: every dimension side is a BroadcastHashJoin — "
        "the fact table never shuffles; the only exchange is the final "
        "small aggregate. At 1000 executors this is one pass over "
        "lineitem with in-memory hash maps."
    ),
    "ext_knn_cosine": (
        "Brute-force kNN: the query vector broadcasts (KB), cosine is "
        "JVM-side zip_with/aggregate inside the scan stage, and top-10 is "
        "TakeOrderedAndProject (per-partition top-k, no global sort)."
    ),
    "win_topk_per_group": (
        "Per-group top-k: one hash exchange on the partition key, "
        "rank inside the window, filter k<=3 before any further stage — "
        "output is bounded by 3x groups, not input rows."
    ),
    "ext_neardup_minhash_lsh": (
        "MinHash+LSH scale path: ONE shuffle of the raw shingle table "
        "builds, per doc, the distinct shingle-hash set (collect_set) AND "
        "all 64 minhashes as parallel min() aggregates; band buckets come "
        "from one groupBy of the exploded band table (no self-join), pairs "
        "are generated per-bucket with array combinatorics, and exact "
        "verification intersects the per-doc hash arrays under broadcast "
        "joins — the corpus is shingled once and never re-joined."
    ),
    "ext_repetition_score": (
        "Repetition score: zero exchanges — per-doc bigram statistics are "
        "pure array arithmetic inside the scan's codegen stage. The 100 TB "
        "plan is scan -> project -> sink."
    ),
    "ext_sample_stratified": (
        "Stratified sample: the keep decision is a map-side deterministic "
        "hash predicate (no reservoir, no sort, no driver state); the only "
        "exchange carries one row per language stratum."
    ),
    "win_moving_avg_range": (
        "Distributed RANGE frame (round 3): the trailing-3600s window is "
        "decomposed into per-hour-bucket prefix windows plus probe rows "
        "for the cross-bucket remainder — every exchange hashes on the "
        "bucket key; no Exchange SinglePartition anywhere."
    ),
    "win_ntile_pctrank": (
        "Distributed global rank (round 3): range-partition on the sort "
        "key, rank locally, add broadcast partition offsets; ntile/"
        "percent_rank/cume_dist in closed form over the unique key."
    ),
    "join_bucketed": (
        "Bucketed co-located join (round 3): both sides bucketBy(8) on the "
        "join key, one file per bucket; the SortMergeJoin reads buckets "
        "directly — zero Exchange below the join, the only shuffle is the "
        "final aggregate's."
    ),
    "ts_gapfill": (
        "Gap-fill/LOCF (round 3): per-day last readings in one user-keyed "
        "shuffle, the day grid generated map-side by sequence()+explode, "
        "forward fill in a per-user window — nothing global anywhere."
    ),
    "ts_interpolate_linear": (
        "Linear interpolation (round 4): lead() over the OBSERVED frame "
        "only, then gap rows generated map-side by segment explode with "
        "endpoints attached — no join or window ever touches the dense "
        "output cardinality; the pre-explode repartition pins real "
        "parallelism against AQE's byte heuristic."
    ),
    "ext_neardup_jaccard": (
        "Exact all-pairs Jaccard (round 4): prefix filtering (AllPairs "
        "bound) restricts the inverted-index self-join to each doc's "
        "globally rarest shingles — hot boilerplate shingles sort LAST and "
        "never enter a prefix, so no O(d^2) hot-key blowup; doc frequency "
        "comes from a window (one shuffle), and the doc-partitioned ranked "
        "frame is reused for the verification arrays."
    ),
    "ext_bloom_decontaminate": (
        "Bloom-prefiltered decontamination (round 4): the benchmark set "
        "broadcasts as a FIXED-SIZE bitmap (groupBy(word).bit_or(mask), "
        "<=16384 rows) rather than raw grams; probes are k map-side "
        "broadcast-join bit tests and only bloom survivors reach the exact "
        "verify join — no false negatives, so the result is exact."
    ),
    "prof_column_stats": (
        "Multi-column profile (round 4): per-column value histograms "
        "(groupBy(col), map-side combined) replace the Expand-based "
        "multi-countDistinct, whose shuffle is 5x the scan width; every "
        "stat derives from the histogram in a 1-row aggregate, and the "
        "four 1-row frames cross-join as broadcasts."
    ),
    "agg_heavy_hitters_approx": (
        "Sketch-phase heavy hitters (round 7): Misra-Gries candidates via "
        "MapInPandas with O(k) state per task (no shuffle of raw events), "
        "candidate recount behind a broadcast left-semi join, 1-row total "
        "broadcast for the share — the fact table never hash-shuffles on "
        "the key."
    ),
    "ext_chunk_sliding": (
        "Sliding-window chunking (round 8): ZERO exchanges — chunk "
        "membership is an integer expression, chunks come from "
        "sequence+explode+slice inside the scan's codegen stage. The "
        "100 TB plan is scan -> project/explode -> sink."
    ),
    "ext_dup_ngram_bloom": (
        "Regime-adaptive dup-ngram coverage (round 9): the duplicate-row "
        "fraction, estimated from a 1/16 key-space sample and memoized "
        "per corpus, picks the plan. On THIS fixture (frac 0.999, deep "
        "in the exact regime) the audited plan below IS the exact "
        "sibling's single-pass join-back — the bloom bitmap path "
        "(fixed <=16384-row bit_or broadcast + k map-side bit tests) "
        "engages below the 0.10 cut, where the probe actually filters; "
        "forced-path equality is pinned in tests."
    ),
    "ext_pq_encode": (
        "Product quantization (round 8): the 4x16 codebook folds to ONE "
        "broadcast row; each subspace's argmin is an array_max over "
        "distance structs evaluated inside the scan task — zero "
        "exchanges, the corpus never shuffles, output is 4 codes + "
        "error per vector."
    ),
    "ext_group_texts": (
        "Cross-doc block packing (round 8): one per-lang prefix-sum "
        "window over (doc_id, lang, n) — text is dropped before the "
        "shuffle — then block spans explode map-side (~n/B + 1 rows per "
        "doc, never per token) into one (lang, block) aggregate."
    ),
    "ext_substring_dedup": (
        "Substring-level dedup manifest (round 9, Lee et al. shape): "
        "W-token windows hash map-side WITH positions; one "
        "(g, doc)-distinct aggregate finds cross-doc shingles (8-byte "
        "hashes cross the exchanges, never text); a semi join marks "
        "positions; run merging is a per-doc gaps-and-islands window "
        "bounded by document length — no task ever sees more rows than "
        "the longest doc's shingle count."
    ),
    "ext_ann_ivfpq": (
        "Composed IVF+PQ search (round 9): pivots, codebook, and the "
        "query's distance table are all 1-row broadcasts; the index "
        "build is ONE fused, widened map pass computing each vector's "
        "4 codes AND its cell in the same projection (the naive "
        "two-pass + vec_id-join composition measured 3.1 s vs 2.3 s "
        "fused at sf0.1); candidate selection is a broadcast join on "
        "cell_id; ADC scoring is map-side element_at; top-10 is "
        "TakeOrderedAndProject and only those 10 fetch their vectors "
        "for the exact refine."
    ),
    "ext_webdataset_shards": (
        "Tar shard manifest packer (round 9): entry sizes measured off "
        "the binary column map-side; ONE per-lang prefix-sum window "
        "carrying (doc_id, lang, 2 longs) — payload bytes never "
        "shuffle; shard assignment is integer arithmetic on the running "
        "offset and the manifest aggregate is map-side combinable."
    ),
    "ext_pq_encode_residual": (
        "Residual PQ (round 10, FAISS IVFPQ form): map-side pivot-argmax "
        "assignment over the persisted corpus frame; ONE (cell, dim) "
        "aggregate (16x64 rows) for the order-insensitive mean "
        "centroids; residual = zip_with subtraction after a 16-row "
        "broadcast join; encode is ext_pq_encode's map-side argmin. Two "
        "scan-local corpus passes, zero corpus shuffles."
    ),
    "scan_dpp": (
        "Dynamic partition pruning (round 10): the fact scan's "
        "PartitionFilters carry a DynamicPruningExpression IN-subquery "
        "fed by the dim join's own reused broadcast exchange — only the "
        "surviving year directories are listed/read; the dim filter "
        "never appears as a static literal on the fact side."
    ),
    "prof_corr_matrix": (
        "One-pass correlation matrix (round 10): all 14 integer moments "
        "in a single partial-aggregated global fold (the exchange "
        "carries one moment row per task), the 6 pair rows explode "
        "map-side from the 1-row frame — the fact table is read once "
        "and never hash-shuffled."
    ),
    "ext_triangle_count": (
        "Degree-oriented triangle census (round 10): co-purchase pairs "
        "generate map-side from each order's sorted part array (no "
        "position self-join), one distinct shuffle for edges; degrees "
        "and orientation ride broadcast joins; the wedge join is "
        "equi-keyed on the shared endpoint (hash join) and closure "
        "books in the same left-join aggregate pass."
    ),
    "ext_pca_power_iteration": (
        "Moment-pass + model-iteration PCA (round 10; iteration "
        "collapsed round 13): all 2080 covariance moments from ONE "
        "widened scan pass (map-side i<=j pair lambdas, exchange keyed "
        "on (i, j) — 2080 groups at any corpus size); the moment "
        "triangle then collapses to ONE model row and covariance "
        "assembly + all 5 power rounds run as a single aggregate() "
        "fold with LET-bound intermediates (transform(array(x), v -> "
        "...) — unbound intermediates re-evaluate per element and "
        "single-reference columns get inlined by CollapseProject into "
        "the innermost lambda). Zero joins and zero per-round "
        "exchanges past the moment aggregate: 6.2 s -> 1.3 s at sf0.1."
    ),
    "ext_mmr_diversify": (
        "MMR diversification (round 10): retrieval is the knn plan "
        "(broadcast query vector, map-side cosine, "
        "TakeOrderedAndProject); pool + sims fold to ONE row of arrays "
        "and all greedy rounds run inside a single runtime aggregate() "
        "lambda — zero per-round jobs, the corpus is scanned once."
    ),
    "bill_credit_fifo": (
        "FIFO payment application (round 11): two customer-keyed "
        "cumulative windows share their shuffle shape, then ONE "
        "SortMergeJoin on the customer equi-key with the interval-"
        "overlap range predicate as a post-join filter — matched pairs "
        "per customer are O(n_inv + n_pay) because allocation "
        "intervals tile the cents line; the modulo customer slice is "
        "pushed into both parquet scans."
    ),
    "ext_knn_graph": (
        "Exact kNN graph (round 11): the corpus replicates onto 136 "
        "block-pair tasks via one broadcast of the task table (n·(m+1) "
        "vectors of shuffle, never n² pairs); each tile is one BLAS "
        "matmul inside applyInPandas emitting only local top-8 per "
        "point; the global top-3 is a vec_id-keyed window over the "
        "O(n·m·8) candidate stream, and labels broadcast onto the "
        "final 3n rows."
    ),
    "ext_ann_rptree": (
        "RP-tree ANN (round 11): all 4 level projections compute in "
        "one map-side pass over the persisted base; per level the "
        "median aggregate keys on the (bounded) node id and its "
        "O(2^level)-row result broadcasts back into the split join — "
        "each level persisted so the two references per round stay "
        "two cache reads, not O(2^level) chain re-executions."
    ),
    "prof_fd_discovery": (
        "FD discovery (round 11): one scan explodes all 5 candidate "
        "triples map-side; the only data-sized exchange keys on "
        "(fd, lhs, rhs) with full partial aggregation, and the "
        "majority/rollup stages run on value-domain-sized frames."
    ),
    "prof_gini_concentration": (
        "Gini concentration (round 11c): one map-side-combined custkey "
        "aggregate, then BOTH rank windows and the count ride a single "
        "segment-keyed exchange (two sorts, one shuffle) into the 5-row "
        "rollup; rn*x widens to decimal(38,0) before the multiply and "
        "the final divisions are shared-text IEEE over exact integers."
    ),
    "ext_skyline_dominance": (
        "2-D skyline (round 11c): the quadratic NOT-EXISTS definition "
        "never appears in the plan — dominance resolves via two window "
        "functions (running MAX over a RANGE .. 1 PRECEDING frame on "
        "integer cents + a peer-group MAX) on ONE nation-keyed "
        "exchange; the nation dim broadcasts and the spend aggregate "
        "is map-side combined. No self-join, no BNLJ."
    ),
    "ext_calibration_ece": (
        "Calibration ECE (round 11c): the classifier's scan -> explode "
        "-> one doc-keyed aggregate, a doc-keyed label join, one "
        "bounded (<= 10 bins) groupBy, then the ECE fold as windows "
        "over the 10-row frame — the only SinglePartition in the plan "
        "carries bin rows, never docs (EXPECTED_FLAGS)."
    ),
    "win_pareto_abc": (
        "ABC classification (round 11c): rank, running sum and segment "
        "total all ride ONE segment-keyed exchange (single sort) after "
        "the map-side-combined custkey aggregate; class membership is "
        "integer cross-multiplication, and the rollup output is <= 15 "
        "rows at any corpus size."
    ),
    "ext_class_balance_resample": (
        "Class-balancing undersample (round 11c): one label-keyed "
        "counting aggregate, the 1-row min fold broadcast back (the "
        "only SinglePartition/BNLJ, both O(labels)), and one "
        "label-keyed rank window — the corpus shuffles once for the "
        "rank, and the audit output is O(labels)."
    ),
    "ext_neardup_incremental": (
        "Incremental near-dup (round 11c): the standing corpus "
        "signature frame is built with ONE shuffle (collect_set + 64 "
        "parallel min() aggregates — the persisted index in "
        "production); candidates come from the band-bucket equi-join "
        "with the BATCH side broadcast, so the corpus band table never "
        "reshuffles; exact verification joins only O(candidates) rows "
        "with the batch sets broadcast again."
    ),
}


#: Anti-pattern flags the full-catalog sweep looks for, with the keys where
#: each is EXPECTED and why. Any flagged key not listed here is a plan
#: regression: the sweep prints it as UNEXPLAINED and exits nonzero.
EXPECTED_FLAGS: dict[str, dict[str, str]] = {
    # Exchange SinglePartition: a global (unpartitioned) window or ordered
    # frame — inherently one partition. Documented 100 TB alternative in
    # each operator's docstring (bucketed two-pass prefix sums).
    "single_partition": {
        # round-12 branch
        "ext_confusion_matrix": (
            "1-row metric fold over the <= 4-row cell grid (O(cells), "
            "never docs)"
        ),
        "prof_mutual_info": (
            "MI/entropy folds over the <= |langs|x|sources| cell frame "
            "(model-sized at any corpus)"
        ),
        "ext_zipf_fit": (
            "global rank + OLS moment fold over the top-200 vocab frame "
            "(TakeOrdered bounds it before any window)"
        ),
        "bill_churn_rate": (
            "1-row max-month horizon fold (O(tasks) partials, never "
            "data rows)"
        ),
        "ts_reach_curve": (
            "cumulative window + 1-row audience fold over the O(days) "
            "daily frame (the ts_cusum_changepoint two-pass swap "
            "applies)"
        ),
        "prof_heaps_law": (
            "cumulative growth windows + 1-row moment fold over the "
            "O(docs) curve frame (two-pass prefix-sum swap documented)"
        ),
        # round-11 continuation
        "ext_calibration_ece": (
            "ECE fold: windows over the <= 10-row reliability-bin frame "
            "(model-sized at any corpus; every cross-row reduction "
            "upstream is a keyed integer sum)"
        ),
        "ext_class_balance_resample": (
            "1-row min fold over the O(labels) size frame (O(tasks) "
            "partials, never data rows)"
        ),
        "ext_rfm_features": (
            "1-row percentile-boundary fold (O(tasks) partials; the "
            "ext_outlier_clip quantile pattern)"
        ),
        # round 12: model-sized global rank windows caught by the new
        # global_window flag (their SinglePartition exchange is elided on
        # the 1-partition fixture frames)
        "ext_matryoshka_recall": (
            "rank windows over the two 10-row TakeOrdered top-k frames "
            "(model-sized; the corpus-wide sort is TakeOrderedAndProject)"
        ),
        # round 12: model-eval suite — O(classes)/O(langs)/1-row folds
        "ext_auc_rank": (
            "cumulative-count window over the distinct-integer-score "
            "frame (ties collapse; bounded by the score support) + the "
            "1-row rank-sum fold — the ts_cusum two-pass bucketed "
            "prefix-sum swap documented in the docstring"
        ),
        "ext_macro_f1": (
            "O(langs) marginal aggregates + 1-row macro folds (never "
            "docs; ext_lang_id's plan upstream)"
        ),
        "ts_rolling_corr": (
            "six rolling moments over the O(days) daily frame "
            "(model-sized at any corpus; the ts_cusum_changepoint "
            "two-pass prefix-sum swap applies)"
        ),
        "ext_embedding_anisotropy": (
            "per-label and overall |S|^2 folds over the O(labels x 64) "
            "component-sum frame (model-sized; the corpus never "
            "pair-joins — that is the operator's point)"
        ),
        "prof_inclusion_dependency": (
            "per-candidate 1-row distinct/violation count folds "
            "(O(tasks) partials; 8 candidate mini-plans)"
        ),
        "bill_discount_impact": (
            "1-row item-total fold over the 11-bucket frame (share "
            "denominator)"
        ),
        "ext_hits_lite": (
            "two 1-row L1-total folds (hub/authority normalization "
            "denominators; O(tasks) partials)"
        ),
        "ext_log_loss": (
            "2-row class aggregate + 1-row overall fold (the "
            "ext_brier_score shape; O(classes), never docs)"
        ),
        "ext_split_balance_chi2": (
            "marginal/total/chi2 folds on the <= 15-row contingency "
            "grid (model-sized at any corpus)"
        ),
        "ext_silhouette_simplified": (
            "inherits ext_kmeans_lite's 1-row centroid-array folds "
            "(O(tasks) partials); own reductions key on vec/cluster"
        ),
        "ext_dataset_card": (
            "1-row scalar-metrics fold (O(tasks) partials) unpivoted "
            "into the constant-size card"
        ),
        "ext_coverage_gain_greedy": (
            "per-round 1-row TakeOrdered pick folds + the cumulative "
            "window over the 4-row output frame (model-sized; data-"
            "sized work is the keyed anti join per round)"
        ),
        "ext_rank_biased_overlap": (
            "inherits the matryoshka top-k folds; own windows/folds "
            "run on <= 10-row depth frames"
        ),
        "bill_survival_km": (
            "at-risk reverse-cumulative + KM windows over the "
            "O(max-lifetime-months) frame (~80 rows at any corpus; "
            "the ts_cusum two-pass swap applies) + 1-row horizon fold"
        ),
        # round-13 bank
        "ext_ann_recall_curve": (
            "rank windows over the three 10-row helper outputs + the "
            "per-method 3-row recall folds (inherits the knn/lsh/"
            "residual-PQ 1-row folds)"
        ),
        "prof_eta_squared": (
            "per-factor 1-row eta folds over the O(groups) moment "
            "frames (O(tasks) partials, never docs)"
        ),
        "ts_holt_linear": (
            "1-row sorted-series fold feeding the runtime Holt "
            "aggregate() (the ext_mmr_diversify small-array pattern; "
            "the recursion is inherently sequential and the series is "
            "O(days))"
        ),
        "ext_kappa_agreement": (
            "<= 4-row agreement grid + 1-row metric fold (O(cells), "
            "never docs)"
        ),
        "ext_brier_score": (
            "2-row class aggregate + 1-row overall fold (O(classes), "
            "never docs)"
        ),
        "ext_vacuum_plan": (
            "1-row head fold + 3-row class rollup over the O(files) "
            "manifest (never data rows)"
        ),
        "ext_incremental_read": (
            "1-row head fold over the O(files) manifest (never data rows)"
        ),
        "ts_acf": (
            "row_number + 1-row moment fold over the O(days) daily frame "
            "(model-sized at any corpus; the ts_cusum_changepoint "
            "two-pass swap applies)"
        ),
        "ext_cluster_purity": (
            "inherited from ext_kmeans_lite: 1-row centroid-array folds "
            "(O(tasks) partials)"
        ),
        "ext_perplexity_bucket_mix": (
            "inherited from ext_lm_unigram_score: 1-row global "
            "token-total aggregate"
        ),
        # round 3: win_running_sum / win_moving_avg_range / win_ntile_pctrank
        # were REMOVED from this list — they now decompose into per-bucket /
        # per-range-partition windows and must never flag again.
        "sort_nulls_order": "full ordered output is the query's contract",
        "fn_unpivot": "AQE coalesces the tiny post-Expand result",
        # global-scalar aggregates: the SinglePartition exchange carries one
        # partial-agg row per upstream task (O(tasks), not O(rows)) — the
        # standard way to compute a corpus-wide constant without collect()
        "ext_tfidf": "1-row global n_docs aggregate for the IDF term",
        "ext_lm_unigram_score": "1-row global token-total aggregate",
        "ext_zorder_layout": (
            "1-row global min/max extents aggregate (bin scaling constants)"
        ),
        "ext_compaction_plan": (
            "offset window over the FILE MANIFEST (O(n_files) rows, never "
            "data rows) + 1-row total fold for the target size"
        ),
        "ext_triangle_count": (
            "1-row census aggregates (node/edge/wedge counts, O(tasks) "
            "partials)"
        ),
        "ext_pca_power_iteration": (
            "single collect of the 2080-row moment triangle into the "
            "1-row model frame that runs the whole covariance + 5-round "
            "power-iteration array program (dims², never rows)"
        ),
        "ext_mmr_diversify": (
            "1-row pool/sims array folds feeding the runtime greedy "
            "aggregate() (model-sized; MMR selection is inherently "
            "sequential)"
        ),
        "prof_psi_drift": (
            "1-row extents + 1-row totals aggregates (bin scale and "
            "proportion denominators)"
        ),
        "prof_dq_rules": (
            "1-row per-table metric folds (deequ-style conditional-sum "
            "pass; O(tasks) partials) unpivoted into the constant-size "
            "rule table"
        ),
        "ext_assoc_rules": (
            "1-row basket-total fold (support denominator; O(tasks) "
            "partials)"
        ),
        "ext_attribution_credit": (
            "1-row direct-bucket scalar fold (unattributed purchases)"
        ),
        "scan_txn_log_snapshot": (
            "1-row head-version fold over the O(files) manifest (never "
            "data rows)"
        ),
        "ts_seasonal_index": (
            "global windows over the 7-row weekday frame (constant size "
            "at any corpus)"
        ),
        "prof_freshness_lag": (
            "1-row as-of fold (global max event time; O(tasks) partials)"
        ),
        "scan_jsonl_malformed": (
            "1-row quarantine-count fold off the persisted parse frame"
        ),
        "ext_ann_rptree": (
            "rank window over the top-k of ONE leaf (bounded candidate "
            "list — the whole point of the tree) + O(2^level) median "
            "frames"
        ),
        "ts_cusum_changepoint": (
            "cumulative/global windows over the O(days) daily frame "
            "(model-sized at any corpus; bucketed two-pass prefix-sum "
            "swap documented in the docstring)"
        ),
        "prof_corr_matrix": (
            "1-row global moment aggregate (O(tasks) partials; the 6 pair "
            "rows explode map-side from the single row)"
        ),
        "prof_benford": "1-row digit-total fold (share denominator)",
        "bill_dunning_aging": "1-row as-of-date aggregate (report anchor)",
        "bill_mrr_waterfall": (
            "1-row month-horizon aggregate (churn right-censoring anchor)"
        ),
        "ext_cooccurrence_pmi": (
            "1-row pair-total and token-total aggregates (PMI denominators)"
        ),
        "ext_domain_mix_sample": "1-row global min-source-count aggregate",
        "ts_gapfill": "1-row global end-day aggregate (O(tasks) partials)",
        "win_ntile_pctrank": "1-row global row-count aggregate for n",
        "ext_kmeans_lite": "1-row centroid-array fold per iteration (k x dim)",
        "scan_csv_malformed": "1-row global quarantine summary aggregate",
        "join_q19_bracket": "1-row global revenue aggregate (Q19 contract)",
        "join_q15_top_supplier": "1-row max-revenue scalar (O(tasks) partials)",
        "join_q22_balance": "1-row avg-balance cutoff aggregate",
        "agg_funnel_steps": "1-row funnel-counts aggregate (O(tasks) partials)",
        "ext_bm25": "1-row corpus stats (n_docs, n_tokens) aggregate",
        # round 4 TPC-H completions / profiling: same 1-row-scalar pattern
        "agg_q6_forecast": "Q6 contract IS one global row (O(tasks) partials)",
        "agg_q11_important_value": "1-row grand-total threshold aggregate",
        "agg_q14_promo_share": "Q14 contract IS one global row",
        "join_q17_small_qty": "Q17 contract IS one global row",
        "prof_column_stats": "1-row wide profile aggregate, then stack()",
        "ext_pagerank_lite": "1-row node-count aggregate (O(tasks) partials)",
        "ext_curation_pipeline": "1-row funnel aggregate, then stack()",
        "ext_length_bucket_batching": "1-row global-max aggregate",
        # round 5: size-gated small-graph path — repartition(1) happens ONLY
        # when the MEASURED dup-graph is under _CLUSTER_SMALL_EDGES (~32 MB);
        # larger graphs take the width-scaled label-propagation loop, which
        # never single-partitions (tests pin path equality).
        "ext_dedup_cluster": "union-find path gated on measured edge count",
        # round 7: same 1-row-scalar pattern as the entries above
        "agg_heavy_hitters_exact": "1-row global event-count aggregate",
        "ext_dedup_semantic_rep": "inherits ext_kmeans_lite centroid fold",
        "agg_heavy_hitters_approx": "1-row global event-count aggregate",
        "prof_skew_report": "1-row (n_keys, n_rows) profile aggregate",
        "ext_domain_mix_temperature": (
            "1-row quantized-weight total + O(n_domains)-row "
            "largest-remainder rank window (one row per language)"
        ),
        # round 8: same 1-row-scalar pattern
        "ext_embedding_norm_filter": "1-row corpus-moment aggregate",
        "ext_doc_topk_terms": "1-row global n_docs aggregate (IDF term)",
        "ext_pq_encode": "1-row codebook-array fold (4x16 codes -> one row)",
        "ext_ann_pq_search": "1-row distance-table + codebook folds",
        "ext_dup_ngram_bloom": (
            "1-row dense-bitmap fold (16384 words -> one array row)"
        ),
        "ext_rank_fusion": (
            "two 10-row fused-ranking windows over the sub-operators' "
            "top-10 frames"
        ),
        "ext_tokenize_to_ids": (
            "vocab-sized global rank window (<= 100 vocabulary rows, "
            "the ext_quality_score stopword pattern — never the corpus)"
        ),
        # round 9: same 1-row-scalar pattern
        "ext_ann_ivfpq": (
            "inherits the three composed halves' 1-row folds: pivot "
            "array (ivf), codebook array (pq_encode), distance table"
        ),
        "ext_lm_bigram_score": (
            "1-row global train-token-total aggregate (the "
            "ext_lm_unigram_score pattern, O(tasks) partials)"
        ),
        # round 10: same 1-row-scalar pattern
        "ext_pq_encode_residual": (
            "1-row folds: pivot array (ivf assign), residual-codebook "
            "array (pq encode), and the 16-row centroid-list aggregate "
            "(O(cells) rows, never the corpus)"
        ),
        "ext_ann_ivfpq_residual": (
            "inherits ext_pq_encode_residual's 1-row/16-row folds plus "
            "the nprobe-row (8) per-cell distance-table aggregate"
        ),
        # round-13 deferred bank
        "ext_ndcg_eval": (
            "rank window + k-grid folds over the knn helper's 10-row "
            "output (1-row n_rel/query-label folds)"
        ),
        "ext_avg_precision": (
            "rank/prefix windows + k-grid folds over the knn helper's "
            "10-row output (1-row n_rel fold)"
        ),
        "ext_mcnemar_test": (
            "single 1-row discordance fold over the per-doc agreement "
            "frame (cells are O(1))"
        ),
        "prof_ks_test": (
            "ECDF prefix-sum window over the distinct price support + "
            "1-row sample-size/argmax folds; 100 TB swap is the "
            "ext_auc_rank bucketed two-pass prefix sum"
        ),
        "prof_cramers_v": (
            "1-row chi-square fold over the O(langs x sources) "
            "contingency grid"
        ),
        "prof_id_gaps": (
            "LEAD window over the distinct-id support + 1-row "
            "total/gap folds; 100 TB swap is range-bucketed two-pass "
            "adjacency with broadcast bucket boundaries"
        ),
        "ts_dow_hour_profile": (
            "1-row total fold broadcast onto the fixed 168-slot grid"
        ),
        "ext_quantile_bin_features": (
            "global rank window over the value support (equal-frequency "
            "bin assignment); 100 TB swap is the two-pass bucketed rank "
            "(range-partition by value + broadcast offsets)"
        ),
        "ext_target_encode": (
            "1-row global-mean fold over the O(segments) frame"
        ),
        "ext_er_blocking_audit": (
            "1-row total-pairs/gold-count folds over O(strategies) rows"
        ),
        "ext_bootstrap_ci_mean": (
            "64-row replicate rank window + 1-row CI/point folds (the "
            "replicate frame is fixed-size at any corpus scale)"
        ),
        "ext_lift_gain": (
            "global rank window over the classifier score order (decile "
            "assignment) + 10-row cumulative/total folds; 100 TB swap is "
            "the two-pass bucketed rank (range-partition by score + "
            "broadcast offsets — the ext_auc_rank stance)"
        ),
        "ext_woe_iv": (
            "1-row corpus-horizon fold + O(categories) per-feature "
            "marginal/IV window folds (<= 30 rows at any corpus scale)"
        ),
        "ext_feature_hash_cross": (
            "O(buckets) load-fraction window fold (64 rows at any "
            "corpus scale)"
        ),
        "ext_hilbert_layout": (
            "1-row global min/max bin-extent fold broadcast back (the "
            "ext_zorder_layout justification; O(tasks) partials)"
        ),
        "ext_lm_kneser_ney": (
            "1-row bigram-type total fold + the 20-row TakeOrdered "
            "frame's broadcast rollup joins (model-sized at any scale)"
        ),
        "ext_consistent_hash_ring": (
            "1-row key-total fold onto the 8-row node grid (the "
            "assignment itself is a map-side array projection)"
        ),
        "ts_peak_detect": (
            "bounded +/-3 windows over the AGGREGATED hour series "
            "(O(hours) rows at any corpus scale; range-bucketed "
            "two-pass swap documented for multi-year spans) + the "
            "1-row spine-bounds fold"
        ),
    },
    # BroadcastNestedLoopJoin: only acceptable when one side is O(1) rows
    # (a scalar query vector, a 1-row pivot array, a tiny task table).
    "bnlj": {
        # round-12 branch: 1-row crossJoin(broadcast(...)) folds
        "ext_confusion_matrix": (
            "1-row tp/fp/fn/tn metric fold broadcast onto the <= 4-row "
            "cell grid"
        ),
        "prof_mutual_info": (
            "1-row MI / entropy folds broadcast onto the <= 100-row "
            "cell frame"
        ),
        "ext_zipf_fit": (
            "1-row OLS moment fold broadcast onto the top-200 vocab "
            "frame"
        ),
        "bill_churn_rate": (
            "1-row max-month horizon fold broadcast onto the activity "
            "frame (right-censor flag)"
        ),
        "ts_reach_curve": (
            "1-row total-audience fold broadcast onto the O(days) "
            "daily frame"
        ),
        "prof_heaps_law": (
            "1-row OLS moment fold broadcast onto the O(docs/25) "
            "checkpoint frame"
        ),
        # round-11 continuation: 1-row crossJoin(broadcast(...)) folds
        "ext_class_balance_resample": (
            "1-row min-class-size fold broadcast onto the ranked frame "
            "(the prof_skew_report scalar-fold pattern)"
        ),
        "ext_rfm_features": (
            "1-row as-of + 1-row quintile-boundary folds broadcast onto "
            "the user frame (deliberately NOT a global NTILE window)"
        ),
        "ext_matryoshka_recall": (
            "1-row broadcast query vector per scoring pass (the "
            "ext_knn_cosine pattern, full-dim and truncated)"
        ),
        "ext_vacuum_plan": "1-row head-version fold over the O(files) manifest",
        "ext_incremental_read": (
            "1-row head-version fold over the O(files) manifest (shared "
            "by both snapshot reconstructions)"
        ),
        "ts_acf": (
            "1-row global moment fold (n/sx/sxx) broadcast onto the "
            "7-row per-lag frame"
        ),
        "ext_kcenter_coreset": (
            "1-row broadcast center vector per greedy round (the "
            "ext_knn_cosine query-vector pattern; corpus never self-joins)"
        ),
        "ext_cluster_purity": (
            "inherited from the ext_kmeans_lite helper: 1-row broadcast "
            "centroid-array folds per Lloyd round"
        ),
        "ext_perplexity_bucket_mix": (
            "inherited from the ext_lm_unigram_score helper: 1-row "
            "token-total fold broadcast onto the token stream"
        ),
        # round 12: model-eval suite 1-row metric folds
        "ext_macro_f1": (
            "1-row macro-F1/accuracy fold broadcast onto the O(langs) "
            "per-class frame"
        ),
        "ext_kappa_agreement": (
            "1-row kappa fold broadcast onto the <= 4-row agreement grid"
        ),
        "ext_brier_score": (
            "1-row overall-Brier fold broadcast onto the 2-row class "
            "frame"
        ),
        "ext_embedding_anisotropy": (
            "1-row (n, qn2) total fold broadcast onto the overall "
            "|S|^2 row"
        ),
        "prof_inclusion_dependency": (
            "per-candidate crossJoin of two 1-row count folds "
            "(distinct count x violation count)"
        ),
        "bill_discount_impact": (
            "1-row broadcast item-total fold (share denominator)"
        ),
        "ext_hits_lite": (
            "two 1-row broadcast L1-total folds onto the 20-row "
            "TakeOrdered frames"
        ),
        "ext_log_loss": (
            "1-row overall fold broadcast onto the 2-row class frame"
        ),
        "ext_split_balance_chi2": (
            "1-row N-total and chi2/dof folds broadcast onto the "
            "<= 15-row grid"
        ),
        "ext_silhouette_simplified": (
            "inherits ext_kmeans_lite's 1-row broadcast centroid "
            "arrays; the 8-row centroid frame broadcasts to the "
            "distance pass"
        ),
        "ext_dataset_card": (
            "1-row TakeOrdered head-language fold broadcast onto the "
            "1-row scalar fold"
        ),
        "ext_coverage_gain_greedy": (
            "1-row universe fold broadcast onto the 4-row pick frame"
        ),
        "ext_rank_biased_overlap": (
            "broadcast theta-join of the <= 10-row matched-rank frame "
            "against the 10-row depth grid + 1-row RBO fold"
        ),
        "bill_survival_km": (
            "1-row censor-horizon fold broadcast onto the customer "
            "frame (the bill_mrr_waterfall pattern)"
        ),
        "agg_audience_overlap": (
            "type-pair grid: non-equi broadcast join of two O(types)-"
            "row size frames (5x5 at any corpus)"
        ),
        # round-13 bank
        "ext_lang_confusability": (
            "language-pair grid: non-equi broadcast join of two "
            "O(langs)-row frames (the agg_audience_overlap pattern)"
        ),
        "ext_ann_recall_curve": (
            "broadcast theta-joins of the <= 10-row matched-rank frames "
            "against the 3-row depth grid (inherits the knn/lsh/"
            "residual-PQ 1-row folds)"
        ),
        "join_cross_small": "deliberate cross join of two tiny dims",
        "join_theta_band": "theta component; equi key keeps the hash join",
        "ext_knn_cosine": "1-row broadcast query vector",
        "ext_knn_per_label": "1-row broadcast query vector",
        "ext_neardup_embedding": "broadcast block-pair task table",
        "agg_approx_distinct": "self-check scalar join",
        "ext_tfidf": "1-row broadcast n_docs frame (IDF denominator)",
        "ext_zorder_layout": (
            "1-row broadcast global min/max extents fold (the bin scale)"
        ),
        "ext_hilbert_layout": (
            "1-row broadcast global min/max extents fold (the bin scale)"
        ),
        "ext_woe_iv": (
            "1-row broadcast corpus-horizon fold onto the cust frame"
        ),
        "ext_lm_kneser_ney": (
            "1-row bigram-type total broadcast onto the 20-row top "
            "frame"
        ),
        "ext_consistent_hash_ring": (
            "1-row key-total fold broadcast onto the 8-row node grid"
        ),
        "ext_dp_laplace_counts": (
            "2-row epsilon grid broadcast onto the O(cells) aggregated "
            "frame"
        ),
        "prof_psi_drift": (
            "1-row broadcast folds: combined-range extents + the two "
            "snapshot totals (PSI proportions' denominators)"
        ),
        "bill_dunning_aging": (
            "1-row broadcast as-of-date fold (MAX open order date)"
        ),
        "ext_cooccurrence_pmi": (
            "1-row broadcast totals fold (pair + token denominators)"
        ),
        "ext_lm_unigram_score": "1-row broadcast token-total frame",
        "prof_freshness_lag": (
            "1-row broadcast as-of fold (global max event time — the "
            "bill_dunning_aging pattern)"
        ),
        "ext_hard_negatives": (
            "broadcast modulo-slice anchor frame (model-sized at any "
            "corpus; the ext_knn_cosine pattern generalized to a fixed "
            "anchor set)"
        ),
        "ext_assoc_rules": (
            "1-row broadcast basket-total fold (support denominator)"
        ),
        "scan_txn_log_snapshot": (
            "1-row broadcast head-version fold over the O(files) manifest"
        ),
        "ext_attribution_credit": "1-row direct-bucket scalar fold",
        "ext_domain_mix_sample": "1-row broadcast min-count frame (rate denom)",
        "ts_gapfill": "1-row broadcast global-end-day bound for the grid",
        "win_ntile_pctrank": "1-row broadcast total-row-count frame",
        "win_running_sum": "P-row triangular partition-offset self-join",
        "ext_kmeans_lite": "1-row broadcast centroid array (map-side argmin)",
        "join_q22_balance": "1-row broadcast avg-balance frame (> comparison)",
        "ext_bm25": "1-row broadcast corpus-stats frame (avgdl denominator)",
        "agg_q11_important_value": "1-row broadcast threshold frame (> cut)",
        "ext_pagerank_lite": "1-row broadcast node-count frame (teleport term)",
        "ext_length_bucket_batching": "1-row broadcast global-max (pad_naive)",
        "prof_column_stats": "cross-join of four 1-row per-column profiles",
        # round 7: same 1-row-broadcast pattern
        "agg_heavy_hitters_exact": "1-row broadcast event-count frame (share)",
        "ext_dedup_semantic_rep": "inherits ext_kmeans_lite centroid array",
        "agg_heavy_hitters_approx": "1-row broadcast event-count frame (share)",
        "prof_skew_report": "1-row broadcast (n_keys, n_rows) frame (ratio)",
        "ext_domain_mix_temperature": (
            "1-row broadcast weight-total + 1-row shortfall frames"
        ),
        # round 8: same 1-row-broadcast pattern
        "ext_embedding_norm_filter": "1-row broadcast (mean, std) frame",
        "ext_doc_topk_terms": "1-row broadcast n_docs frame (IDF smoothing)",
        "ext_pq_encode": "1-row broadcast codebook array (map-side argmin)",
        "ext_ann_pq_search": "1-row broadcast distance-table maps + query",
        "ext_dup_ngram_bloom": "1-row broadcast dense bloom-bitmap array",
        "ext_rank_fusion": "inherits ext_knn_cosine's 1-row query vector",
        # round 9: same 1-row-broadcast pattern
        "ext_ann_ivfpq": (
            "1-row broadcasts from all three composed halves: pivot "
            "array, query vector, codebook array, distance-table maps"
        ),
        "ext_lm_bigram_score": "1-row broadcast train-token-total frame",
        "ext_overlap_kmv": (
            "cross join of the two 1-row sketch aggregates (union "
            "sketch stats x benchmark sketch stats)"
        ),
        "ext_epoch_shuffle": (
            "broadcast cross join with the 2-row epoch frame (one row "
            "per declared epoch — the per-epoch replication IS the op)"
        ),
        # round 10: same 1-row-broadcast pattern
        "ext_pq_encode_residual": (
            "1-row broadcasts (pivot array, residual codebook) plus the "
            "16-row centroid-list broadcast join on cell_id"
        ),
        "ext_ann_ivfpq_residual": (
            "1-row broadcasts (pivot array, query vector, residual "
            "codebook) + 8-row per-cell distance-table and 16-row "
            "centroid/probe broadcast joins"
        ),
        # round 10 third batch: same 1-row-broadcast pattern
        "ext_compaction_plan": (
            "1-row broadcast total-bytes fold (the packing target)"
        ),
        "bill_mrr_waterfall": (
            "1-row broadcast month-horizon fold (churn right-censoring)"
        ),
        "ext_triangle_count": (
            "cross join of the three 1-row census aggregates "
            "(nodes x edges x wedges/triangles)"
        ),
        # (ext_pca_power_iteration's per-round broadcast fold removed in
        # r13: the iteration is now a 1-row array program with no joins)
        "prof_benford": "1-row broadcast digit-total fold (denominator)",
        "ext_mmr_diversify": (
            "1-row broadcast query vector (the ext_knn_cosine pattern) + "
            "10x10 candidate-pair similarity join (model-sized frames)"
        ),
        # round-13 deferred bank: 1-row / model-sized broadcast folds
        "ext_ndcg_eval": (
            "1-row broadcasts (query label, n_rel fold) + 3-row k-grid "
            "theta-join against the 10-row ranked frame"
        ),
        "ext_avg_precision": (
            "1-row broadcasts (query label, n_rel fold) + 3-row k-grid "
            "theta-join against the 10-row cumulative frame"
        ),
        "prof_ks_test": (
            "1-row broadcast sample-size and argmax folds onto the "
            "distinct-price frame"
        ),
        "prof_cramers_v": (
            "broadcast cross of the O(langs) x O(sources) marginal "
            "frames + 1-row total/chi2 folds"
        ),
        "prof_id_gaps": (
            "1-row broadcast max-gap / summary folds onto the gap frame"
        ),
        "ts_dow_hour_profile": (
            "1-row broadcast total fold onto the 168-row grid"
        ),
        "ext_label_noise_knn": (
            "inherits ext_knn_graph's broadcast tile-task table "
            "(model-sized; n x n pairs never materialize)"
        ),
        "ext_target_encode": (
            "1-row broadcast global-mean fold onto the O(segments) frame"
        ),
        "ext_er_blocking_audit": (
            "1-row broadcast total-pairs/gold-count folds onto the "
            "O(strategies) rollup"
        ),
        "ext_bootstrap_ci_mean": (
            "64-row broadcast replicate grid (map-side expansion) + "
            "1-row CI pick fold"
        ),
    },
    # CartesianProduct without broadcast: never acceptable.
    "cartesian": {},
    # Row-at-a-time Python UDF (BatchEvalPython): the slow path; only the
    # operator that exists to DEMONSTRATE it may use it.
    "python_row_udf": {
        "udf_python_scalar": "deliberate row-at-a-time baseline (vs pandas)",
        "udtf_tokenize_ordinal": "Python UDTF surface (Arrow UDTF at scale)",
    },
}

#: Global windows require their input coalesced to ONE partition
#: (requiredChildDistribution = AllTuples). The sweep used to key only off
#: the `Exchange SinglePartition` node — but a 1-partition fixture input
#: (single-row-group parquet, repartition(1) upstream) SATISFIES AllTuples
#: and EnsureRequirements elides the exchange, hiding the singleton from
#: the gate (VERDICT r11 #6: how the matryoshka filter-on-row_number form
#: stayed invisible). A `Window` node with an empty partition spec is the
#: structural fact the exchange merely implements, so the sweep now flags
#: the node itself. Justifications are shared with `single_partition`
#: (the allowlist of model-sized frames) — a global window is acceptable
#: exactly when the singleton frame it sorts is model-sized.
EXPECTED_FLAGS["global_window"] = EXPECTED_FLAGS["single_partition"]

#: Streaming keys execute eagerly into a memory sink; their returned frame
#: is a batch read of the sink, so the sweep records them as such.
_STREAMING_PREFIX = "stream_"

_WINDOW_NODE_RE = re.compile(r"(?:^|[\s\-:])Window (\[.*)$")


_ORDER_SPEC_RE = re.compile(r"(ASC|DESC) NULLS (FIRST|LAST)")


def _window_is_global(args: str) -> bool:
    """True if a `Window [...]...` node's printed argument list shows an
    EMPTY partition spec. WindowExec prints up to three top-level bracket
    groups — [windowExprs], [partitionSpec], [orderSpec] — and omits empty
    trailing specs, so two groups is ambiguous: a partitioned-unordered
    window prints [exprs], [partition] while a global-ordered one prints
    [exprs], [order]. Order specs always carry `ASC/DESC NULLS ...`;
    partition specs are bare expressions — that token pattern on the
    SECOND group disambiguates."""
    depth = 0
    groups: list[list[str]] = []
    for ch in args:
        if ch == "[":
            if depth == 0:
                groups.append([])
            depth += 1
        if depth > 0 and groups:
            groups[-1].append(ch)
        if ch == "]":
            depth -= 1
    if len(groups) >= 3:
        return False
    if len(groups) <= 1:
        return True
    return bool(_ORDER_SPEC_RE.search("".join(groups[1])))


def _sweep_flags(plan: str) -> set[str]:
    flags = set()
    if "Exchange SinglePartition" in plan:
        flags.add("single_partition")
    if "BroadcastNestedLoopJoin" in plan:
        flags.add("bnlj")
    if "CartesianProduct" in plan:
        flags.add("cartesian")
    if "BatchEvalPython" in plan:
        flags.add("python_row_udf")
    for line in plan.splitlines():
        m = _WINDOW_NODE_RE.search(line)
        if m and _window_is_global(m.group(1)):
            flags.add("global_window")
            break
    return flags


def sweep_unexplained(spark, sf: str) -> dict[str, list[str]]:
    """Anti-pattern sweep over every declared batch key; returns
    ``{key: [unexplained flags]}`` (empty dict == clean).

    This is the CI-gate form (``tests/test_plan_gate.py``): it skips
    streaming keys — their ``fn`` eagerly drives micro-batches into a
    memory sink, so the "plan" is a post-materialization batch read and
    the execution cost is pure staging — and it does NOT write PLANS.md.
    Run at sf0.01: the four flags are structural (global windows, missing
    equi-conditions, row-UDF nodes), not statistics-dependent, so the
    small fixture yields the same verdicts as sf0.1.
    """
    from billing_data_loader_spark.plans.catalog import catalog as _catalog

    bad: dict[str, list[str]] = {}
    for key, spec in _catalog().items():
        if key.startswith(_STREAMING_PREFIX):
            continue
        plan = (
            spec.fn(spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()  # noqa: SLF001
        )
        unexplained = [
            f
            for f in sorted(_sweep_flags(plan))
            if not EXPECTED_FLAGS.get(f, {}).get(key)
        ]
        if unexplained:
            bad[key] = unexplained
        spark.catalog.clearCache()
    return bad


def main() -> None:
    spark = get_spark("bdl-plan-audit")
    specs = catalog()
    sf = "/root/testdata/sf0.1"
    out = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
        "",
        "Evidence that the declared DataFrame plans compile to the physical",
        "strategies the 100 TB design intends: predicate/projection pushdown",
        "at the scans, broadcast joins for dimension sides, map-side partial",
        "aggregation, and no avoidable shuffles. Regenerate with",
        "`python tools/plan_audit.py` after changing any audited operator.",
        "",
    ]
    for key, claim in AUDITED.items():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            specs[key].fn(spark, sf).explain("formatted")
        text = buf.getvalue()
        tree = text.split("\n\n", 1)[0]
        # unrolled iterative keys (MMR, PCA) dump multi-thousand-line
        # trees; the counters below read the FULL tree, the rendered
        # excerpt is capped so PLANS.md stays reviewable
        tree_lines = tree.splitlines()
        if len(tree_lines) > 200:
            tree_render = "\n".join(
                tree_lines[:150]
                + [f"... tree truncated ({len(tree_lines)} lines total)"]
            )
        else:
            tree_render = tree
        n_exchange = len(re.findall(r"\bExchange \(\d+\)", tree))
        n_broadcast = len(re.findall(r"\bBroadcastHashJoin", tree))
        scans = re.findall(
            r"PushedFilters: (\[[^\]]*\])\nReadSchema: struct<([^\n]*)>", text
        )
        out.append(f"## {key}")
        out.append("")
        out.append(claim)
        out.append("")
        out.append(
            f"Shuffle exchanges: **{n_exchange}** · broadcast joins: "
            f"**{n_broadcast}**"
        )
        out.append("")
        out.append("```")
        out.append(tree_render.strip())
        out.append("```")
        if scans:
            out.append("")
            out.append("Scan pushdown:")
            out.append("")
            for filters, schema in dict.fromkeys(scans):
                cols = schema.count(":") if schema else 0
                out.append(f"- `PushedFilters: {filters}`")
                out.append(f"  reads {cols} cols: `{schema[:150]}`")
        out.append("")
    # ---- full-catalog sweep: every declared key, anti-pattern flags ----
    out.append("## Full-catalog sweep")
    out.append("")
    out.append(
        "Every declared key's physical plan, scanned for scale"
        " anti-patterns: `single_partition` (Exchange SinglePartition),"
        " `bnlj` (BroadcastNestedLoopJoin), `cartesian`, `python_row_udf`"
        " (row-at-a-time BatchEvalPython). A flag is either expected —"
        " justified in `tools/plan_audit.py:EXPECTED_FLAGS` and the"
        " operator's docstring — or an UNEXPLAINED regression (sweep exits"
        " nonzero). Streaming keys run eagerly to a memory sink; the plan"
        " recorded here is the post-materialization batch read, so their"
        " shuffle story lives in `streaming/jobs.py` docstrings instead."
    )
    out.append("")
    out.append("| Key | Exchanges | Flags | Status |")
    out.append("| --- | --- | --- | --- |")
    unexplained: list[str] = []
    for key, spec in specs.items():
        df = spec.fn(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        n_exchange = plan.count("Exchange ") - plan.count("BroadcastExchange ")
        flags = _sweep_flags(plan)
        if key.startswith(_STREAMING_PREFIX):
            out.append(f"| `{key}` | — | — | streaming (memory-sink read) |")
            continue
        notes = []
        bad = []
        for flag in sorted(flags):
            why = EXPECTED_FLAGS.get(flag, {}).get(key)
            if why:
                notes.append(f"`{flag}` ok: {why}")
            else:
                bad.append(flag)
        if bad:
            unexplained.append(f"{key}: {bad}")
        status = "**UNEXPLAINED: " + ", ".join(bad) + "**" if bad else "ok"
        out.append(
            f"| `{key}` | {n_exchange} | {'; '.join(notes) or '—'} | {status} |"
        )
        spark.catalog.clearCache()
    out.append("")
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out) + "\n"
    )
    print(
        f"PLANS.md written ({len(AUDITED)} deep audits, "
        f"{len(specs)} keys swept)"
    )
    if unexplained:
        print("UNEXPLAINED plan flags:")
        for line in unexplained:
            print(f"  {line}")
        sys.exit(1)


if __name__ == "__main__":
    main()
