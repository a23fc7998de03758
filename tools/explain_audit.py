"""Physical-plan audit: verify the scale-critical plan properties that
SCALE.md §2 claims (broadcast joins on dims, filter pushdown, top-k via
TakeOrderedAndProject, no cartesian/nested-loop joins).

Usage: python tools/explain_audit.py [sf_dir] [query ...]
Exit code 1 if a FORBIDDEN join strategy appears in an audited plan.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: The audit covers the ENTIRE registry by default (registry-wide
#: sweep landed in r5: every query's physical plan is gated on the
#: forbidden-join and window-shape rules; per-query exceptions live
#: in the two allowlists below with their reasons).  Pass names to
#: audit a subset.
DEFAULT_QUERIES: list[str] = []  # empty => all registered queries

#: joins that must never appear (q52's bounded 100-doc pair scan is the
#: single deliberate exception and is not in the default audit set)
FORBIDDEN = ("BroadcastNestedLoopJoin", "CartesianProduct")

#: queries whose plan INTENTIONALLY cross-joins a tiny broadcast side
#: (a 1-row query vector / 16-row centroid set attached to every row) —
#: a BroadcastNestedLoopJoin against a constant-size side is the right
#: plan there, not a scalability bug
ALLOWED_TINY_BROADCAST_CROSS = {
    # apply_pair_budget's derived threshold is a 1-row aggregate
    # broadcast back as a non-equi (<=) filter — a BNLJ with a 1-row
    # build side per probe arm (the §8.10b scalar-broadcast idiom);
    # appears once per self-join side of the capped frame
    "q329_embedding_near_dup_budget",
    "q330_lsh_near_dup_budget",
    "q331_incremental_dedup_budget",
    # same budget-threshold scalar broadcast, embedding ingest shape
    # (q334, the stored twin, checkpoints the candidate frame so the
    # budget arm never appears in its returned plan)
    "q333_embedding_incremental_dedup",
    "q38_cosine_topk",
    "q39_embedding_norms",
    "q40_ivf_topk",
    "q73_ivf_built_search",
    # same 1-row broadcast query vector crossJoined to the (cell-
    # pruned) stored assignment table and the 16-row centroid table —
    # q73's idiom against the persisted index
    "q335_ivf_search_stored",
    # batched form: the 16-row centroid table crossJoins BOTH the
    # in-plan assignment pass and the 3-row query frame (probe
    # ranking); every BNLJ build side is <=16 rows by construction
    "q337_ivf_batch_search",
    "q82_int8_cosine_topk",
    # 1-row total-count table attached to the decile targets
    "q129_equidepth_hist",
    # 9-row cell-offset table replicating one join side to its 3x3
    # neighborhood — the constant x9 expansion IS the algorithm
    "q135_grid_radius_join",
    # three 1-row aggregates (nodes/edges/triangles) cross-joined into
    # the single-row result
    "q137_triangle_count",
    # 1-row corpus-stats / doc-frequency tables attached to every doc
    "q156_bm25_topk",
    # k-row centroid table attached to every vector per Lloyd round
    "q158_integer_kmeans",
    # same k-row centroid crossJoins via the shared k-means assignment
    "q173_semantic_dedup",
    # two 10-row top-k arms rank-joined; the corpus never reaches the
    # fusion join (TakeOrderedAndProject upstream in both arms)
    "q171_rrf_fusion",
    # 1-row max-change-sequence aggregate attached to the CDC snapshot
    "q159_apply_changes",
    # 1-row max-week aggregate anchoring the retention ledger
    "q164_growth_accounting",
    # 1-row grand-total aggregate under the share-of-parent ratios
    "q166_share_of_parent",
    # 1-row corpus-token-total aggregate under the surprisal scorer
    "q174_unigram_surprisal",
    # q174's corpus-total cross join feeding the per-language tertiles
    "q184_perplexity_buckets",
    # constant 20-row anchor set broadcast against the candidate scan
    # (non-equi label filter makes this BNL by construction)
    "q190_hard_negatives",
    # 1-row totals table attached to the per-key aggregate
    "q201_join_fanout_preflight",
    # constant 50-row anchor set broadcast against the candidate scan
    "q209_ann_recall_eval",
    # the q209 + q158 + q337 idioms composed: 16-row integer-centroid
    # table crossJoins the corpus per Lloyd round and the 8-row anchor
    # frame for probe ranking; the 8-row anchor set broadcasts against
    # the exact-arm candidate scan — every BNLJ build side is <=16
    # rows by construction (corpus-sized joins in the plan are the
    # SMJ assignment/recall joins, which is the right strategy)
    "q341_ivf_lloyd_recall",
    # q341's acceptance idiom on the DEDUPED seed store: 16-row
    # centroid table crossJoins the 8-row anchor frame (probe
    # ranking), the 8-anchor set broadcasts against the stored-vector
    # exact-arm scan, and the 1-row persisted mass-stats table is
    # attached per anchor row — every BNLJ build side is <=16 rows by
    # construction; corpus-sized joins are the SMJ recall joins
    "q344_dedup_ivf_capstone",
    # 1-row heavy-hitter total / bin target / pooled stats / pair-count
    # / join-size-truth aggregates cross-joined into constant-size
    # results or attached per row — the q93/q166 broadcast-total idiom
    "q222_heavy_hitters_mg",
    "q226_compaction_planner",
    "q229_histogram_rolling_p99",
    "q230_cuped_adjustment",
    "q235_join_strategy_advisor",
    "q236_sampled_pair_similarity",
    "q240_cms_join_size_estimate",
    # two 1-row query-vector frames (the TA arms' anchors) attached to
    # every embedding before the head reads
    "q231_threshold_algorithm_topk",
    # constant 8-anchor set broadcast against the candidate scan
    # (graded-relevance non-equi filter => BNL by construction)
    "q232_ndcg_retrieval_eval",
    # 64-row perm frame replicated against the distinct shingle set —
    # the signature fan-out IS the algorithm (q203's register shape)
    "q227_corpus_overlap_minhash",
    # constant-size frames (168-row hour grid, 1-row totals / scalar
    # kappa / ECE aggregates) attached by broadcast cross join
    "q245_linear_interpolation",
    "q249_abc_classification",
    "q255_annotator_agreement",
    "q256_score_calibration",
    # 1-row per-tier pair-count / corpus-token-total aggregates crossed
    # into the 3-row sweep result
    "q261_dedup_threshold_sweep",
    # 1-row max-abs normalizer attached to the 64-row iterate; the
    # candidate-language grid is a 5-row broadcast cross; the year x
    # band grid is a 10-row broadcast cross
    "q276_power_iteration_pca",
    "q275_char_ngram_langid",
    "q278_psi_drift_monitor",
    # 1-row horizon / max-duration aggregates under the KM day grid
    "q282_kaplan_meier_retention",
    # four 1-row pair-count aggregates crossed into the 1-row report
    "q283_blocking_quality",
    # 1-row totals frame under the CDF deviation scan
    "q284_ks_two_sample",
    # 1-row corpus-total / max-ratio / kept-total frames in the
    # acceptance-threshold chain
    "q285_importance_resampling",
    # 1-row q-index / threshold frames broadcast into the coverage pass
    "q289_split_conformal",
    # the shared graph builder's 1-row node-count cross (q137 idiom);
    # 1-row full-graph fingerprint attached to the top-10
    "q290_pagerank_two_iter",
    # 1-row (n_users, total_ppm) exact-split proof attached per row
    "q291_position_attribution",
    # three 1-row cardinality frames (two candidate intermediates +
    # the verification count) crossed into the 2-row advisory
    "q295_join_order_advisor",
    # 1-row customer-count frame under each of the three closed-form
    # quintile assignments (the q68 ntile idiom, three dimensions)
    "q296_rfm_segmentation",
    # 1-row peak / session-count frames under the sweep readout
    "q297_peak_concurrency",
    # 1-row leakage-count frame beside the fold report
    "q286_group_kfold_assignment",
    # _graph_edges attaches a 1-row node-count aggregate by broadcast
    # cross (the q93/q161/q166 no-driver-literal idiom); the two
    # propagation rounds re-evaluate the edge builder, so the SAME
    # 1-row cross appears several times in the plan
    "q233_graph_feature_propagation",
    # 1-row LSH-pair-count total attached to the recall aggregate
    # (the exact-truth arm is audit-scale by design, see SCALE.md)
    "q250_lsh_recall_eval",
    # the 8-row salt-bucket frame replicated against the build side —
    # the replication cross IS the salting algorithm (operators/skew)
    "q49_salted_join",
    # documented bounded 100-doc pair scan (the single deliberate
    # all-pairs exception, doc_id < 100 at every scale)
    "q52_simhash_near_pairs",
    # 1-row corpus-doc-count total under the idf term
    "q74_tfidf_top_terms",
    # 1-row total-count frame under the closed-form ntile assignment
    # (the two-phase global-rank rewrite of the q271 window class)
    "q68_ntile_buckets",
    # 1-row mean/std stats frame attached to the per-key counts
    "q98_hot_key_detector",
    # 1-row global-prior frame under the smoothed target encoding
    "q109_target_encoding",
    # 1-row positive-count frame sizing the negative pool
    "q110_negative_sampling",
    # 1-row token/bigram totals under the lift ratios
    "q116_bigram_lift",
    # three 1-row funnel-stage counts crossed into the 1-row result
    "q127_funnel_steps",
    # 1-row arm-total aggregates crossed into the ablation manifest
    "q208_ablation_manifest",
    # 1-row corpus-total under the leakage-rate ppm
    "q211_split_leakage_audit",
    # constant ~30-row bootstrap-replicate frame (the x30 replication
    # IS the bootstrap) + 1-row observed-total baseline
    "q214_bootstrap_ci",
    # 1-row vocab-size aggregate under the add-one smoothing
    "q215_bigram_surprisal",
    # 10-label centroid frames crossed pairwise (constant k x k)
    "q216_label_centroid_matrix",
    # two 1-row store fingerprints (pre/post vacuum) cross-joined into
    # the single-row concurrency report
    "q269_snapshot_concurrency",
    # 1-row total-count frame under each of the two layout() arms'
    # global file-id assignment (the global_row_number offset idiom),
    # appearing twice per arm in the union
    "q270_zorder_pruning",
    # 1-row grand-total (n, S, S2) frame attached to the ~|days|
    # candidate frame (which itself sits behind the daily-aggregate
    # size barrier)
    "q298_changepoint_detection",
    # three 1-row summary aggregates (gram total / fingerprint stats /
    # hash stats) crossed into the 1-row corpus report
    "q299_winnowing_fingerprints",
    # |labels|-row centroid frame attached to every vector (the q216
    # nearest-centroid idiom, non-equi so BNL by construction) + 1-row
    # total-count frames under the decile assignment and coverage ppm
    "q300_risk_coverage_curve",
    # per-round 1-row survivor/edge-count aggregates crossed into the
    # 3-row metrics report (x3 rounds; the peeling joins themselves
    # are LeftSemi hash joins)
    "q301_kcore_peeling",
    # 1-row corpus-totals frame attached to the top-20 phrase matches
    "q302_phrase_search",
    # 1-row edge-total (m) frame under the per-community ppm terms
    # and the 1-row global-modularity frame attached to the ~25-row
    # community report
    "q303_partition_modularity",
    # 1-row OLS-fit and corpus-total frames attached to the <=64-row
    # octave report
    "q308_zipf_rank_frequency",
    # 1-row minimal-disruption invariant frame attached to the 8-row
    # per-shard report
    "q309_rendezvous_routing",
    # 1-row max-lift/false-alarm frame attached to the 10-row
    # experiment report
    "q311_aa_calibration",
    # 1-row hits frame crossed with the 1-row eval frame into the
    # single-row report (model/eval joins are all equi-keyed)
    "q313_recsys_holdout_eval",
    # the 9x9 column-pair grid (ta < tb theta join of two 9-row
    # per-column-count frames); the intersection join itself is
    # value-keyed equi
    "q314_join_key_discovery",
    # 1-row totals / root-split frames attached to the ~|days|
    # candidate sweeps (behind the daily-aggregate barrier)
    "q316_binary_segmentation",
    # 1-row cell-total frames attached to the bounded contingency
    # cells (x3 feature pairs, x2 with AQE replans)
    "q317_mutual_information_screen",
    # the 5-row source-panel theta cross (sb <> sa) and 1-row vocab
    # frame attached to vocabulary-sized token frames
    "q318_text_kl_drift",
    # 20-row anchor panel broadcast against the vector scan (q82/q209
    # idiom) + 1-row mean-overlap frame on the 20-row report
    "q319_matryoshka_truncation_eval",
    # 1-row corpus-token-total frame under the PMI lifts (q174 idiom)
    "q320_skipgram_pmi",
    # 1-row global-prior frame under the (category x fold) encodings
    "q326_oof_target_encoding",
    # 1-row centered-moment / slope frames attached to the key scan
    # (the O(1)-state regression passes)
    "q327_learned_index_bound",
    # four 1-row count frames crossed into the single-row FPR report
    "q328_bloom_fpr_measured",
    # 1-row moment-totals frame crossed with the 1-row SSB frame per
    # factor (x3 factors)
    "q322_anova_effect_size",
    # grouped_weighted_quantiles: the constant quantile-spec dim (2-3
    # rows) crossed with the tiny per-key bin histogram — the multi-
    # quantile locate phase shares ONE input pass across all quantiles
    "q165_winsorized_mean",
    "q251_conversion_lag_quantiles",
}
JOIN_RE = re.compile(
    r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct)"
)

# ---------------------------------------------------------------------------
# Window-shape rule (r4 verdict task #3 — the q271 class): a WindowExec
# whose partition spec is EMPTY funnels every input row through ONE
# task; one partitioned by only low-cardinality columns (order
# priority = 5 values, return flag = 3, ...) funnels a fact table
# through a handful of reducers.  Either is fine over a constant-size
# aggregate (q271's 5-row allocation CTEs) and fatal over a fact scan.
# The detector walks each Window's input subtree in the formatted
# plan: an Aggregate/Limit node is a size barrier; reaching a
# fact-table scan with no barrier means unbounded rows enter the
# window, and an empty/low-card partition spec is then flagged.
# The two-phase shapes (global_row_number, top_k_per_group_scalable)
# pass automatically: their phase-1 windows include _pid in the
# partition spec, and their phase-2 windows read post-filter survivors
# — still a scan subtree, but the partition spec includes the rank
# column domain... no: phase-2 IS (group) over filtered survivors.
# The filter is rank<=k, which the plan shows as Filter, not a
# barrier.  So the phase-1 Filter(row_number <= k) IS the barrier:
# any Filter whose condition references a row_number/rank output
# bounds rows per (group, partition) and is treated as one.

#: node types whose output is bounded regardless of input size
BARRIERS = {
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
    "BroadcastExchange",  # would OOM first; not a window-funnel issue
}

#: testdata columns with a handful of distinct values (plus the alias
#: names the registry gives them); heuristic, extend as queries grow
LOWCARD_COLS = {
    "o_orderpriority",
    "o_orderstatus",
    "l_returnflag",
    "l_linestatus",
    "l_shipmode",
    "l_shipinstruct",
    "stratum",
    "priority",
    "grp",
    "source",
    "lang",
    "band",
    "plang",
    "side",
    "pair_class",
    "cls",
}

#: queries whose flagged Window reads an input that IS bounded, but
#: by something the static detector cannot see (a literal key-range
#: filter that selects a fixed-size slice at every scale factor)
ALLOWED_BOUNDED_WINDOW = {
    # orders filtered to o_custkey < 100: a fixed 100-customer slice
    # (~1k rows at ANY sf — TPC-H keeps orders/customer constant), so
    # the low-card percent_rank partitions see bounded input
    "q83_percent_rank",
}

FACT_SCAN_RE = re.compile(
    r"(lineitem|orders|events|documents|embeddings|customer|part|supplier)"
    r"\.parquet"
)

_TREE_NODE_RE = re.compile(r"^([ :+\-*]*)([A-Za-z][A-Za-z0-9 ]*?) \((\d+)\)\s*$")
_RANK_FILTER_RE = re.compile(r"\b(_r1|row_number|rank|rn|sr)#\d+")


def _parse_plan_tree(plan: str):
    """(children: id->list[id], details: id->text, names: id->name)."""
    children: dict[int, list[int]] = {}
    names: dict[int, str] = {}
    stack: list[tuple[int, int]] = []  # (indent, id)
    for line in plan.splitlines():
        m = _TREE_NODE_RE.match(line)
        if not m:
            if line.startswith("==") or not line.strip():
                stack = []  # new tree block (subquery section)
            continue
        indent, name, nid = len(m.group(1)), m.group(2).strip(), int(m.group(3))
        names[nid] = name
        children.setdefault(nid, [])
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if stack:
            children[stack[-1][1]].append(nid)
        stack.append((indent, nid))
    details: dict[int, str] = {}
    cur = None
    for line in plan.splitlines():
        dm = re.match(r"^\((\d+)\) ([A-Za-z][A-Za-z0-9 ]*?)\s*(\[codegen.*)?$", line)
        if dm and int(dm.group(1)) in names:
            cur = int(dm.group(1))
            details[cur] = ""
            continue
        if cur is not None:
            details[cur] = details[cur] + line + "\n"
    return children, details, names


def _window_partition_cols(detail: str) -> list[str] | None:
    """Base column names of the partition spec, [] if empty, None if
    not parseable.  The Arguments bracket groups are ambiguous (a
    window with no ORDER BY and one with no PARTITION BY both print
    two groups), so parse windowspecdefinition itself: its arguments
    before specifiedwindowframe are partition columns (bare refs)
    followed by order columns (refs carrying ASC/DESC markers)."""
    m = re.search(
        r"windowspecdefinition\((.*?)(?:specifiedwindowframe|\)\))",
        detail,
        re.DOTALL,
    )
    if not m:
        return None
    cols = []
    for item in m.group(1).split(","):
        item = item.strip()
        if not item:
            continue
        if re.search(r"\b(ASC|DESC)\b", item):
            break  # order columns start here
        ref = re.search(r"(\w+)#\d+", item)
        if ref:
            cols.append(ref.group(1))
        else:
            return None  # unrecognized partition expression: be silent
    return cols


def _subtree_unbounded(nid, children, details, names) -> bool:
    """True if a fact-table scan reaches this node with no size barrier."""
    name = names.get(nid, "")
    base = name.split()[0] if name else ""
    if base in BARRIERS:
        return False
    if base == "Filter" and _RANK_FILTER_RE.search(details.get(nid, "")):
        return False  # phase-1 rank filter bounds rows per group
    if base == "Scan" and FACT_SCAN_RE.search(details.get(nid, "")):
        return True
    return any(
        _subtree_unbounded(c, children, details, names)
        for c in children.get(nid, [])
    )


def audit_windows(plan: str) -> list[str]:
    """Findings: Window nodes that funnel unbounded rows through one or
    a handful of tasks."""
    children, details, names = _parse_plan_tree(plan)
    findings = []
    for nid, name in names.items():
        if name != "Window":
            continue
        cols = _window_partition_cols(details.get(nid, ""))
        if cols is None:
            continue
        if cols and not all(c in LOWCARD_COLS for c in cols):
            continue  # partitioned by at least one high-card column
        if not any(
            _subtree_unbounded(c, children, details, names)
            for c in children.get(nid, [])
        ):
            continue  # constant-size input (aggregate/limit barrier)
        kind = "EMPTY" if not cols else f"low-card {cols}"
        findings.append(
            f"Window({nid}) with {kind} partition spec over an "
            f"unbounded fact-scan input — funnels the table through "
            f"{'one task' if not cols else 'a handful of reducers'}"
        )
    return findings


def formatted_plan(spark, df) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


# ---------------------------------------------------------------------------
# Accidental re-execution rule (r6 verdict task #5 — the q315/q138/
# q194 class): a union-of-selects or a checkpoint target above a join
# can physically execute the SAME subtree once per branch, and AQE's
# exchange reuse only merges branches whose subtrees are CANONICALLY
# identical (rename-below-the-join breaks it).  The static initial
# plan cannot show this — `df.count()` builds its own QueryExecution
# and the printed plan stays `isFinalPlan=false` with duplicate scans
# that runtime reuse may well merge.  So the detector EXECUTES the
# frame (collect on the SAME DataFrame object), reads the
# isFinalPlan=true formatted plan, and groups surviving Scan nodes by
# (relation, ReadSchema, PushedFilters, PartitionFilters): duplicates
# that ReusedExchange/ReusedSubquery merged are gone from the final
# plan by construction, so >RESCAN_MAX identical surviving scans mean
# the subtree genuinely runs that many times.  Non-identical scans of
# one relation (different pushed filters — the q127 funnel's three
# pruned passes) are different work by design and never flagged.

#: identical-scan count above which the final plan is flagged; 2
#: allows the deliberate self-join pair shapes (band tables, pair
#: construction) whose two sides cannot share one exchange
RESCAN_MAX = 2

#: queries whose final plan DELIBERATELY re-scans one relation with
#: identical pushed filters more than RESCAN_MAX times (each entry
#: documents why that is the intended scale shape, mirroring
#: ALLOWED_TINY_BROADCAST_CROSS)
ALLOWED_RESCAN: dict[str, str] = {
    # iterative/multi-round driver loops re-plan per round, so each
    # round's scan appears once — bounded by the documented round count
    "q165_winsorized_mean": (
        "structural minimum after the r7 multi-quantile rewrite: exact "
        "two-phase quantile (locate + bin-pruned refine) + the "
        "winsorize/clip pass = 3 data-dependent passes over one "
        "2-column pruned scan; pass k's filter depends on pass k-1's "
        "aggregate, so no subtree is identical work"
    ),
    "q131_mad_outliers": (
        "robust-statistics data dependency: median -> median of "
        "absolute deviations -> outlier count are three sequentially "
        "dependent passes (each pass's expression reads the previous "
        "pass's broadcast aggregate); identical scans, different work"
    ),
    "q178_incremental_dedup": (
        "by-design rehydration: per side (corpus, batch) one "
        "signature pass + one candidate-only token-rehydration pass = "
        "4 scans; carrying token arrays through the band-explode "
        "shuffle instead would multiply shuffle volume by bands x "
        "tokens — re-reading only the candidate rows is the 100 TB "
        "shape the operator documents"
    ),
    "q331_incremental_dedup_budget": (
        "same inherent 4 as q178 (per-side signature pass + "
        "candidate-only token rehydration); apply_join_pair_budget's "
        "sizing/threshold arms add NO scan survivors — the flow-"
        "through window shape keeps them above the two band "
        "exchanges (re-reads of shuffle files, verified in the "
        "executed final plan)"
    ),
    "q333_embedding_incremental_dedup": (
        "inherent per-side passes, node-mapped from the executed "
        "final plan: corpus = signature window + vector/norm "
        "rehydration (2); batch = candidate-join side + budget "
        "probe-count window + vector rehydration + final admitted-ids "
        "probe (4).  The two extra batch passes vs the text twin "
        "exist because AQE BROADCASTS the tiny batch signature frame "
        "into the candidate join (BroadcastExchange cannot ReusedEx"
        "change-merge with the probe window's shuffle Exchange); at "
        "production batch sizes both sides shuffle on lsh_sig and "
        "merge, and every batch pass is a narrow O(batch) scan.  The "
        "budget threshold arm adds zero scan survivors (reuses the "
        "two window exchanges — verified).  q334, the stored twin, "
        "checkpoints the candidate frame and audits clean with no "
        "entry"
    ),
    "q209_ann_recall_eval": (
        "recall evaluation needs the ANN arm and the exact-truth arm "
        "over the same vectors plus the anchor panel — 3 structurally "
        "different passes; the truth arm is audit-scale by design "
        "(SCALE.md)"
    ),
    "q264_approx_percentile_gate": (
        "exact-vs-approx acceptance gate: 2-pass exact quantile "
        "(locate + bin-pruned refine) + the percentile_approx sketch "
        "pass + the rank-of-approx verification pass; every pass's "
        "predicate depends on the previous result — identical scans, "
        "4 different computations"
    ),
    "q116_bigram_lift": (
        "2 genuine corpus passes (token counts, bigram counts) + the "
        "bigram-total branch, which differs from the joined branch "
        "only by a Catalyst-INFERRED IsNotNull(split(bg)) pushed below "
        "the partial aggregate on the join side — canonically unequal "
        "through no statement of ours; the totals already derive from "
        "the counts tables (r7), so the residual triple is scan-level "
        "only"
    ),
    "q328_bloom_fpr_measured": (
        "population counts (1 combined pass), filter-build arm, probe "
        "arm = 3 passes over a 1-column key scan; the member/probe "
        "split is hash-computed so no pushed filter can prune either "
        "arm by construction; n_bits/n_fp reuse their producers' "
        "exchanges (r7 fix)"
    ),
}


def _strip_initial_plan(plan: str) -> str:
    """Drop the '== Initial Plan ==' tree an executed AdaptiveSparkPlan
    prints BELOW its final tree.  Counting scans across both sections
    double-counts: the initial tree shows the pre-reuse duplicates that
    runtime ReusedExchange already merged (first registry sweep of this
    rule flagged q116 on exactly that phantom).  The node-detail
    section that follows is keyed by node id and only final-tree ids
    end up in the parse, so it can stay."""
    lines = plan.splitlines()
    out: list[str] = []
    skipping = False
    for ln in lines:
        if "== Initial Plan ==" in ln:
            skipping = True
            continue
        if skipping and not ln.strip():
            skipping = False  # initial tree ends at the first blank line
        if not skipping:
            out.append(ln)
    return "\n".join(out)


def _final_plan_scan_groups(plan: str) -> dict[tuple, int]:
    """Count Scan nodes in a formatted plan grouped by what they read.
    On an executed adaptive plan, only the Final Plan tree is counted."""
    children, details, names = _parse_plan_tree(_strip_initial_plan(plan))
    groups: dict[tuple, int] = {}
    for nid, name in names.items():
        if not name.startswith("Scan"):
            continue
        d = details.get(nid, "")
        rel = re.search(r"/(\w+)\.parquet", d)
        if not rel:
            continue
        schema = re.search(r"ReadSchema: ([^\n]*)", d)
        pushed = re.search(r"PushedFilters: ([^\n]*)", d)
        part = re.search(r"PartitionFilters: ([^\n]*)", d)
        key = (
            rel.group(1),
            schema.group(1) if schema else "",
            pushed.group(1) if pushed else "",
            part.group(1) if part else "",
        )
        groups[key] = groups.get(key, 0) + 1
    return groups


def audit_rescan(plan_final: str) -> list[str]:
    """Findings: identical scans surviving >RESCAN_MAX times in an
    executed (isFinalPlan=true) plan — runtime exchange reuse did not
    merge them, so the subtree executes once per occurrence."""
    findings = []
    for (rel, schema, pushed, part), n in _final_plan_scan_groups(
        plan_final
    ).items():
        if n > RESCAN_MAX:
            findings.append(
                f"relation '{rel}' scanned {n}x with identical "
                f"ReadSchema/PushedFilters in the FINAL plan — the "
                f"subtree above it executes {n} times (no "
                f"ReusedExchange merged it); pushed={pushed[:60]}"
            )
    return findings


def executed_final_plan(spark, df) -> str:
    """Execute df (collect on the SAME object) and return the adaptive
    FINAL formatted plan.  collect — not count/noop-write — because
    those build their own QueryExecution and leave this one initial."""
    df.collect()
    return formatted_plan(spark, df)


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--rescan"]
    rescan = "--rescan" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    names = argv[1:] or DEFAULT_QUERIES

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m

    queries = m.queries()
    if not names:
        names = list(queries.keys())
    failed = False
    for name in names:
        df = queries[name](spark, sf_dir)
        plan = formatted_plan(spark, df)
        joins = JOIN_RE.findall(plan)
        pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
        interesting = [p for p in pushed if p != "PushedFilters: []"][:3]
        bad = [
            j
            for j in joins
            if j in FORBIDDEN
            and not (
                j == "BroadcastNestedLoopJoin"
                and name in ALLOWED_TINY_BROADCAST_CROSS
            )
        ]
        wfind = (
            [] if name in ALLOWED_BOUNDED_WINDOW else audit_windows(plan)
        )
        rfind: list[str] = []
        if rescan and name not in ALLOWED_RESCAN:
            # static prefilter: runtime reuse can only REMOVE duplicate
            # scans, so a clean initial plan is already proof — execute
            # only when the initial plan shows a suspect group
            if any(
                n > RESCAN_MAX
                for n in _final_plan_scan_groups(plan).values()
            ):
                try:
                    rfind = audit_rescan(executed_final_plan(spark, df))
                except Exception as e:  # streaming frames can't collect
                    print(f"    rescan-skip ({type(e).__name__}: {e})")
        status = (
            "FORBIDDEN-JOIN"
            if bad
            else "BAD-WINDOW"
            if wfind
            else "RE-EXECUTION"
            if rfind
            else "ok"
        )
        print(
            f"{status:14s} {name}: joins={joins or '-'} "
            f"exchanges={plan.count('Exchange')} "
            f"topk={'TakeOrderedAndProject' in plan}"
        )
        for w in wfind:
            print(f"    {w}")
        for r in rfind:
            print(f"    {r}")
        for p in interesting:
            print(f"    {p[:110]}")
        failed = failed or bool(bad) or bool(wfind) or bool(rfind)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
