"""Scale-guard regression over the EXECUTED PLANS of every registered
query: the plan properties that keep the corpus viable at 1000-executor
scale must not silently regress.

  - No CartesianProduct anywhere: an unconditioned fact-fact cross join
    is a 100 TB non-starter.
  - BroadcastNestedLoopJoin only where a genuinely tiny side is
    broadcast on a non-equi condition (documented allowlist).
  - Selective scans push their filters into the parquet scan
    (PushedFilters non-empty for the spot-checked selective queries).
"""

import pytest

import __spark_entry__ as entry

# Non-equi joins against a broadcast side that is small by construction.
# Every entry MUST state the size bound of the broadcast side — why it
# stays constant (or near-constant) as the corpus scales to 100 TB —
# so the allowlist cannot silently accumulate unaudited BNLJs (r6
# verdict task #8). The failure message below quotes this contract.
BNLJ_ALLOWED = {
    "lsh_candidate_growth": (
        "per-subset output row: two 1-row aggregate frames (candidate "
        "count x max bucket) scalar-crossed — never the corpus"
    ),
    "dedup_skew_stress": (
        "three 1-row aggregate frames (doc stats x gram-df stats x "
        "candidate count) scalar-crossed into the single output row"
    ),
    "sketch_bloom_decontaminate": (
        "dense Bloom bitmask: EXACTLY 1 row by construction (a global "
        "aggregate folding the <=65536 set bits into one 1024-long "
        "array) broadcast to the probe stream; the constant-key "
        "equi-join folds to a BNLJ after literal propagation (r16 "
        "bitset-probe restructure)"
    ),
    # sim_topk_brute: the 50-row-panel BNLJ moved into the persisted
    # panel_truth frame's one-time BUILD (r15, r14 verdict #2) — the
    # served plan is the artifact scan with no BNLJ, so no allowance
    "sim_topk_mmr": (
        "query panel broadcast: N_QUERIES=50 rows by construction "
        "(the sim_topk_brute shortlist shape; visible in the plan "
        "since the r15 grouped-map rewrite dropped the shortlist "
        "checkpoint that used to hide it)"
    ),
    # knn_graph_recall's truth BNLJ likewise lives in the panel_truth
    # BUILD as of r15 (before that: behind a localCheckpoint); the
    # served plan is witness equi-joins only — no allowance needed
    # embed_dim_truncation_audit's 50-row-panel BNLJ executes behind
    # the checkpointed single-pass pairs frame as of r10 — not in the
    # returned plan, so no allowance
    "sim_topk_ivf": "centroid panel: IVF_CELLS=8 rows, a config constant",
    "sim_topk_ivf_probe": "same 8-row centroid panel, probe variant",
    "sim_topk_ivf_trained": "same 8-row panel per Lloyd iteration",
    "ivf_centroid_refine": "same 8-row centroid panel",
    "embed_cluster_purity": "trained centroids: IVF_CELLS=8 rows",
    "embed_silhouette": "same 8-row trained-centroid panel",
    "ivf_kmeanspp_init": (
        "per-round 1-row collected candidate array (O(k*l) entries) "
        "x 1-row phi scalar — the k-means|| decomposition, never the "
        "corpus"
    ),
    "sample_dsir": (
        "two 1-row corpus-total scalars crossed into the DSIR_B-row "
        "weight table — both sides corpus-independent"
    ),
    # corpus_ppl_buckets' inherited text_lm_score vocab BNLJ executes
    # behind global_ranks' localCheckpoint, so it never appears in the
    # returned plan this guard inspects — no allowance needed
    "range_join_price_bands": "derived band table: 12 rows, fixed grid",
    "text_tfidf_topk": "corpus-size scalar: exactly 1 row for idf",
    # text_bm25_topk: the stats scalar cross moved into the persisted
    # impacts frame's one-time BUILD (r12 verdict #2) — the query plan
    # is now join + sum + top-k with no BNLJ, so no allowance
    # text_lm_score: the vocab-scalar cross moved into the persisted
    # bigram-LM frame's one-time BUILD (r13 verdict #2) — the served
    # plan is the artifact scan with no BNLJ, so no allowance
    "text_bpe_merge": "winning-pair scalar: exactly 1 row per merge",
    "embed_abtt": "mean + top component: two 1-row vector broadcasts",
    # embed_covariance: the centering cross moved into the pca_top
    # artifact's one-time BUILD (r14 — the matrix is trained state);
    # the served plan is the 2080-row artifact scan with no BNLJ
    "events_key_skew": "1-row stats frame x 1-row top-k scalar",
    "sketch_hll_merge": (
        "two 1-row HLL estimate folds x 1-row exact count — all scalar "
        "frames by construction"
    ),
    "corpus_source_divergence": (
        "post-aggregate |sources| x top-100k-capped-vocab zero-fill "
        "grid — both sides aggregates bounded by DIV_VOCAB_CAP, never "
        "the corpus; the cross IS the design"
    ),
    "sketch_kmv_jaccard": (
        "source pair grid: both sides the distinct-source list (dozens "
        "of rows at any corpus size) — the sketch rows it fans out are "
        "capped at |sources| x k, never the vocabulary"
    ),
    "graph_triangle_count": (
        "three 1-row aggregate frames (node stats x edge count x "
        "triangle count) scalar-crossed into the output row"
    ),
    "sketch_hist_quantiles": (
        "3-row quantile grid x 1-row total, range-joined against the "
        "~max_len/W-bin merged histogram — every side bounded by "
        "construction, never the corpus"
    ),
    "source_zonemap_skip": (
        "1-row rank-picked bounds frame crossed into the zone map and "
        "the scan; final 1-row x 1-row scalar cross"
    ),
    # semdedup_cell_growth: the nearest-cell BNLJ moved into the
    # persisted occupancy frames' one-time BUILD (r12 verdict #1) —
    # the query plan is two C-row aggregates, so no allowance
    "ivf_incremental_ingest": (
        "the _assign_cells broadcast of the C-row trained-centroid "
        "frame (N_CENTROIDS=8 rows by construction) crossed into the "
        "corpus for nearest-cell ranking — same bounded shape as the "
        "other IVF consumers"
    ),
    "corpus_token_regression": (
        "the 1-row solved-betas frame (a global aggregate) broadcast-"
        "crossed into the corpus for residual scoring"
    ),
}

# Partition-less Window nodes funnel their whole input through ONE
# task, so they are only acceptable over frames BOUNDED BY CONSTRUCTION
# (r9 verdict #2/#3: two corpus-sized ones were rewritten to the
# two-phase distributed rank in ranks.py). Every entry states why its
# frame stays bounded as the corpus scales.
WINDOW_NOPART_ALLOWED = {
    "sketch_hist_quantiles": (
        "cum over the merged histogram (~max_len/W bins) + rank-block "
        "offsets (<= ranks.RANK_PARTS rows)"
    ),
    "source_zonemap_skip": (
        "rank-block offsets: <= ranks.RANK_PARTS rows by construction"
    ),
    "corpus_mix_weights": "cum over the per-source aggregate (|sources|)",
    "quality_buckets": "cum over the bucket aggregate (fixed bucket grid)",
    "sample_mixture_budget": (
        "cum over the per-source aggregate (|sources|)"
    ),
    "events_key_skew": (
        "cum over the count-of-counts frame (distinct frequency "
        "VALUES, not keys — log-scale small)"
    ),
}

# Column names whose value domain is a HANDFUL of classes (flags,
# statuses, segments, source labels…). A window partitioned ONLY by
# such columns has per-partition frames that grow WITH THE CORPUS —
# the defect class of round-10 verdict #1 (extra_stats hid a corpus-
# scale price frame behind a 6-value (flag, which) key), invisible to
# the partition-less guard above. Any such window must either also
# partition by a scaling column (bucket id, entity id, partition id)
# or join the audited allowlist below with the reason its INPUT frame
# is bounded by construction.
CLASS_KEY_COLS = {
    "l_returnflag",
    "l_linestatus",
    "l_shipmode",
    "l_shipinstruct",
    "o_orderstatus",
    "o_orderpriority",
    "c_mktsegment",
    "n_name",
    "r_name",
    "p_brand",
    "p_container",
    "source",
    "lang",
    "which",
    "kind",
    "label",
    "subset",
    "split",
}

# name -> why every class-key-partitioned window in that plan runs
# over an input bounded by construction (NOT the corpus)
WINDOW_CLASSKEY_ALLOWED = {
    "extra_stats": (
        "qty cum-hist: partition l_returnflag, frames <= 50 distinct "
        "l_quantity values (domain-bounded); price radix level 1: "
        "partition l_returnflag over <= max_cents/2^12 bucket rows "
        "(domain-bounded; the in-bucket window partitions by the "
        "scaling hi column and is not class-key-only)"
    ),
    "corpus_length_quantiles": (
        "cum over the (lang, n_tokens) histogram — frames hold the "
        "DISTINCT token-count values (document-length domain), the "
        "corpus is reduced map-side before the window"
    ),
    "sample_token_budget": (
        "keyed_prefix_sum offsets: <= ranks.RANK_PARTS rows per lang "
        "by construction (the corpus-scale cumsum runs within "
        "(_pid, lang) behind the checkpoint)"
    ),
    "sample_pack_sequences": (
        "keyed_prefix_sum offsets: <= ranks.RANK_PARTS rows per lang"
    ),
    "sample_mixture_budget": (
        "keyed_prefix_sum offsets: <= ranks.RANK_PARTS rows per "
        "source; the mix-weight cum runs over the |sources| aggregate"
    ),
    # ---- rank-<=-K windows executed as WindowGroupLimit: Spark caps
    # per-partition state at K rows in the PARTIAL stage before the
    # shuffle, so the class-key partition never materializes its
    # corpus share in one task. Liveness asserted below: these plans
    # must actually contain a WindowGroupLimit node.
    "sample_balanced": "row_number <= BALANCE_CAP via WindowGroupLimit",
    "sample_weighted_priority": (
        "row_number <= WPRI_K via WindowGroupLimit (r10 verdict: "
        "mergeable per-stratum top-K)"
    ),
    "sketch_kmv_distinct": (
        "k smallest hashes per source via WindowGroupLimit (KMV's "
        "bounded sketch state)"
    ),
    "sketch_kmv_jaccard": (
        "same KMV k-smallest WindowGroupLimit, once per sketch side"
    ),
    "corpus_zipf_slope": (
        "rank <= ZIPF_TOP via WindowGroupLimit, over the (lang, tok) "
        "AGGREGATED vocabulary (already sublinear), not the corpus"
    ),
    "embed_centroid_outliers": (
        "rank <= OUTLIER_TOP_K via WindowGroupLimit over per-label "
        "distances"
    ),
    "corpus_ppl_buckets": (
        "global_ranks offsets: <= ranks.RANK_PARTS rows per lang by "
        "construction (the corpus-scale tercile rank runs within "
        "(_pid, lang) behind the checkpoint)"
    ),
}

# the allowances (above) whose stated bound is the two-phase offsets of
# ranks.py (keyed_prefix_sum / global_ranks): their plans must contain
# the offsets window ORDERED BY `_pid`. A text that windows the whole
# class share in one task passes the name-keyed allowlists, not this.
WINDOW_TWO_PHASE = {
    "sample_token_budget",
    "sample_pack_sequences",
    "sample_mixture_budget",
    "corpus_ppl_buckets",
    "sketch_hist_quantiles",
    "source_zonemap_skip",
}

# the allowances whose bound is a histogram reduced before the window:
# every ORDERED class-key window in these plans must be the RANGE-frame
# running count over the histogram's distinct values (a per-row
# ROWS-frame rank would put the class's whole corpus share in one task)
WINDOW_CLASSKEY_RANGE_OVER_HISTOGRAM = {"corpus_length_quantiles"}

# the subset of the allowlist whose justification IS the group-limit
# pushdown — their executed plans must contain a WindowGroupLimit
# node, or the allowance is stale pre-authorization
WINDOW_CLASSKEY_GROUPLIMIT = {
    "sample_balanced",
    "sample_weighted_priority",
    "sketch_kmv_distinct",
    "sketch_kmv_jaccard",
    "corpus_zipf_slope",
    "embed_centroid_outliers",
}

# queries whose WHERE is selective on a scanned column — parquet scan
# must show pushed filters
PUSHDOWN_SPOT_CHECKS = {
    "q6": "lineitem",
    "q19": "part",
    "micro_regex": "part",
    "q4": "orders",
}


def _plan(spark, name, sf_dir):
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {name: _plan(spark, name, sf_dir) for name in entry.queries()}


def test_no_cartesian_product(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert offenders == [], f"cartesian joins crept in: {offenders}"


def test_bnlj_only_on_allowlist(plans):
    offenders = [
        n
        for n, p in plans.items()
        if "BroadcastNestedLoopJoin" in p and n not in BNLJ_ALLOWED
    ]
    assert offenders == [], (
        f"non-equi broadcast joins outside the audited allowlist: "
        f"{offenders}. A BNLJ is only acceptable against a side whose "
        f"size is BOUNDED BY CONSTRUCTION (a scalar aggregate, a "
        f"config-constant panel) — if this one qualifies, add it to "
        f"BNLJ_ALLOWED with a one-line size-bound justification like "
        f"the existing entries; if not, restructure the join."
    )
    stale = sorted(set(BNLJ_ALLOWED) - set(plans))
    assert stale == [], f"BNLJ_ALLOWED entries no longer registered: {stale}"
    # every allowance must be LIVE: an entry whose executed plan no
    # longer contains a BNLJ is a stale pre-authorization that would
    # silently admit any future unbounded BNLJ under that name (r9
    # advice: graph_pagerank's 1-row cross join existed only in the
    # DuckDB dialect text, never in the Spark plan)
    dead = sorted(
        n for n in BNLJ_ALLOWED if "BroadcastNestedLoopJoin" not in plans[n]
    )
    assert dead == [], (
        f"BNLJ_ALLOWED entries whose plans contain no BNLJ (remove "
        f"them, or fix the justification to the join that exists): "
        f"{dead}"
    )


def test_no_partitionless_window_outside_allowlist(plans):
    """A Window whose windowspecdefinition starts with an ORDER column
    (no partition columns) executes in a single task — fine only over
    frames bounded by construction. Any new one must either partition,
    use ranks.global_ranks (two-phase distributed rank), or join the
    audited allowlist with a size-bound justification."""
    import re

    # an ORDER column first, or no spec at all before the frame (OVER ())
    pat = re.compile(
        r"windowspecdefinition\((?:[^,()]+ (?:ASC|DESC) NULLS"
        r"|specifiedwindowframe)"
    )
    offenders = sorted(
        n
        for n, p in plans.items()
        if n not in WINDOW_NOPART_ALLOWED and pat.search(p)
    )
    assert offenders == [], (
        f"partition-less Window nodes outside the audited allowlist: "
        f"{offenders}. If the frame is bounded by construction, add a "
        f"WINDOW_NOPART_ALLOWED entry with the size bound; if it is "
        f"corpus-derived, use ranks.global_ranks or partition it."
    )
    stale = sorted(
        n
        for n in WINDOW_NOPART_ALLOWED
        if n not in plans or not pat.search(plans[n])
    )
    assert stale == [], (
        f"WINDOW_NOPART_ALLOWED entries whose plans no longer contain "
        f"a partition-less Window (remove them): {stale}"
    )


def _classkey_windows(plan):
    """(partition columns, ordered?, frame type) of every
    windowspecdefinition whose partition spec is NON-empty and consists
    ONLY of plain class-key attributes (expressions and scaling columns
    exempt a window)."""
    import re

    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan):
        # slice to the frame spec; partition+order cols precede it
        seg = plan[m.end():m.end() + 400]
        head, _, frame = seg.partition("specifiedwindowframe(")
        parts = []
        only_class = True
        ordered = False
        for tok in head.split(","):
            tok = tok.strip()
            if not tok:
                continue
            if " ASC" in tok or " DESC" in tok:
                ordered = True
                break  # order columns start here
            name = tok.split("#")[0]
            parts.append(name)
            if "(" in tok or name not in CLASS_KEY_COLS:
                only_class = False
        if parts and only_class:
            out.append((parts, ordered, frame.split(",", 1)[0]))
    return out


def _classkey_window_specs(plan):
    """Partition-column name lists of every class-key-only window."""
    return [parts for parts, _, _ in _classkey_windows(plan)]


def test_no_classkey_only_window_outside_allowlist(plans):
    """A Window partitioned ONLY by low-cardinality class columns
    (flags, statuses, segments) has per-partition frames that grow
    with the corpus — one task per class value sorts its whole share
    of the data (round-10 verdict #1/#2). Every such window must run
    over an input bounded by construction, and say why here."""
    offenders = {
        n: specs
        for n, p in plans.items()
        if n not in WINDOW_CLASSKEY_ALLOWED
        and (specs := _classkey_window_specs(p))
    }
    assert offenders == {}, (
        f"class-key-only windows outside the audited allowlist: "
        f"{offenders}. If the window's INPUT is bounded by "
        f"construction (a value-domain histogram, a fixed grid), add "
        f"a WINDOW_CLASSKEY_ALLOWED entry stating that bound; if the "
        f"input is corpus-derived, add a scaling column to the "
        f"partition spec (radix bucket, entity id) or use "
        f"ranks.global_ranks(keys=...)."
    )
    stale = sorted(
        n
        for n in WINDOW_CLASSKEY_ALLOWED
        if n not in plans or not _classkey_window_specs(plans[n])
    )
    assert stale == [], (
        f"WINDOW_CLASSKEY_ALLOWED entries whose plans no longer "
        f"contain a class-key-only window (remove them): {stale}"
    )
    no_limit = sorted(
        n
        for n in WINDOW_CLASSKEY_GROUPLIMIT
        if "WindowGroupLimit" not in plans.get(n, "")
    )
    assert no_limit == [], (
        f"allowances justified by WindowGroupLimit whose plans no "
        f"longer contain one (the rank-limit pushdown regressed — "
        f"per-partition state is corpus-scale again): {no_limit}"
    )


def test_two_phase_allowances_are_live(plans):
    """The allowances whose bound is ranks.py's two-phase offsets (or a
    histogram reduced before the window) must still have that shape: a
    name-keyed allowlist would otherwise admit any plan registered
    under the name, including a text that runs one class-key window
    over the corpus."""
    import re

    pid_order = re.compile(r"windowspecdefinition\((?:[^(),]+, )*_pid#\d+ ASC")
    no_offsets = sorted(
        n for n in WINDOW_TWO_PHASE if not pid_order.search(plans.get(n, ""))
    )
    assert no_offsets == [], (
        f"allowances justified by two-phase offsets whose plans contain "
        f"no window ordered by _pid: {no_offsets}"
    )
    for n in sorted(WINDOW_CLASSKEY_RANGE_OVER_HISTOGRAM):
        frames = [f for _, ordered, f in _classkey_windows(plans[n]) if ordered]
        assert frames and set(frames) == {"RangeFrame"}, (
            f"{n}: its ordered class-key windows must be the RANGE-frame "
            f"running count over the histogram, got {frames}"
        )


def test_filters_pushed_to_scan(plans):
    for name in PUSHDOWN_SPOT_CHECKS:
        plan = plans[name]
        assert "PushedFilters: [" in plan, name
        # at least one scan carries a real pushed filter
        pushed = [
            seg.split("]")[0]
            for seg in plan.split("PushedFilters: [")[1:]
        ]
        assert any(seg.strip() for seg in pushed), f"{name}: no pushed filters"


def test_bucketed_gate_join_is_exchange_free(plans):
    """source_bucketed_join: both scans must read `Bucketed: true` and
    NO exchange may sit between a scan and the SortMergeJoin — the
    co-located layout is the thing the query gates, so a silent
    regression to shuffle-both-sides must fail here even though the
    result hash would still match."""
    plan = plans["source_bucketed_join"]
    assert plan.count("Bucketed: true") == 2, plan
    assert "SortMergeJoin" in plan, plan
    join_input = plan.split("SortMergeJoin", 1)[1]
    # the subtree printed after the join node is its two children;
    # hashpartitioning exchanges there would mean buckets were ignored
    assert "Exchange hashpartitioning" not in join_input, join_input
