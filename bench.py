"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON line:
{"metric": "headline_total", "value": N, "unit": "sec", "sf": ...,
 "sweep_total": M, "n_queries": K, "slowest": {...}, ...}

The line is kept SHORT deliberately: the round driver records only the
last ~2000 characters of stdout and parses the JSON out of that window
— r5's 100-query inline timings overflowed it and the driver recorded
``parsed: null``. Full per-query timings (headline min-of-3 AND the
single-run full sweep over EVERY queries() entry) are written to
``BENCH_FULL.json`` at the repo root, which is committed per round.

Tiers:
- HEADLINE: min-of-3 per query — the round-over-round compare gate.
- FULL SWEEP: every other queries() entry, one timed run through the
  noop sink. Catches per-row cost cliffs that plan pins can't see
  (the r5 series_ewm 122s lesson). Any entry over --budget seconds
  (default 5.0 at sf0.1) is re-run up to 2 more times; if the MIN
  still exceeds the budget and the query is not in SLOW_LEDGER, the
  run exits 3 after printing its JSON.

``--compare PREV.json`` (BENCH_rNN.json driver wrapper, a raw one-line
output, or BENCH_FULL.json) prints a per-query delta report to stderr
and exits 1 if any headline query regressed more than ``--threshold``
(default 1.3x) AND ``--min-delta`` (default 0.2s).

``--headline-only`` skips the full sweep (fast local iteration).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPO = os.path.dirname(os.path.abspath(__file__))
FULL_OUT = os.path.join(REPO, "BENCH_FULL.json")

# headline set: one per operator family, weighted toward shuffle/join/
# text-heavy paths that dominate at scale
HEADLINE = [
    "pricing_summary",
    "agg_matrix",
    "median_quantile",
    "groupby_multi",
    "groupby_datetime",
    "groupby_transform",
    "resample_6h",
    "filter_chain",
    "arithmetic",
    "sort_topk",
    "join_orders_customer",
    "join_multi_hop",
    "top_orders",
    "semi_join",
    "asof_join",
    "window_topk_per_group",
    "global_rank_topk",
    "series_rank",
    "events_tumbling",
    "events_sliding",
    "sessionize",
    "dedup_exact",
    "text_stats",
    "text_quality",
    "text_repetition",
    "fingerprint",
    "minhash_near_dup",
    "tfidf_topk",
    "es_query_dsl",
    "query_string",
    "redact_pii",
    "train_val_split",
    "cut_buckets",
    "hll_distinct",
    "ann_bruteforce",
    "knn_join",
    "embedding_norms",
    "decontaminate",
    "perplexity",
    "boilerplate",
    "curation_pipeline",
    "ppl_buckets",
    "cap_per_domain",
    "token_budget_sample",
    "skew_kurt",
    "groupby_ewm",
    "semantic_dedup",
    "url_curation",
    "frame_order_ops",
    "interpolate_gaps",
    "chunk_tokens",
    "embedding_covariance",
    "standardized",
    "cross_near_dup",
    "freq_tokens",
    "interval_overlap",
    "ann_pq",
    "dup_spans",
    "bloom_membership",
    "wordpiece",
    "bpe_train",
    "segment_dedup",
    "gopher_quality",
    "c4_rules",
    "dsir_select",
    "zorder_cluster",
    "shard_by_budget",
    "allocate_budget",
    # (ngram_jaccard is deliberately NOT a headline: its md5-portable
    # hashing is the oracle-parity path — ~6x the xxhash64 fast path
    # that minhash_near_dup already times here; the full sweep still
    # times it once)
    "gapfill_locf",
    "cms_freq",
    "es_knn",
    # r4 batch: one-pass constraint suite, iterative graph centrality,
    # LSH-candidates + Levenshtein verify, trailing-window anomaly
    # scores, and the single-shuffle funnel fold
    "quality_suite",
    "pagerank",
    "editdist_near_dup",
    "rolling_zscore",
    "funnel",
    # bin-count drift and the rank-sum AUC — the two genuinely new
    # plan shapes of the later r4 batch (the keyed-window timeseries
    # ops share rolling_zscore's already-benched shape)
    "drift_psi",
    "eval_auc",
    # r5 batch: the bounded-state chained-min funnel (k aggs + joins vs
    # the fold's one shuffle) and the label-join/as-of reindex pair
    # (align shares reindex's key-join shape)
    "funnel_skew_safe",
    "reindex_ffill",
    # the Arrow-batched rolling().apply escape hatch (pandas-in-bucket)
    "rolling_apply",
    # BM25 ranked retrieval: scalar stats pass + TakeOrdered score pass
    "bm25_topk",
    # stored-index near-dup probe: increment broadcast, index map-only
    "incremental_near_dup",
    # multi-vector late-interaction (MaxSim): one doc agg, literal queries
    "maxsim",
    # hybrid lexical+vector retrieval fused by RRF (bounded top-k legs)
    "hybrid_search",
    # n-gram overlap fraction: broadcast benchmark set + one doc agg
    "contamination_overlap",
    # clustering quality (inertia + centroid silhouette): one cell agg
    "cluster_metrics",
    # order-insensitive content checksums: one hash agg
    "corpus_manifest",
    # two-series rolling Pearson through the bucketed padded plan
    "rolling_corr",
    # exact two-sample KS: checkpointed counts + bucket prefix-sum ECDFs
    "drift_ks",
    # per-query retrieval scorecard: one query-keyed exchange
    "rank_metrics",
    # exact Spearman: checkpointed pair counts + two midrank joins
    "spearman",
    # rank->uniform transform: distinct counts + prefix-sum + join back
    "rank_uniform",
    # windowed sample moments on the shared bucketed padded pass
    "rolling_skew_kurt",
    # exact keyed-window percentile
    "groupby_rolling_quantile",
    # running central moments: rank pass + one shared-Window exchange
    "expanding_skew_kurt",
    # one rank pass + one lag-exploded join + one k-keyed corr agg
    "acf",
    # centered-MA decomposition: bucketed MA + shift join + phase bcast
    "seasonal_decompose",
    # one full-scan builtin regr_* agg
    "linear_fit",
    # truncated-kernel weighted variance on the bucketed padded plan
    "ewm_std",
    # r5 stats queries missed by the r5 HEADLINE (ADVICE r5): the
    # window-percentile and Arrow-applyInPandas classes the full-sweep
    # rule was written for, plus the scalar two-sample tests
    "calibration",
    "cohens_kappa",
    "assoc_lang_source",
    "welch_ttest",
    "rank_sum_test",
    "rolling_quantile",
    "groupby_linear_fit",
    "groupby_rolling_skew",
    "groupby_ewm_std",
    # r6: wide-kernel (921-lag) grouped ewm — must stay within ~2x of
    # the short-span groupby_ewm (both ride the arrow C-kernel engine)
    "groupby_ewm_wide",
    # r6: KS + Mann-Whitney fused onto one distinct-value prefix-sum
    # pass — should bench well under drift_ks + rank_sum_test combined
    "drift_scorecard",
    # r6: cluster-keyed split (near-dup components + md5 split) — the
    # clustering dominates; rides the already-benched component plan
    "leakage_safe_split",
    # r6: reference-distribution quantile mapping (rank pass + landmark
    # array literal + zero-shuffle lerp)
    "quantile_normalize",
    # r7: JS drift (bin-count aggs), multi-rater agreement (keyed
    # window panel + cell-sized aggs), corpus BLEU (n-gram-keyed hash
    # aggs), SCD2 intervals (one keyed shuffle, two window passes),
    # MMR diversity re-rank (bounded per-query greedy, applyInPandas)
    "drift_js",
    "fleiss_kappa",
    "corpus_bleu",
    "scd2_history",
    "mmr_rerank",
    # r7: PR operating table (auc's prefix-sum plan, descending) and
    # the per-feature KS battery + Kolmogorov p + BH FDR layer
    "pr_curve",
    "drift_battery",
    # r7: ROUGE-1/2 pair means (gram-keyed aggs) and the SCD2
    # point-in-time feature join (asof backward + expiry mask)
    "rouge_n",
    "pit_join",
    # r7: unigram-LM tokenizer — hard-EM training (distinct-word Arrow
    # E-steps) and corpus Viterbi segmentation
    "unigram_train",
    "unigram_segment",
    # r7: corpus chrF (char n-gram F-beta, whitespace-stripped)
    "chrf",
    # r8: KM survival (keyed-window prefix products), bigram-LM ppl
    # scoring (3 distributed count joins), shingle-containment dedup
    # (rare-shingle blocking + exact count pruning), k-anonymity audit
    # (one class agg), md5 negative sampling (bounded fan-out)
    "kaplan_meier",
    "bigram_logppl",
    "containment_near_dup",
    "k_anonymity",
    "negative_sample",
    # r8: blocked Jaro-Winkler linkage (rare-bigram blocking + Arrow
    # verify) and the token-weighted quantile pass (one keyed window)
    "fuzzy_title_match",
    "weighted_quantiles",
    # r8: synchronous LPA (3 unrolled rounds on the reused edge
    # partitioning), md5-argmin walks (3 frontier joins), and the
    # nano-quantized forecast scorecard (one keyed window + agg)
    "label_propagation",
    "random_walks",
    "forecast_metrics",
    # r8: T5 span corruption (posexplode + doc-keyed windows on one
    # exchange + per-doc assembly) and the trimmed location/scale pass
    "span_corrupt",
    "trimmed_stats",
]

# queries whose result set is large -> noop sink instead of collect
ROW_HEAVY = {
    "decontaminate",
    "perplexity",
    "ppl_buckets",
    "cap_per_domain",
    "token_budget_sample",
    "boilerplate",
    "filter_chain",
    "groupby_transform",
    "series_rank",
    "redact_pii",
    "text_stats",
    "text_repetition",
    "fingerprint",
    "window_running_sum",
    "groupby_ewm",
    "frame_order_ops",
    "interpolate_gaps",
    "chunk_tokens",
    "standardized",
    "interval_overlap",
    "segment_dedup",
    "gopher_quality",
    "c4_rules",
    "rolling_apply",
    "rolling_corr",
    "rolling_quantile",
    "groupby_rolling_skew",
    "groupby_ewm_std",
    "groupby_ewm_wide",
    "bigram_logppl",
    "span_corrupt",
}

# Ledgered explanations for sweep entries allowed over the per-query
# budget at sf0.1. Keep this SHORT — an entry here must name the cost
# driver and why it is scale-safe (or a deliberate slow oracle twin).
SLOW_LEDGER: dict[str, str] = {
    "ngram_jaccard": "md5-portable oracle twin of minhash_near_dup; "
    "the xxhash64 fast path is the production one and IS headline. "
    "r8 opt (staged shingle arrays + pushdown-barrier agg) brought it "
    "~9 -> ~2.2s; ledger retained because sub-3s queries on this VM "
    "can still swing 3x under the documented steal bursts",
    "embed_dedup": "LSH-bucketed cosine dedup: bucket join + per-pair "
    "verified folds — real data-proportional work, no per-row cliff "
    "(plan is banded, never all-pairs). r8 opt (per-row norm hoist) "
    "brought it ~4.8 -> ~2.5s; ledger retained for steal-burst "
    "headroom as above",
}


def _load_entry():
    sys.path.insert(0, REPO)
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    return entry


def _run_once(fn, name: str, spark, collect_small: bool) -> float:
    t0 = time.perf_counter()
    df = fn(spark, SF_DIR)
    if collect_small and name not in ROW_HEAVY:
        df.collect()
    else:
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# Hypervisor-steal gating (r8, guide §1 "measure correctly"): this VM
# shows multi-minute steal bursts that inflate even a min-of-3 10-30x
# (r8 measured wordpiece 30.1s and groupby_rolling_quantile 38.7s in
# one pass, 2.2s in the next, with DISJOINT burst victims per pass —
# and r7's rc=3 simhash_near_dup 10.4s was the same mode). /proc/stat
# col 8 makes the burst VISIBLE, so a timing whose window was stolen
# is retried (bounded) instead of silently recorded. Timing
# methodology is unchanged — same queries, same min aggregation; only
# invalid samples are re-taken, and any query that never got a clean
# window is flagged in the artifact.
_STEAL_OK_PCT = 2.0
_STEAL_RETRIES = 3


def _cpu_stat() -> "tuple[int, int]":
    try:
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        return (vals[7] if len(vals) > 7 else 0), sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def _steal_pct(before: "tuple[int, int]") -> float:
    s0, t0 = before
    s1, t1 = _cpu_stat()
    if t1 <= t0:
        return 0.0
    return round(100.0 * (s1 - s0) / (t1 - t0), 2)


def main() -> None:
    headline_only = "--headline-only" in sys.argv
    budget = (
        float(sys.argv[sys.argv.index("--budget") + 1])
        if "--budget" in sys.argv
        else 5.0
    )
    entry = _load_entry()

    import eland_spark as es

    spark = es.get_session("eland_spark_bench")
    queries = entry.queries()

    # Warm the JVM outside timing: parquet footers plus one tiny query per
    # physical-operator class (hash agg, sort+window, shuffle join, HOF,
    # explode) so measured runs reflect steady-state codegen'd execution,
    # not first-touch JIT — the regime a long-lived cluster runs in.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    li.count()
    tiny = li.limit(2048).select(
        "l_orderkey", "l_quantity", F.concat_ws(" ", "l_returnflag", "l_linestatus", "l_shipdate").alias("txt")
    ).cache()
    tiny.groupBy("l_orderkey").agg(F.min("l_quantity"), F.sum("l_quantity")).count()
    w = Window.partitionBy("l_orderkey").orderBy("l_quantity")
    tiny.select(F.row_number().over(w), F.lead("l_quantity").over(w)).count()
    tiny.alias("a").join(tiny.alias("b"), "l_orderkey").count()
    tiny.select(
        F.explode(F.split("txt", r"\s+")).alias("t")
    ).groupBy("t").count().count()
    tiny.select(
        F.size(F.filter(F.split("txt", r"\s+"), lambda t: t.isin(["a"])))
    ).count()
    tiny.agg(
        F.percentile("l_quantity", F.array(F.lit(0.25), F.lit(0.5)))
    ).collect()
    from eland_spark.operators.percentiles import exact_percentiles

    exact_percentiles(tiny, "l_quantity", [0.5], partitions=4)
    # median_quantile re-enters its boundary scalars via createDataFrame;
    # warm that session-first path too (Py->JVM row conversion setup)
    spark.createDataFrame([(1.0,)], "x double").collect()
    tiny.unpersist()
    # one micro-pass through the minhash operator chain (shingle window,
    # wide min-agg, band self-join) — warms its generated-code paths
    from eland_spark.operators.dedup import minhash_candidate_pairs
    import eland_spark as es_mod

    docs_tiny = es_mod.read_parquet(
        spark, f"{SF_DIR}/documents.parquet", index_col="doc_id"
    )
    docs_tiny = type(docs_tiny)(
        docs_tiny.to_spark().limit(128), docs_tiny._schema
    )
    minhash_candidate_pairs(docs_tiny, "text", "doc_id", k=3, num_hashes=64,
                            bands=16).count()

    # absorb the first-query cold start (scheduler spin-up, broadcast
    # thread pool, parquet footer cache) on an untimed pass
    queries[HEADLINE[0]](spark, SF_DIR).collect()

    # Three timed runs per query, report the MIN: the steady-state number a
    # long-lived cluster sees (same rationale as the warmup block — the
    # first run can still pay Janino codegen for query-specific generated
    # classes, e.g. literal-baked vector folds, and absorbs scheduler
    # noise; min-of-N measures the plan, not the JIT). Three rather than
    # two because this VM shows bursty hypervisor steal: back-to-back
    # full passes at r4 varied 61→83→80 s with disjoint >1.3× "regression"
    # sets (even a bare semi_join hit 3×), so a 2-run min still lets one
    # noisy pair through; a third sample makes the min materially stabler.
    RUNS = 3
    timings: dict[str, float] = {}
    steal_flagged: dict[str, float] = {}
    total = 0.0
    for name in HEADLINE:
        fn = queries[name]
        best = None
        clean_seen = False
        attempts = 0
        while attempts < RUNS + _STEAL_RETRIES:
            c0 = _cpu_stat()
            dt = _run_once(fn, name, spark, collect_small=True)
            st = _steal_pct(c0)
            attempts += 1
            clean_seen = clean_seen or st <= _STEAL_OK_PCT
            best = dt if best is None else min(best, dt)
            if attempts >= RUNS and clean_seen:
                break
        if not clean_seen:
            steal_flagged[name] = st
        timings[name] = round(best, 3)
        total += best

    # FULL SWEEP: one timed run for every queries() entry not already
    # timed above, through the noop sink (full compute, no driver
    # materialization). Single run is enough to catch a cost CLIFF
    # (the target failure class is 10-100x, not 1.3x); over-budget
    # entries get re-run so hypervisor-steal bursts can't fail the gate
    # on their own, and a RATCHET against the last committed
    # BENCH_FULL.json absorbs whole-machine degradation: an entry that
    # was under budget last time and is now within 2x(+1s) of its own
    # prior is machine noise (this VM's documented steal bursts slow
    # entire passes 1.3-2x with disjoint victims), while a genuine
    # cliff (the 122s-class bug this tier exists for) blows far past
    # both the absolute budget and the ratchet.
    # the ratchet baseline is the COMMITTED artifact (git HEAD), not the
    # working tree: the working-tree file is unconditionally overwritten
    # below even on a budget-bust exit, so reading it back would let a
    # noisy run's timings excuse the next run without anyone having
    # accepted them. Fall back to the working-tree file only when git
    # is unavailable (e.g. a bare checkout without history).
    prior_times: dict[str, float] = {}
    _prior_raw = None
    try:
        _prior_raw = subprocess.run(
            ["git", "show", f"HEAD:{os.path.basename(FULL_OUT)}"],
            capture_output=True, text=True, timeout=30, cwd=REPO,
        ).stdout or None
    except (OSError, subprocess.SubprocessError):
        _prior_raw = None
    if _prior_raw is None:
        try:
            with open(FULL_OUT) as f:
                _prior_raw = f.read()
        except OSError:
            _prior_raw = None
    try:
        _prior = json.loads(_prior_raw) if _prior_raw else {}
        prior_times = {**_prior.get("sweep", {}), **_prior.get("queries", {})}
    except ValueError:
        pass
    sweep: dict[str, float] = {}
    over_budget: list[str] = []
    if not headline_only:
        for name, fn in sorted(queries.items()):
            if name in timings:
                continue
            c0 = _cpu_stat()
            dt = _run_once(fn, name, spark, collect_small=False)
            st = _steal_pct(c0)
            clean = st <= _STEAL_OK_PCT
            if dt > budget or not clean:
                for _ in range(_STEAL_RETRIES):
                    c0 = _cpu_stat()
                    dt = min(dt, _run_once(fn, name, spark, collect_small=False))
                    st = _steal_pct(c0)
                    clean = clean or st <= _STEAL_OK_PCT
                    if dt <= budget and clean:
                        break
                if not clean:
                    steal_flagged[name] = st
            sweep[name] = round(dt, 3)
            if _busts_budget(name, dt, budget, prior_times) and not (
                _steal_excused(name, budget, prior_times, steal_flagged)
            ):
                over_budget.append(name)
    sweep_total = round(sum(sweep.values()), 3)

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    full = {
        "metric": "headline_total",
        "value": round(total, 3),
        "unit": "sec",
        "sf": float(sf),
        "runs_per_query": RUNS,
        "agg": "min",
        "queries": timings,
        "sweep": sweep,
        "sweep_total": sweep_total,
        "sweep_budget_sec": budget,
        "over_budget": over_budget,
        "slow_ledger": SLOW_LEDGER,
        # queries whose every timing window saw >2% hypervisor steal
        # (value = last window's steal%%): their numbers are upper
        # bounds, not steady state — treat regressions there as noise
        # until reproduced in a clean window
        "steal_flagged": steal_flagged,
    }
    with open(FULL_OUT, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")

    # The stdout contract line stays under ~1900 chars: the driver
    # records only the last ~2000 chars of stdout and parses the JSON
    # from that window (r5's 100-query inline dict overflowed it ->
    # parsed: null). Per-query detail lives in BENCH_FULL.json; the
    # line carries totals + the slowest entries across both tiers.
    merged = dict(sweep)
    merged.update(timings)
    slowest = dict(
        sorted(merged.items(), key=lambda kv: -kv[1])[:15]
    )
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(total, 3),
                "unit": "sec",
                "sf": float(sf),
                "runs_per_query": RUNS,
                "agg": "min",
                "n_headline": len(timings),
                "sweep_total": sweep_total,
                "n_queries": len(timings) + len(sweep),
                "over_budget": over_budget,
                "steal_flagged_n": len(steal_flagged),
                "slowest": slowest,
                # bounded per-query digest vs the COMMITTED
                # BENCH_FULL.json so the round driver's tail-window
                # parse carries a real round-over-round comparison
                # (r8's PERF record had per_query: {} / n_common: 0)
                "vs_committed": _vs_committed(timings, prior_times),
                "queries_file": "BENCH_FULL.json",
            }
        )
    )

    rc = 0
    if "--compare" in sys.argv:
        prev_path = sys.argv[sys.argv.index("--compare") + 1]
        thr = (
            float(sys.argv[sys.argv.index("--threshold") + 1])
            if "--threshold" in sys.argv
            else 1.3
        )
        min_delta = (
            float(sys.argv[sys.argv.index("--min-delta") + 1])
            if "--min-delta" in sys.argv
            else 0.2
        )
        rc = _compare(timings, prev_path, thr, min_delta)
    if over_budget and rc == 0:
        print(
            f"BUDGET: {len(over_budget)} sweep entries past {budget:.1f}s "
            f"without a SLOW_LEDGER note: {', '.join(over_budget)}",
            file=sys.stderr,
        )
        rc = 3
    sys.exit(rc)


def _vs_committed(timings: dict, prior_times: dict) -> dict:
    """Compact headline-vs-committed digest for the stdout line (the
    driver tail window is ~2000 chars, so this stays bounded: counts,
    a geomean, and the worst three regressions only). A regression
    here uses the --compare gate's bar (>1.3x AND >0.2s); full
    per-query detail stays in BENCH_FULL.json."""
    import math

    common = [
        (name, prior_times[name], now)
        for name, now in timings.items()
        # explicit: a committed 0.0 s (no ratio defined) is a deliberate
        # skip, not a falsy accident that looks like a missing query
        if name in prior_times and prior_times[name] > 0
    ]
    if not common:
        return {"n_common": 0}
    logs = [math.log(then / now) for _, then, now in common if now > 0]
    regs = sorted(
        (
            (now / then, name, then, now)
            for name, then, now in common
            if now / then > 1.3 and (now - then) > 0.2
        ),
        reverse=True,
    )
    return {
        "n_common": len(common),
        "geomean_speedup": round(math.exp(sum(logs) / len(logs)), 3)
        if logs
        else None,
        "n_regressed": len(regs),
        "worst": {name: [then, now] for _, name, then, now in regs[:3]},
    }


def _busts_budget(
    name: str, dt: float, budget: float, prior_times: dict
) -> bool:
    """True when a sweep timing is a genuine budget violation. Ledgered
    entries never bust. An entry over the absolute budget is excused
    when it was under budget in the committed artifact AND is within
    2x(+1s) of its own prior — whole-machine degradation (this VM's
    steal bursts slow entire passes 1.3-2x), not a new per-row cliff;
    a real 10-100x cliff blows both bounds."""
    if dt <= budget or name in SLOW_LEDGER:
        return False
    base = prior_times.get(name)
    if base is not None and base <= budget and dt <= 2 * base + 1.0:
        print(
            f"  budget: {name} {dt:.2f}s > {budget:.1f}s but within 2x "
            f"of its committed {base:.2f}s — machine noise, not a cliff",
            file=sys.stderr,
        )
        return False
    return True


def _steal_excused(
    name: str, budget: float, prior_times: dict, steal_flagged: dict
) -> bool:
    """A budget bust is excused when EVERY timing window for the entry
    saw >2% hypervisor steal (back-to-back retries cannot outlast a
    multi-minute burst) AND the committed artifact has it under
    budget: that combination is the r7 rc=3 signature (simhash 10.4s
    under a burst vs 3.3s committed, irreproducible on a quiet box),
    not a new cliff — a cliff introduced by a code change would also
    bust in clean windows on the next pass, and the inflated number
    stays visible in the artifact's sweep + steal_flagged fields."""
    base = prior_times.get(name)
    return (
        name in steal_flagged and base is not None and base <= budget
    )


def _prev_queries(prev: dict) -> dict:
    """Extract per-query headline timings from any of the three bench
    artifact shapes: the raw one-line output / BENCH_FULL.json
    ({"queries": {...}}), or the driver's BENCH_r{N}.json wrapper
    ({"parsed": {...}} — which is null when the round's stdout JSON
    line overflowed the driver's 2000-char tail window, r5; in that
    case recover what timing pairs survive in the recorded tail)."""
    if "parsed" in prev:
        parsed = prev["parsed"]
        if parsed is not None:
            return parsed.get("queries", {})
        tail = prev.get("tail", "")
        pairs = re.findall(r'"([a-z0-9_]+)":\s*([0-9]+\.[0-9]+)', tail)
        drop = {"sf", "value", "sweep_total", "sweep_budget_sec"}
        return {k: float(v) for k, v in pairs if k not in drop}
    return prev.get("queries", {})


def _compare(
    timings: dict, prev_path: str, threshold: float, min_delta: float = 0.2
) -> int:
    """Per-query regression report vs a previous bench JSON. Returns a
    nonzero exit code when any query slowed past ``threshold``x AND by
    more than ``min_delta`` seconds — the absolute floor exists
    because sub-0.5s queries swing +-0.15s between back-to-back quiet
    runs (three r4 runs: window_topk_per_group 0.398/0.526/0.542s with
    an identical plan), so a pure ratio gate flags a different small
    query every run while a real regression on a heavy query clears
    both bars."""
    with open(prev_path) as f:
        prev = json.load(f)
    base = _prev_queries(prev)
    regressed = []
    for name, now in sorted(timings.items()):
        then = base.get(name)
        if not then:
            print(f"  {name}: {now:.3f}s (new)", file=sys.stderr)
            continue
        ratio = now / then
        is_reg = ratio > threshold and (now - then) > min_delta
        flag = " <-- REGRESSED" if is_reg else ""
        print(
            f"  {name}: {now:.3f}s vs {then:.3f}s ({ratio:.2f}x){flag}",
            file=sys.stderr,
        )
        if is_reg:
            regressed.append(name)
    if regressed:
        print(
            f"REGRESSION: {len(regressed)} queries past {threshold}x: "
            f"{', '.join(regressed)}",
            file=sys.stderr,
        )
        return 1
    print(f"compare OK: no query past {threshold}x of {prev_path}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    main()
