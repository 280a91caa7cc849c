"""Declared query inventory: one entry per implemented operator from
SURVEY.md §2 (+ datapipe extensions), each with a DuckDB oracle.

``QUERIES[name](spark, sf_dir) -> DataFrame`` and ``ORACLES[name]`` is
the equivalent ANSI SQL. Column names are aliased identically on both
sides (the driver hash-compares after sorting columns by name).
"""

from __future__ import annotations

from cubert_spark.queries import (
    core,
    datapipe,
    events,
    extensions,
    olap,
    physical,
    scriptq,
)

_MODULES = (core, olap, events, datapipe, extensions, scriptq, physical)

# Declaration order is a freshness-rotation policy, not a hand-tuned
# list: the attestation driver checks the first N declared queries per
# round, so we declare least-recently-green-attested first (computed
# from the CORRECTNESS_r*.json records the driver itself wrote; ties
# broken by name). Standing rule this implements: no query goes two
# rounds without re-attestation, and never-green queries (new, or
# previously mismatched) always rotate to the front. The policy is
# data-derived and deterministic — adding a query or a new round's
# record re-ranks everything with no manual edits.


def _last_green_round() -> dict[str, int]:
    """name -> last round whose driver record attested the query green
    (``hash_match: true`` ONLY — a rows-only record never counts as an
    attestation). Unrecorded / never-green -> absent."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                records = json.load(f)
        except (OSError, ValueError):
            continue
        for name, rec in records.items():
            # hash_match only: a rows-only "no_oracle" record is NOT
            # an attestation (the class it served is gone since r6,
            # and counting it let a never-verified query rank as
            # fresh — r7 VERDICT #3)
            if rec.get("hash_match") is True:
                last[name] = max(last.get(name, 0), rnd)
    return last


def _ordered(merged):
    last = _last_green_round()
    return {
        name: merged[name]
        for name in sorted(merged, key=lambda n: (last.get(n, 0), n))
    }


#: Contract-twin rows FOLDED OUT of the driver-declared inventory
#: (r6 VERDICT task 2): each is a near-duplicate of a declared row —
#: an exact ground-truth twin whose approximate sibling now embeds its
#: own contract, a salted/plan-variant of the same math, or a narrow
#: variant of a family with a declared representative. Folding shrinks
#: the driver's 50-rows/round rotation period to ≤2.4 rounds at 120
#: declared rows WITH NO COVERAGE LOSS: every folded query keeps its
#: implementation, oracle, bench entry (where benched), and runs in
#: the same strict local parity gate (tests/test_oracle_parity.py
#: parametrizes declared ∪ folded). value = the declared row(s) that
#: keep the operator family driver-attested.
FOLDED: dict[str, str] = {
    # exact ground-truth twins of contract-carrying approximate rows
    "lsh_ann_exact": "lsh_ann (embeds in-query recall contract)",
    "ivf_assign_exact": "ivf_topk (embeds in-query recall contract)",
    "ivf_topk_exact": "ivf_topk (embeds in-query recall contract)",
    "approx_count_distinct": "hll_estimate (register-exact HLL oracle)",
    "hll_by_group": "hll_estimate (same sketch, grouped variant)",
    "pq_encode": "pq_adc_topk (ADC search includes the encode path)",
    # salted plan-variants of declared exact rows (plan pytest-pinned)
    "salted_count_distinct": "count_distinct (same math, salted plan)",
    "salted_topn": "topn (same math, salted plan)",
    # cube family subsets of grouping_sets/grouping_combos
    "rollup": "grouping_sets / cube_additive",
    "grouping_id": "grouping_sets (same grouping_id machinery)",
    # join/family variants with a declared representative
    "join_full_outer": "join_left_outer (same merge-join matrix)",
    # deterministic-sampling family: stratified + mixture stay declared
    "det_sample": "stratified_sample (same md5-expression filter)",
    "per_group_sample": "stratified_sample",
    "train_test_split": "stratified_sample",
    "weighted_sample": "mixture_sample (same weighted-pick algebra)",
    # text-stats family: text_quality/quality_classifier/pii_redact stay
    "pii_counts": "pii_redact (same regex chains, counting variant)",
    "token_counts": "text_quality (same tokenizer columns)",
    "ngram_novelty": "tfidf family via contamination/ngram_jaccard",
    "repetition_stats": "text_quality (same repetition columns)",
    "normalize_text": "corpus_pipeline (normalize is its first stage)",
    # streaming-window batch twins: tumbling_window/sessionize stay
    "session_window": "sessionize (same session-gap algebra)",
    "sliding_window": "tumbling_window (same window() machinery)",
    # dedup family: minhash_lsh/ngram_jaccard/containment_pairs stay
    "jaccard_prefix": "ngram_jaccard (prefix filter is its pruning)",
    "ngram_jaccard_cut": "ngram_jaccard (same join + the corpus-"
                         "relative stopword cut — the 100 TB "
                         "spelling; benched in its place, r11)",
    "neardup_dedup": "minhash_lsh + dedup winner-elect in paragraph_dedup",
    "simhash": "minhash_lsh (hash-sketch dedup family)",
    "dedup_clusters": "golden_record (runs the same CC machinery)",
    "fuzzy_pairs2": "fuzzy_pairs (d=2 variant of the same SymSpell join)",
    "fuzzy_pairs_blocked": "fuzzy_pairs (same join, + blocking key — "
                           "the 100 TB mitigation; benched + exponent "
                           "in SCALE.md)",
    # centroid family: kmeans_lloyd (iterative, exact-integer) stays —
    # it runs the same per-position sum/count centroid algebra k-way
    # per iteration, so one driver-attested row covers the family
    "label_centroids": "kmeans_lloyd (same centroid algebra, iterated)",
    "kmeans_assign": "kmeans_lloyd (same Lloyd machinery; assign is "
                     "its final-centroid labeling pass)",
    # histogram/percentile family: equidepth + approx_quantile stay
    "value_histogram": "equidepth_histogram",
    "quantile_histogram": "equidepth_histogram",
    "latency_percentiles": "cube_median (same exact-percentile op)",
    # r11: cube_median (percentile measures per cuboid — the
    # reference's flagship ExtractMedian capability) subsumes the
    # flat-group spelling (one grouping set of the same machinery)
    "median_percentile": "cube_median (flat-group special case of the "
                         "same exact-percentile aggregate)",
    "grouping_sets_median": "cube_median (same Expand + non-additive "
                            "percentile machinery, explicit set list)",
    "cube_median_approx": "cube_median (the bounded-memory sketch "
                          "fallback for high-cardinality groups; "
                          "sketch pinned to the exact p45..p55 band "
                          "in-query)",
    # storage roundtrips: parquet/avro/jsonl/clustered/zorder stay
    "orc_roundtrip": "jsonl_roundtrip (same STORE->LOAD agg shape)",
    # TPC-H depth variants: q1/shipping/returned/nation/promo stay
    "forecast_revenue": "promo_revenue (same band-filtered agg shape)",
    "large_orders": "shipping_priority (same join+having shape)",
    # events family: funnel/top_paths/attribution/decayed stay
    "event_transitions": "top_paths (same lag-window pair algebra)",
    "retention": "funnel (same cohort min-time algebra)",
    "rolling_distinct_users": "rolling_revenue (same range-frame window)",
    # co-occurrence / robust-stats / profiling twins
    "basket_pairs": "pmi_pairs (same pair-generation join)",
    "heavy_hitters": "cms_topk (exact twin of the sketch top-k)",
    "anomaly_days": "mad_outliers (same median/MAD robust math)",
    "mode_by_group": "cube_median (same per-group order-statistic shape)",
    "json_props": "scalar_functions (same expression-only shape)",
    "corpus_report": "profile_table (same fused profiling scan)",
    "blocklist_filter": "contamination (same blocklist DFA pass)",
    # r12: winnow_pairs (MOSS window-min fingerprints) subsumes the
    # token-span spelling of the same exact-substring-dup capability;
    # duplicate_spans stays benched + parity-gated
    "duplicate_spans": "winnow_pairs (same exact-substring dedup "
                       "family; the span spelling stays benched)",
    # r12: dsir_weights (hashed unigram+bigram importance scoring —
    # the DSIR selection operator) subsumes the plain hashed-BOW
    # featurizer row: same md5 feature-hashing trick, plus bigrams and
    # the literal log-ratio fold; hashed_bow_embedding itself still
    # feeds the ANN rows and the local parity gate
    "hashed_embedding": "dsir_weights (same md5 hashed-ngram "
                        "featurizer; the BOW row stays benched and "
                        "parity-gated)",
    # r16 (rotation-budget folds — r15 VERDICT task 2: 151 declared
    # outgrew the 150 driver slots per 3 rounds and zorder_roundtrip's
    # green aged to 4 rounds; each fold's representative embeds or
    # supersedes the folded row's machinery):
    "margin_align": "margin_align_prod (runs margin_align's exact "
                    "DECIMAL tier IN-QUERY as its ground-truth "
                    "agreement contract; the exact tier stays benched "
                    "and parity-gated)",
    "semantic_dedup": "semantic_dedup_prod (runs the exact tier "
                      "in-query as its agreement contract; stays "
                      "benched and parity-gated)",
    "avro_roundtrip": "avro_evolution (same avro writer/reader path; "
                      "evolution adds reader-schema skip/pad on top "
                      "of the identical roundtrip)",
    "lm_perplexity": "perplexity_buckets (embeds lm_perplexity "
                     "wholly as its scoring stage)",
    "kneser_ney_lm": "kneser_ney_trigram (same KN build; the "
                     "recursion's bottom two levels ARE the bigram "
                     "math — continuation counts + p_cont)",
    # shard-routing family: rendezvous_shard stays declared
    "epoch_shuffle": "rendezvous_shard (same deterministic md5 "
                     "routing family; adds the seeded within-shard "
                     "order a training-epoch export needs)",
    # CDC family: cdc_upsert + scd2_build stay declared
    "join_ivm": "cdc_upsert (same delta-merge algebra)",
    "snapshot_diff": "scd2_build (same keyed-diff machinery)",
    # retrieval family: bm25_search + embedding_topk stay declared
    "phrase_search": "bm25_search (same inverted-index join)",
    "tfidf_top_terms": "bm25_search (same tf-idf weighting fold)",
    "embedding_quantize": "pq_adc_topk (same quantization kernels)",
    "filtered_ann": "embedding_topk (same top-k scorer, filtered)",
    # graph family: pagerank + triangle_count + golden_record stay
    "bfs_hops": "pagerank (same checkpointed edge-iteration loop)",
    # r7 second pass (hold the inventory at 120 after adding the
    # lm_perplexity / hard_negatives / neardup_ingest rows)
    "tumbling_window": "windowed_topn (embeds the same tumbling count)",
    "gather": "set_ops (same union-family machinery, r3-attested)",
    "pivot_apply": "multipass (the PIVOT row's other representative)",
    # r7 third pass (hold 120 after adding temporal_join/time_travel)
    "containment_pairs": "ngram_jaccard (same shingle inverted-index "
                         "join; the containment variant stays pytest)",
    "asof_join": "temporal_join + range_join (the as-of family's "
                 "other representatives)",
}


def _merged():
    out = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return out


def _merged_oracles():
    out = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out


def all_queries():
    """Driver-declared inventory (FOLDED twins excluded)."""
    out = _merged()
    return _ordered({n: f for n, f in out.items() if n not in FOLDED})


def all_oracles():
    out = _merged_oracles()
    return _ordered({n: s for n, s in out.items() if n not in FOLDED})


def extra_bench_queries():
    """Bench-only rows: implemented + pytest-pinned operators with no
    possible oracle (JVM-hash positions, float sums), so they live
    outside queries()/FOLDED entirely. bench.py reads them from here,
    for the full pass and for named rows alike."""
    from cubert_spark.queries import datapipe as _dp
    from cubert_spark.queries import extensions as _ext

    return {
        "minhash_lsh_fast": _dp.q_minhash_lsh_fast,
        "bloom_prune_fast": _ext.q_bloom_prune_fast,
        "pq_adc_topk_fast": _ext.q_pq_adc_topk_fast,
    }


def folded_queries():
    """The folded contract-twin rows — NOT driver-declared, but still
    verified by the local strict parity gate and (where listed) the
    bench set."""
    out = _merged()
    return {n: out[n] for n in sorted(FOLDED) if n in out}


def folded_oracles():
    out = _merged_oracles()
    return {n: out[n] for n in sorted(FOLDED) if n in out}
