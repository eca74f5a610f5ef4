"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship: one pass over sf0.001 events builds six
sketches (DDSketch, HLL, CMS, Bloom, KLL, t-digest) through the
mapInArrow → salted shuffle-merge-tree harness and reports their
estimates.

`queries()` — one entry per implemented operator (SURVEY.md §2 +
gap-fill pipeline operators); `oracle_sql()` — DuckDB twins. EVERY
entry has a hard oracle: even the hash-dependent production pipelines
(MinHash banding, 128-bit SimHash) are replayed exactly in SQL via an
XXH64-in-DuckDB implementation (functions/xxh_sql.py). HLL/CMS/Bloom/
KLL/t-digest estimate VALUES are pytest-bound-verified
(tests/test_estimates_bounds.py) while their deterministic counters are
hard-oracled in `sketch_counts_events`.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from p2pddsketch_spark.plans import queries as Q
    return Q.q_sketch_estimates_events(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registration order IS the driver's verification window: the
    external gate checks the FIRST 50 entries each round. Staleness is
    bounded at two rounds: every entry beyond slot 50 must have a green
    row in one of the TWO most recent CORRECTNESS_r*.json files (verified
    last round, skipped this round), so no query's newest driver
    verification is ever more than two rounds old.
    tests/test_query_oracles.py::test_registry_window_policy enforces the
    bound; `python tools/plan_rotation.py` checks it (exit 0 = holds) and
    proposes the next round's front-load.

    Rounds 5 and 6 verified the same 50 entries, so the 49 beyond slot
    50 had r4 as their newest driver row. They now fill slots 1-49,
    most expensive recorded gate cost (BENCH/gate_times.json) first;
    slot 50 is `bpe_tokenize`, r6-green but changed since; the other 49
    r6-green entries follow. Registry total 99 — one slot of headroom
    under the 2-window cap (the bound is unsatisfiable past 100)."""
    from p2pddsketch_spark.plans import queries as Q
    return {
        # -- slots 1-49: newest driver row r4 (r5 and r6 verified the
        #    same 50), so the two-round bound pulls them back into the
        #    window; recorded gate cost descending (BENCH/gate_times.json),
        #    the order tools/plan_rotation.py proposes ------------------
        "embedding_quantize": Q.q_embedding_quantize,
        "streaming_interval_join": Q.q_streaming_interval_join,
        "streaming_dds_hourly": Q.q_streaming_dds_hourly,
        "streaming_stateful_quantiles": Q.q_streaming_stateful_quantiles,
        "pagerank_topk": Q.q_pagerank_topk,
        "optimize_compact": Q.q_optimize_compact,
        "bpe_train_merges": Q.q_bpe_train_merges,
        "jpeg_decode_features": Q.q_jpeg_decode_features,
        "fd_gram_exact": Q.q_fd_gram_exact,
        "theta_token_overlap": Q.q_theta_token_overlap,
        "stratified_sample": Q.q_stratified_sample,
        "minhash_lsh_pairs_prod": Q.q_minhash_lsh_prod,
        "weighted_sample": Q.q_weighted_sample,
        "theta_daily_retention": Q.q_theta_daily_retention,
        "sketch_counts_events": Q.q_sketch_counts_events,
        "heavy_users_spacesaving": Q.q_heavy_users_spacesaving,
        "simhash_neardup_pairs": Q.q_simhash_neardup,
        "theta_rolling_wau": Q.q_theta_rolling_wau,
        "moments_by_flag": Q.q_moments_by_flag,
        "ann_topk_ivf": Q.q_ann_topk_ivf,
        "theta_distinct_by_type": Q.q_theta_distinct_by_type,
        "bigram_surprisal": Q.q_bigram_surprisal,
        "ann_topk_int8": Q.q_ann_topk_int8,
        "winsorized_stats": Q.q_winsorized_stats,
        "dds_udaf_by_flag": Q.q_dds_udaf_by_flag,
        "ann_topk_lsh": Q.q_ann_topk_lsh,
        "embedding_neardup": Q.q_embedding_neardup,
        "bloom_filtered_join": Q.q_bloom_filtered_join,
        "udtf_ngram_stats": Q.q_udtf_ngram_stats,
        "table_stats": Q.q_table_stats,
        "tokenize_vocab": Q.q_tokenize_vocab,
        "vocab_coverage": Q.q_vocab_coverage,
        "video_sample_features": Q.q_video_sample_features,
        "image_decode_features": Q.q_image_decode_features,
        "triangle_counts": Q.q_triangle_counts,
        "scd2_user_value": Q.q_scd2_user_value,
        "salted_join_revenue": Q.q_salted_join_revenue,
        "png_decode_features": Q.q_png_decode_features,
        "dq_report": Q.q_dq_report,
        "ann_cosine_topk": Q.q_ann_cosine_topk,
        "audio_decode_features": Q.q_audio_decode_features,
        "tpch_q14": Q.q_tpch_q14,
        "zorder3_index": Q.q_zorder3_index,
        "tpch_q12": Q.q_tpch_q12,
        "chunk_text": Q.q_chunk_text,
        "json_props_stats": Q.q_json_props_stats,
        "zipf_slope": Q.q_zipf_slope,
        "redact_pii": Q.q_redact_pii,
        "zorder_index": Q.q_zorder_index,
        # -- slot 50: r6-green, but bpe._train changed after r6 (the
        #    final vocab reuses round k's checkpoint), so it goes back in
        "bpe_tokenize": Q.q_bpe_tokenize,
        # (bpe_encode merged into bpe_tokenize, round 5 — the id-level
        #  positional pin subsumes the symbol-level one)
        # ======================= slot 51+ ==============================
        # (driver-green in r5 and r6; the gate skips them next round and
        # they rotate back in the round after. Each needs a green row in
        # one of the TWO most recent CORRECTNESS_r*.json files, and ALL
        # slot-51+ entries are re-verified on current code by the full
        # local gate replica (tools/check_correctness.py) each round)
        "minhash_lsh_pairs": Q.q_minhash_lsh,
        "dds_quantiles_lineitem": Q.q_dds_lineitem,
        "dds_price_by_flag": Q.q_dds_price_by_flag,
        "tpch_q1": Q.q_tpch_q1,
        "neardup_clusters": Q.q_neardup_clusters,
        "dds_value_by_user_bucket": Q.q_dds_value_by_user_bucket,
        "dds_turnstile_lineitem": Q.q_dds_turnstile,
        # round-5 merge: both pure-Catalyst quantile-plan forms in one
        # row (src column; was dds_events_catalyst + dds_doclen_by_lang)
        "dds_catalyst": Q.q_dds_catalyst,
        # round-5 merge: both signed-codec forms in one row (form column)
        "dds_signed": Q.q_dds_signed,
        # round-5 new: exact substring dedup (fills the slot the merge freed)
        "strip_spans": Q.q_strip_spans,
        # round-5 merge (final sitting): DGIM exponential-histogram
        # window counts + ECM windowed per-user frequencies — both
        # trailing-window counting families, exact regimes, in one
        # tagged row (form column)
        "count_windows": Q.q_count_windows,
        "dds_events_hourly": Q.q_dds_events_hourly,
        # round-5 merge: 6h-sliding + daily-rollup hourly-state window
        # forms in one row (form column)
        "dds_windows": Q.q_dds_windows,
        # round-5 new: token-budget mixture construction, HUGEINT twin
        "mix_sources": Q.q_mix_sources,
        "dds_decayed_quantiles": Q.q_dds_decayed,
        # round-5 merge: global + cohort percentile-rank enrichment in
        # one row (scope column; was dds_rank_enrich + dds_rank_by_user_bucket)
        "dds_rank": Q.q_dds_rank,
        # round-5 new (final sitting; fills the slot the count_windows
        # merge freed): per-source token-distribution KL divergence from
        # the corpus blend — exact, decimal-summed libm terms
        "source_kl": Q.q_source_kl,
        "tpch_q6": Q.q_tpch_q6,
        "top_orders": Q.q_top_orders,
        "join_revenue_by_nation": Q.q_join_topsuppliers,
        "order_priority_semi": Q.q_order_priority_semi,
        "customers_without_orders": Q.q_customers_without_orders,
        "revenue_cube": Q.q_revenue_cube,
        "value_pivot": Q.q_value_pivot,
        "window_running_value": Q.q_window_running_value,
        # round-5 merge (continuation sitting): AS-OF join + bucketized
        # interval join in one tagged row (form column; was
        # events_asof_orders + events_interval_join — both temporal
        # event-join operators emitting (left id, right id) pairs)
        "event_joins": Q.q_event_joins,
        # round-5 new (continuation sitting; fills the slot the
        # event_joins merge freed): DSIR importance-resampling scores,
        # raw + hashed-bucket feature spaces, decimal-exact twin
        "importance_select": Q.q_importance_select,
        "user_sessions": Q.q_user_sessions,
        "funnel_conversion": Q.q_funnel_conversion,
        "session_duration_p95": Q.q_session_duration_p95,
        "cohort_retention": Q.q_cohort_retention,
        "bpe_top_pairs": Q.q_bpe_top_pairs,
        # round-5 merge: top_tokens_exact + distinct_tokens_by_source in
        # one tagged frame (stat column)
        "token_stats": Q.q_token_stats,
        # round-5 merge: doc_stats + quality_score + language_id +
        # repetition_stats in one per-doc profile row
        "text_profile": Q.q_text_profile,
        # round-5 new: sliding-HLL window registers, splitmix64-in-SQL twin
        "shll_window_users": Q.q_shll_window_users,
        # round-5 new: windowed-SpaceSaving heavy hitters, exact regime
        "wss_window_top_users": Q.q_wss_window_top_users,
        "token_count_regex": Q.q_token_count_regex,
        "exact_dedup_stats": Q.q_exact_dedup_stats,
        "ngram_jaccard_pairs": Q.q_ngram_jaccard,
        "rolling_fingerprint": Q.q_rolling_fingerprint,
        "bm25_topk": Q.q_bm25_topk,
        # round-5 merge: pack_sequences + bpe_pack in one tagged frame
        # (src column; the BPE side chains train -> encode -> pack)
        "packing": Q.q_packing,
        "decontaminate_8gram": Q.q_decontaminate,
        "split_assign": Q.q_split_assign,
        "ams_joinsize": Q.q_ams_joinsize,
        "minhash_tokens_pairs": Q.q_minhash_tokens_pairs,
        # round-5 new: windowed DDSketch — the last sliding family to
        # gain a hard gate row (bucket-aligned window == filtered SQL)
        "wdds_window_quantiles": Q.q_wdds_window_quantiles,
        # round-5 new: SemDeDup in the k=1 exactness regime (== exact
        # all-pairs cosine filter; pins candidate-join + rerank)
        "semdedup_pairs": Q.q_semdedup_pairs,
        # round-5 new: distributed k-means in the k=1/iters=1 exactness
        # regime (centroid == normalize(Σ v̂); pins the Lloyd-pass
        # partial/fold machinery value-for-value)
        "kmeans_centroid": Q.q_kmeans_centroid,
    }


def oracle_sql() -> dict[str, str]:
    from p2pddsketch_spark.plans.oracles import ORACLES
    return dict(ORACLES)
