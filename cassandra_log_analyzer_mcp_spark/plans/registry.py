"""Query registry: name → (spark, sf_dir) → DataFrame, plus oracle SQL.

This is the single surface the driver contract (``__spark_entry__.py``)
re-exports. Every SURVEY §2 operator registers here.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import (
    analysis,
    analytics,
    curation,
    dedup,
    multimodal,
    similarity,
    skew,
    textops,
)
from ..sources.silver import (
    node_summary_silver as _node_summary_silver,
    zorder_layout as _zorder_layout,
    silver_compaction as _silver_compaction,
    silver_incremental_rollup as _silver_incremental_rollup,
    orc_export_roundtrip as _orc_export_roundtrip,
    silver_time_travel as _silver_time_travel,
    schema_evolution_read as _schema_evolution_read,
    partition_evolution_read as _partition_evolution_read,
    silver_dpp_join as _silver_dpp_join,
    silver_changes_between as _silver_changes_between,
    silver_delete_rewrite as _silver_delete_rewrite,
    silver_cdc_apply as _silver_cdc_apply,
    silver_merge_upsert as _silver_merge_upsert,
    silver_node_errors as _silver_node_errors,
    silver_restatement as _silver_restatement,
    silver_branch_diverge as _silver_branch_diverge,
    silver_vacuum as _silver_vacuum,
    silver_path,
)
from ..sources.pyds import (
    python_datasource_node_summary as _pyds_node_summary,
)
from ..sources.tables import logs_flagged
from ..streaming import batch_bridge
from . import oracles
from .oracles_analytics import analytics_oracles
from .oracles_text import similarity_oracles, text_oracles

QueryFn = Callable[[SparkSession, str], DataFrame]


def _on_logs(op: Callable[[DataFrame], DataFrame]) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return op(logs_flagged(spark, sf_dir))

    run.__name__ = op.__name__
    return run


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _kmeans_index(spark: SparkSession, sf_dir: str) -> None:
    _noop(similarity.kmeans_assignments(spark, sf_dir))
    similarity.kmeans_centroid_state(spark, sf_dir)


#: The build-once layers many queries read, by the name their build
#: time is reported under, in build order: the cached parse+flag log
#: frame, the per-doc shingle arrays, the streaming silver landing
#: (the one checkpointed parse→silver ingest every bridge streams
#: from), the batch silver table, and the trained k-means index
#: (assignment + exact centroid state). Each is cached or memoized per
#: session, so a prebuild moves its cost out of whichever query runs
#: first.
SHARED_LAYERS: dict[str, Callable[[SparkSession, str], object]] = {
    "_shared_logs_flagged_build_s":
        lambda spark, sf_dir: _noop(logs_flagged(spark, sf_dir)),
    "_shared_shingle_arrays_build_s":
        lambda spark, sf_dir: _noop(dedup._doc_shingle_arrays(spark, sf_dir)),
    "_shared_silver_build_s": batch_bridge._landed_silver_dir,
    "_shared_batch_silver_build_s": silver_path,
    "_shared_kmeans_index_build_s": _kmeans_index,
}


def prebuild_shared_layers(spark: SparkSession, sf_dir: str) -> dict[str, float]:
    """Build every ``SHARED_LAYERS`` entry at ``sf_dir``; seconds per
    layer, by name. A failing build raises."""
    built: dict[str, float] = {}
    for name, build in SHARED_LAYERS.items():
        t0 = time.perf_counter()
        build(spark, sf_dir)
        built[name] = round(time.perf_counter() - t0, 3)
    return built


def queries() -> dict[str, QueryFn]:
    def log_parse_json(spark: SparkSession, sf_dir: str) -> DataFrame:
        """JSON-format roundtrip ("other log formats", ref roadmap):
        synthesize JSON lines, parse with the JSON parser, emit the
        SAME schema as log_parse — and share its oracle, so any
        format→parse defect hash-mismatches."""
        from ..functions.parsing import parse_json_lines, synth_json_lines
        from ..sources.tables import table

        lines = synth_json_lines(table(spark, sf_dir, "events"))
        # single-split testdata: spread the Jackson parse across cores
        # (real log dirs arrive in many splits and skip this)
        lines = lines.repartition(spark.sparkContext.defaultParallelism)
        return analysis.log_parse(parse_json_lines(lines))

    def log_parse_corrupt_tolerant(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """BAD-RECORD TOLERANCE graded: the JSON landing is salted
        with deterministically torn lines (every CORRUPT_MOD-th,
        unparseable by construction) and the PERMISSIVE parse must
        neither kill the job nor miscount — corrupt rows surface as
        flagged rows with the raw payload retained, parsed rows are
        untouched. At 100 TB a landing ALWAYS contains torn writes;
        a parser that throws on the first one never finishes. The
        oracle mirrors the corruption rule arithmetically, so a
        swallowed good line or a leaked bad one hash-mismatches."""
        from ..functions.parsing import (
            corrupt_some_lines,
            parse_json_tolerant,
            synth_json_lines,
        )
        from ..sources.tables import table

        lines = corrupt_some_lines(
            synth_json_lines(table(spark, sf_dir, "events"))
        ).repartition(spark.sparkContext.defaultParallelism)
        parsed = parse_json_tolerant(lines)
        return parsed.groupBy("node").agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("is_corrupt").cast("long")).alias("n_corrupt"),
            F.sum((~F.col("is_corrupt")).cast("long")).alias("n_parsed"),
            F.sum(
                (
                    (F.col("level") == "ERROR") & ~F.col("is_corrupt")
                ).cast("long")
            ).alias("n_errors"),
        )

    def log_parse_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TSV-format roundtrip — third wire format, same parsed
        schema, shares log_parse's oracle (any format→parse defect
        hash-mismatches)."""
        from ..functions.parsing import parse_csv_lines, synth_csv_lines
        from ..sources.tables import table

        lines = synth_csv_lines(table(spark, sf_dir, "events"))
        lines = lines.repartition(spark.sparkContext.defaultParallelism)
        return analysis.log_parse(parse_csv_lines(lines))

    def log_parse_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Multi-line entries (stack traces) segmented back onto their
        header line — the reference parser drops these (ref :186-203).
        """
        from ..functions.parsing import parse_multiline, synth_multiline_lines
        from ..sources.tables import table

        lines = synth_multiline_lines(
            table(spark, sf_dir, "events")
        ).repartition(spark.sparkContext.defaultParallelism)
        return parse_multiline(lines).select(
            "line_id", "node", "level", "ts_str", "thread", "clazz",
            "line_no", "message", "n_extra_lines", "stack",
        )

    def node_metrics_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Logs × metrics-stream join (two-source correlation)."""
        from ..sources.tables import table

        return analysis.node_metrics_correlation(
            logs_flagged(spark, sf_dir), table(spark, sf_dir, "events")
        )

    # registry order: the logical SURVEY §2 grouping
    return {
        # §2D — text analysis
        "pii_scrub": textops.pii_scrub,
        "token_count": textops.token_count,
        "quality_score": textops.quality_score,
        # Gopher rule battery (Rae et al. 2021 Table A1) — the cheap
        # map-only keep/drop gate ahead of dedup/embedding stages
        "gopher_quality_flags": textops.gopher_quality_flags,
        # per-rule rejection census composed from the battery
        "gopher_rule_census": textops.gopher_rule_census,
        # Pareto frontier over (quality ↑, tokens ↓) — skyline verb
        "doc_quality_skyline": textops.doc_quality_skyline,
        # reproducible token-dropout augmentation (seeded hash draw)
        "augment_token_dropout": textops.augment_token_dropout,
        # positional postings index probe (adjacency phrase match)
        "phrase_search_positional": textops.phrase_search_positional,
        "lang_id": textops.lang_id,
        "lang_confusion": textops.lang_confusion,
        # training-pipeline reporting verbs: mixture planning per
        # predicted language; lang x quality cut
        "corpus_token_budget_by_lang":
            textops.corpus_token_budget_by_lang,
        "quality_lang_crosstab": textops.quality_lang_crosstab,
        "doc_fingerprint": textops.doc_fingerprint,
        "vocab_top_tokens": textops.vocab_top_tokens,
        # Zipf log-log slope of the vocab head: composes the token-count
        # shuffle with error_trend_ols' integer Cramer arithmetic
        "doc_zipf_fit": textops.doc_zipf_fit,
        "vocab_top_tokens_mergeable": textops.vocab_top_tokens_mergeable,
        # count-min sketch, collision arithmetic graded exactly
        "token_counts_cms": textops.token_counts_cms,
        "doc_rarity": textops.doc_rarity,
        "doc_length_histogram": textops.doc_length_histogram,
        # per-lang length grid for packing/truncation policy
        # (ship_latency's exact-quartile protocol)
        "doc_length_quartiles_by_lang":
            textops.doc_length_quartiles_by_lang,
        "doc_repetition": textops.doc_repetition,
        "doc_surprisal": textops.doc_surprisal,
        "repeated_ngrams": textops.repeated_ngrams,
        "ngram_novelty_decay": textops.ngram_novelty_decay,
        "repeated_span_coverage": textops.repeated_span_coverage,
        "repeated_spans_merged": textops.repeated_spans_merged,
        # variable-K maximal repeats:
        # K ∈ {8,16,32} merged so span certification is not
        # gram-width-quantized; reconciles with repeated_spans_merged
        # at K=8 by the sub-gram containment theorem (tested)
        "repeated_spans_multik": textops.repeated_spans_multik,
        # the drop policy applied: certified spans removed,
        # text rebuilt from surviving tokens (Lee et al.'s rewrite)
        "dedup_spans_rewrite": textops.dedup_spans_rewrite,
        "chunk_dedup": textops.chunk_dedup,
        "dedup_chunks_rewrite": textops.dedup_chunks_rewrite,
        "dedup_editdist_dl": dedup.dedup_editdist_dl,
        "dedup_modality_agreement": dedup.dedup_modality_agreement,
        "dedup_soft_weights": dedup.dedup_soft_weights,
        # duplication-tier x quality cross-tab: composes
        # dedup_soft_weights' cluster rollup with the quality featurizer
        "dedup_cluster_quality": dedup.dedup_cluster_quality,
        "token_f2_ams": textops.token_f2_ams,
        "bpe_train_merges": textops.bpe_train_merges,
        "bpe_encode": textops.bpe_encode,
        # fertility-by-language rollup of the same train->encode chain
        "tokenizer_fertility_eval": textops.tokenizer_fertility_eval,
        # vocab-budget coverage curve (one count shuffle + top-K head)
        "vocab_coverage_curve": textops.vocab_coverage_curve,
        # T5-style span corruption training pairs (seeded md5 gate)
        "augment_span_corruption": textops.augment_span_corruption,
        "bm25_search": textops.bm25_search,
        "tfidf_keywords": textops.tfidf_keywords,
        "quality_classifier": textops.quality_classifier,
        "doc_gini_diversity": textops.doc_gini_diversity,
        "bigram_lift_collocations": textops.bigram_lift_collocations,
        # §2D — composed curation pipeline (featurize→filter→dedup)
        "corpus_curation": curation.corpus_curation,
        # release-gate privacy audit (k-anonymity + l-diversity)
        "k_anonymity_audit": curation.k_anonymity_audit,
        # discrete-Laplace noised release (log-free DP mechanism)
        "dp_noised_counts": curation.dp_noised_counts,
        # shard-balance QA over the seeded training export
        "shard_balance_report": curation.shard_balance_report,
        "shard_rebalance_eval": curation.shard_rebalance_eval,
        "corpus_sample": curation.corpus_sample,
        "corpus_shuffle": curation.corpus_shuffle,
        "jsonl_shard_export": curation.jsonl_shard_export,
        "importance_resample": curation.importance_resample,
        "decontaminate": curation.decontaminate,
        # the width-sensitivity sweep behind the published 13-gram
        # standard, and the shared-prefix census
        "decontaminate_ngram_sweep": curation.decontaminate_ngram_sweep,
        "doc_prefix_boilerplate": curation.doc_prefix_boilerplate,
        "decontaminate_bloom": curation.decontaminate_bloom,
        # near-dup (paraphrase) contamination sweep
        "decontaminate_fuzzy": curation.decontaminate_fuzzy,
        # embedding-space member of the decontamination family
        "decontaminate_semantic": similarity.decontaminate_semantic,
        "source_quality": curation.source_quality,
        "domain_mixture": curation.domain_mixture,
        "mixture_token_budget": curation.mixture_token_budget,
        "priority_sample": curation.priority_sample,
        "corpus_release_manifest": curation.corpus_release_manifest,
        "train_test_split": curation.train_test_split,
        "sequence_packing": curation.sequence_packing,
        # packing-overhead report: pure rollup of sequence_packing's
        # output
        "sequence_packing_efficiency":
            curation.sequence_packing_efficiency,
        # §2D — deduplication
        "dedup_exact": dedup.dedup_exact,
        "dedup_normalized": dedup.dedup_normalized,
        "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,
        "dedup_minhash_lsh": dedup.dedup_minhash_lsh,
        "minhash_containment": dedup.minhash_containment,
        "dedup_clusters": dedup.dedup_clusters,
        # the cluster-size distribution incl.
        # singleton mass — the dedup-paper figure election policy
        # reads (oracle nests the same recursive components)
        "dedup_cluster_size_histogram":
            dedup.dedup_cluster_size_histogram,
        "dedup_canonical": dedup.dedup_canonical,
        "dedup_graph_stats": dedup.dedup_graph_stats,
        # fixed-point integer PageRank over the near-dup graph
        "doc_pagerank": dedup.doc_pagerank,
        # triangle counts (cliquishness) on the same graph
        "dedup_graph_triangles": dedup.dedup_graph_triangles,
        "dedup_incremental": dedup.dedup_incremental,
        "dedup_winnow": dedup.dedup_winnow,
        "dedup_editdist": dedup.dedup_editdist,
        "source_overlap": dedup.source_overlap,
        # per-source token-retention ledger
        # under the global normalized-dedup keeper rule
        "dedup_survivorship_by_source":
            dedup.dedup_survivorship_by_source,
        # the doc-level assignment ledger over
        # a digest-BUCKETED layout — zero-Exchange dedup reruns
        "bucketed_digest_dedup": dedup.bucketed_digest_dedup,
        "dedup_simhash": dedup.dedup_simhash,
        # MinHash estimator calibration (component-exact sketch eval)
        "minhash_dedup_pr_eval": dedup.minhash_dedup_pr_eval,
        "minhash_estimate_eval": dedup.minhash_estimate_eval,
        # b-bit signature compression calibration
        "minhash_bbit_eval": dedup.minhash_bbit_eval,
        # LSH banding S-curve table: regroups the same cached
        # signatures the minhash evals use, against pr_eval's truth
        "minhash_band_tuning_eval": dedup.minhash_band_tuning_eval,
        # MMR diversified re-ranking (greedy chain, unrolled oracle)
        "mmr_diversified_search": similarity.mmr_diversified_search,
        # retrieval recall harness (IVF/LSH/PQ vs brute, set-exact)
        "ann_recall_eval": similarity.ann_recall_eval,
        # IVF recall-vs-cost tuning curve: one prn filter away from
        # ann_recall_eval's IVF leg + the brute-force truth
        "ann_ivf_probe_sweep": similarity.ann_ivf_probe_sweep,
        # SCALED tuning curve: cells/queries/k grown to the regime
        # where cell sizes matter; recall
        # floors asserted at sf0.1 in tests/test_text_dedup.py
        "ann_ivf_probe_sweep_scaled": similarity.ann_ivf_probe_sweep_scaled,
        # BIG regime: 50k generated
        # vectors, 224 cells; rows-only by design (the drop is
        # generated, not shipped) with EXACT tables pinned in
        # tests/test_big_ann.py — the pr_eval discipline
        "ann_ivf_probe_sweep_big": similarity.ann_ivf_probe_sweep_big,
        "ann_ivf_big_cell_stats": similarity.ann_ivf_big_cell_stats,
        "ann_ivf_pq_recall_big": similarity.ann_ivf_pq_recall_big,
        # big-DEDUP regime (the same discipline extended to MinHash):
        # rows-only by design — planted truth,
        # exact tables pinned in tests/test_big_dedup.py
        "dedup_minhash_recall_big": dedup.dedup_minhash_recall_big,
        "minhash_big_band_census": dedup.minhash_big_band_census,
        "dedup_simhash_recall_big": dedup.dedup_simhash_recall_big,
        "dedup_winnow_recall_big": dedup.dedup_winnow_recall_big,
        # the semantic (embedding-LSH) fourth column of the planted
        # modality comparison — rows-only, exact table pinned in
        # tests/test_big_dedup.py
        "dedup_semantic_recall_big": dedup.dedup_semantic_recall_big,
        # rows-only: the multiprobe cost census — single-probe vs
        # distance-1 probe candidate volumes over the 12-bit semantic
        # band index
        "sem_big_band_census": dedup.sem_big_band_census,
        # the hot-bucket guard's sf-scale observable, the cross-source
        # dedup matrix, the OOV tokenizer-coverage gate, and multiset
        # (weighted) Jaccard next to every set-semantics detector
        "band_occupancy_census": dedup.band_occupancy_census,
        "dedup_cross_source_matrix": dedup.dedup_cross_source_matrix,
        "doc_oov_rate": textops.doc_oov_rate,
        "dedup_multiset_jaccard": dedup.dedup_multiset_jaccard,
        "dedup_token_shift_report": dedup.dedup_token_shift_report,
        # the hot-bucket guard's IN-BAND recall-trade report — dedup
        # output volume next to what the occupancy cap dropped
        "dedup_guard_report": dedup.dedup_guard_report,
        # §2D — similarity search
        "knn_cosine_brute": similarity.knn_cosine_brute,
        "knn_quantized_int8": similarity.knn_quantized_int8,
        "knn_filtered_int8": similarity.knn_filtered_int8,
        "knn_hamming_sign": similarity.knn_hamming_sign,
        "knn_truncated_dims_eval": similarity.knn_truncated_dims_eval,
        "ann_lsh_cosine": similarity.ann_lsh_cosine,
        "ann_lsh_multiprobe": similarity.ann_lsh_multiprobe,
        "ann_ivf_cosine": similarity.ann_ivf_cosine,
        # IVF over k-means-TRAINED centroids: the production
        # quantizer the deterministic-seed variant's docstring
        # promised, graded end-to-end (training + probe + rank)
        "ann_ivf_kmeans": similarity.ann_ivf_kmeans,
        "ann_ivf_persisted": similarity.ann_ivf_persisted,
        "ann_ivf_append": similarity.ann_ivf_append,
        # tombstone-masked deletion on the persisted index
        "ann_ivf_delete": similarity.ann_ivf_delete,
        # dense+sparse reciprocal-rank fusion (exact-integer RRF)
        "hybrid_rrf_search": similarity.hybrid_rrf_search,
        # per-dimension embedding drift between ingestion batches
        "embedding_drift_batches": similarity.embedding_drift_batches,
        # per-label centroid coherence audit
        # in exact integer arithmetic (decimal/HUGEINT accumulator)
        "embedding_label_coherence":
            similarity.embedding_label_coherence,
        # contrastive positive/negative pair construction
        "contrastive_pairs": similarity.contrastive_pairs,
        # semantic-dedup threshold calibration histogram
        "embedding_sim_histogram": similarity.embedding_sim_histogram,
        "ann_pq_cosine": similarity.ann_pq_cosine,
        "ann_ivf_pq_cosine": similarity.ann_ivf_pq_cosine,
        "dedup_embedding_cosine": similarity.dedup_embedding_cosine,
        # the multiprobe pair twin — Hamming ≤ 1
        # probes over the same buckets, the ORACLED sf-scale gate for
        # the discipline the big drop pins rows-only
        "dedup_embedding_multiprobe":
            similarity.dedup_embedding_multiprobe,
        "semantic_dedup": similarity.semantic_dedup,
        "kmeans_embeddings": similarity.kmeans_embeddings,
        "cluster_summary": similarity.cluster_summary,
        "cluster_purity_eval": similarity.cluster_purity_eval,
        "cluster_balanced_sample": similarity.cluster_balanced_sample,
        "embedding_outliers": similarity.embedding_outliers,
        "embedding_pca_project": similarity.embedding_pca_project,
        "doc_embedding_join": similarity.doc_embedding_join,
        # §2D — the Arrow mapInPandas decode stage, hash-checked (the
        # strongest multimodal evidence; the agg views stay rows-only)
        "multimodal_decode_check": multimodal.multimodal_decode_check,
        "multimodal_frames_check": multimodal.multimodal_frames_check,
        # decode-free PCM signal kernel, value-graded end to end
        "multimodal_audio_energy": multimodal.multimodal_audio_energy,
        # perceptual-hash near-dup images (aHash kernel + banded LSH)
        "multimodal_phash_dedup": multimodal.multimodal_phash_dedup,
        "multimodal_image_histogram":
            multimodal.multimodal_image_histogram,
        "multimodal_audio_vad": multimodal.multimodal_audio_vad,
        # video modality value-graded: inter-frame scene-cut kernel
        "multimodal_scene_cuts": multimodal.multimodal_scene_cuts,
        # cross-modal lag recovery: same payload hex arithmetic +
        # Arrow value-grading discipline as the audio/scene kernels
        "multimodal_av_sync": multimodal.multimodal_av_sync,
        # new parity variants (reference tool-surface semantics)
        "get_errors_global": _on_logs(analysis.get_errors_global),
        "error_timeline_raw": _on_logs(analysis.error_timeline_raw),
        # the partitioned silver layer exercised end-to-end (write →
        # partition-pruned read → rollup)
        "silver_node_errors": _silver_node_errors,
        # a §2B query computed FROM the silver read (build-once/query-
        # many lifecycle), node predicate pruned at the source
        "node_summary_silver": _node_summary_silver,
        # partition-level restatement via dynamic partition overwrite
        "silver_restatement": _silver_restatement,
        # small-file compaction rewrite (pure layout change)
        "silver_compaction": _silver_compaction,
        # z-order clustered rewrite + 2-D probe (pure layout change)
        "zorder_layout": _zorder_layout,
        # incremental view maintenance: append day -> merge partials
        "silver_incremental_rollup": _silver_incremental_rollup,
        # second columnar wire format, fidelity-graded
        "orc_export_roundtrip": _orc_export_roundtrip,
        # manifest-based snapshot versioning (file-level MVCC)
        "silver_time_travel": _silver_time_travel,
        # expire-snapshots: v1 content indifferent to v0's deletion
        "silver_vacuum": _silver_vacuum,
        # cross-drop schema evolution via mergeSchema read
        "schema_evolution_read": _schema_evolution_read,
        "partition_evolution_read": _partition_evolution_read,
        # runtime (dynamic) partition pruning from a broadcast dim
        "silver_dpp_join": _silver_dpp_join,
        # manifest-delta change data feed between snapshots
        "silver_changes_between": _silver_changes_between,
        # CDC closure: feed applied to v0 reconstructs v1
        "silver_cdc_apply": _silver_cdc_apply,
        "silver_branch_diverge": _silver_branch_diverge,
        # copy-on-write key erasure, file-local via clustered layout
        "silver_delete_rewrite": _silver_delete_rewrite,
        # key-level merge upsert (Delta-style MERGE on plain parquet)
        "silver_merge_upsert": _silver_merge_upsert,
        "discount_band_revenue": analytics.discount_band_revenue,
        "revenue_cube": analytics.revenue_cube,
        # arbitrary-lattice GROUPING SETS (third lattice verb)
        "revenue_grouping_sets": analytics.revenue_grouping_sets,
        # exact-decimal money rollup (no rounding protocol needed)
        "pricing_summary_decimal": analytics.pricing_summary_decimal,
        # the SQL front door: Q1 as spark.sql text, same plan/oracle
        "pricing_summary_sql": analytics.pricing_summary_sql,
        # value-RANGE window frame (time-based trailing aggregate)
        "user_trailing_spend": analytics.user_trailing_spend,
        # era-vs-era histogram drift gate (per-band chi-square terms)
        "value_drift_eras": analytics.value_drift_eras,
        # distribution-free KS companion to the banded drift view
        "value_ks_drift": analytics.value_ks_drift,
        # rank-sum location-shift member of the drift family
        "mann_whitney_drift": analytics.mann_whitney_drift,
        # Benford leading-digit audit over extendedprice
        "benford_check": analytics.benford_check,
        # FK-closure subject erasure with integrity proof
        "cascade_erasure": analytics.cascade_erasure,
        # market-basket association rules (support/confidence/lift)
        "part_copurchase_rules": analytics.part_copurchase_rules,
        "bloom_pruned_join": analytics.bloom_pruned_join,
        "interval_overlap_join": analytics.interval_overlap_join,
        "user_value_deciles": analytics.user_value_deciles,
        # interval cardinality over time via delta prefix sums
        "open_orders_timeline": analytics.open_orders_timeline,
        "table_profile": analytics.table_profile,
        # the 100 TB plan swap, executable (rows-only: HLL values are
        # engine-specific; error-bounded vs the exact twin in tests)
        "table_profile_approx": analytics.table_profile_approx,
        "zone_map_skip_stats": analytics.zone_map_skip_stats,
        "table_ndv_kmv": analytics.table_ndv_kmv,
        "join_cardinality_eval": analytics.join_cardinality_eval,
        "column_histogram_equidepth":
            analytics.column_histogram_equidepth,
        "range_selectivity_eval": analytics.range_selectivity_eval,
        "encoding_plan_census": analytics.encoding_plan_census,
        "constraint_checks": analytics.constraint_checks,
        "value_outliers_robust": analytics.value_outliers_robust,
        "revenue_growth": analytics.revenue_growth,
        "rolling_active_users": analytics.rolling_active_users,
        # §2C remainder (TPC-H shapes)
        "nation_volume": analytics.nation_volume,
        "small_quantity_revenue": analytics.small_quantity_revenue,
        "late_sole_suppliers": analytics.late_sole_suppliers,
        # Q20 shape: nested per-pair aggregate -> threshold -> semi-join
        "excess_inventory_suppliers": analytics.excess_inventory_suppliers,
        "market_share": analytics.market_share,
        "disjunctive_revenue": analytics.disjunctive_revenue,
        "min_cost_supplier": analytics.min_cost_supplier,
        "profit_by_nation": analytics.profit_by_nation,
        "important_parts": analytics.important_parts,
        "supplier_part_counts": analytics.supplier_part_counts,
        "dominant_part_suppliers": analytics.dominant_part_suppliers,
        "event_transitions": analytics.event_transitions,
        "retention_cohorts": analytics.retention_cohorts,
        "user_sessions": analytics.user_sessions,
        "top_users_by_value": analytics.top_users_by_value,
        "user_activity_pivot": analytics.user_activity_pivot,
        "event_seasonality": analytics.event_seasonality,
        "event_value_percentiles": analytics.event_value_percentiles,
        "asof_purchase_before_error": analytics.asof_purchase_before_error,
        "props_json_stats": analytics.props_json_stats,
        # rows-only: HLL sketches legitimately differ across engines
        "distinct_users_sketch": analytics.distinct_users_sketch,
        # KMV distinct-count sketch, both regimes integer-graded
        "distinct_users_kmv": analytics.distinct_users_kmv,
        # window-countDistinct workaround: first-seen rollup + cumsum
        "cumulative_distinct_users": analytics.cumulative_distinct_users,
        # correlated scalar subquery, decorrelated (integer cents)
        "above_avg_orders": analytics.above_avg_orders,
        # 3-step behavioral path mining (trigram journeys, top-K)
        "event_path_trigrams": analytics.event_path_trigrams,
        # user-level ML feature-store table (RFM + diversity + mode)
        "user_feature_matrix": analytics.user_feature_matrix,
        # exact cumulative-histogram quartile cube (no ntile ties)
        "user_rfm_segments": analytics.user_rfm_segments,
        # tau=0.5 multilingual rebalancing (isqrt-exact, no libm)
        "mixture_temperature_weights":
            curation.mixture_temperature_weights,
        # Spark 4 VARIANT twin of the JSON-path scan (shared oracle)
        "props_variant_stats": analytics.props_variant_stats,
        # fulfillment SLA over the canonical big fact-fact join
        "ship_latency_percentiles": analytics.ship_latency_percentiles,
        # per-part repeat-purchase loyalty (stacked distinct rollups)
        "repeat_purchase_rate": analytics.repeat_purchase_rate,
        "purchase_gap_hazard": analytics.purchase_gap_hazard,
        "last_touch_attribution": analytics.last_touch_attribution,
        "weighted_price_quartiles": analytics.weighted_price_quartiles,
        "kmv_set_ops": analytics.kmv_set_ops,
        "funnel_time_bounded": analytics.funnel_time_bounded,
        # GK-sketch percentiles are engine-specific; error-bound-tested
        "event_value_percentiles_approx":
            analytics.event_value_percentiles_approx,
        # mergeable t-digest over Arrow stages; error-bound-tested
        "event_value_percentiles_tdigest":
            analytics.event_value_percentiles_tdigest,
        # Arrow decode stage deliberately not SQL-expressible
        "multimodal_pipeline": multimodal.multimodal_pipeline,
        "multimodal_frames": multimodal.multimodal_frames,
        # §2A — parsing & classification
        "log_parse": _on_logs(analysis.log_parse),
        "log_parse_json": log_parse_json,
        "log_parse_csv": log_parse_csv,
        # PERMISSIVE parse over a deterministically torn landing
        "log_parse_corrupt_tolerant": log_parse_corrupt_tolerant,
        "log_parse_multiline": log_parse_multiline,
        "issue_classify": _on_logs(analysis.issue_classify),
        "issue_counts": _on_logs(analysis.issue_counts),
        # §2B — cluster analysis
        "node_summary": _on_logs(analysis.node_summary),
        # composed cluster-health report card (integer penalty+grade)
        "node_health_score": _on_logs(analysis.node_health_score),
        # the UNPIVOT verb (wide -> tidy melt, native Expand)
        "node_summary_unpivot": _on_logs(analysis.node_summary_unpivot),
        # SCD2 validity-interval dimension join (broadcast + residual)
        "scd_owner_join": _on_logs(analysis.scd_owner_join),
        # salted twin shares node_summary's oracle: the skew-spray +
        # combine MUST be exactly equal, proven through the hash gate
        "node_summary_salted": _on_logs(
            lambda logs: skew.salted_agg(
                logs,
                ["node"],
                {
                    "errors": (
                        "sum",
                        F.sum(F.col("is_error").cast("long")),
                    ),
                    "warnings": (
                        "sum",
                        F.sum(F.col("is_warning").cast("long")),
                    ),
                    "total_lines": ("count", F.count("*")),
                },
            )
        ),
        "error_timeline": _on_logs(analysis.error_timeline),
        "compare_nodes": _on_logs(analysis.compare_nodes),
        "get_errors": _on_logs(analysis.get_errors),
        "search_logs": _on_logs(
            lambda logs: analysis.search_logs(logs, "tombstone")
        ),
        "recommendations": _on_logs(analysis.recommendations),
        "top_error_classes": _on_logs(analysis.top_error_classes),
        "error_rate_windowed": _on_logs(analysis.error_rate_windowed),
        "error_rate_rolling": _on_logs(analysis.error_rate_rolling),
        # sliding event-time windows (4x overlap Expand, one agg)
        "error_rate_sliding": _on_logs(analysis.error_rate_sliding),
        # exact-arithmetic 2x2 chi-square significance per node
        "error_independence_chi2": _on_logs(
            analysis.error_independence_chi2
        ),
        # missing-data audit (silent hours + longest streak)
        "node_coverage_gaps": _on_logs(analysis.node_coverage_gaps),
        # LOCF gap imputation over the dense hour grid
        "impute_hourly_locf": _on_logs(analysis.impute_hourly_locf),
        # SRE multi-window burn-rate paging rule (integer-exact)
        "slo_burn_alerts": _on_logs(analysis.slo_burn_alerts),
        # Page's CUSUM regime-shift detector (closed-form windows)
        "error_cusum_changepoints": _on_logs(
            analysis.error_cusum_changepoints
        ),
        # integer-EWMA smoothed baseline + spike census (ordered fold
        # over the shared zero-filled hourly rollup)
        "error_ewma_smoothed": _on_logs(analysis.error_ewma_smoothed),
        "error_seasonal_mad": _on_logs(analysis.error_seasonal_mad),
        "error_trend_theilsen": _on_logs(analysis.error_trend_theilsen),
        # nonparametric completion of the robust-trend family
        "error_trend_mannkendall": _on_logs(
            analysis.error_trend_mannkendall
        ),
        "error_trend_seasonal_ols":
            _on_logs(analysis.error_trend_seasonal_ols),
        "new_template_alert": _on_logs(analysis.new_template_alert),
        "cogroup_error_warning_asof":
            _on_logs(analysis.cogroup_error_warning_asof),
        "template_heavy_changers":
            _on_logs(analysis.template_heavy_changers),
        "node_mtbf": _on_logs(analysis.node_mtbf),
        "error_interarrival_histogram":
            _on_logs(analysis.error_interarrival_histogram),
        # Markov view of the mined template space (lag + keyed agg)
        "template_transitions": _on_logs(analysis.template_transitions),
        "pandas_udaf_error_median":
            _on_logs(analysis.pandas_udaf_error_median),
        # Spark 4 Python DataSource connector path, graded end-to-end
        # via node_summary's oracle
        "python_datasource_node_summary": _pyds_node_summary,
        # exact-rational OLS degradation trend (mergeable moments)
        "error_trend_ols": _on_logs(analysis.error_trend_ols),
        # directional lead-lag cross-correlation (who fails first)
        "node_lead_lag": _on_logs(analysis.node_lead_lag),
        # OLS forecast 24h out (exact rational, shared moments)
        "error_forecast_next_day": _on_logs(analysis.error_forecast_next_day),
        # Wilson 95% CI on per-node error rate (IEEE-identical graph)
        "error_rate_wilson_ci": _on_logs(analysis.error_rate_wilson_ci),
        "error_bursts": _on_logs(analysis.error_bursts),
        "error_sessions": _on_logs(analysis.error_sessions),
        "error_anomaly_hours": _on_logs(analysis.error_anomaly_hours),
        "error_recovery": _on_logs(analysis.error_recovery),
        "thread_hotspots": _on_logs(analysis.thread_hotspots),
        "search_context": _on_logs(
            lambda logs: analysis.search_context(logs, "tombstone")
        ),
        "template_drift": _on_logs(analysis.template_drift),
        "burst_context": _on_logs(analysis.burst_context),
        "issue_cooccurrence": _on_logs(analysis.issue_cooccurrence),
        "node_failure_correlation": _on_logs(
            analysis.node_failure_correlation
        ),
        "node_metrics_correlation": node_metrics_correlation,
        "dropped_messages": _on_logs(analysis.dropped_messages),
        "log_templates": _on_logs(analysis.log_templates),
        "template_trending_decayed":
            _on_logs(analysis.template_trending_decayed),
        "top_templates_per_node": _on_logs(analysis.top_templates_per_node),
        "windowed_alerts": _on_logs(analysis.windowed_alerts),
        "alert_dedup": _on_logs(analysis.alert_dedup),
        # §2C — general analytics (bench headliners)
        "pricing_summary": analytics.pricing_summary,
        "shipping_priority": analytics.shipping_priority,
        # salted twin shares shipping_priority's oracle: spraying the
        # skewed side across salt buckets MUST leave the join result
        # exactly equal, proven through the hash gate
        "shipping_priority_salted": lambda spark, sf_dir: (
            analytics.shipping_priority(
                spark,
                sf_dir,
                fact_join=lambda li, orders: skew.salted_join(
                    li, orders, "l_orderkey", "o_orderkey"
                ),
            )
        ),
        "regional_revenue": analytics.regional_revenue,
        "promo_revenue": analytics.promo_revenue,
        "late_shipment_priority": analytics.late_shipment_priority,
        "customer_order_distribution":
            analytics.customer_order_distribution,
        "top_suppliers": analytics.top_suppliers,
        "returned_item_customers": analytics.returned_item_customers,
        "shipmode_priority": analytics.shipmode_priority,
        "large_orders": analytics.large_orders,
        "idle_customers": analytics.idle_customers,
        "revenue_rollup": analytics.revenue_rollup,
        "event_funnel": analytics.event_funnel,
        # §2E — the streaming path itself, bridged to a batch result so
        # the oracle verifies source→parse→classify→window end-to-end
        # (slowest entries; kept last)
        "streaming_issue_counts": batch_bridge.streaming_issue_counts,
        "streaming_kafka_issue_counts":
            batch_bridge.streaming_kafka_issue_counts,
        "streaming_error_bursts": batch_bridge.streaming_error_bursts,
        "streaming_dedup_incremental":
            batch_bridge.streaming_dedup_incremental,
        # native dropDuplicatesWithinWatermark state-store dedup
        "streaming_dedup_watermarked":
            batch_bridge.streaming_dedup_watermarked,
        # cross-batch CUSUM detector state (shares the batch oracle)
        "streaming_cusum_alerts": batch_bridge.streaming_cusum_alerts,
        # stream-static broadcast enrichment before the windowed agg
        "streaming_rack_counts": batch_bridge.streaming_rack_counts,
        # dead-letter routing: parsed flow + DLQ sink, census graded
        "streaming_dlq_counts": batch_bridge.streaming_dlq_counts,
        # 4-integer mergeable-moments fold (shares the OLS oracle)
        "streaming_trend_state": batch_bridge.streaming_trend_state,
        # the Mann-Kendall daily-histogram fold
        "streaming_mannkendall_state":
            batch_bridge.streaming_mannkendall_state,
        # k-set union fold across batches (shares the KMV oracle)
        "streaming_kmv_state": batch_bridge.streaming_kmv_state,
        "streaming_f2_ams": batch_bridge.streaming_f2_ams,
        "streaming_seasonal_mad": batch_bridge.streaming_seasonal_mad,
        "streaming_priority_sample":
            batch_bridge.streaming_priority_sample,
        "streaming_funnel_state": batch_bridge.streaming_funnel_state,
        # watermark drop semantics graded at window granularity
        "streaming_late_data_drop": batch_bridge.streaming_late_data_drop,
        "streaming_windowed_alerts": batch_bridge.streaming_windowed_alerts,
        "streaming_error_sessions": batch_bridge.streaming_error_sessions,
        "streaming_silver_counts": batch_bridge.streaming_silver_counts,
        "streaming_merge_upsert": batch_bridge.streaming_merge_upsert,
        # rows-only: mergeable digest state across micro-batches
        # (rank-error + exact-count unit-tested, like the batch digest)
        "streaming_percentiles_tdigest":
            batch_bridge.streaming_percentiles_tdigest,
        # unbounded-lookback as-of via per-user carry-forward state
        "streaming_asof_join": batch_bridge.streaming_asof_join,
        # bounded heavy-hitter state folded across micro-batches
        "streaming_topk_tokens": batch_bridge.streaming_topk_tokens,
        "streaming_purchase_error_join":
            batch_bridge.streaming_purchase_error_join,
        "streaming_purchase_error_left_join":
            batch_bridge.streaming_purchase_error_left_join,
        "streaming_purchase_error_full_join":
            batch_bridge.streaming_purchase_error_full_join,
    }


def oracle_sql() -> dict[str, str]:
    return {
        **oracles.analysis_oracles(),
        **analytics_oracles(),
        **text_oracles(),
        **similarity_oracles(),
    }
