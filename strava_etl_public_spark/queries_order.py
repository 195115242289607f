"""Driver-facing registry data: SURVEY-coverage map + query order.

Split from queries.py (round 9, verdict #6 file-size discipline) —
pure data, no imports, byte-identical content. SURVEY_COVERAGE maps
every SURVEY.md §2 id to the queries that certify it (enforced by
tests/test_survey_coverage.py); QUERY_ORDER fixes the driver-facing
iteration order under the 50-row correctness cap, with the full
promotion/demotion rationale per slot.
"""

from __future__ import annotations


#: SURVEY §2 operator id → the queries that exercise it. Every row of
#: the §2 inventory appears here; ids marked (=) are semantic aliases
#: of another row and share its query. Names may also reference
#: EXTRA_QUERIES twins (locally-verified secondary paths). Checked by
#: tests/test_survey_coverage.py.
SURVEY_COVERAGE: dict[str, tuple[str, ...]] = {
    "A1": ("a1_incremental_scan",),
    "A2": ("a2_a4_lookups",),
    "A3": ("a3_stream_align", "j3_zip_explode"),
    "A4": ("a2_a4_lookups",),
    "A5": ("a5_watermark_readback", "g1_filtered_max"),
    "A6": ("a6_a7_user_lookup",),
    "A7": ("a6_a7_user_lookup",),
    "A8": ("a9_s4_upsert_sinks", "g4_n7_nested_assembly", "s4_idempotent_append"),
    "A9": ("a9_s4_upsert_sinks",),
    "N1": ("n1_n5_n6_n13_normalize",),
    "N2": ("n2_n3_n4_n8_scalar_transforms",),
    "N3": ("n2_n3_n4_n8_scalar_transforms",),
    "N4": ("n2_n3_n4_n8_scalar_transforms",),
    "N5": ("n1_n5_n6_n13_normalize",),
    "N6": ("n1_n5_n6_n13_normalize",),
    "N7": ("g4_n7_nested_assembly",),
    "N8": ("n2_n3_n4_n8_scalar_transforms", "g2_rolling_maxes_wide"),
    "N9": ("n1_n5_n6_n13_normalize", "n9_column_subset"),
    "N10": ("n10_cohort_split",),
    "N11": ("n1_n5_n6_n13_normalize", "n11_md5_base64"),
    "N12": ("a6_a7_user_lookup", "n12_g3_existence"),
    "N13": ("n1_n5_n6_n13_normalize",),
    "J1": ("j1_j2_spine_join",),
    "J2": ("j1_j2_spine_join",),
    # J3's exact arrays_zip+posexplode shape runs inside a3_stream_align
    # (queries.py:242-284); the dedicated twin lives in extras since r6.
    "J3": ("a3_stream_align", "j3_zip_explode"),
    "J4": ("j4_users_activities_join",),
    "G1": ("a5_watermark_readback", "g1_filtered_max"),  # (=A5 set-based form)
    "G2": ("g2_rolling_maxes_wide",),
    "G3": ("a6_a7_user_lookup", "n12_g3_existence"),
    "G4": ("g4_n7_nested_assembly",),
    "W1": (
        "w1_rolling_triang",
        "w1_rolling_triang_pandas_udf",
        "flagship_rolling_max",
    ),
    "W2": ("w2_interpolate_linear",),
    # w3_w4_position_ops lives in extras since r8; W3's masking runs
    # inside a3_stream_align and W4's row-position spine is the same
    # resample.py spine the J1 official row drives.
    "W3": ("a3_stream_align", "w3_w4_position_ops"),
    "W4": ("j1_j2_spine_join", "w3_w4_position_ops"),
    "T1": ("a1_incremental_scan", "t1_topn_page"),
    "T2": ("a5_watermark_readback", "g1_filtered_max"),  # (=G1 max-as-top-1)
    "T3": ("g4_n7_nested_assembly", "w3_w4_position_ops"),  # ordering discipline: every
    # window/collect declares its sort (array_sort / explicit orderBy)
    "S1": ("s1_incremental_ingest", "x_stream_tumbling_counts"),  # tumbling extra since r8
    "S2": ("a9_s4_upsert_sinks", "x_stream_stateful_user_stats"),
    "S3": ("j4_users_activities_join",),  # per-key loop → one set-based join
    "S4": ("a9_s4_upsert_sinks", "s4_idempotent_append"),
}


#: Driver-facing iteration order, highest-value-first: the flagship,
#: then the five extension families (similarity / text / streaming /
#: multimodal / dedup — the ones a count-capped harness must not drop),
#: then the §2 reference-parity queries, then the relational bench
#: shapes. Every name must be registered, and the total must fit the
#: observed DRIVER_QUERY_CAP so each exported query gets an official
#: CORRECTNESS row.
QUERY_ORDER: tuple[str, ...] = (
    "flagship_rolling_max",
    # similarity search (Arrow scale paths — the plans you'd run at
    # 100×). x_sim_topk_brute_arrow demoted to extras r7: the brute
    # family is certified via the PQ exact-rerank path + extras, and
    # bench.py still runs it as the recall-gate truth; the freed slot
    # gives the completeness-guaranteed exact Jaccard join an
    # official row.
    # x_sim_topk_lsh_arrow demoted (r8 fifth wave): the LSH ANN path
    # is certified by the kNN-join official row (LSH-blocked cosine),
    # the PQ official row, and bench.py's hard recall gate; the freed
    # slot gives the native recursive-CTE engine surface its official
    # row (the kNN join moves up into the similarity block, the
    # recursive CTE takes its old slot below).
    "x_sim_knn_join",
    # x_sim_topk_ivf_arrow demoted (r8 rotation, verdict #1): IVF is
    # certified by the build/probe extras + the PQ official row; the
    # slot goes to the RANGE-frame trailing-window features below.
    # text analysis (the content-fingerprint extra, demoted r7:
    # shingle identity is certified by the dedup family, slot freed
    # for MERGE INTO; the token-count extra, demoted late-r7: token
    # counting is certified by the x_text_quality row's n_tokens, slot
    # freed for the kNN join; both later deleted by the extras census)
    "x_text_lang_id",
    "x_text_quality",
    # x_text_tfidf demoted (r9 rotation, verdict #1): the tf-idf
    # ranking family is certified by the hybrid-retrieval official row
    # (BM25 + dense fusion) and the tfidf extra stays oracle-gated;
    # the slot goes to the maintenance family's time-series face.
    # x_text_chunk_windows demoted (late-r7 fourth wave); it and the
    # other chunking, packing and BPE extras were later deleted by the
    # extras census, so no query chunks documents any more; the slot
    # goes to the duplicated-span REMOVAL rewrite (the Lee-et-al step a
    # pretraining pipeline actually runs).
    "x_text_span_removal",
    # r8 promotion (verdict #1): the RAG stack's official row — BM25
    # top-20 + dense cosine top-20 fused by reciprocal-rank fusion.
    "x_text_hybrid_retrieval",
    # the PII-redaction extra, demoted (second-wave r7 rotation) and
    # later deleted by the extras census: the regex projection family
    # is certified by the x_text_lang_id row; slot freed for the
    # curation batch below.
    # x_text_encoding_quality demoted (r12 rotation, verdict #3), later
    # deleted by the extras census (an inline projection that reaches
    # no operator): the text family keeps FOUR official rows (lang_id,
    # quality, span_removal, hybrid_retrieval); the slot goes to the
    # round-11 LogStore-seam face below.
    # sketches / deterministic sampling — the HLL distinct-count row and
    # x_sample_hash_split demoted (second-wave r7 rotation), both later
    # deleted by the extras census (the HLL sketch with its whole
    # family): hash sampling (sample_by_hash) is certified by the
    # x_sim_topk_ivf_arrow extra, which trains its IVF centroids on a
    # hash sample; slots freed for the curation operators a training
    # pipeline runs first.
    # x_curation_token_budget demoted (r12 rotation, verdict #3), later
    # deleted by the extras census: the curation family is certified by
    # the x_pipeline_curation official row, which composes budgeting
    # (token_budget_allocate) inside the fused pipeline; the slot goes
    # to the round-11 commit-log-at-scale face below.
    # the DSIR importance-weighting extra, demoted (r9 rotation) and
    # later deleted by the extras census: curation weighting is
    # certified by the token-budget + pipeline_curation official rows;
    # slot freed for the exact ROC AUC — the eval family's first
    # official row.
    # structured streaming (the streaming session-window extra,
    # demoted late-r7 and later deleted by the extras census: session
    # semantics are certified by the official q_sessionize batch row;
    # slot freed for the streaming near-dup ingest filter)
    # x_stream_tumbling_counts demoted (r8 rotation, verdict #1):
    # windowed streaming aggregation is certified by the stateful +
    # available-now rows/extras; slot freed for the
    # leakage-free point-in-time feature join.
    "x_stream_stateful_user_stats",
    # the streaming near-dup filter, demoted (r9 rotation) and later
    # deleted by the extras census: near-dup admission is certified by
    # the dedup family's official rows; slot freed for TPC-H Q21 — the
    # hardest planner shape in the relational battery.
    # multimodal plumbing (x_mm_extract_meta demoted to extras r6,
    # x_mm_frame_sample demoted r7 — the mapInPandas plumbing is
    # certified by x_mm_decode_stats, which runs a REAL stdlib PNG
    # decode; slot freed for the triangle-counting graph row)
    # x_mm_decode_stats demoted (late-r7 third wave): the PNG decode
    # stays oracle-gated as an extra; the slot goes to the LOSSY-format
    # decode — real Huffman+dequant+IDCT on the new stdlib JPEG codec,
    # the strongest multimodal row.
    "x_mm_jpeg_stats",
    # x_mm_gif_frames demoted (closing wave): the GIF LZW path stays
    # oracle-gated as an extra; the slot goes to VIDEO on real bytes —
    # the MJPEG-AVI container walk whose frames are real JPEGs, the
    # definitive close of the oldest multimodal gap.
    # x_mm_video_frames demoted (r11 rotation, verdict #3): the
    # multimodal family keeps its strongest row (x_mm_jpeg_stats —
    # real Huffman+dequant+IDCT), the MJPEG-AVI container walk stays
    # oracle-gated as an extra, and the freed slot goes to the
    # round-10 lakehouse faces below.
    # deduplication (+ r5 flagship promoted r6: cluster
    # canonicalization; r7: the exact Jaccard similarity join —
    # Bayardo prefix filtering, the completeness-guaranteed exact
    # counterpart of the approximate family)
    "x_dedup_exact",
    "x_dedup_minhash_lsh",
    # x_dedup_simhash_neardup demoted (late-r7 fourth wave): the
    # simhash family stays certified by the x_dedup_simhash extra;
    # the dedup block had 7 official rows and the freed slot gives
    # the THIRD fused pipeline (curation manifest) an official row.
    # x_dedup_ngram_jaccard demoted (second-wave r7 rotation): the
    # shingle-Jaccard semantics keep the completeness-guaranteed exact
    # join (jaccard_join_prefix, run by x_mm_video_phash_neardup); the
    # blocked approximation stays oracle-gated as an extra. Slot freed
    # for the keep-longest cluster policy layer.
    # x_dedup_embedding_cosine demoted (r8 rotation, verdict #1):
    # blocked embedding-cosine pairing is certified by the kNN-join
    # official row (LSH-blocked cosine) + the labeled/LSH extras; the
    # slot goes to the export pipeline's official row.
    # x_dedup_clusters demoted (r12 rotation, verdict #3): the dedup
    # family keeps THREE official rows (exact, minhash_lsh,
    # incremental — the incremental row folds batches into persisted
    # LSH state and proves clusters == full recompute, exercising the
    # same connected-components canonicalization, so the extras census
    # later deleted the cluster-policy extra); the slot goes to the
    # round-11 multi-writer streaming face below.
    # x_dedup_jaccard_exact demoted (r10 rotation, verdict #1), later
    # deleted by the extras census: the shingle-Jaccard family keeps
    # official rows (minhash_lsh, incremental) and the exact Bayardo
    # join (jaccard_join_prefix) runs in x_mm_video_phash_neardup; slot
    # freed for the lakehouse merge-on-read UPDATE/RESTORE signature row.
    # x_dedup_keep_longest demoted (r9 rotation), later deleted by the
    # extras census: duplicate_clusters runs in the x_dedup_incremental
    # official row; slot freed for OPTIMIZE-on-snapshots — the
    # versioned-table contract's official row.
    # r8 (verdict #5): incremental dedup maintenance — fold a new
    # batch into persisted LSH state, clusters == full recompute.
    "x_dedup_incremental",
    # r9 promotion (verdict #1): incremental EWMA maintenance — the
    # maintenance family's time-series face (resume from one persisted
    # double per key == full recompute bit-for-bit).
    "x_ts_ewma_incremental",
    # r10 promotion (verdict #9): exact autocorrelation at lags
    # {1,2,7} from DECIMAL(38) moments — the time-series analytics
    # family's official row beyond EWMA.
    "x_ts_acf",
    # x_merge_into demoted (r10 rotation, verdict #1): general MERGE
    # is now composed INSIDE the managed-table official row's
    # create→merge→optimize pipeline; the extras census later deleted
    # it and x_merge_not_matched_by_source, and the five-arm contract
    # is pinned by tests/test_table.py and tests/test_upsert_diff.py.
    # r10 promotions (verdict #1 — the round-9 lakehouse layer earned
    # official rows); r11 rotation (verdict #3) swaps the completed
    # round-10 faces in and retires rows with sibling coverage:
    #  - x_table_delete_vectors demoted: DV mechanics are exercised
    #    by x_table_compact (victim census over DVs), x_table_reclaim
    #    (compact→vacuum loop) and the managed-table pipeline row.
    #  - x_table_update_restore demoted: merge-on-read UPDATE and
    #    RESTORE ride inside the compact/reclaim/CDF-source rows
    #    (rollback replay is proven in the CDF gate).
    #  - x_table_column_mapping demoted: the widen row rides the
    #    column map and compaction-under-column-map is directed-
    #    tested.
    #  - x_maintenance_zorder demoted: OPTIMIZE (and z_value) is
    #    exercised by the pipeline row.
    #  The extras census later deleted all four extras: the rows named
    #  reach every operator they reached.
    "x_pipeline_managed_table",
    # r11 promotions (verdict #3): the round-10 lakehouse faces —
    # minor compaction (O(victim-bytes) maintenance), type widening
    # (pure-metadata schema evolution), the compact→reclaim vacuum
    # loop, Catalyst-pushdown batch DataSource, the Arrow streaming
    # sink, and the streaming readChangeFeed DataSource.
    "x_table_compact",
    "x_table_widen",
    "x_table_reclaim",
    "x_table_source_pushdown",
    "x_stream_table_sink",
    "x_stream_table_cdf_source",
    # r12 promotions (verdict #3): the round-11 commit-protocol faces —
    # the full DML cycle committed through the DynamoDB-style sqlite
    # LogStore adapter (records stay plain files, incomplete-commit
    # repair materializes live), parquet lineage checkpoints at forced
    # cadence (as_of through the row-group fast path, splice == walk),
    # and two txnAppId streaming queries with overlapping batchIds
    # composing on one table (per-id replay guards, Delta's
    # (appId, version) idempotence contract).
    "x_table_logstore_sqlite",
    "x_table_ckpt_parquet",
    "x_stream_table_sink_multi",
    # x_maintenance_optimize_snapshot demoted (r10): superseded by
    # the managed-table pipeline row's optimize step; later deleted by
    # the extras census.
    # x_graph_triangles demoted (r10): the graph family keeps its
    # official row via x_sql_recursive_khop (k-hop reachability) and
    # triangles stays oracle-gated as an extra.
    # late-r7 promotions: kNN join (all-points similarity, moved up
    # into the similarity block r8) and frame sampling on the REAL
    # animated GIF codec; the native recursive-CTE surface sits here
    "x_sql_recursive_khop",
    # fused end-to-end pipeline (r5 flagship promoted r6)
    "x_pipeline_activity_e2e",
    "x_pipeline_curation",
    # r8 promotions (verdict #1): the feature-store pair — leakage-
    # free PIT join on SCD2 state + event-time trailing-window RANGE
    # features. x_pipeline_export demoted (r11 rotation), later deleted
    # by the extras census: the fused-pipeline family keeps three
    # official rows (activity e2e, curation, managed-table) and the
    # prefix-sum machinery runs in the global-row-ids official row.
    "x_pit_join_state",
    "x_feature_trailing_window",
    # binned range join (new r6 operator family)
    "x_range_join_sessions",
    # product quantization ANN (continuation batch: codebooks + ADC +
    # exact rerank, the third ANN family official row)
    "x_sim_topk_pq",
    # SURVEY §2 reference parity
    "a1_incremental_scan",
    "a2_a4_lookups",
    "a3_stream_align",
    "a5_watermark_readback",
    "a6_a7_user_lookup",
    "a9_s4_upsert_sinks",
    "n1_n5_n6_n13_normalize",
    "n2_n3_n4_n8_scalar_transforms",
    "n10_cohort_split",
    "j1_j2_spine_join",
    # j3_zip_explode demoted to extras r6: its exact shape runs inside
    # a3_stream_align (queries.py:242-284); J3 stays covered via extras.
    "j4_users_activities_join",
    # w1_rolling_triang demoted to extras r6: the same 11-window
    # triangular stencil is certified by flagship_rolling_max (and the
    # pandas twin extra); the freed slot gives the r6 binned range
    # join an official row.
    "w2_interpolate_linear",
    # w3_w4_position_ops demoted (r8 rotation, verdict #1): the
    # masking/position family is certified inside the a3_stream_align
    # and j1_j2_spine_join official rows (same resample.py operators);
    # the dedicated twin stays oracle-gated as an extra.
    "g2_rolling_maxes_wide",
    "g4_n7_nested_assembly",
    "s1_incremental_ingest",
    # the Naive Bayes extra, demoted (r10 rotation, verdict #1) and
    # later deleted by the extras census: the in-engine ML/eval family
    # keeps its official row via x_eval_auc.
    # r9 promotion (verdict #1): exact ROC AUC (tie-corrected
    # rank-sum in pure BIGINT) — the eval family's threshold-free
    # official row.
    "x_eval_auc",
    # relational engine surface (bench shapes)
    "q1_pricing_summary",
    # r9 promotion (verdict #1): TPC-H Q21 — EXISTS + NOT EXISTS
    # against the same derived relation, the hardest planner shape in
    # the 22-shape battery.
    "x_tpch_q21_waiting_supplier",
    # q3_revenue_join demoted (r8 fifth wave): the join family is
    # certified by the TPC-H shapes the extras census kept (the ones
    # tests/test_relational_plans.py pins) and q3 stays oracle-gated
    # as an extra + a bench headline; the freed
    # slot gives the watermarked STREAM-STREAM interval join — the
    # streaming face that had no official row — its driver row.
    "x_stream_stream_join",
    # q_sessionize demoted (r10 rotation, verdict #1): session
    # semantics keep official coverage via x_range_join_sessions and
    # the session_window extras; it stays oracle-gated as an extra
    # AND a bench.py headline (bench merges both registries).
    # q_pivot_event_counts demoted late-r7; slot freed for the GIF
    # frame-sampling row above. q_rollup_distinct demoted to extras
    # (continuation batch; not a SURVEY §2 id); the freed slot gives
    # the PQ ANN path an official row. q_semi_anti_join demoted to
    # extras (sixth batch): semi/anti is certified by A7's semi-shaped
    # probe (a6_a7_user_lookup); the freed slot gives contiguous global
    # row IDs (the operator whose naive plan dies at scale) an official
    # CORRECTNESS row. The extras census later deleted all three with
    # their pivot, grouping-sets and set-op twins: inline DataFrame
    # shapes that reach no operator the kept queries do not.
    "x_global_row_ids",
    # q_asof_join demoted (r8): the as-of family's official row is now
    # x_pit_join_state (strict as-of carry on SCD2 state, DuckDB-native
    # ASOF oracle, the same asof_join_backward operator); the extras
    # census later deleted the event-join twin.
    # Freed slot → incremental dedup maintenance (verdict #5).
)
