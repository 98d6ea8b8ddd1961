package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented operator (SURVEY.md §2) to a DataFrame
  * program over the driver's parquet tables; `oracleSql` holds the DuckDB-
  * runnable ANSI equivalent for hash comparison. Keys absent from
  * `oracleSql` (hash-specific or approximate operators) get the driver's
  * weaker rows-only check. Column names/ordering rules are documented on
  * [[Queries]].
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Queries.revenueByNation(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // aggregations
    "q01_pricing_summary"   -> Queries.pricingSummary _,
    "q02_revenue_by_nation" -> Queries.revenueByNation _,
    "q03_count_star"        -> Queries.countStar _,
    "q04_group_distinct"    -> Queries.groupDistinct _,
    "q05_minmax_avg"        -> Queries.minMaxAvg _,
    "q06_approx_distinct"   -> Queries.approxDistinct _,
    // scans / filters / top-k
    "q07_filter_project"    -> Queries.filterProject _,
    "q08_topk_orders"       -> Queries.topkOrders _,
    "q09_empty_clone"       -> Queries.emptyClone _,
    // joins
    "q10_join_left"         -> Queries.joinLeftOuter _,
    "q11_join_semi"         -> Queries.joinSemi _,
    "q12_join_anti"         -> Queries.joinAnti _,
    "q13_range_join"        -> Queries.rangeJoin _,
    "q14_asof_join"         -> Queries.asofJoin _,
    // windows
    "q15_window_running"    -> Queries.windowRunningTotal _,
    "q16_window_topk"       -> Queries.windowTopPerGroup _,
    "q17_window_lag"        -> Queries.windowLag _,
    // set ops
    "q18_union"             -> Queries.setUnion _,
    "q19_intersect"         -> Queries.setIntersect _,
    "q20_except"            -> Queries.setExcept _,
    "q21_union_all"         -> Queries.unionAllCounts _,
    // rollup / cube / grouping sets
    "q22_rollup"            -> Queries.rollupAgg _,
    "q23_cube"              -> Queries.cubeAgg _,
    "q24_grouping_sets"     -> Queries.groupingSets _,
    // scalar functions
    "q25_string_funcs"      -> Queries.stringFuncs _,
    "q26_date_funcs"        -> Queries.dateFuncs _,
    "q27_json_extract"      -> Queries.jsonExtract _,
    "q28_array_funcs"       -> Queries.arrayFuncs _,
    "q29_exists_subquery"   -> Queries.existsSubquery _,
    // dedup / text analysis
    "q30_dedup_exact"       -> Queries.dedupExact _,
    "q31_distinct_docs"     -> Queries.distinctDocs _,
    "q32_text_quality"      -> Queries.textQuality _,
    "q33_term_frequency"    -> Queries.termFrequency _,
    "q34_quality_filter"    -> Queries.qualityFilter _,
    "q35_text_fingerprints" -> Queries.textFingerprints _,
    "q36_minhash_pairs"     -> Queries.minhashPairs _,
    "q37_simhash_pairs"     -> Queries.simhashPairs _,
    // similarity search
    "q38_topk_similar"      -> Queries.topkSimilar _,
    "q39_lsh_topk"          -> Queries.lshTopkSimilar _,
    // multimodal plumbing
    "q40_multimodal_meta"   -> Queries.multimodalMeta _,
    // streaming batch mirrors
    "q41_tumbling_hourly"   -> Queries.tumblingHourly _,
    "q42_session_windows"   -> Queries.sessionWindows _,
    // schema inference / catalog
    "q43_infer_schema"      -> Queries.inferSchemaReport _,
    "q44_catalog_report"    -> Queries.catalogReport _,
    // UDAF + statistical aggregates + pivot
    "q45_type_vote_udaf"    -> Queries.typeVoteUdaf _,
    "q46_stats_agg"         -> Queries.statsAgg _,
    "q47_percentiles"       -> Queries.percentiles _,
    "q48_pivot_flags"       -> Queries.pivotFlags _,
    // additional scalar surfaces
    "q49_string_extract"    -> Queries.stringExtract _,
    "q50_date_arith"        -> Queries.dateArith _,
    "q51_conditional"       -> Queries.conditionalFuncs _,
    "q52_map_funcs"         -> Queries.mapFuncs _,
    // remaining join flavors
    "q53_full_outer_join"   -> Queries.fullOuterJoin _,
    "q54_cross_join"        -> Queries.crossJoinSmall _,
    // embedding-cosine near-dup (LSH-bucketed) + IVF ANN
    "q55_cosine_near_dups"  -> Queries.cosineNearDups _,
    "q56_ivf_topk"          -> Queries.ivfTopkSimilar _,
    // pipeline E2E inside the oracle gate
    "q57_pipeline_roundtrip" -> Queries.pipelineRoundtrip _,
    // salted skew join (oracle = the plain join: salt is semantics-invisible)
    "q58_salted_join"       -> Queries.saltedJoinQuery _,
    // forward as-of join
    "q59_asof_forward"      -> Queries.asofForward _,
    // grouping() indicators on rollup
    "q60_grouping_ind"      -> Queries.groupingIndicators _,
    // exact all-pairs cosine — the hash-checked baseline q55/q39/q56's recall
    // is measured against (OperatorsSpec recall gates)
    "q61_cosine_exact_pairs" -> Queries.cosineExactPairs _,
    // multimodal feature extraction (byte histogram), oracle-checked
    "q62_media_features"     -> Queries.mediaFeatures _,
    // int8-quantized all-pairs cosine, oracle-checked bit-for-bit
    "q63_quantized_pairs"    -> Queries.quantizedCosinePairs _,
    // PQ ANN (ADC scan + exact rerank), rows-only + recall gate in tests
    "q64_pq_topk"            -> Queries.pqTopkSimilar _,
    // deterministic hash split / decontamination / TF-IDF (training-data ops)
    "q65_train_test_split"   -> Queries.trainTestSplit _,
    "q66_decontaminate"      -> Queries.decontaminate _,
    "q67_tfidf_terms"        -> Queries.tfidfTopTerms _,
    // chunking / stratified sampling / deterministic corpus shuffle
    "q68_doc_chunks"         -> Queries.docChunks _,
    "q69_stratified_sample"  -> Queries.stratifiedSample _,
    "q70_corpus_shuffle"     -> Queries.corpusShuffle _,
    // SCD2 incremental dimension merge (the reference's refresh, made incremental)
    "q71_scd2_merge"         -> Queries.scd2Merge _,
    // dedup pairs → connected-component clusters (canonical id per group)
    "q72_dedup_clusters"     -> Queries.dedupClusters _,
    // repetition / vocabulary-diversity quality rules
    "q73_repetition_quality" -> Queries.repetitionQuality _,
    // IVF-PQ ANN (coarse pruning × compressed scan; rows-only + recall gate)
    "q74_ivfpq_topk"         -> Queries.ivfPqTopkSimilar _,
    // multimodal E2E: binary → histogram features → near-dup pairs
    "q75_media_near_dups"    -> Queries.mediaNearDups _,
    // per-stratum cap + exact reference suppression
    "q76_domain_cap"         -> Queries.domainCap _,
    "q77_exact_suppress"     -> Queries.exactSuppress _,
    // per-language corpus health report
    "q78_corpus_report"      -> Queries.corpusReport _,
    // chunk-level passage dedup (chunking ∘ exact dedup)
    "q79_chunk_dedup"        -> Queries.chunkDedup _,
    // exact n-gram Jaccard dedup (inverted-index form, recall 1.0)
    "q80_ngram_jaccard"      -> Queries.ngramJaccardDups _,
    // Bloom-filter reference suppression (shuffle-free scale path of q77)
    "q81_bloom_suppress"     -> Queries.bloomSuppress _,
    // JSONL sink → source roundtrip (lossless interchange contract)
    "q82_jsonl_roundtrip"    -> Queries.jsonlRoundtrip _,
    // compression-ratio quality rule (deflate; rows-only at the oracle)
    "q83_compression_quality" -> Queries.compressionQuality _,
    // token-budget shard packing (distributed two-level prefix sum)
    "q84_token_packing"      -> Queries.tokenPacking _,
    // marker-heuristic language ID (deterministic scoring, oracle-checked)
    "q85_language_id"        -> Queries.languageId _,
    // domain-mixture sampling to a target language recipe
    "q86_mixture_sample"     -> Queries.mixtureSample _,
    // PII scrubbing (email/IPv4/digit-run redaction + hit counts)
    "q87_pii_scrub"          -> Queries.piiScrub _,
    // exact n-gram containment (quote/embedding detection)
    "q88_ngram_containment"  -> Queries.ngramContainment _,
    // cross-corpus segment dedup (CCNet-style boilerplate removal)
    "q89_segment_dedup"      -> Queries.segmentDedup _,
    // BM25 ranked retrieval (Lucene idf, rounded-rank determinism)
    "q90_bm25_topk"          -> Queries.bm25TopDocs _,
    // bucketed co-located join: zero-exchange SMJ from bucket layout
    "q91_bucketed_join"      -> Queries.bucketedJoin _,
    // E2E exact fuzzy dedup: pairs -> components -> surviving corpus
    "q92_fuzzy_dedup_corpus" -> Queries.fuzzyDedupCorpus _,
    // SemDeDup: cluster-scoped semantic dedup over embeddings
    "q93_semantic_dedup"     -> Queries.semanticDedupSurvivors _,
    // partitioned write + partition-pruned one-day read
    "q94_partition_prune"    -> Queries.partitionPrunedDay _,
    // ORC sink + scan, full-identity roundtrip
    "q95_orc_roundtrip"      -> Queries.orcRoundtrip _,
    // mergeSchema read over two batches with different schemas
    "q96_schema_evolution"   -> Queries.schemaEvolutionRead _,
    // fixed-weight logistic quality score + keep flag
    "q97_quality_classifier" -> Queries.qualityClassifier _,
    // count-min sketch probe-term estimates (rows-only; gated in spec)
    "q98_cms_term_counts"    -> Queries.cmsTermCounts _,
    // incremental batch-vs-corpus dedup on (source, lang)
    "q99_incremental_dedup"  -> Queries.incrementalDedupBatch _,
    // unigram-LM cross-entropy per doc (CCNet LM-filter analog)
    "q100_unigram_xent"      -> Queries.unigramCrossEntropy _,
    // unpivot/melt wide features to long triples
    "q101_unpivot_features"  -> Queries.unpivotFeatures _,
    // ntile / percent_rank / cume_dist over one window
    "q102_window_ranks"      -> Queries.windowRanks _,
    // cross-table fuzzy join (record linkage on trigram Jaccard)
    "q103_fuzzy_join"        -> Queries.fuzzyJoinHalves _,
    // small-file compaction: 32 fragments -> 1 file, all rows survive
    "q104_compaction"        -> Queries.compactionRun _,
    // predicate delete with atomic rewrite (GDPR shape)
    "q105_delete_where"      -> Queries.deleteWhereRun _,
    // GK quantile-sketch percentiles (rows-only; rank-error gate in spec)
    "q106_approx_percentiles" -> Queries.approxPercentiles _,
    // as-of join with staleness tolerance (merge_asof tolerance)
    "q107_asof_tolerance"    -> Queries.asofTolerance _,
    // EXCEPT ALL / INTERSECT ALL multiplicity-preserving set ops
    "q108_set_ops_all"       -> Queries.setOpsAll _,
    // last-write-wins keyed upsert (MERGE INTO shape, no history)
    "q109_upsert_lww"        -> Queries.upsertLastWriteWins _,
    // time-series gap fill (daily resample + forward fill)
    "q110_gap_fill"          -> Queries.gapFill _,
    // hopping-window aggregation (batch mirror of sliding stream windows)
    "q111_sliding_windows"   -> Queries.slidingWindows _,
    // data-quality expectations report (null/range/FK/dup-PK)
    "q112_dq_report"         -> Queries.dqReport _,
    // deterministic seeded shuffle + shard assignment (training order)
    "q113_seeded_shuffle"    -> Queries.seededShuffle _,
    // per-label mean-pooled L2-normalized embedding centroids
    "q114_embedding_pool"    -> Queries.embeddingPool _,
    // GPT-style regex pre-tokenizer: top vocabulary pieces
    "q115_pretokenize"       -> Queries.pretokenize _,
    // per-group z-score outlier ranking
    "q116_zscore_outliers"   -> Queries.zscoreOutliers _,
    // ordered conversion-funnel stage counts
    "q117_funnel"            -> Queries.funnel _,
    // BPE merge-table training over the corpus word profile
    "q118_bpe_merges"        -> Queries.bpeMerges _,
    // assign-only IVF index append + search (rows-only; recall gate in spec)
    "q119_ivf_append_topk"   -> Queries.ivfAppendTopk _,
    // exact percentile twin pinning q106's GK sketch gate to an oracle
    "q120_exact_percentiles" -> Queries.exactPercentiles _,
    // BPE encode: learned merges applied to the corpus (train -> encode)
    "q121_bpe_encode"        -> Queries.bpeEncode _,
    // ANALYZE-style per-column null/ndv profile (one scan, Expand-shared)
    "q122_column_profile"    -> Queries.columnProfile _,
    // equi-depth histogram via exact-rank percentile bounds (no global sort)
    "q123_equidepth_hist"    -> Queries.equidepthHistogram _,
    // z-order (Morton) layout key over (custkey, order-day)
    "q124_zorder_layout"     -> Queries.zorderLayout _,
    // per-user event-type transition matrix (Markov path counts)
    "q125_transitions"       -> Queries.eventTransitions _,
    // join-key skew diagnosis (heavy keys + ratio over mean group size)
    "q126_skew_report"       -> Queries.skewReport _,
    // materialized packed sequences (ordered concat proven via md5)
    "q127_pack_sequences"    -> Queries.packSequences _,
    // CDC changelog apply: latest-op-wins MERGE with delete semantics
    "q128_cdc_apply"         -> Queries.cdcApply _,
    // robust outliers by median absolute deviation (heavy-tail-safe q116)
    "q129_mad_outliers"      -> Queries.madOutliers _,
    // boilerplate suppression: df-threshold segment cut (CCNet shape)
    "q130_boilerplate"       -> Queries.boilerplateSuppress _,
    // sweep-line interval union: merged coverage + island count per user
    "q131_interval_coverage" -> Queries.intervalCoverage _,
    // damped PageRank over the user co-occurrence graph (3 supersteps)
    "q132_link_rank"         -> Queries.linkRank _,
    // zone-map manifest + range-predicate skip decision (data skipping)
    "q133_zone_map"          -> Queries.zoneMapSkipping _,
    // A-Res weighted sampling: k per source, probability ∝ length
    "q134_weighted_sample"   -> Queries.weightedSampleTopk _,
    // native canon_text: the canonical dedup key (md5 + token count)
    "q135_canonical_text"    -> Queries.canonicalText _,
    // prefix-filtered exact Jaccard join (PPJoin-style candidate pruning)
    "q136_prefix_join"       -> Queries.prefixJaccardJoin _,
    // frequent 2-itemsets: parts co-ordered in the same basket, top-20
    "q137_co_occurrence"     -> Queries.coOccurrence _,
    // MATCH_RECOGNIZE-lite: regex classes over per-user journey strings
    "q138_sequence_match"    -> Queries.sequenceMatch _,
    // trailing 1h RANGE frame per user (time-distance window membership)
    "q139_trailing_window"   -> Queries.trailingWindow _,
    // snapshot diff: added/removed/changed/unchanged reconciliation
    "q140_snapshot_diff"     -> Queries.snapshotDiff _,
    // temperature (n^0.7) mixture: derived per-source sampling budgets
    "q141_temperature_mix"   -> Queries.temperatureSample _,
    // novelty: fraction of a doc's grams unique to it corpus-wide
    "q142_novelty"           -> Queries.noveltyScore _,
    // join size from per-key histograms, without running the join
    "q143_join_cardinality"  -> Queries.joinCardinality _,
    // cohort retention matrix over integer epoch-weeks
    "q144_cohort_retention"  -> Queries.cohortRetention _,
    // sparse TF-IDF cosine pairs via the inverted index (capped baseline)
    "q145_tfidf_cosine"      -> Queries.tfidfCosinePairs _,
    "q148_weighted_prefix_join" -> Queries.weightedPrefixJoinPairs _,
    // survivorship: keep the BEST copy per near-dup cluster (not min-id)
    "q146_survivorship"      -> Queries.survivorship _,
    // first-view -> first-purchase lag distribution (duration analytics)
    "q147_conversion_lag"    -> Queries.conversionLag _,
    "q149_zorder_zonemap"    -> Queries.zorderZoneMap _,
    "q150_hll_sketch_union"  -> Queries.hllSketchUnion _,
    "q151_cms_sketch_merge"  -> Queries.cmsSketchMerge _,
    "q152_bloom_semi_join"   -> Queries.bloomSemiJoinRevenue _,
    "q153_incremental_rollup" -> Queries.incrementalRollup _,
    "q154_merge_into"        -> Queries.mergeIntoDim _,
    "q155_correlation_matrix" -> Queries.correlationMatrix _,
    "q156_winsorize"         -> Queries.winsorizedValues _,
    // per-group OLS slope/intercept/R^2 via SQL regr_* aggregates
    "q157_regr_per_group"    -> Queries.regressionPerGroup _,
    // Shannon-entropy profile of the categorical columns
    "q158_entropy_profile"   -> Queries.entropyProfile _,
    // exact mode per group with deterministic tie-break
    "q159_mode_per_group"    -> Queries.modePerGroup _,
    // chi-square independence (lang x source) + Cramer's V
    "q160_chi_square"        -> Queries.chiSquareIndependence _,
    // daily-gap linear interpolation (q110's LOCF upgraded)
    "q161_interpolate"       -> Queries.linearInterpolate _,
    // PMI-ranked term co-occurrence (collocations)
    "q162_pmi_terms"         -> Queries.pmiTerms _,
    // degree-oriented triangle count over the part co-purchase graph
    "q163_triangle_count"    -> Queries.triangleCount _,
    // pairwise Jensen-Shannon divergence between per-lang term dists
    "q164_js_divergence"     -> Queries.jsDivergence _,
    // q-gram-prefiltered bounded Levenshtein self-join (typo pairs)
    "q165_edit_distance_join" -> Queries.editDistancePairs _,
    // bigram-LM cross-entropy per document (conditional fluency)
    "q166_bigram_xent"       -> Queries.bigramCrossEntropy _,
    // 2-D Pareto frontier (max size, min price) without the O(n^2) join
    "q167_skyline"           -> Queries.skylineParts _,
    // iterative 2-core peel of the support-thresholded co-purchase graph
    "q168_kcore"             -> Queries.kCoreParts _,
    // trailing 7-day exact distinct users per day (rolling reach)
    "q169_sliding_distinct"  -> Queries.slidingDistinct _,
    // functional-dependency audit from one scan (key discovery)
    "q170_fd_profile"        -> Queries.fdProfile _,
    // deterministic contrastive negative sampling (portable mix)
    "q171_negative_sample"   -> Queries.negativeSample _,
    // trailing EWMA of daily revenue via lag spray (no window fold)
    "q172_ewma_daily"        -> Queries.ewmaDaily _,
    // exact ROC-AUC via rank-sum over distinct-score aggregates
    "q173_roc_auc"           -> Queries.rocAuc _,
    // pairwise vocabulary Jaccard between sources (set-overlap drift)
    "q174_vocab_overlap"     -> Queries.vocabOverlap _,
    // content-defined chunking (Rabin boundaries, corpus dedup ratio)
    "q175_cdc_chunks"        -> Queries.cdcChunks _,
    // Zipf rank-frequency fit over the top-1000 terms
    "q176_zipf_fit"          -> Queries.zipfFit _,
    // mergeable top-k candidates with deterministic bounds
    "q177_topk_candidates"   -> Queries.topkCandidates _,
    // binned interval overlap join (non-equi -> equi, no pair dedup)
    "q178_interval_join"     -> Queries.intervalJoin _,
    // population stability index drift gate per event type
    "q179_psi_drift"         -> Queries.psiDrift _,
    // bounded multi-source BFS hop distance (recursive-CTE oracle)
    "q180_bfs_reach"         -> Queries.bfsReach _,
    // Theil-Sen robust trend: median of pairwise daily-count slopes
    "q181_theil_sen"         -> Queries.theilSenTrend _,
    // Benford first-digit audit with chi-square contributions
    "q182_benford"           -> Queries.benfordAudit _,
    // mergeable fixed-bin histogram sketch -> p50/p90/p99 by bin walk
    "q183_hist_sketch"       -> Queries.histSketchQuantiles _,
    // association rules: support / confidence / lift over order baskets
    "q184_assoc_rules"       -> Queries.associationRules _,
    // islands-and-gaps: longest consecutive-day activity streak per user
    "q185_streaks"           -> Queries.activityStreaks _,
    // last-touch attribution via running ignore-nulls window (no self-join)
    "q186_attribution"       -> Queries.lastTouchAttribution _,
    // day-of-week seasonality index per event type
    "q187_seasonality"       -> Queries.seasonalityProfile _,
    // exact weighted percentiles via grouped cumulative-weight walk
    "q188_weighted_median"   -> Queries.weightedMedian _,
    // Gini concentration of positive balances per market segment
    "q189_gini"              -> Queries.giniBySegment _,
    // daily-count autocorrelation at calendar lags 1/2/3/7
    "q190_daily_acf"         -> Queries.dailyAcf _,
    // CUSUM changepoint day + normalized statistic per event type
    "q191_cusum"             -> Queries.cusumChangepoint _,
    // degree assortativity of the user-transition graph
    "q192_assortativity"     -> Queries.degreeAssortativity _,
    // per-dimension embedding mean/std/min/max profile
    "q193_embed_profile"     -> Queries.embeddingProfile _,
    // top event-type trigrams over per-user clickstreams
    "q194_path_trigrams"     -> Queries.pathTrigrams _,
    // star-schema FK orphan audit (one anti-join per edge)
    "q195_ref_integrity"     -> Queries.refIntegrity _,
    // day-of-week ANOVA: eta-squared + F per event type
    "q196_dow_anova"         -> Queries.dowAnova _,
    // winnowing (MOSS) fingerprint selection + corpus rollup
    "q197_winnowing"         -> Queries.winnowFingerprints _,
    // Spearman rank correlation between embedding dimensions
    "q198_spearman"          -> Queries.spearmanPairs _,
    // HITS hubs/authorities over the user-transition graph
    "q199_hits"              -> Queries.hitsRank _,
    // sketch-path sliding distinct: day HLL rows sprayed to window ends
    // (rows-only: envelope-gated vs q169's exact answer in spec)
    "q200_sliding_distinct_sketch" -> Queries.slidingDistinctSketch _,
    // truncated string bounds: range-clustered layout + pruned name scan
    "q201_string_zonemap"    -> Queries.stringZoneMap _,
    // per-shard bloom skipping on a non-clustering column
    "q202_bloom_zonemap"     -> Queries.bloomZoneMap _,
    // bounded-output q148: top-5 cosine neighbors per doc at t=0.8
    "q203_prefix_topk"       -> Queries.prefixJoinTopK _,
    // the ANN swap for q203: hashed tf-idf embeddings + IVF-flat top-5
    // (rows-only; recall ≥ 0.9 vs the exact answer spec-gated)
    "q204_ann_topk_tfidf"    -> Queries.annTopkTfidf _,
    // opt-in lenient (dateutil-parity) date inference: free-form
    // word-month renders of o_orderdate round-trip to the civil day
    "q205_lenient_dates"     -> Queries.lenientDates _,
    // real javax.imageio raster decode over deterministic synthetic
    // images (rows-only: DuckDB can't decode rasters; exact per-image
    // luma spec-gated in MultimodalSpec)
    "q206_pixel_stats"       -> Queries.pixelStats _
  )

  /** Unrolled DuckDB replay of [[graft.operators.Bpe.trainMerges]] — k
    * sequential (pair-count → excluded argmax → double-replace) stages.
    * MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    * stage references its predecessor several times, so the lazy form
    * re-expands the corpus scan exponentially.
    */
  /** Shared CTE chain for the BPE oracles: the word profile, the k greedy
    * merge choices b0..b(k-1), and the inter-merge profile rewrites.
    */
  private def bpeCtes(k: Int): String = {
    val head =
      """WITH prof AS MATERIALIZED (
        | SELECT word, count(*) AS n FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents)
        | GROUP BY word),
        |w0 AS MATERIALIZED (SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS repr, n FROM prof)""".stripMargin
    val stages = (0 until k).map { i =>
      val excl =
        if (i == 0) ""
        else "\n HAVING l||' '||r NOT IN (" +
          (0 until i).map(j => s"SELECT l||' '||r FROM b$j").mkString(" UNION ALL ") + ")"
      val rewrite =
        if (i == k - 1) ""
        else s""",
          |w${i + 1} AS MATERIALIZED (SELECT replace(replace(repr,
          |  (SELECT ' '||l||' '||r||' ' FROM b$i), (SELECT ' '||l||r||' ' FROM b$i)),
          |  (SELECT ' '||l||' '||r||' ' FROM b$i), (SELECT ' '||l||r||' ' FROM b$i)) AS repr, n
          | FROM w$i)""".stripMargin
      s""",
        |b$i AS MATERIALIZED (SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(list_slice(s, 1, len(s)-1)) AS l,
        |         unnest(list_slice(s, 2, len(s))) AS r, n
        |  FROM (SELECT str_split(trim(repr), ' ') AS s, n FROM w$i))
        | GROUP BY l, r$excl
        | ORDER BY cnt DESC, l, r LIMIT 1)""".stripMargin + rewrite
    }.mkString
    head + stages
  }

  /** Replay of the q35 portable fingerprint panel. Simhash lanes come
    * from [[graft.functions.TextFunctions.simhashLanes]] so both engines
    * literally share the constants; subword counting is rewritten
    * lookaround-free (RE2): boundary-split tokens = maximal [a-z0-9]
    * runs plus each non-alnum, non-whitespace character.
    */
  private def q35OracleSql: String = {
    val m = 1000000007L
    val laneSum = graft.functions.TextFunctions.simhashLanes.zipWithIndex.map {
      case (p, j) =>
        s"(CASE WHEN sum(CASE WHEN (h * $p) % $m >= 500000004 THEN 1 ELSE -1 END) > 0 THEN ${1L << (31 - j)} ELSE 0 END)"
    }.mkString("\n   + ")
    s"""WITH d AS (
       | SELECT doc_id, text,
       |  list_filter(string_split_regex(lower(text), '\\s+'),
       |    x -> len(x) > 0) AS toks
       | FROM documents),
       |th AS (
       | SELECT doc_id, list_transform(toks, t -> list_reduce(
       |   list_prepend(CAST(0 AS BIGINT),
       |     list_transform(list_filter(string_split(t, ''), c -> len(c) > 0),
       |       c -> CAST(unicode(c) AS BIGINT))),
       |   (a, b) -> (a * 31 + b) % $m)) AS hs
       | FROM d),
       |hx AS (SELECT doc_id, unnest(hs) AS h FROM th),
       |sh AS (
       | SELECT doc_id, CAST($laneSum AS BIGINT) AS simhash
       | FROM hx GROUP BY doc_id),
       |fp AS (
       | SELECT doc_id, CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
       |   list_prepend(CAST(0 AS BIGINT),
       |     list_transform(list_filter(string_split(text, ''), c -> len(c) > 0),
       |       c -> CAST(unicode(c) AS BIGINT))),
       |   (a, b) -> (a * 31 + b) % $m) END AS fingerprint
       | FROM d),
       |ls AS (
       | SELECT doc_id,
       |  len(list_filter(toks, t -> list_contains(['the','and','of','is','to'], t))) AS s_en,
       |  len(list_filter(toks, t -> list_contains(['el','la','de','que','y'], t))) AS s_es,
       |  len(list_filter(toks, t -> list_contains(['der','und','die','das','ist'], t))) AS s_de,
       |  len(list_filter(toks, t -> list_contains(['le','la','et','les','des'], t))) AS s_fr,
       |  len(list_filter(toks, t -> list_contains(['de','shi','le','wo','ni'], t))) AS s_zh
       | FROM d),
       |lp AS (
       | SELECT doc_id,
       |  CASE WHEN best = 0 THEN 'und'
       |   WHEN s_en = best THEN 'en' WHEN s_es = best THEN 'es'
       |   WHEN s_de = best THEN 'de' WHEN s_fr = best THEN 'fr'
       |   WHEN s_zh = best THEN 'zh' ELSE 'und' END AS lang_pred
       | FROM (SELECT *, greatest(s_en, s_es, s_de, s_fr, s_zh) AS best FROM ls)),
       |sw AS (
       | SELECT doc_id, CAST(
       |  len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
       |    x -> len(x) > 0))
       |  + length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
       |  AS INT) AS n_subwords
       | FROM d)
       |SELECT d.doc_id AS doc_id, coalesce(sh.simhash, 0) AS simhash,
       | fp.fingerprint AS fingerprint, lp.lang_pred AS lang_pred,
       | sw.n_subwords AS n_subwords
       |FROM d
       | LEFT JOIN sh ON sh.doc_id = d.doc_id
       | JOIN fp ON fp.doc_id = d.doc_id
       | JOIN lp ON lp.doc_id = d.doc_id
       | JOIN sw ON sw.doc_id = d.doc_id
       |ORDER BY doc_id""".stripMargin
  }

  private def bpeOracleSql(k: Int): String = {
    val sel = (0 until k).map(i =>
      s"SELECT ${i + 1} AS merge_rank, l AS left_sym, r AS right_sym, cnt AS pair_count FROM b$i")
      .mkString("\nUNION ALL ")
    bpeCtes(k) + "\n" + sel + "\nORDER BY merge_rank"
  }

  /** Replay of Bpe.encodeStats: the same two-pass replaces the trainer's
    * rewrite CTEs use, applied per document word, then counted. The CAST
    * keeps n_tokens BIGINT (DuckDB sum promotes to HUGEINT — the q112
    * lesson).
    */
  private def bpeEncodeOracleSql(k: Int): String = {
    val encChain = (0 until k).map { i =>
      s""",
        |enc${i + 1} AS MATERIALIZED (SELECT doc_id, replace(replace(repr,
        |  (SELECT ' '||l||' '||r||' ' FROM b$i), (SELECT ' '||l||r||' ' FROM b$i)),
        |  (SELECT ' '||l||' '||r||' ' FROM b$i), (SELECT ' '||l||r||' ' FROM b$i)) AS repr
        | FROM enc$i)""".stripMargin
    }.mkString
    bpeCtes(k) +
      """,
        |doc_words AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
        |enc0 AS MATERIALIZED (SELECT doc_id, ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS repr FROM doc_words)""".stripMargin +
      encChain +
      s"""
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(len(str_split(trim(repr), ' '))) AS BIGINT) AS n_tokens
        |FROM enc$k GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** Unrolled DuckDB replay of [[graft.operators.Graph.pageRank]] over the
    * q132 co-occurrence edges: one (dangling-mass, synchronous-update) CTE
    * pair per iteration. The damping constants are interpolated from the
    * same Scala doubles the Spark plan uses, so both engines evaluate
    * bit-identical literals ((1 - 0.85) in DuckDB would be DECIMAL 0.15
    * exactly, not the IEEE 0.15000000000000002 the Scala side folds in).
    */
  /** Unrolled DuckDB replay of [[graft.operators.Graph.hits]]: the
    * classic sequential update per iteration (auth ← Eᵀ·hub,
    * L1-normalize, then hub ← E·auth, L1-normalize), starting from
    * all-ones, over the q132 edge list. Mirrors pageRankOracleSql's
    * structure; round(…, 8) absorbs sum-order ulps on both sides.
    */
  private def hitsOracleSql(iters: Int): String = {
    val head =
      """WITH edges AS MATERIALIZED (
        | SELECT src, dst FROM (
        |  SELECT user_id AS src,
        |   lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
        |  FROM events)
        | WHERE dst IS NOT NULL AND src <> dst),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |s0 AS MATERIALIZED (SELECT node, 1.0 AS hub, 1.0 AS auth FROM nodes)""".stripMargin
    val steps = (0 until iters).map { i =>
      s""",
        |ar$i AS MATERIALIZED (
        | SELECT n.node, coalesce(c.a, 0) AS a
        | FROM nodes n LEFT JOIN (
        |   SELECT e.dst AS node, sum(s.hub) AS a
        |   FROM edges e JOIN s$i s ON e.src = s.node GROUP BY 1) c
        |  ON n.node = c.node),
        |auth$i AS MATERIALIZED (
        | SELECT node, a / (SELECT sum(a) FROM ar$i) AS auth FROM ar$i),
        |hr$i AS MATERIALIZED (
        | SELECT n.node, coalesce(c.h, 0) AS h
        | FROM nodes n LEFT JOIN (
        |   SELECT e.src AS node, sum(x.auth) AS h
        |   FROM edges e JOIN auth$i x ON e.dst = x.node GROUP BY 1) c
        |  ON n.node = c.node),
        |s${i + 1} AS MATERIALIZED (
        | SELECT h.node, h.h / (SELECT sum(h) FROM hr$i) AS hub, x.auth
        | FROM hr$i h JOIN auth$i x ON h.node = x.node)""".stripMargin
    }.mkString
    head + steps +
      s"""
        |SELECT node AS user_id, round(hub, 8) AS hub, round(auth, 8) AS auth
        |FROM s$iters ORDER BY node""".stripMargin
  }

  private def pageRankOracleSql(iters: Int, damping: Double = 0.85): String = {
    val head =
      """WITH edges AS MATERIALIZED (
        | SELECT src, dst FROM (
        |  SELECT user_id AS src,
        |   lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
        |  FROM events)
        | WHERE dst IS NOT NULL AND src <> dst),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
        |r0 AS MATERIALIZED (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes)""".stripMargin
    val steps = (0 until iters).map { i =>
      s""",
        |d$i AS MATERIALIZED (SELECT coalesce(sum(rank), 0) AS dm FROM r$i
        | WHERE node NOT IN (SELECT src FROM deg)),
        |r${i + 1} AS MATERIALIZED (
        | SELECT n.node,
        |  ${1 - damping}/(SELECT n FROM nn) + $damping *
        |   (coalesce(c.inr, 0) + (SELECT dm FROM d$i)/(SELECT n FROM nn)) AS rank
        | FROM nodes n LEFT JOIN (
        |   SELECT e.dst AS node, sum(r.rank / d.deg) AS inr
        |   FROM edges e JOIN r$i r ON e.src = r.node JOIN deg d ON e.src = d.src
        |   GROUP BY 1) c ON n.node = c.node)""".stripMargin
    }.mkString
    head + steps +
      s"\nSELECT node AS user_id, round(rank, 8) AS rank FROM r$iters ORDER BY node"
  }

  /** Unrolled DuckDB replay of [[graft.operators.Graph.kCore]] on the
    * support-≥2 co-purchase graph: `rounds` fixed peel rounds. Must be
    * ≥ the converged peel depth at every tested SF (observed max 6 at
    * sf0.1); extra rounds are no-ops, so a converged Spark result and
    * the fixed-depth replay agree exactly.
    */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val head =
      """WITH op AS MATERIALIZED (
        | SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (
        | SELECT x.l_partkey AS a, y.l_partkey AS b
        | FROM op x JOIN op y
        |  ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin
    val steps = (0 until rounds).map { i =>
      s""",
        |k$i AS MATERIALIZED (
        | SELECT v FROM (SELECT a AS v FROM e$i UNION ALL SELECT b FROM e$i)
        | GROUP BY v HAVING count(*) >= $k),
        |e${i + 1} AS MATERIALIZED (
        | SELECT e.a, e.b FROM e$i e
        | JOIN k$i ka ON e.a = ka.v JOIN k$i kb ON e.b = kb.v)""".stripMargin
    }.mkString
    head + steps +
      s"""
        |SELECT v AS node, CAST(count(*) AS BIGINT) AS deg
        |FROM (SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds)
        |GROUP BY v ORDER BY node""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q03_count_star" -> "SELECT count(*) AS cnt FROM lineitem",
    "q04_group_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
        | count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q05_minmax_avg" ->
      """SELECT l_returnflag, min(l_extendedprice) AS min_price,
        | max(l_extendedprice) AS max_price, round(avg(l_extendedprice),4) AS avg_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q07_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45 AND l_shipdate IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q08_topk_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q09_empty_clone" ->
      "SELECT l_orderkey, l_quantity FROM lineitem WHERE 1 = 2",
    "q10_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | round(sum(coalesce(o_totalprice, 0)),2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q11_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q12_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q13_range_join" ->
      """SELECT o_orderkey, count(*) AS cnt
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate < o_orderdate + INTERVAL 60 DAY
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,
    "q14_asof_join" ->
      """SELECT e.event_id, e.user_id,
        | strftime((SELECT max(s.ts) FROM events s
        |           WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |             AND s.ts < e.ts), '%Y-%m-%d %H:%M:%S') AS asof_ts
        |FROM events e WHERE e.event_type = 'error' ORDER BY e.event_id""".stripMargin,
    "q15_window_running" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_total
        |FROM orders ORDER BY o_custkey, o_date, o_orderkey""".stripMargin,
    "q16_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        | FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q17_window_lag" ->
      """SELECT event_id, user_id, value,
        | value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
        |FROM events ORDER BY event_id""".stripMargin,
    "q18_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "q19_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "q20_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey""".stripMargin,
    "q21_union_all" ->
      """SELECT src, cnt FROM (
        | SELECT 'current' AS src, count(*) AS cnt FROM orders
        | UNION ALL SELECT 'history' AS src, count(*) AS cnt FROM orders)
        |ORDER BY src""".stripMargin,
    "q22_rollup" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q23_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q24_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q25_string_funcs" ->
      """SELECT p_partkey, lower(p_type) AS type_lc, upper(p_brand) AS brand_uc,
        | replace(p_brand, '#', '_') AS brand_u,
        | CAST(length(p_name) AS INTEGER) AS name_len,
        | concat(p_brand, ':', p_type) AS brand_type,
        | trim(p_name) AS name_trim, substring(p_name, 1, 5) AS name_pfx
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q26_date_funcs" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS y,
        | CAST(month(o_orderdate) AS INTEGER) AS m,
        | count(*) AS cnt, round(sum(o_totalprice),2) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q27_json_extract" ->
      """SELECT event_id, event_type,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
        |ORDER BY event_id""".stripMargin,
    "q28_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS INTEGER) AS dim,
        | embedding[1] AS first_val,
        | round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))),4) AS sum_val
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q29_exists_subquery" ->
      """SELECT o_orderkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin,
    "q30_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q31_distinct_docs" ->
      "SELECT count(DISTINCT text) AS n_distinct, count(*) AS n_total FROM documents",
    "q32_text_quality" ->
      """SELECT doc_id,
        | CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS INTEGER) AS n_tokens,
        | CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0),
        |   x -> list_contains(['the','a','an','of','and','or','to','in','is','it','for','on'], x)))
        |   AS INTEGER) AS n_stopwords,
        | round(CASE WHEN length(text) = 0 THEN 0
        |   ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text)
        |   END, 4) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_term_frequency" ->
      """SELECT token, count(*) AS cnt FROM (
        | SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS token FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q34_quality_filter" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE lang = 'en'
        |  AND len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) >= 20
        |ORDER BY doc_id""".stripMargin,
    // Full replay of the portable fingerprint panel: base-31 char folds
    // mod 1e9+7 (the q197 list_reduce seed trick), the 32 simhash lane
    // multipliers interpolated from TextFunctions.simhashLanes (ONE
    // source of truth), marker-count language argmax in the same
    // first-wins order, and boundary-split subword counting rewritten
    // without lookarounds (alnum runs + punctuation chars) because RE2
    // has none.
    "q35_text_fingerprints" -> q35OracleSql,
    "q38_topk_similar" ->
      """SELECT query_id, neighbor_id, cosine, rk FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  round(CAST(list_cosine_similarity(q.embedding, c.embedding) AS DOUBLE),4) AS cosine,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id)
        |    AS INTEGER) AS rk
        | FROM embeddings q CROSS JOIN embeddings c
        | WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin,
    "q40_multimodal_meta" ->
      """SELECT doc_id AS id,
        | CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        | CAST(64 + (octet_length(encode(text)) % 512) AS INTEGER) AS width,
        | CAST(64 + ((octet_length(encode(text)) // 7) % 512) AS INTEGER) AS height,
        | CASE WHEN octet_length(encode(text)) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY id""".stripMargin,
    "q41_tumbling_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS n_events, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q42_session_windows" ->
      """WITH flags AS (
        | SELECT user_id, ts,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |    OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 5 MINUTE
        |   THEN 1 ELSE 0 END AS newflag
        | FROM events),
        |s AS (
        | SELECT user_id, ts, sum(newflag) OVER (PARTITION BY user_id ORDER BY ts
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM flags)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, user_id,
        | count(*) AS n_events
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,
    "q43_infer_schema" ->
      """SELECT * FROM (VALUES
        | ('p_brand','text'), ('p_name','text'), ('p_partkey','smallint'),
        | ('p_retailprice','numeric'), ('p_size','smallint'), ('p_type','text'))
        |AS t(column_name, inferred_type) ORDER BY column_name""".stripMargin,
    "q44_catalog_report" ->
      """SELECT * FROM (VALUES
        | ('customer',5), ('documents',5), ('embeddings',3), ('events',6),
        | ('lineitem',11), ('nation',3), ('orders',6), ('part',6),
        | ('region',2), ('supplier',4))
        |AS t(table_name, n_columns) ORDER BY table_name""".stripMargin,
    "q45_type_vote_udaf" ->
      """SELECT 'smallint' AS p_partkey_type, 'numeric' AS p_retailprice_type,
        | 'text' AS p_name_type""".stripMargin,
    "q46_stats_agg" ->
      """SELECT l_returnflag, round(stddev_samp(l_quantity),4) AS sd_qty,
        | round(var_samp(l_quantity),4) AS var_qty,
        | round(corr(l_quantity, l_extendedprice),4) AS corr_qp,
        | round(covar_samp(l_quantity, l_discount),4) AS cov_qd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q47_percentiles" ->
      """SELECT l_returnflag, round(quantile_cont(l_quantity, 0.25),4) AS q25,
        | round(quantile_cont(l_quantity, 0.5),4) AS median,
        | round(quantile_cont(l_quantity, 0.75),4) AS q75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q48_pivot_flags" ->
      """SELECT l_linestatus,
        | round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END),2) AS qty_a,
        | round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END),2) AS qty_n,
        | round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END),2) AS qty_r
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "q49_string_extract" ->
      """SELECT p_partkey, string_split(p_name, ' ')[1] AS first_word,
        | regexp_extract(p_brand, '#([0-9]+)', 1) AS brand_num,
        | CAST(strpos(p_name, 'a') AS INTEGER) AS pos_a,
        | lpad(p_brand, 12, '*') AS brand_pad,
        | reverse(p_name) AS name_rev
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q50_date_arith" ->
      """SELECT o_orderkey,
        | strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
        | CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-01-01 00:00:00') AS INTEGER) AS days_to_98,
        | strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
        | CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow
        |FROM orders WHERE o_orderkey < 1000 ORDER BY o_orderkey""".stripMargin,
    "q51_conditional" ->
      """SELECT o_orderkey,
        | CASE WHEN o_totalprice > 200000 THEN 'high'
        |      WHEN o_totalprice > 100000 THEN 'mid' ELSE 'low' END AS bucket,
        | coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_x,
        | greatest(o_totalprice, 150000.0) AS g,
        | least(o_totalprice, 150000.0) AS l
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q52_map_funcs" ->
      """SELECT event_id, 'k' AS first_key,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "q53_full_outer_join" ->
      """SELECT coalesce(c.nationkey, s.nationkey) AS nationkey,
        | coalesce(c_cnt, 0) AS c_cnt, coalesce(s_cnt, 0) AS s_cnt
        |FROM (SELECT c_nationkey AS nationkey, count(*) AS c_cnt
        |      FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nationkey, count(*) AS s_cnt
        |           FROM supplier GROUP BY 1) s
        |ON c.nationkey = s.nationkey
        |ORDER BY nationkey""".stripMargin,
    "q54_cross_join" ->
      """SELECT r_name, l_returnflag
        |FROM region CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem)
        |ORDER BY r_name, l_returnflag""".stripMargin,
    "q57_pipeline_roundtrip" ->
      """SELECT 'nation' AS table_name, CAST(25 AS BIGINT) AS record_count,
        | 3 AS n_columns, 'smallint' AS key_type, 'string' AS name_type""".stripMargin,
    "q58_salted_join" ->
      """SELECT c_custkey, n_name FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,
    "q59_asof_forward" ->
      """SELECT e.event_id, e.user_id,
        | strftime((SELECT min(p.ts) FROM events p
        |           WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
        |             AND p.ts > e.ts), '%Y-%m-%d %H:%M:%S') AS next_ts
        |FROM events e WHERE e.event_type = 'signup' ORDER BY e.event_id""".stripMargin,
    "q60_grouping_ind" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping(l_returnflag) AS INTEGER) AS g_rf,
        | CAST(grouping(l_linestatus) AS INTEGER) AS g_ls,
        | count(*) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    // DOUBLE[] casts make DuckDB compute in float64 like the Spark side
    // (on FLOAT lists it computes in float32 — boundary pairs would flap).
    "q61_cosine_exact_pairs" ->
      """SELECT id_a, id_b, round(c, 4) AS cosine FROM (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                         CAST(b.embedding AS DOUBLE[])) AS c
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE a.vec_id < 2000 AND b.vec_id < 2000)
        |WHERE c >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    // Replicates the Spark quantizer exactly: FLOAT/FLOAT division in
    // DuckDB is true float32 (matches maxAbs/127f and x/scale), and
    // floor(x + 0.5) over the widened double matches Java 17's exact
    // Math.round(float). Integer dot/norms are exact in double.
    "q63_quantized_pairs" ->
      """WITH qv AS (
        | SELECT vec_id,
        |  list_transform(embedding, x -> greatest(-127, least(127,
        |    CAST(floor(CAST(CAST(x AS FLOAT) / s AS DOUBLE) + 0.5) AS BIGINT)))) AS q
        | FROM (SELECT vec_id, embedding,
        |         CAST(list_max(list_transform(embedding, y -> abs(y))) AS FLOAT)
        |           / CAST(127 AS FLOAT) AS s
        |       FROM embeddings WHERE vec_id < 2000)
        | WHERE s > 0)
        |SELECT id_a, id_b, round(c, 4) AS qcosine FROM (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  CAST(list_dot_product(a.q, b.q) AS DOUBLE) /
        |   sqrt(CAST(list_dot_product(a.q, a.q) AS DOUBLE) *
        |        CAST(list_dot_product(b.q, b.q) AS DOUBLE)) AS c
        | FROM qv a JOIN qv b ON a.vec_id < b.vec_id)
        |WHERE c >= 0.2 ORDER BY id_a, id_b""".stripMargin,
    // CAST(... AS FLOAT) reproduces Spark's float32 histogram division
    // bit-for-bit (a single float division is correctly rounded), so the
    // round(…,4) values hash-match exactly. ASCII corpus ⇒ char codes are
    // the payload bytes.
    "q62_media_features" -> {
      val bins = (0 until 16).map { i =>
        s"round(CAST(CAST(CAST(len(list_filter(cs, c -> c // 16 = $i)) AS DOUBLE)" +
          f" / greatest(n, 1) AS FLOAT) AS DOUBLE), 4) AS b$i%02d"
      }.mkString(",\n ")
      s"""WITH codes AS (
         | SELECT doc_id, octet_length(encode(text)) AS n,
         |  list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))) AS cs
         | FROM documents)
         |SELECT doc_id,
         | $bins
         |FROM codes ORDER BY doc_id""".stripMargin
    },
    // Portable BIGINT multiply–xorshift mix — both engines compute the
    // exact same split assignment (see Sampling.bucketOf).
    "q65_train_test_split" ->
      """SELECT split, count(*) AS n_docs, min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM (
        | SELECT doc_id,
        |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'valid' ELSE 'test' END AS split
        | FROM (
        |  SELECT doc_id, xor(m2, m2 >> 13) % 10000 AS b FROM (
        |   SELECT doc_id, (xor(m1, m1 >> 15) * 1597334677) % 2147483648 AS m2 FROM (
        |    SELECT doc_id,
        |      (((doc_id + 42) % 2147483648) * 2654435761) % 2147483648 AS m1
        |    FROM documents))))
        |GROUP BY split ORDER BY split""".stripMargin,
    // Grams mirror wordNgrams: sequence(0, greatest(size-8,0)) with an
    // 8-token clipped slice ⇒ range(1, greatest(len-8,0)+2) with t[i:i+7]
    // (DuckDB slices are 1-based inclusive and clip). The Spark side joins
    // on xxhash64(gram); the oracle joins on the strings — identical id
    // sets verify the hashed path.
    "q66_decontaminate" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(t) - 8, 0) + 2),
        |   i -> array_to_string(t[i:i+7], ' ')))) AS g
        | FROM toks)
        |SELECT doc_id FROM documents
        |WHERE doc_id % 10 <> 0
        |  AND NOT EXISTS (
        |   SELECT 1 FROM grams c JOIN grams b ON c.g = b.g
        |   WHERE c.doc_id = documents.doc_id AND b.doc_id % 10 = 0)
        |ORDER BY doc_id""".stripMargin,
    // Ratio-form idf (tf·N/df): CAST(tf AS DOUBLE) * n / df is two
    // correctly-rounded IEEE ops evaluated in the same order on both
    // engines, so scores (and the rank order derived from them) match
    // bit-for-bit — no transcendental in the hashed output.
    "q67_tfidf_terms" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |idf AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, tok, round(score, 4) AS tfidf, rk FROM (
        | SELECT tf.doc_id, tf.tok, CAST(tf.tf AS DOUBLE) * n.n / idf.df AS score,
        |  CAST(row_number() OVER (PARTITION BY tf.doc_id
        |    ORDER BY CAST(tf.tf AS DOUBLE) * n.n / idf.df DESC, tf.tok) AS INTEGER) AS rk
        | FROM tf JOIN idf USING (tok) CROSS JOIN n)
        |WHERE rk <= 5 AND doc_id < 30 ORDER BY doc_id, rk""".stripMargin,
    // Window starts: Spark sequence(0, n-1, 40) inclusive-stop ≡ DuckDB
    // range(0, n, 40) exclusive-stop; slice(t, s+1, 50) ≡ t[s+1:s+50]
    // (1-based inclusive, clipped at the document end).
    "q68_doc_chunks" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |st AS (SELECT doc_id, t, unnest(range(0, len(t), 40)) AS s
        |       FROM toks WHERE len(t) > 0)
        |SELECT doc_id, CAST(s // 40 AS INTEGER) AS chunk_idx,
        | CAST(len(t[s+1:s+50]) AS INTEGER) AS n_chunk_tokens,
        | array_to_string(t[s+1:s+50], ' ') AS chunk_text
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin,
    // Same multiply–xorshift mix as q65 (salt 7), with a per-stratum
    // membership threshold: en keeps 5000/10000 buckets, the rest 2000.
    "q69_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang, xor(m2, m2 >> 13) % 10000 AS b FROM (
        |  SELECT doc_id, lang, (xor(m1, m1 >> 15) * 1597334677) % 2147483648 AS m2 FROM (
        |   SELECT doc_id, lang,
        |     (((doc_id + 7) % 2147483648) * 2654435761) % 2147483648 AS m1
        |   FROM documents)))
        |WHERE b < CASE WHEN lang = 'en' THEN 5000 ELSE 2000 END
        |ORDER BY doc_id""".stripMargin,
    // The raw mix value is the shuffle key; the result IS the permutation
    // (ORDER BY key with id tie-break), checked value-for-value.
    "q70_corpus_shuffle" ->
      """SELECT doc_id, xor(m2, m2 >> 13) AS shuffle_key FROM (
        | SELECT doc_id, (xor(m1, m1 >> 15) * 1597334677) % 2147483648 AS m2 FROM (
        |  SELECT doc_id,
        |    (((doc_id + 42) % 2147483648) * 2654435761) % 2147483648 AS m1
        |  FROM documents))
        |ORDER BY shuffle_key, doc_id""".stripMargin,
    // Reconstructs the merged dimension with plain set SQL: every 7th key
    // changes nation (closed + reopened rows), keys < 50 reappear shifted
    // by 100000 as brand-new inserts, the rest pass through untouched.
    "q71_scd2_merge" ->
      """WITH base AS (
        | SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS c_nationkey FROM customer)
        |SELECT c_custkey, c_nationkey, valid_from, valid_to, is_current FROM (
        | SELECT c_custkey, c_nationkey, CAST(0 AS BIGINT) AS valid_from,
        |  CAST(-1 AS BIGINT) AS valid_to, CAST(1 AS INTEGER) AS is_current
        | FROM base WHERE c_custkey % 7 <> 0
        | UNION ALL
        | SELECT c_custkey, c_nationkey, 0, 1, 0 FROM base WHERE c_custkey % 7 = 0
        | UNION ALL
        | SELECT c_custkey, (c_nationkey + 1) % 25, 1, -1, 1 FROM base
        | WHERE c_custkey % 7 = 0
        | UNION ALL
        | SELECT c_custkey + 1 + (SELECT max(c_custkey) FROM base), 0, 1, -1, 1
        | FROM base WHERE c_custkey < 50)
        |ORDER BY c_custkey, valid_from""".stripMargin,
    // Recursive min-label reachability = connected components; min over all
    // reachable labels is the component's min id — exactly the cluster_id
    // the Spark-side propagation converges to.
    "q72_dedup_clusters" ->
      """WITH RECURSIVE pairs AS (
        | SELECT a.vec_id AS id_a, b.vec_id AS id_b
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE a.vec_id < 2000 AND b.vec_id < 2000
        |   AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])) >= 0.35),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |cc(id, label) AS (
        | SELECT DISTINCT src, src FROM edges
        | UNION
        | SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst)
        |SELECT id AS vec_id, min(label) AS cluster_id FROM cc
        |GROUP BY id ORDER BY vec_id""".stripMargin,
    // Non-distinct bigrams: starts 1..len-1 ⇒ range(1, len); every ratio is
    // one double division of exact integers, bit-identical across engines.
    "q73_repetition_quality" ->
      """WITH base AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |b2 AS (SELECT doc_id, t, len(t) AS n FROM base WHERE len(t) > 0),
        |grams AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |   i -> array_to_string(t[i:i+1], ' '))) AS g
        | FROM b2 WHERE len(t) >= 2),
        |topb AS (
        | SELECT doc_id, max(c) AS top FROM (
        |  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2)
        | GROUP BY doc_id)
        |SELECT b2.doc_id, CAST(n AS INTEGER) AS n_tokens,
        | round(CAST(len(list_distinct(t)) AS DOUBLE) / n, 4) AS distinct_ratio,
        | round(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE) / n, 4)
        |   AS mean_token_len,
        | round(CAST(coalesce(top * 2, 0) AS DOUBLE) / n, 4) AS top_bigram_frac
        |FROM b2 LEFT JOIN topb ON b2.doc_id = topb.doc_id
        |ORDER BY b2.doc_id""".stripMargin,
    // Rebuilds the q62 float32 histograms bit-for-bit (ASCII corpus ⇒ char
    // codes are the payload bytes; CAST(... AS FLOAT) is the correctly-
    // rounded float32 division) and recomputes the pair join over them in
    // double — same machinery q61/q62 already pin.
    "q75_media_near_dups" ->
      """WITH codes AS (
        | SELECT doc_id, octet_length(encode(text)) AS n,
        |  list_transform(range(1, length(text) + 1), i -> ord(substr(text, i, 1))) AS cs
        | FROM documents WHERE doc_id < 1000),
        |hist AS (
        | SELECT doc_id, list_transform(range(0, 16), b ->
        |   CAST(CAST(len(list_filter(cs, c -> c // 16 = b)) AS DOUBLE)
        |     / greatest(n, 1) AS FLOAT)) AS h
        | FROM codes)
        |SELECT id_a, id_b, round(c, 4) AS cosine FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  list_cosine_similarity(CAST(a.h AS DOUBLE[]), CAST(b.h AS DOUBLE[])) AS c
        | FROM hist a JOIN hist b ON a.doc_id < b.doc_id)
        |WHERE c >= 0.99999 ORDER BY id_a, id_b""".stripMargin,
    // Same q65 mix (salt 42), ranked within each language partition — the
    // survivor set is a pure function of (id, lang), replayed exactly.
    "q76_domain_cap" ->
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY xor(m2, m2 >> 13), doc_id) AS INTEGER) AS rk
        | FROM (
        |  SELECT doc_id, lang, (xor(m1, m1 >> 15) * 1597334677) % 2147483648 AS m2 FROM (
        |   SELECT doc_id, lang,
        |     (((doc_id + 42) % 2147483648) * 2654435761) % 2147483648 AS m1
        |   FROM documents)))
        |WHERE rk <= 30 ORDER BY doc_id""".stripMargin,
    // The operator anti-joins on 128-bit content hashes; the oracle
    // anti-joins on the text — identical id sets verify the hashed path.
    "q77_exact_suppress" ->
      """SELECT doc_id FROM documents d
        |WHERE doc_id % 10 <> 0
        |  AND NOT EXISTS (
        |   SELECT 1 FROM documents r
        |   WHERE r.doc_id % 10 = 0 AND r.text = d.text)
        |ORDER BY doc_id""".stripMargin,
    // Tokenizer parity established by q32–q34; quantile_cont ≡ Spark
    // percentile (linear interpolation) established by q47.
    "q78_corpus_report" ->
      """SELECT lang, count(*) AS n_docs,
        | CAST(sum(n) AS BIGINT) AS total_tokens,
        | round(avg(n), 4) AS mean_tokens,
        | round(quantile_cont(n, 0.5), 4) AS median_tokens
        |FROM (
        | SELECT lang, len(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS n
        | FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "q79_chunk_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |starts AS (
        | SELECT doc_id, t, unnest(range(0, len(t), 40)) AS s
        | FROM toks WHERE len(t) > 0),
        |chunks AS (
        | SELECT doc_id * 1000 + s // 40 AS chunk_id,
        |   array_to_string(t[s + 1 : s + 50], ' ') AS chunk_text
        | FROM starts)
        |SELECT min(chunk_id) AS chunk_id, count(*) AS dup_cnt
        |FROM chunks GROUP BY chunk_text ORDER BY chunk_id""".stripMargin,
    // Gram construction identical to q66's recipe (same tokenizer, same
    // short-doc clipping); the oracle joins on gram STRINGS, verifying the
    // Spark side's hashed inverted index end-to-end. The Jaccard is one
    // IEEE division of exact integers — bit-identical across engines.
    "q80_ngram_jaccard" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(t) - 3, 0) + 2),
        |   i -> array_to_string(t[i:i+2], ' ')))) AS g
        | FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |common AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        | FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) AS ngram_jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.1
        |ORDER BY id_a, id_b""".stripMargin,
    // The exact-suppression oracle applies verbatim: at fpp 1e-9 over 500
    // docs the deterministic Bloom filter admits no false positive (and
    // false negatives are structurally impossible).
    "q81_bloom_suppress" ->
      """SELECT doc_id FROM documents d
        |WHERE doc_id % 10 <> 0
        |  AND NOT EXISTS (
        |   SELECT 1 FROM documents r
        |   WHERE r.doc_id % 10 = 0 AND r.text = d.text)
        |ORDER BY doc_id""".stripMargin,
    // Roundtrip identity: the JSONL write→read must reproduce the parquet
    // original bit-for-bit, so the oracle is simply the original rows.
    "q82_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, text FROM documents
        |ORDER BY doc_id""".stripMargin,
    // The oracle affords the naive single-partition global window at
    // sf0.01; the Spark side computes the identical cumulative sum via the
    // two-level decomposition. All-integer arithmetic, `//` ≡ Spark `div`
    // on the non-negative values here.
    "q84_token_packing" ->
      """WITH tok AS (
        | SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT doc_id, n_tokens,
        | CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
        | CAST((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // 2048 AS BIGINT) AS bin_id
        |FROM tok ORDER BY doc_id""".stripMargin,
    // Marker lists and the first-wins tie-break replicate
    // TextFunctions.langMarkers order (en, es, de, fr, zh).
    "q85_language_id" ->
      """WITH s AS (
        | SELECT doc_id,
        |  len(list_filter(t, x -> list_contains(['the','and','of','is','to'], x))) AS s_en,
        |  len(list_filter(t, x -> list_contains(['el','la','de','que','y'], x))) AS s_es,
        |  len(list_filter(t, x -> list_contains(['der','und','die','das','ist'], x))) AS s_de,
        |  len(list_filter(t, x -> list_contains(['le','la','et','les','des'], x))) AS s_fr,
        |  len(list_filter(t, x -> list_contains(['de','shi','le','wo','ni'], x))) AS s_zh
        | FROM (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        |  FROM documents))
        |SELECT doc_id,
        | CASE
        |  WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh
        |   AND s_en > 0 THEN 'en'
        |  WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh AND s_es > 0 THEN 'es'
        |  WHEN s_de >= s_fr AND s_de >= s_zh AND s_de > 0 THEN 'de'
        |  WHEN s_fr >= s_zh AND s_fr > 0 THEN 'fr'
        |  WHEN s_zh > 0 THEN 'zh'
        |  ELSE 'und' END AS lang_pred,
        | CAST(s_en AS INTEGER) AS s_en, CAST(s_es AS INTEGER) AS s_es,
        | CAST(s_de AS INTEGER) AS s_de, CAST(s_fr AS INTEGER) AS s_fr,
        | CAST(s_zh AS INTEGER) AS s_zh
        |FROM s ORDER BY doc_id""".stripMargin,
    // Same mix recipe as q65; caps via DOUBLE arithmetic in the identical
    // order as the Spark driver (min(c/w), floor(w*T)); survivor selection
    // is pure integer rank over (mix, doc_id).
    "q86_mixture_sample" ->
      """WITH w(lang, wt) AS (VALUES ('en', 0.4), ('de', 0.15), ('es', 0.15),
        |  ('fr', 0.15), ('zh', 0.15)),
        |c AS (SELECT lang, count(*) AS c FROM documents
        |  WHERE lang IN (SELECT lang FROM w) GROUP BY lang),
        |-- LEFT join + coalesce(0): a weighted stratum ABSENT from the
        |-- corpus makes T = 0 (empty result), matching the Spark operator's
        |-- counts.getOrElse(s, 0L) contract
        |t AS (SELECT min(CAST(coalesce(c, 0) AS DOUBLE) / CAST(wt AS DOUBLE)) AS t
        |  FROM w LEFT JOIN c USING (lang)),
        |caps AS (SELECT lang,
        |  CAST(floor(CAST(wt AS DOUBLE) * (SELECT t FROM t)) AS BIGINT) AS cap FROM w),
        |mixed AS (
        | SELECT doc_id, lang, xor(m2, m2 >> 13) AS mix FROM (
        |  SELECT doc_id, lang, (xor(m1, m1 >> 15) * 1597334677) % 2147483648 AS m2 FROM (
        |   SELECT doc_id, lang,
        |     (((doc_id + 42) % 2147483648) * 2654435761) % 2147483648 AS m1
        |   FROM documents WHERE lang IN (SELECT lang FROM w)))),
        |ranked AS (SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang ORDER BY mix, doc_id) AS rk
        | FROM mixed)
        |SELECT doc_id, lang FROM ranked JOIN caps USING (lang)
        |WHERE rk <= cap ORDER BY doc_id""".stripMargin,
    // Patterns restricted to the Java-regex/RE2-portable subset; 'g' flag
    // because DuckDB's regexp_replace is first-match-only by default while
    // Spark's replaces all occurrences.
    "q87_pii_scrub" ->
      """WITH planted AS (
        | SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |  || '@example.com from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |  || '.7 card 4111111111111111' AS text
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |  + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |  + len(regexp_extract_all(text, '\b\d{13,16}\b')) AS INTEGER) AS pii_hits,
        | regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |   '\b\d{13,16}\b', '<NUM>', 'g') AS text
        |FROM planted ORDER BY doc_id""".stripMargin,
    "q88_ngram_containment" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(t) - 3, 0) + 2),
        |   i -> array_to_string(t[i:i+2], ' ')))) AS g
        | FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |common AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        | FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | round(CAST(c AS DOUBLE) / sa.sz, 4) AS containment_a,
        | round(CAST(c AS DOUBLE) / sb.sz, 4) AS containment_b
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE greatest(CAST(c AS DOUBLE) / sa.sz, CAST(c AS DOUBLE) / sb.sz) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "q89_segment_dedup" ->
      """WITH base AS (
        | SELECT doc_id, string_split(text, ' ') AS t,
        |   CAST(floor(len(string_split(text, ' ')) / 3) AS INT) AS nseg
        | FROM documents),
        |segs AS (
        | SELECT doc_id,
        |   unnest(range(0, nseg)) AS idx,
        |   unnest(list_transform(range(0, nseg),
        |     i -> array_to_string(t[i*3+1 : i*3+3], ' '))) AS seg
        | FROM base),
        |ranked AS (
        | SELECT doc_id, idx, seg,
        |   row_number() OVER (PARTITION BY seg ORDER BY doc_id, idx) AS rn
        | FROM segs),
        |body AS (
        | SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS b, count(*) AS kept
        | FROM ranked WHERE rn = 1 GROUP BY 1),
        |tails AS (
        | SELECT doc_id, array_to_string(t[nseg*3+1 : len(t)], ' ') AS tl,
        |   CAST(nseg AS BIGINT) AS total
        | FROM base)
        |SELECT t.doc_id,
        | CASE WHEN coalesce(b, '') <> '' AND coalesce(tl, '') <> '' THEN b || ' ' || tl
        |      WHEN coalesce(b, '') <> '' THEN b
        |      ELSE coalesce(tl, '') END AS clean_text,
        | total - coalesce(kept, 0) AS n_removed
        |FROM tails t LEFT JOIN body USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    // Rounding BEFORE ranking makes the order immune to the <=1-ulp ln()
    // difference between engines; doc_id breaks rounded ties.
    "q90_bm25_topk" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS tok
        | FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok IN ('spark', 'vector', 'stream') GROUP BY 1, 2),
        |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        | SELECT t.doc_id,
        |   ln(1.0 + (n - df + 0.5) / (df + 0.5)) *
        |     (tf * 2.2) / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS c
        | FROM tf t JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats)
        |SELECT doc_id, round(sum(c), 4) AS bm25 FROM scored GROUP BY 1
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
    // Bucketing must not change the answer: the oracle is the plain join.
    "q91_bucketed_join" ->
      """SELECT c_mktsegment, round(sum(o_totalprice), 2) AS revenue,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // q80's pair CTE at 0.5 + q72's recursive component CTE: the whole
    // exact fuzzy-dedup pipeline hash-checks end-to-end.
    "q92_fuzzy_dedup_corpus" ->
      """WITH RECURSIVE toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(t) - 3, 0) + 2),
        |   i -> array_to_string(t[i:i+2], ' ')))) AS g
        | FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |pairs AS (
        | SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2) j
        | JOIN sizes sa ON sa.doc_id = id_a
        | JOIN sizes sb ON sb.doc_id = id_b
        | WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |cc(id, label) AS (
        | SELECT DISTINCT src, src FROM edges
        | UNION
        | SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst),
        |losers AS (
        | SELECT id FROM (SELECT id, min(label) AS cl FROM cc GROUP BY id)
        | WHERE id <> cl)
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT id FROM losers)
        |ORDER BY doc_id""".stripMargin,
    "q147_conversion_lag" ->
      """WITH firsts AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'view'
        |      THEN CAST(epoch_us(ts) // 1000000 AS BIGINT) END) AS first_view,
        |  min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(epoch_us(ts) // 1000000 AS BIGINT) END) AS first_purchase
        | FROM events GROUP BY user_id),
        |lags AS (
        | SELECT first_purchase - first_view AS lag_sec FROM firsts
        | WHERE first_purchase >= first_view)
        |SELECT CAST(count(*) AS BIGINT) AS n_converters,
        | round(quantile_cont(lag_sec, 0.5), 2) AS p50_lag,
        | round(quantile_cont(lag_sec, 0.9), 2) AS p90_lag,
        | max(lag_sec) AS max_lag
        |FROM lags""".stripMargin,
    // q92's pair graph + CC, with a quality argmax tail instead of the
    // min-id survivor.
    "q146_survivorship" ->
      """WITH RECURSIVE toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(t) - 3, 0) + 2),
        |   i -> array_to_string(t[i:i+2], ' ')))) AS g
        | FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |pairs AS (
        | SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2) j
        | JOIN sizes sa ON sa.doc_id = id_a
        | JOIN sizes sb ON sb.doc_id = id_b
        | WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
        |          UNION ALL SELECT id_b, id_a FROM pairs),
        |cc(id, label) AS (
        | SELECT DISTINCT src, src FROM edges
        | UNION
        | SELECT e.src, cc.label FROM edges e JOIN cc ON cc.id = e.dst),
        |clusters AS (SELECT id, min(label) AS cluster_id FROM cc GROUP BY id),
        |ranked AS (
        | SELECT c.cluster_id, c.id, d.n_chars,
        |  row_number() OVER (PARTITION BY c.cluster_id
        |    ORDER BY d.n_chars DESC, c.id) AS rn
        | FROM clusters c JOIN documents d ON d.doc_id = c.id)
        |SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
        | max(CASE WHEN rn = 1 THEN id END) AS survivor_id,
        | max(CASE WHEN rn = 1 THEN n_chars END) AS survivor_chars
        |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    // q93 is approximate (cluster-boundary pairs) -> rows-only; gates in
    // SemanticDedupSpec.
    // Partition layout must not change the answer: the oracle filters the
    // original unpartitioned events by the same min-day predicate.
    "q94_partition_prune" ->
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
        |FROM events
        |WHERE CAST(ts AS DATE) = (SELECT min(CAST(ts AS DATE)) FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // A single mangled value anywhere breaks the hash: the oracle is the
    // untouched source table.
    "q95_orc_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, text FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q96_schema_evolution" ->
      """SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, CAST(NULL AS VARCHAR), lang
        |FROM documents WHERE doc_id % 2 <> 0
        |ORDER BY doc_id""".stripMargin,
    // z reproduces bit-exactly (correctly-rounded IEEE mul/add/div in the
    // same order); exp() is <=1 ulp different across engines, absorbed by
    // round(4). keep = z >= 0 is therefore deterministic.
    "q97_quality_classifier" ->
      """WITH feats AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS INTEGER) AS n_tokens,
        |  CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0),
        |    x -> list_contains(['the','a','an','of','and','or','to','in','is','it','for','on'], x)))
        |    AS INTEGER) AS n_stopwords,
        |  round(CASE WHEN length(text) = 0 THEN 0
        |    ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text)
        |    END, 4) AS punct
        | FROM documents),
        |scored AS (
        | SELECT doc_id,
        |   -1.0 + 0.02 * n_tokens
        |     + 4.0 * (CASE WHEN n_tokens = 0 THEN 0.0
        |              ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END)
        |     - 6.0 * punct AS z
        | FROM feats)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 4) AS quality, z >= 0 AS keep
        |FROM scored ORDER BY doc_id""".stripMargin,
    // q98 is a sketch (no DuckDB CMS) -> rows-only; overestimate-only and
    // eps*N bounds gated in QueriesSpec.
    "q99_incremental_dedup" ->
      """WITH batch AS (SELECT * FROM documents WHERE doc_id >= 250),
        |unseen AS (
        | SELECT b.* FROM batch b
        | WHERE NOT EXISTS (SELECT 1 FROM documents c
        |   WHERE c.doc_id < 250 AND c.source = b.source AND c.lang = b.lang)),
        |winners AS (
        | SELECT source, lang, min(doc_id) AS doc_id FROM unseen GROUP BY 1, 2)
        |SELECT doc_id, source, lang FROM winners ORDER BY doc_id""".stripMargin,
    // avg() absorbs the <=1-ulp ln() divergence; round(4) pins the hash.
    "q100_unigram_xent" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS tok
        | FROM documents),
        |lm AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM toks)
        |SELECT doc_id, round(avg(-ln(CAST(c AS DOUBLE) / n)), 4) AS xent
        |FROM toks JOIN lm USING (tok) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q101_unpivot_features" ->
      """WITH feats AS (
        | SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS DOUBLE) AS n_tokens,
        |  CAST(len(list_filter(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0),
        |    x -> list_contains(['the','a','an','of','and','or','to','in','is','it','for','on'], x)))
        |    AS DOUBLE) AS n_stopwords,
        |  round(CASE WHEN length(text) = 0 THEN 0
        |    ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text)
        |    END, 4) AS punct_ratio
        | FROM documents)
        |SELECT doc_id, feature, value
        |FROM feats UNPIVOT (value FOR feature IN (n_tokens, n_stopwords, punct_ratio))
        |ORDER BY doc_id, feature""".stripMargin,
    "q102_window_ranks" ->
      """SELECT c_custkey, c_mktsegment,
        | ntile(4) OVER w AS quartile,
        | round(percent_rank() OVER w, 4) AS pct_rank,
        | round(cume_dist() OVER w, 4) AS cume
        |FROM customer WHERE c_custkey <= 300
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q103_fuzzy_join" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(t) - 3, 0) + 2),
        |   i -> array_to_string(t[i:i+2], ' ')))) AS g
        | FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |common AS (
        | SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS c
        | FROM grams a JOIN grams b ON a.g = b.g
        |   AND a.doc_id < 250 AND b.doc_id >= 250
        | GROUP BY 1, 2)
        |SELECT id_l, id_r,
        | round(CAST(c AS DOUBLE) / (sl.sz + sr.sz - c), 4) AS jaccard
        |FROM common
        |JOIN sizes sl ON sl.doc_id = id_l
        |JOIN sizes sr ON sr.doc_id = id_r
        |WHERE CAST(c AS DOUBLE) / (sl.sz + sr.sz - c) >= 0.5
        |ORDER BY id_l, id_r""".stripMargin,
    // The compaction CONTRACT: 32 input fragments, 1 output file, and not
    // one row lost in the rewrite (row count from the rewritten data).
    "q104_compaction" ->
      """SELECT CAST(32 AS BIGINT) AS files_before, CAST(1 AS BIGINT) AS files_after,
        | (SELECT count(*) FROM documents) AS n_rows""".stripMargin,
    "q108_set_ops_all" ->
      """WITH e AS (
        | SELECT nationkey, count(*) AS except_all_n FROM (
        |  SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        |  EXCEPT ALL
        |  SELECT CAST(s_nationkey AS INTEGER) FROM supplier)
        | GROUP BY 1),
        |i AS (
        | SELECT nationkey, count(*) AS intersect_all_n FROM (
        |  SELECT CAST(c_nationkey AS INTEGER) AS nationkey FROM customer
        |  INTERSECT ALL
        |  SELECT CAST(s_nationkey AS INTEGER) FROM supplier)
        | GROUP BY 1)
        |SELECT coalesce(e.nationkey, i.nationkey) AS nationkey,
        | coalesce(except_all_n, 0) AS except_all_n,
        | coalesce(intersect_all_n, 0) AS intersect_all_n
        |FROM e FULL OUTER JOIN i ON e.nationkey = i.nationkey
        |ORDER BY nationkey""".stripMargin,
    "q109_upsert_lww" ->
      """WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
        |changes AS (
        | SELECT c_custkey, c_name, 0.0 AS c_acctbal
        | FROM customer WHERE c_custkey % 10 = 0
        | UNION ALL
        | SELECT m + 1, 'Customer#new1', 100.0 FROM mx
        | UNION ALL
        | SELECT m + 2, 'Customer#new2', 100.0 FROM mx),
        |dim AS (SELECT c_custkey, c_name, c_acctbal FROM customer)
        |SELECT coalesce(u.c_custkey, d.c_custkey) AS c_custkey,
        | coalesce(u.c_name, d.c_name) AS c_name,
        | round(coalesce(u.c_acctbal, d.c_acctbal), 2) AS c_acctbal
        |FROM dim d FULL OUTER JOIN changes u ON d.c_custkey = u.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    "q107_asof_tolerance" ->
      """SELECT e.event_id, e.user_id,
        | strftime((SELECT max(s.ts) FROM events s
        |           WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |             AND s.ts < e.ts
        |             AND s.ts >= e.ts - INTERVAL '86400' SECOND),
        |   '%Y-%m-%d %H:%M:%S') AS asof_ts
        |FROM events e WHERE e.event_type = 'error' ORDER BY e.event_id""".stripMargin,
    // Both counts recomputed from the source: a delete that dropped too
    // much/little or a swap that lost rows breaks the hash.
    "q105_delete_where" ->
      """SELECT
        | (SELECT count(*) FROM documents WHERE lang <> 'en') AS rows_deleted,
        | (SELECT count(*) FROM documents WHERE NOT coalesce(lang <> 'en', false))
        |   AS rows_remaining""".stripMargin,
    "q110_gap_fill" ->
      """WITH daily AS (
        | SELECT user_id, CAST(ts AS DATE) AS day,
        |  round(sum(value),4) AS day_value
        | FROM events GROUP BY 1, 2),
        |spine AS (
        | SELECT user_id,
        |  unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        | FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |       FROM daily GROUP BY user_id)),
        |j AS (
        | SELECT s.user_id, s.day, d.day_value
        | FROM spine s LEFT JOIN daily d
        |   ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, day,
        | last_value(day_value IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        | CAST(day_value IS NULL AS INT) AS is_gap
        |FROM j ORDER BY user_id, day""".stripMargin,
    // Each event belongs to exactly windowDuration/slide = 2 hopping
    // windows: the one starting at its 2h bucket and the one 2h earlier.
    "q111_sliding_windows" ->
      """WITH w AS (
        | SELECT event_type, value,
        |  time_bucket(INTERVAL '2 hours', ts) - k.k * INTERVAL '2 hours'
        |    AS window_start
        | FROM events, (SELECT unnest([0, 1]) AS k) k)
        |SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS n_events, round(sum(value),4) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q112_dq_report" ->
      """SELECT 'orders_nonpositive_totalprice' AS check_name,
        |  count(*) FILTER (WHERE o_totalprice <= 0) AS violations FROM orders
        |UNION ALL SELECT 'orders_null_orderdate',
        |  count(*) FILTER (WHERE o_orderdate IS NULL) FROM orders
        |UNION ALL SELECT 'lineitem_quantity_out_of_range',
        |  count(*) FILTER (WHERE l_quantity NOT BETWEEN 1 AND 50) FROM lineitem
        |UNION ALL SELECT 'lineitem_discount_out_of_range',
        |  count(*) FILTER (WHERE l_discount NOT BETWEEN 0 AND 1) FROM lineitem
        |UNION ALL SELECT 'lineitem_nonpositive_price',
        |  count(*) FILTER (WHERE l_extendedprice <= 0) FROM lineitem
        |UNION ALL SELECT 'lineitem_ship_before_order',
        |  count(*) FILTER (WHERE l_shipdate < o_orderdate)
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |UNION ALL SELECT 'lineitem_orphan_orderkey',
        |  count(*) FROM lineitem l WHERE NOT EXISTS
        |   (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL SELECT 'orders_orphan_custkey',
        |  count(*) FROM orders o WHERE NOT EXISTS
        |   (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |UNION ALL SELECT 'lineitem_dup_pk', CAST(coalesce((
        |  SELECT sum(n - 1) FROM (
        |   SELECT count(*) AS n FROM lineitem
        |   GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)), 0) AS BIGINT)
        |ORDER BY check_name""".stripMargin,
    "q113_seeded_shuffle" ->
      """WITH m AS (
        | SELECT doc_id,
        |  ((doc_id % 2147483648) * 2654435761 + 40503) % 4294967296 AS mix
        | FROM documents)
        |SELECT doc_id, CAST(mix % 8 AS INT) AS shard,
        | row_number() OVER (PARTITION BY mix % 8 ORDER BY mix, doc_id)
        |   AS position
        |FROM m ORDER BY shard, position""".stripMargin,
    // Parallel unnest zips value with its subscript in DuckDB, matching
    // Spark's posexplode (0-based dim).
    "q114_embedding_pool" ->
      """WITH e AS (
        | SELECT label, unnest(embedding) AS v,
        |  unnest(generate_series(0, len(embedding) - 1)) AS dim
        | FROM embeddings),
        |mu AS (
        | SELECT label, dim, avg(CAST(v AS DOUBLE)) AS mu
        | FROM e GROUP BY 1, 2),
        |n AS (SELECT label, sqrt(sum(mu * mu)) AS nrm FROM mu GROUP BY 1)
        |SELECT mu.label, CAST(mu.dim AS INT) AS dim,
        | round(mu.mu / n.nrm, 4) AS pooled
        |FROM mu JOIN n USING (label) ORDER BY label, dim""".stripMargin,
    // RE2 and Java regex agree on this lookahead-free pattern; \s is
    // spelled as an explicit class because the two dialects disagree on
    // vertical tab.
    "q115_pretokenize" ->
      """WITH p AS (
        | SELECT unnest(regexp_extract_all(text,
        |  '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\r]+|[ \t\n\r]+'))
        |   AS piece
        | FROM documents)
        |SELECT piece, count(*) AS n FROM p
        |WHERE NOT regexp_matches(piece, '^[ \t\n\r]+$')
        |GROUP BY piece ORDER BY n DESC, piece LIMIT 40""".stripMargin,
    "q116_zscore_outliers" ->
      """WITH s AS (
        | SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        | FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value,
        | round((value - mu) / sd, 4) AS z
        |FROM events e JOIN s USING (event_type)
        |WHERE sd IS NOT NULL AND sd > 0
        |ORDER BY abs((value - mu) / sd) DESC, event_id LIMIT 50""".stripMargin,
    "q117_funnel" ->
      """WITH v AS (
        | SELECT user_id, min(ts) AS t0 FROM events
        | WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        | SELECT e.user_id, min(ts) AS t1 FROM events e JOIN v USING (user_id)
        | WHERE event_type = 'click' AND ts > t0 GROUP BY 1),
        |p AS (
        | SELECT e.user_id, min(ts) AS t2 FROM events e JOIN c USING (user_id)
        | WHERE event_type = 'purchase' AND ts > t1 GROUP BY 1)
        |SELECT '1_view' AS stage, count(*) AS users FROM v
        |UNION ALL SELECT '2_click_after_view', count(*) FROM c
        |UNION ALL SELECT '3_purchase_after_click', count(*) FROM p
        |ORDER BY stage""".stripMargin,
    "q118_bpe_merges" -> bpeOracleSql(8),
    "q121_bpe_encode" -> bpeEncodeOracleSql(8),
    "q132_link_rank" -> pageRankOracleSql(3),
    // Thresholding on the ROUNDED cosine mirrors the Spark side, so a
    // <=1-ulp ln()/sum-order difference cannot flip pair membership.
    "q145_tfidf_cosine" ->
      """WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
        |terms AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS term
        | FROM docs),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM docs),
        |w AS (
        | SELECT doc_id, term, tf * ln(n_docs / df) AS w
        | FROM tf JOIN dft USING (term), nn),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |dots AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
        | FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 4) AS cosine
        |FROM dots
        |JOIN norms na ON na.doc_id = id_a
        |JOIN norms nb ON nb.doc_id = id_b
        |WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    // The oracle replays the weighted-prefix mathematics through window
    // functions with ITS OWN term ordering (df asc, term string) — the
    // prefix bound is lossless under any global order, so both engines
    // verify the identical pair set; round-then-threshold as in q145.
    "q148_weighted_prefix_join" ->
      """WITH terms AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |w AS (
        | SELECT doc_id, term, df, tf * ln(n_docs / df) AS w
        | FROM tf JOIN dft USING (term), nn),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |unitv AS (
        | SELECT w.doc_id AS doc_id, term, df, w / nrm AS u
        | FROM w JOIN norms ON norms.doc_id = w.doc_id WHERE nrm > 0),
        |tails AS (
        | SELECT doc_id, term, u,
        |  sqrt(sum(u * u) OVER (PARTITION BY doc_id ORDER BY df, term
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS tail
        | FROM unitv),
        |posting AS (SELECT doc_id, term, tail FROM tails WHERE tail >= 0.7),
        |cands AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM posting a JOIN posting b
        |  ON a.term = b.term AND a.doc_id < b.doc_id
        | WHERE a.tail * b.tail >= 0.7 - 1e-9),
        |dots AS (
        | SELECT id_a, id_b, sum(ua.u * ub.u) AS dot
        | FROM cands
        | JOIN unitv ua ON ua.doc_id = id_a
        | JOIN unitv ub ON ub.doc_id = id_b AND ub.term = ua.term
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, round(dot, 4) AS cosine
        |FROM dots WHERE round(dot, 4) >= 0.7
        |ORDER BY id_a, id_b""".stripMargin,
    "q143_join_cardinality" ->
      """WITH p1 AS (
        | SELECT '1_lineitem_orders_fk' AS join_name,
        |  CAST(sum(ca * cb) AS BIGINT) AS join_rows,
        |  CAST(count(*) AS BIGINT) AS matched_keys,
        |  CAST(max(ca * cb) AS BIGINT) AS hottest_key_rows
        | FROM (SELECT l_orderkey AS k, count(*) AS ca FROM lineitem GROUP BY 1) a
        | JOIN (SELECT o_orderkey AS k, count(*) AS cb FROM orders GROUP BY 1) b USING (k)),
        |p2 AS (
        | SELECT '2_lineitem_self_partkey',
        |  CAST(sum(ca * cb) AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(max(ca * cb) AS BIGINT)
        | FROM (SELECT l_partkey AS k, count(*) AS ca FROM lineitem GROUP BY 1) a
        | JOIN (SELECT l_partkey AS k, count(*) AS cb FROM lineitem GROUP BY 1) b USING (k)),
        |p3 AS (
        | SELECT '3_orders_self_priority',
        |  CAST(sum(ca * cb) AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(max(ca * cb) AS BIGINT)
        | FROM (SELECT o_orderpriority AS k, count(*) AS ca FROM orders GROUP BY 1) a
        | JOIN (SELECT o_orderpriority AS k, count(*) AS cb FROM orders GROUP BY 1) b USING (k))
        |SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
        |ORDER BY join_name""".stripMargin,
    "q144_cohort_retention" ->
      """WITH activity AS (
        | SELECT DISTINCT user_id,
        |  CAST(epoch_us(ts) // 1000000 AS BIGINT) // 604800 AS week
        | FROM events),
        |cohorts AS (
        | SELECT user_id, min(week) AS cohort_week FROM activity GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        | CAST(count(*) AS BIGINT) AS n_active
        |FROM activity JOIN cohorts USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Same xorshift bucket as q65 (salt 42); round(…,9) before floor on
    // both engines absorbs the <=1-ulp pow() difference.
    "q141_temperature_mix" ->
      """WITH counts AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
        |tot AS (SELECT sum(pow(n_docs, 0.7)) AS wsum FROM counts),
        |frac AS (
        | SELECT source, n_docs,
        |  CAST(floor(round(pow(n_docs, 0.7) / wsum * 1000.0, 9)) AS BIGINT) AS n_target
        | FROM counts, tot),
        |thr AS (
        | SELECT source, n_docs, n_target,
        |  least(10000, CAST(floor(round(n_target * 10000.0 / n_docs, 9)) AS BIGINT))
        |    AS threshold
        | FROM frac),
        |buckets AS (
        | SELECT d.source, xor(m2, m2 >> 13) % 10000 AS b FROM (
        |  SELECT source, (xor(m1, m1 >> 15) * 1597334677) % 2147483648 AS m2 FROM (
        |   SELECT source, (((doc_id + 42) % 2147483648) * 2654435761) % 2147483648 AS m1
        |   FROM documents)) d),
        |sampled AS (
        | SELECT b.source, CAST(count(*) AS BIGINT) AS n_sampled
        | FROM buckets b JOIN thr t ON b.source = t.source
        | WHERE b.b < t.threshold GROUP BY 1)
        |SELECT t.source, t.n_docs, t.n_target, t.threshold,
        | coalesce(s.n_sampled, 0) AS n_sampled
        |FROM thr t LEFT JOIN sampled s ON t.source = s.source
        |ORDER BY t.source""".stripMargin,
    // String-gram df replay of the hashed novelty computation (q80
    // stance: hashes on the Spark side, strings in the oracle).
    "q142_novelty" ->
      """WITH tok AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |grams AS (
        | SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(t) - 3, 0) + 2),
        |   i -> array_to_string(t[i:i+2], ' ')))) AS g
        | FROM tok),
        |df AS (SELECT g, count(*) AS df FROM grams GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        | round(CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |   / count(*), 4) AS novelty
        |FROM grams JOIN df USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q139_trailing_window" ->
      """SELECT user_id, event_id, sec,
        | CAST(count(*) OVER w AS BIGINT) AS n_1h,
        | round(sum(value) OVER w, 4) AS sum_1h
        |FROM (
        | SELECT user_id, event_id, value,
        |  CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
        | FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |  RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, sec, event_id""".stripMargin,
    "q140_snapshot_diff" ->
      """WITH old AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
        |next AS (
        | SELECT k, CASE WHEN k % 11 = 0 THEN v + 5.0 ELSE v END AS v
        | FROM old WHERE k % 13 <> 0
        | UNION ALL
        | SELECT -k - 1, v FROM old WHERE k % 17 = 0),
        |joined AS (
        | SELECT coalesce(o.k, n.k) AS k, o.v AS v_old, n.v AS v_new
        | FROM old o FULL OUTER JOIN next n ON o.k = n.k)
        |SELECT CASE WHEN v_old IS NULL THEN 'added'
        |            WHEN v_new IS NULL THEN 'removed'
        |            WHEN v_old <> v_new THEN 'changed'
        |            ELSE 'unchanged' END AS class,
        | CAST(count(*) AS BIGINT) AS n, min(k) AS min_key, max(k) AS max_key
        |FROM joined GROUP BY 1 ORDER BY 1""".stripMargin,
    "q137_co_occurrence" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        | CAST(count(*) AS BIGINT) AS n_orders
        |FROM li a JOIN li b
        | ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    // Journey string = one char per event in (ts, event_id) order (the
    // cross-engine sequencing convention); both regex engines treat these
    // patterns identically (unanchored contains, char classes, ^ anchor).
    "q138_sequence_match" ->
      """WITH seqs AS (
        | SELECT user_id,
        |  string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
        | FROM events GROUP BY user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_users,
        | CAST(sum(CASE WHEN regexp_matches(seq, 'v.*c.*p') THEN 1 ELSE 0 END) AS BIGINT)
        |   AS conversion,
        | CAST(sum(CASE WHEN regexp_matches(seq, 'v[^e]*c[^e]*p') THEN 1 ELSE 0 END) AS BIGINT)
        |   AS error_free_conversion,
        | CAST(sum(CASE WHEN regexp_matches(seq, '^s') THEN 1 ELSE 0 END) AS BIGINT)
        |   AS signup_first,
        | CAST(sum(CASE WHEN regexp_matches(seq, 'ee') THEN 1 ELSE 0 END) AS BIGINT)
        |   AS repeated_errors
        |FROM seqs""".stripMargin,
    // Brute-force pair oracle (q80 stance, same clipped-3-gram domain):
    // the prefix filter is an ALGORITHM for the same exact answer, so the
    // oracle needn't know it.
    "q136_prefix_join" ->
      """WITH tok AS (
        | SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS t
        | FROM documents),
        |grams AS (
        | SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
        |   range(1, greatest(len(t) - 3, 0) + 2),
        |   i -> array_to_string(t[i:i+2], ' ')))) AS g
        | FROM tok),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY 1),
        |common AS (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        | FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b,
        | round(CAST(c AS DOUBLE) / (sa.sz + sb.sz - c), 4) AS jaccard
        |FROM common
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= 0.6
        |ORDER BY id_a, id_b""".stripMargin,
    // ASCII projection of canon_text (the corpus is [a-z0-9 ] only —
    // verified across SFs): non-alphanumeric runs to one space + trim.
    // Unicode semantics are spec-pinned, not oracle-checked.
    "q135_canonical_text" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(text, '[^a-z0-9]+', ' ', 'g'))) AS canon_md5,
        | CASE WHEN len(trim(regexp_replace(text, '[^a-z0-9]+', ' ', 'g'))) = 0
        |      THEN 0
        |      ELSE CAST(len(string_split(
        |        trim(regexp_replace(text, '[^a-z0-9]+', ' ', 'g')), ' ')) AS BIGINT)
        | END AS n_tokens_canon
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Same multiply–xorshift mix as q65 (salt 42); ln of the (0,1]
    // uniform over weight, rounded to 12 decimals BEFORE ranking (the
    // BM25 trick) so a <=1-ulp ln() difference can't flip the sample.
    "q134_weighted_sample" ->
      """WITH m AS (
        | SELECT doc_id, source, n_chars, xor(m2, m2 >> 13) AS mix FROM (
        |  SELECT doc_id, source, n_chars,
        |   (xor(m1, m1 >> 15) * 1597334677) % 2147483648 AS m2 FROM (
        |   SELECT doc_id, source, n_chars,
        |    (((doc_id + 42) % 2147483648) * 2654435761) % 2147483648 AS m1
        |   FROM documents WHERE n_chars > 0))),
        |keyed AS (
        | SELECT doc_id, source, n_chars,
        |  round(ln(CAST(mix + 1 AS DOUBLE) / 2147483648.0) / n_chars, 12) AS skey
        | FROM m),
        |ranked AS (
        | SELECT source, doc_id, n_chars, skey,
        |  row_number() OVER (PARTITION BY source ORDER BY skey DESC, doc_id) AS rk
        | FROM keyed)
        |SELECT source, rk, doc_id, n_chars, skey FROM ranked
        |WHERE rk <= 20 ORDER BY source, rk""".stripMargin,
    "q133_zone_map" ->
      """WITH days AS (
        | SELECT date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
        | FROM orders),
        |dom AS (SELECT min(day) AS dmin, max(day) AS dmax FROM days),
        |sh AS (
        | SELECT (day - dmin) // ((dmax - dmin) // 16 + 1) AS zshard, day,
        |  date_diff('day', DATE '1992-01-01', DATE '1995-03-01') AS lo,
        |  date_diff('day', DATE '1992-01-01', DATE '1995-05-31') AS hi
        | FROM days, dom)
        |SELECT zshard,
        | min(day) AS min_day, max(day) AS max_day,
        | CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN day BETWEEN lo AND hi THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        | CAST(CASE WHEN max(day) >= max(lo) AND min(day) <= max(hi)
        |      THEN 1 ELSE 0 END AS BIGINT) AS scanned
        |FROM sh GROUP BY zshard ORDER BY zshard""".stripMargin,
    "q131_interval_coverage" ->
      """WITH iv AS (
        | SELECT user_id, event_id,
        |  CAST(epoch_us(ts) // 1000000 AS BIGINT) AS s,
        |  CAST(epoch_us(ts) // 1000000 + (event_id % 7 + 1) * 60 AS BIGINT) AS e
        | FROM events),
        |flagged AS (
        | SELECT user_id, s, e, event_id,
        |  CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
        |       THEN 1 ELSE 0 END AS new_island
        | FROM iv
        | WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |islands AS (
        | SELECT user_id, s, e,
        |  sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM flagged),
        |per_island AS (
        | SELECT user_id, island, max(e) - min(s) AS span, count(*) AS n
        | FROM islands GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
        | CAST(count(*) AS BIGINT) AS n_islands,
        | CAST(sum(span) AS BIGINT) AS covered_sec
        |FROM per_island GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q130_boilerplate" ->
      """WITH base AS (
        | SELECT doc_id, string_split(text, ' ') AS t,
        |   CAST(floor(len(string_split(text, ' ')) / 3) AS INT) AS nseg
        | FROM documents),
        |segs AS (
        | SELECT doc_id,
        |   unnest(range(0, nseg)) AS idx,
        |   unnest(list_transform(range(0, nseg),
        |     i -> array_to_string(t[i*3+1 : i*3+3], ' '))) AS seg
        | FROM base),
        |hot AS (
        | SELECT seg FROM (
        |   SELECT seg, count(DISTINCT doc_id) AS df FROM segs GROUP BY 1)
        | WHERE df > 2),
        |body AS (
        | SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS b, count(*) AS kept
        | FROM segs WHERE seg NOT IN (SELECT seg FROM hot) GROUP BY 1),
        |tails AS (
        | SELECT doc_id, array_to_string(t[nseg*3+1 : len(t)], ' ') AS tl,
        |   CAST(nseg AS BIGINT) AS total
        | FROM base)
        |SELECT t.doc_id,
        | CASE WHEN coalesce(b, '') <> '' AND coalesce(tl, '') <> '' THEN b || ' ' || tl
        |      WHEN coalesce(b, '') <> '' THEN b
        |      ELSE coalesce(tl, '') END AS clean_text,
        | total - coalesce(kept, 0) AS n_removed
        |FROM tails t LEFT JOIN body USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "q128_cdc_apply" ->
      """WITH base AS (
        | SELECT o_orderkey AS k, o_totalprice FROM orders WHERE o_orderkey % 10 = 0),
        |log AS (
        | SELECT k, 1 AS seq, 'I' AS op, o_totalprice AS v FROM base
        | UNION ALL SELECT k, 2, 'U', o_totalprice + 10.0 FROM base WHERE k % 3 = 0
        | UNION ALL SELECT k, 3, 'D', NULL FROM base WHERE k % 7 = 0),
        |latest AS (
        | SELECT k, op, v, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        | FROM log)
        |SELECT k, op AS last_op, v FROM latest
        |WHERE rn = 1 AND op <> 'D' ORDER BY k""".stripMargin,
    "q129_mad_outliers" ->
      """WITH med AS (
        | SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |mad AS (
        | SELECT e.event_type, median(abs(e.value - m.med)) AS mad, max(m.med) AS med
        | FROM events e JOIN med m USING (event_type) GROUP BY 1)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        | round(max(m.med), 4) AS med, round(max(m.mad), 4) AS mad,
        | CAST(sum(CASE WHEN abs(e.value - m.med) > CAST(4.4478 AS DOUBLE) * m.mad
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN mad m USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q127_pack_sequences" ->
      """WITH tok AS (
        | SELECT doc_id, CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS BIGINT) AS n_tokens
        | FROM documents),
        |packed AS (
        | SELECT doc_id, n_tokens,
        |  CAST((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // 2048 AS BIGINT) AS bin_id
        | FROM tok)
        |SELECT bin_id, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        | md5(string_agg(text, ' ' ORDER BY doc_id)) AS seq_md5
        |FROM packed JOIN documents USING (doc_id)
        |GROUP BY bin_id ORDER BY bin_id""".stripMargin,
    "q126_skew_report" ->
      """WITH sizes AS (
        | SELECT l_orderkey, count(*) AS group_size FROM lineitem GROUP BY 1),
        |m AS (SELECT avg(group_size) AS mean_size FROM sizes)
        |SELECT l_orderkey, group_size,
        | round(group_size / mean_size, 4) AS skew_ratio
        |FROM sizes, m
        |ORDER BY group_size DESC, l_orderkey LIMIT 10""".stripMargin,
    "q125_transitions" ->
      """SELECT from_type, to_type, count(*) AS n_transitions FROM (
        | SELECT event_type AS from_type,
        |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        | FROM events)
        |WHERE to_type IS NOT NULL
        |GROUP BY from_type, to_type ORDER BY from_type, to_type""".stripMargin,
    "q123_equidepth_hist" ->
      """WITH ranked AS (
        | SELECT l_extendedprice AS x,
        |  row_number() OVER (ORDER BY l_extendedprice) - 1 AS r,
        |  count(*) OVER () AS mx
        | FROM lineitem),
        |bounds AS (
        | SELECT round(max(CASE WHEN r = (1*(mx-1))//8 THEN x END),4) AS b1,
        | round(max(CASE WHEN r = (2*(mx-1))//8 THEN x END),4) AS b2,
        | round(max(CASE WHEN r = (3*(mx-1))//8 THEN x END),4) AS b3,
        | round(max(CASE WHEN r = (4*(mx-1))//8 THEN x END),4) AS b4,
        | round(max(CASE WHEN r = (5*(mx-1))//8 THEN x END),4) AS b5,
        | round(max(CASE WHEN r = (6*(mx-1))//8 THEN x END),4) AS b6,
        | round(max(CASE WHEN r = (7*(mx-1))//8 THEN x END),4) AS b7
        | FROM ranked)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows,
        | round(min(x),4) AS lo, round(max(x),4) AS hi
        |FROM (
        | SELECT ((CASE WHEN l_extendedprice > b1 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > b2 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > b3 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > b4 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > b5 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > b6 THEN 1 ELSE 0 END) + (CASE WHEN l_extendedprice > b7 THEN 1 ELSE 0 END)) AS bucket,
        |  l_extendedprice AS x
        | FROM lineitem, bounds)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q155_correlation_matrix" ->
      """WITH c AS (SELECT
        | round(corr(l_quantity, l_extendedprice), 6) AS qe,
        | round(corr(l_quantity, l_discount), 6) AS qd,
        | round(corr(l_quantity, l_tax), 6) AS qt,
        | round(corr(l_extendedprice, l_discount), 6) AS ed,
        | round(corr(l_extendedprice, l_tax), 6) AS et,
        | round(corr(l_discount, l_tax), 6) AS dt
        | FROM lineitem)
        |SELECT col_a, col_b, pearson_r FROM (
        | SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, qe AS pearson_r FROM c
        | UNION ALL SELECT 'l_quantity', 'l_discount', qd FROM c
        | UNION ALL SELECT 'l_quantity', 'l_tax', qt FROM c
        | UNION ALL SELECT 'l_extendedprice', 'l_discount', ed FROM c
        | UNION ALL SELECT 'l_extendedprice', 'l_tax', et FROM c
        | UNION ALL SELECT 'l_discount', 'l_tax', dt FROM c)
        |ORDER BY col_a, col_b""".stripMargin,
    "q156_winsorize" ->
      """WITH b AS (
        | SELECT event_type,
        |  quantile_cont(value, 0.01) AS p01, quantile_cont(value, 0.99) AS p99
        | FROM events GROUP BY 1),
        |w AS (
        | SELECT e.event_type, e.value, b.p01, b.p99,
        |  greatest(b.p01, least(b.p99, e.value)) AS w
        | FROM events e JOIN b USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        | round(min(w), 6) AS w_min, round(max(w), 6) AS w_max,
        | round(avg(w), 6) AS w_mean,
        | CAST(sum(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
        | CAST(sum(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,
    // MERGE INTO replay: survivors = target minus source keys, plus
    // source rows not deleted by predicate.
    "q154_merge_into" ->
      """WITH t AS (SELECT c_custkey AS k, c_nationkey AS nk, c_acctbal AS bal
        |  FROM customer),
        |upd AS (SELECT c_custkey AS k, c_nationkey AS nk, c_acctbal - 5000 AS bal
        |  FROM customer WHERE c_custkey % 5 = 0),
        |ins AS (SELECT -c_custkey AS k, c_nationkey AS nk, 1111.11 AS bal
        |  FROM customer WHERE c_custkey % 7 = 0),
        |src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
        |merged AS (
        | SELECT * FROM t WHERE k NOT IN (SELECT k FROM src)
        | UNION ALL
        | SELECT * FROM src WHERE NOT (bal < 0))
        |SELECT nk AS c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
        | round(sum(bal), 2) AS total_bal
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // The bloom is invisible in the answer (it only prunes): the oracle
    // is the plain semi-join the operator must exactly reproduce.
    "q152_bloom_semi_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        | round(sum(o_totalprice), 2) AS revenue
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Full-rebuild oracle for the merged-state rollup: hash equality IS
    // the maintenance contract. DECIMAL is internal-only (associative
    // sums); the COMPARED surface is all BIGINT — sum/min/max as ×100
    // integer cents plus avg_e4 (1e-4 units, cents*100 // n_rows).
    // Pure integers survive every checker normalization: a .xxxx5
    // double-round tie (r9 red), checker float formatting (r10), and
    // DECIMAL precision-tag rendering decimal(28,2)-vs-(38,2) (r11)
    // all split the engines; integers hash identically everywhere.
    "q153_incremental_rollup" ->
      """WITH o AS (SELECT CAST(o_orderdate AS DATE) AS day,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS v FROM orders)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(v) * 100 AS BIGINT) AS sum_cents,
        | CAST(min(v) * 100 AS BIGINT) AS min_cents,
        | CAST(max(v) * 100 AS BIGINT) AS max_cents,
        | CAST((CAST(sum(v) * 100 AS BIGINT) * 100) // count(*) AS BIGINT)
        |   AS avg_e4
        |FROM o GROUP BY day ORDER BY day""".stripMargin,
    // Same z-interval constants as the Spark side (one Scala source of
    // truth: Queries.zzIntervals — driver math over the predicate
    // constants); the oracle re-derives interleave/shard/manifest itself.
    "q149_zorder_zonemap" ->
      s"""WITH base AS (
        | SELECT CAST(o_custkey AS BIGINT) AS ck,
        |  date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day
        | FROM orders),
        |z AS (SELECT ck, day,
        |  (${graft.operators.ZOrder.zvalueSql("ck", "day")}) AS zval FROM base),
        |dom AS (SELECT min(zval) AS dmin, max(zval) AS dmax FROM z),
        |sh AS (SELECT (zval - dmin) // ((dmax - dmin) // 64 + 1) AS zshard,
        |  ck, day, zval FROM z, dom),
        |g AS (
        | SELECT zshard, min(zval) AS min_z, max(zval) AS max_z,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN ck BETWEEN ${Queries.zzBox._1} AND ${Queries.zzBox._2}
        |    AND day BETWEEN ${Queries.zzBox._3} AND ${Queries.zzBox._4}
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        | FROM sh GROUP BY zshard),
        |iv(lo, hi) AS (VALUES ${Queries.zzIntervals
           .map { case (lo, hi) => s"(${lo}, ${hi})" }.mkString(", ")})
        |SELECT zshard, min_z, max_z, n_rows, n_match,
        | CAST(CASE WHEN EXISTS (SELECT 1 FROM iv
        |   WHERE g.max_z >= iv.lo AND g.min_z <= iv.hi)
        |  THEN 1 ELSE 0 END AS BIGINT) AS scanned
        |FROM g ORDER BY zshard""".stripMargin,
    "q124_zorder_layout" ->
      s"""SELECT o_orderkey,
        | (${graft.operators.ZOrder.zvalueSql("o_custkey",
             "date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))")}) AS zval
        |FROM orders ORDER BY zval, o_orderkey LIMIT 1000""".stripMargin,
    "q122_column_profile" ->
      """SELECT column_name, n_nulls, n_distinct FROM (
        | SELECT 'lang' AS column_name,
        |  CAST(count(*) - count(lang) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_distinct FROM documents
        | UNION ALL SELECT 'source', CAST(count(*) - count(source) AS BIGINT),
        |  CAST(count(DISTINCT source) AS BIGINT) FROM documents
        | UNION ALL SELECT 'n_chars', CAST(count(*) - count(n_chars) AS BIGINT),
        |  CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents)
        |ORDER BY column_name""".stripMargin,
    "q120_exact_percentiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5),4) AS p50,
        | round(quantile_cont(l_extendedprice, 0.95),4) AS p95
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q157_regr_per_group" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        | round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        | round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
        | round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q158_entropy_profile" ->
      """WITH ent AS (
        | SELECT 'documents.lang' AS column_name,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt) AS e
        | FROM (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt
        |       FROM documents GROUP BY lang) d
        | UNION ALL
        | SELECT 'documents.source', CAST(sum(cnt) AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt)
        | FROM (SELECT source, CAST(count(*) AS DOUBLE) AS cnt
        |       FROM documents GROUP BY source) d
        | UNION ALL
        | SELECT 'events.event_type', CAST(sum(cnt) AS BIGINT),
        |  CAST(count(*) AS BIGINT),
        |  log2(sum(cnt)) - sum(cnt * log2(cnt)) / sum(cnt)
        | FROM (SELECT event_type, CAST(count(*) AS DOUBLE) AS cnt
        |       FROM events GROUP BY event_type) d)
        |SELECT column_name, n_rows, n_distinct, round(e, 6) AS entropy_bits
        |FROM ent ORDER BY column_name""".stripMargin,
    "q159_mode_per_group" ->
      """WITH c AS (
        | SELECT source, lang, CAST(count(*) AS BIGINT) AS n_mode
        | FROM documents GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY source ORDER BY n_mode DESC, lang ASC) AS rn FROM c)
        |SELECT source, lang AS mode_lang, n_mode FROM r
        |WHERE rn = 1 ORDER BY source""".stripMargin,
    "q160_chi_square" ->
      """WITH obs AS (
        | SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
        | FROM documents GROUP BY 1, 2),
        |rl AS (SELECT lang, CAST(count(*) AS DOUBLE) AS rl
        |       FROM documents GROUP BY 1),
        |cs AS (SELECT source, CAST(count(*) AS DOUBLE) AS cs
        |       FROM documents GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |grid AS (
        | SELECT rl.lang, cs.source, rl.rl, cs.cs,
        |  coalesce(obs.o, 0) AS o, rl.rl * cs.cs / n.n AS e
        | FROM rl CROSS JOIN cs CROSS JOIN n
        |  LEFT JOIN obs ON obs.lang = rl.lang AND obs.source = cs.source),
        |s AS (
        | SELECT CAST(max((SELECT n FROM n)) AS BIGINT) AS n,
        |  count(DISTINCT lang) AS n_langs,
        |  count(DISTINCT source) AS n_sources,
        |  sum((o - e) * (o - e) / e) AS chi2_raw
        | FROM grid)
        |SELECT n, CAST((n_langs - 1) * (n_sources - 1) AS BIGINT) AS dof,
        | round(chi2_raw, 4) AS chi2,
        | round(sqrt(chi2_raw / (n * least(n_langs - 1, n_sources - 1))), 6)
        |  AS cramers_v
        |FROM s""".stripMargin,
    "q161_interpolate" ->
      """WITH daily AS (
        | SELECT user_id, CAST(ts AS DATE) AS day,
        |  round(sum(value), 4) AS day_value
        | FROM events GROUP BY 1, 2),
        |spine AS (
        | SELECT user_id,
        |  unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        | FROM (SELECT user_id, min(day) AS d0, max(day) AS d1
        |       FROM daily GROUP BY user_id)),
        |j AS (
        | SELECT s.user_id, s.day, d.day_value
        | FROM spine s LEFT JOIN daily d
        |   ON s.user_id = d.user_id AND s.day = d.day),
        |nb AS (
        | SELECT user_id, day, day_value,
        |  last_value(day_value IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        |  last_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
        |  first_value(day_value IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        |  first_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
        | FROM j)
        |SELECT user_id, day,
        | round(CASE
        |  WHEN day_value IS NOT NULL THEN day_value
        |  WHEN prev_v IS NULL THEN next_v
        |  WHEN next_v IS NULL THEN prev_v
        |  ELSE prev_v + (next_v - prev_v) * (day - prev_d)
        |        / (next_d - prev_d)
        | END, 4) AS value_filled,
        | CAST(day_value IS NULL AS INT) AS was_gap
        |FROM nb ORDER BY user_id, day""".stripMargin,
    // Adjacent-pair collocation PMI on the bigram contingency table
    // (left/right positional marginals), mirroring the Spark side's
    // q166-shaped shifted-zip bigram derivation.
    "q162_pmi_terms" ->
      """WITH toks AS (
        | SELECT list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0) AS s
        | FROM documents),
        |big AS (
        | SELECT unnest(list_slice(s, 1, len(s)-1)) AS w1,
        |        unnest(list_slice(s, 2, len(s))) AS w2
        | FROM toks WHERE len(s) >= 2),
        |nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM big),
        |cl AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c_l FROM big GROUP BY 1),
        |cr AS (SELECT w2, CAST(count(*) AS DOUBLE) AS c_r FROM big GROUP BY 1),
        |pairs AS (
        | SELECT w1 AS tok_a, w2 AS tok_b, CAST(count(*) AS BIGINT) AS n_pair
        | FROM big GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT tok_a, tok_b, n_pair,
        | round(log2(n_pair * nb / (c_l * c_r)), 6) AS pmi
        |FROM pairs
        | JOIN cl ON tok_a = cl.w1
        | JOIN cr ON tok_b = cr.w2
        | CROSS JOIN nb
        |ORDER BY pmi DESC, tok_a, tok_b LIMIT 50""".stripMargin,
    "q163_triangle_count" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (
        | SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
        | FROM op x JOIN op y
        |   ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey),
        |nodes AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_nodes
        | FROM (SELECT a AS v FROM e UNION SELECT b FROM e)),
        |tri AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_triangles
        | FROM e e1 JOIN e e2 ON e1.b = e2.a JOIN e e3
        |   ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT n_nodes, (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        | n_triangles
        |FROM nodes CROSS JOIN tri""".stripMargin,
    "q164_js_divergence" ->
      """WITH toks AS (
        | SELECT lang, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS tok
        | FROM documents),
        |counts AS (SELECT lang, tok, CAST(count(*) AS DOUBLE) AS c
        |           FROM toks GROUP BY 1, 2),
        |totals AS (SELECT lang, sum(c) AS tot FROM counts GROUP BY 1),
        |probs AS (SELECT c.lang, c.tok, c.c / t.tot AS p
        |          FROM counts c JOIN totals t USING (lang)),
        |pairs AS (
        | SELECT a.lang AS lang_a, b.lang AS lang_b
        | FROM totals a JOIN totals b ON a.lang < b.lang),
        |terms AS (SELECT DISTINCT tok FROM probs),
        |grid AS (
        | SELECT p.lang_a, p.lang_b, t.tok,
        |  coalesce(pa.p, 0) AS pa, coalesce(pb.p, 0) AS pb
        | FROM pairs p CROSS JOIN terms t
        |  LEFT JOIN probs pa ON pa.lang = p.lang_a AND pa.tok = t.tok
        |  LEFT JOIN probs pb ON pb.lang = p.lang_b AND pb.tok = t.tok
        | WHERE coalesce(pa.p, 0) > 0 OR coalesce(pb.p, 0) > 0)
        |SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_terms,
        | round(sum(
        |  CASE WHEN pa > 0 THEN pa * log2(pa / ((pa + pb) / 2)) / 2 ELSE 0 END +
        |  CASE WHEN pb > 0 THEN pb * log2(pb / ((pa + pb) / 2)) / 2 ELSE 0 END
        | ), 6) AS jsd_bits
        |FROM grid GROUP BY 1, 2 ORDER BY lang_a, lang_b""".stripMargin,
    "q165_edit_distance_join" ->
      """WITH p AS (
        | SELECT DISTINCT p_name AS s FROM part WHERE p_name IS NOT NULL)
        |SELECT a.s AS name_a, b.s AS name_b,
        | CAST(levenshtein(a.s, b.s) AS INT) AS dist
        |FROM p a JOIN p b
        | ON a.s < b.s AND abs(len(a.s) - len(b.s)) <= 2
        |  AND levenshtein(a.s, b.s) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    "q166_bigram_xent" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0) AS t
        | FROM documents),
        |big AS (
        | SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
        | FROM (SELECT doc_id, t,
        |        unnest(generate_series(1, len(t) - 1)) AS i
        |       FROM toks WHERE len(t) >= 2)),
        |c12 AS (SELECT w1, w2, CAST(count(*) AS DOUBLE) AS c12
        |        FROM big GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1
        |       FROM big GROUP BY 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        | round(avg(-log2(c12.c12 / c1.c1)), 4) AS xent
        |FROM big JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q167_skyline" ->
      """SELECT p_partkey, p_size, p_retailprice FROM part a
        |WHERE NOT EXISTS (
        | SELECT 1 FROM part b
        | WHERE b.p_size >= a.p_size AND b.p_retailprice <= a.p_retailprice
        |  AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice))
        |ORDER BY p_size, p_retailprice, p_partkey""".stripMargin,
    "q168_kcore" -> kCoreOracleSql(k = 2, rounds = 12),
    "q169_sliding_distinct" ->
      """WITH ev AS (SELECT CAST(ts AS DATE) AS ed, user_id FROM events),
        |days AS (SELECT DISTINCT ed AS d FROM ev)
        |SELECT d, count(DISTINCT user_id) AS users_7d,
        | CAST(count(*) AS BIGINT) AS events_7d
        |FROM days JOIN ev ON ev.ed BETWEEN d - 6 AND d
        |GROUP BY d ORDER BY d""".stripMargin,
    "q170_fd_profile" ->
      """WITH u AS (
        | SELECT 'o_orderkey->o_custkey' AS fd,
        |  CAST(o_orderkey AS VARCHAR) AS lhs, CAST(o_custkey AS VARCHAR) AS rhs
        | FROM orders
        | UNION ALL
        | SELECT 'o_custkey->o_orderpriority',
        |  CAST(o_custkey AS VARCHAR), o_orderpriority FROM orders
        | UNION ALL
        | SELECT 'o_orderdate->o_orderstatus',
        |  CAST(o_orderdate AS VARCHAR), o_orderstatus FROM orders
        | UNION ALL
        | SELECT 'o_orderpriority->o_orderstatus',
        |  o_orderpriority, o_orderstatus FROM orders)
        |SELECT fd, count(DISTINCT lhs) AS n_lhs,
        | count(DISTINCT lhs || '|' || rhs) AS n_pairs,
        | count(DISTINCT lhs || '|' || rhs) - count(DISTINCT lhs) AS violating_lhs,
        | count(DISTINCT lhs || '|' || rhs) = count(DISTINCT lhs) AS holds
        |FROM u GROUP BY fd ORDER BY fd""".stripMargin,
    // Same multiply-xorshift mix as q65 over (doc_id*8 + j), mod N, with
    // self-collisions remapped to the next id.
    "q171_negative_sample" ->
      """WITH n AS (SELECT count(*) AS nd FROM documents),
        |a AS (
        | SELECT doc_id, j, (((doc_id * 8 + j) + 42) % 2147483648) AS x0
        | FROM documents
        | CROSS JOIN (SELECT unnest(generate_series(1, 3)) AS j)),
        |m AS (
        | SELECT doc_id, j,
        |  xor(m2, m2 >> 13) AS mix
        | FROM (
        |  SELECT doc_id, j,
        |   (xor(m1, m1 >> 15) * 1597334677) % 2147483648 AS m2
        |  FROM (
        |   SELECT doc_id, j, (x0 * 2654435761) % 2147483648 AS m1 FROM a))),
        |neg AS (
        | SELECT doc_id, j,
        |  CASE WHEN mix % nd = doc_id THEN (mix % nd + 1) % nd
        |       ELSE mix % nd END AS neg_id
        | FROM m CROSS JOIN n)
        |SELECT neg.doc_id, neg.j, neg.neg_id, d.lang AS neg_lang
        |FROM neg JOIN documents d ON neg.neg_id = d.doc_id
        |ORDER BY neg.doc_id, neg.j""".stripMargin,
    "q172_ewma_daily" ->
      """WITH daily AS (
        | SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
        |  sum(o_totalprice) AS v
        | FROM orders GROUP BY 1, 2),
        |spray AS (
        | SELECT pri, d + CAST(lag AS INTEGER) AS ad,
        |  v * pow(0.5e0, lag) AS wv, pow(0.5e0, lag) AS w
        | FROM daily
        | CROSS JOIN (SELECT unnest(generate_series(0, 13)) AS lag))
        |SELECT s.pri, s.ad AS d, round(sum(s.wv) / sum(s.w), 4) AS ewma
        |FROM spray s JOIN daily dd ON s.pri = dd.pri AND s.ad = dd.d
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q173_roc_auc" ->
      """WITH per_score AS (
        | SELECT n_chars AS score, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS npos
        | FROM documents GROUP BY 1),
        |ranked AS (
        | SELECT score, cnt, npos,
        |  coalesce(CAST(sum(cnt) OVER (ORDER BY score
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   AS cum_before
        | FROM per_score),
        |tot AS (
        | SELECT CAST(sum(npos) AS BIGINT) AS n_pos,
        |  CAST(sum(cnt) - sum(npos) AS BIGINT) AS n_neg,
        |  sum(npos * (cum_before + (cnt + 1) / 2e0)) AS pos_rank_sum
        | FROM ranked)
        |SELECT n_pos, n_neg,
        | round((pos_rank_sum - n_pos * (n_pos + 1) / 2e0) / (n_pos * n_neg), 6)
        |  AS auc
        |FROM tot""".stripMargin,
    "q174_vocab_overlap" ->
      """WITH vocab AS (
        | SELECT DISTINCT source,
        |  unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS tok
        | FROM documents),
        |sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS vsize
        |          FROM vocab GROUP BY 1),
        |inter AS (
        | SELECT a.source AS src_a, b.source AS src_b,
        |  CAST(count(*) AS BIGINT) AS n_common
        | FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
        | GROUP BY 1, 2)
        |SELECT src_a, src_b, n_common,
        | round(CAST(n_common AS DOUBLE) / (sa.vsize + sb.vsize - n_common), 6)
        |  AS jaccard
        |FROM inter JOIN sizes sa ON src_a = sa.source
        | JOIN sizes sb ON src_b = sb.source
        |ORDER BY src_a, src_b""".stripMargin,
    // Replays the base-31 windowed fold: DuckDB's list_reduce seeds with
    // the first element, which for this fold equals the 0-seeded result
    // (0*31 + c1 = c1), so both engines hash identically.
    "q175_cdc_chunks" ->
      """WITH d AS (
        | SELECT doc_id, text, length(text) AS n FROM documents),
        |pos AS (
        | SELECT doc_id, text, n,
        |  unnest(generate_series(8, greatest(n, 8))) AS i
        | FROM d),
        |cuts AS (
        | SELECT doc_id, i FROM pos
        | WHERE i <= n AND
        |  list_reduce(
        |   list_transform(
        |    list_filter(string_split_regex(substr(text, CAST(i - 7 AS INTEGER),
        |      8), ''), c -> len(c) > 0),
        |    c -> CAST(unicode(c) AS BIGINT)),
        |   (a, b) -> (a * 31 + b) % 1000000007) % 64 = 0),
        |bounds AS (
        | SELECT doc_id, i FROM cuts
        | UNION
        | SELECT doc_id, n FROM d),
        |ordered AS (
        | SELECT doc_id, i AS e,
        |  coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS p
        | FROM bounds),
        |chunks AS (
        | SELECT o.doc_id, substr(d.text, CAST(o.p + 1 AS INTEGER),
        |   CAST(o.e - o.p AS INTEGER)) AS chunk
        | FROM ordered o JOIN d ON o.doc_id = d.doc_id
        | WHERE o.e > o.p)
        |SELECT CAST(count(*) AS BIGINT) AS total_chunks,
        | CAST(count(DISTINCT md5(chunk)) AS BIGINT) AS distinct_chunks,
        | round(avg(length(chunk)), 4) AS avg_chunk_len
        |FROM chunks""".stripMargin,
    "q176_zipf_fit" ->
      """WITH counts AS (
        | SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |    x -> len(x) > 0)) AS tok FROM documents)
        | GROUP BY tok),
        |top AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok LIMIT 1000),
        |ranked AS (
        | SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rank
        | FROM top),
        |xy AS (SELECT ln(CAST(rank AS DOUBLE)) AS x,
        |        ln(CAST(cnt AS DOUBLE)) AS y FROM ranked)
        |SELECT CAST(count(*) AS BIGINT) AS n_terms,
        | round(regr_slope(y, x), 6) AS slope,
        | round(regr_intercept(y, x), 6) AS intercept,
        | round(regr_r2(y, x), 6) AS r2
        |FROM xy""".stripMargin,
    "q177_topk_candidates" ->
      """WITH counts AS (
        | SELECT doc_id % 4 AS batch, tok, CAST(count(*) AS BIGINT) AS c
        | FROM (
        |  SELECT doc_id,
        |   unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |     x -> len(x) > 0)) AS tok
        |  FROM documents)
        | GROUP BY 1, 2),
        |ranked AS (
        | SELECT batch, tok, c,
        |  row_number() OVER (PARTITION BY batch ORDER BY c DESC, tok) AS rn
        | FROM counts),
        |kept AS (SELECT batch, tok, c FROM ranked WHERE rn <= 50),
        |dm AS (SELECT batch, max(c) AS dropped_max FROM ranked
        |       WHERE rn > 50 GROUP BY batch),
        |td AS (SELECT coalesce(CAST(sum(dropped_max) AS BIGINT), 0)
        |        AS total_dropped FROM dm),
        |pt AS (
        | SELECT tok, CAST(sum(c) AS BIGINT) AS lower_bound,
        |  CAST(count(*) AS BIGINT) AS n_batches_present,
        |  CAST(sum(coalesce(dm.dropped_max, 0)) AS BIGINT) AS present_dropped
        | FROM kept LEFT JOIN dm USING (batch) GROUP BY tok)
        |SELECT tok, lower_bound,
        | lower_bound + total_dropped - present_dropped AS upper_bound,
        | n_batches_present
        |FROM pt CROSS JOIN td
        |ORDER BY lower_bound DESC, tok LIMIT 20""".stripMargin,
    // The oracle replays the NAIVE inequality join; the Spark side must
    // produce identical aggregates through the bin-bucketed equi-join.
    "q178_interval_join" ->
      """WITH iv AS (
        | SELECT event_id, event_type,
        |  CAST(epoch_us(ts) // 1000000 AS BIGINT) AS s,
        |  CAST(epoch_us(ts) // 1000000 + (event_id % 7 + 1) * 60 AS BIGINT) AS e
        | FROM events)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | CAST(sum(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT)
        |  AS overlap_sec
        |FROM (SELECT * FROM iv WHERE event_id % 2 = 0) a
        |JOIN (SELECT * FROM iv WHERE event_id % 2 = 1) b
        | ON a.s <= b.e AND b.s <= a.e
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q179_psi_drift" ->
      """WITH binned AS (
        | SELECT event_type,
        |  CAST(ts AS DATE) <= DATE '2024-01-15' AS is_a,
        |  CAST(least(greatest(floor(value / 50e0), 0e0), 9e0) AS BIGINT) AS bin
        | FROM events),
        |counts AS (
        | SELECT event_type, bin,
        |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
        | FROM binned GROUP BY 1, 2),
        |totals AS (
        | SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
        |  CAST(sum(cb) AS BIGINT) AS nb
        | FROM counts GROUP BY 1)
        |SELECT c.event_type, CAST(count(*) AS BIGINT) AS n_bins,
        | round(sum(
        |  ((c.ca + 1e0) / (t.na + 10e0) - (c.cb + 1e0) / (t.nb + 10e0)) *
        |  ln(((c.ca + 1e0) / (t.na + 10e0)) / ((c.cb + 1e0) / (t.nb + 10e0)))
        | ), 6) AS psi
        |FROM counts c JOIN totals t ON c.event_type = t.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Declarative fixpoint (recursive CTE, UNION-deduped on (node, hops),
    // capped at the same depth) vs Spark's level-synchronous frontier
    // loop; min(hops) is the BFS distance.
    "q180_bfs_reach" ->
      """WITH RECURSIVE edges AS MATERIALIZED (
        | SELECT src, dst FROM (
        |  SELECT user_id AS src,
        |   lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
        |  FROM events)
        | WHERE dst IS NOT NULL AND src <> dst),
        |srcs AS MATERIALIZED (
        | SELECT DISTINCT user_id AS node FROM events WHERE user_id % 97 = 0),
        |r(node, hops) AS (
        | SELECT node, 0 FROM srcs
        | UNION
        | SELECT e.dst, r.hops + 1
        | FROM r JOIN edges e ON e.src = r.node WHERE r.hops < 4)
        |SELECT node AS user_id, CAST(min(hops) AS BIGINT) AS hops
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q181_theil_sen" ->
      """WITH daily AS (
        | SELECT event_type,
        |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(count(*) AS DOUBLE) AS c
        | FROM events GROUP BY 1, 2)
        |SELECT a.event_type,
        | CAST(count(*) AS BIGINT) AS n_pairs,
        | round(quantile_cont((b.c - a.c) / (b.day - a.day), 0.5), 6)
        |  AS ts_slope
        |FROM daily a JOIN daily b
        | ON a.event_type = b.event_type AND a.day < b.day
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // First digit via the decimal string of the integer part on both
    // sides (never floor(log10) — ulp flips near powers of ten).
    "q182_benford" ->
      """WITH d AS (
        | SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |   AS VARCHAR), 1, 1) AS INTEGER) AS digit
        | FROM orders),
        |dd AS (SELECT digit FROM d WHERE digit BETWEEN 1 AND 9),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM dd)
        |SELECT digit, CAST(count(*) AS BIGINT) AS n_obs,
        | round(count(*) / CAST(n_total AS DOUBLE), 6) AS p_obs,
        | round(log10(1 + 1e0 / digit), 6) AS p_exp,
        | round(pow(count(*) - n_total * log10(1 + 1e0 / digit), 2) /
        |  (n_total * log10(1 + 1e0 / digit)), 6) AS chi2_contrib
        |FROM dd CROSS JOIN tot
        |GROUP BY digit, n_total ORDER BY digit""".stripMargin,
    // Single-pass binning: equality with Spark's batch-split-and-merge
    // path IS the end-to-end merge law hist(A∪B∪C)==merge(hists).
    "q183_hist_sketch" ->
      """WITH v AS (
        | SELECT event_type,
        |  CAST(least(greatest(floor(value / 25e0), 0e0), 19e0) AS INTEGER)
        |   AS pos
        | FROM events WHERE value IS NOT NULL),
        |c AS (SELECT event_type, pos, count(*) AS cnt FROM v GROUP BY 1, 2),
        |cm AS (
        | SELECT event_type, pos, cnt,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY pos) AS cum,
        |  sum(cnt) OVER (PARTITION BY event_type) AS total
        | FROM c)
        |SELECT event_type, CAST(max(total) AS BIGINT) AS n_rows,
        | round(min(CASE WHEN cum >= ceil(0.5 * total)
        |   THEN 25e0 * (pos + 1) END), 6) AS p50_est,
        | round(min(CASE WHEN cum >= ceil(0.9 * total)
        |   THEN 25e0 * (pos + 1) END), 6) AS p90_est,
        | round(min(CASE WHEN cum >= ceil(0.99 * total)
        |   THEN 25e0 * (pos + 1) END), 6) AS p99_est
        |FROM cm GROUP BY 1 ORDER BY 1""".stripMargin,
    "q184_assoc_rules" ->
      """WITH items AS (
        | SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        | FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT basket) AS DOUBLE) AS n FROM items),
        |ic AS (SELECT item, count(*) AS cnt FROM items GROUP BY 1),
        |pairs AS (
        | SELECT x.item AS a, y.item AS b, count(*) AS n_pair
        | FROM items x JOIN items y ON x.basket = y.basket AND x.item < y.item
        | GROUP BY 1, 2)
        |SELECT a, b, CAST(n_pair AS BIGINT) AS n_pair,
        | round(n_pair / nb.n, 6) AS support,
        | round(n_pair / CAST(ca.cnt AS DOUBLE), 6) AS conf_ab,
        | round(n_pair / CAST(cb.cnt AS DOUBLE), 6) AS conf_ba,
        | round(n_pair * nb.n / CAST(ca.cnt * cb.cnt AS DOUBLE), 6) AS lift
        |FROM pairs
        |JOIN ic ca ON pairs.a = ca.item
        |JOIN ic cb ON pairs.b = cb.item
        |CROSS JOIN nb
        |ORDER BY n_pair DESC, a, b LIMIT 20""".stripMargin,
    "q185_streaks" ->
      """WITH days AS (
        | SELECT DISTINCT user_id,
        |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
        | FROM events),
        |islands AS (
        | SELECT user_id,
        |  day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        | FROM days),
        |runs AS (
        | SELECT user_id, grp, count(*) AS len
        | FROM islands GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS best_streak,
        | CAST(sum(len) AS BIGINT) AS n_active_days
        |FROM runs GROUP BY 1
        |ORDER BY best_streak DESC, n_active_days DESC, user_id
        |LIMIT 20""".stripMargin,
    "q186_attribution" ->
      """WITH ev AS (
        | SELECT user_id, event_type, event_id, ts,
        |  CAST(epoch_us(ts) // 1000000 AS BIGINT) AS sec
        | FROM events),
        |carried AS (
        | SELECT *,
        |  last_value(CASE WHEN event_type = 'view' THEN sec END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   AS last_view_sec
        | FROM ev)
        |SELECT CAST(ts AS DATE) AS day,
        | CAST(count(*) AS BIGINT) AS n_purchases,
        | CAST(sum(CASE WHEN last_view_sec IS NOT NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_attributed,
        | round(avg(sec - last_view_sec), 2) AS avg_lag_sec
        |FROM carried WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // DuckDB dayofweek() is 0=Sunday; Spark's is 1=Sunday -> +1.
    "q187_seasonality" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS DOUBLE) AS c
        | FROM events GROUP BY 1, 2),
        |overall AS (
        | SELECT event_type, avg(c) AS overall_avg FROM daily GROUP BY 1)
        |SELECT d.event_type, dayofweek(d.day) + 1 AS dow,
        | CAST(count(*) AS BIGINT) AS n_days,
        | round(avg(d.c), 6) AS dow_avg,
        | round(avg(d.c) / max(o.overall_avg), 6) AS seasonal_idx
        |FROM daily d JOIN overall o ON d.event_type = o.event_type
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Values grouped first, so the cumulative window adds the same
    // doubles in the same sorted order in both engines (bit-identical
    // running weights); q·W thresholds are dyadic products.
    "q188_weighted_median" ->
      """WITH grouped AS (
        | SELECT l_returnflag AS flag, l_extendedprice AS v,
        |  sum(l_quantity) AS w
        | FROM lineitem GROUP BY 1, 2),
        |cum AS (
        | SELECT flag, v, w,
        |  sum(w) OVER (PARTITION BY flag ORDER BY v) AS cw,
        |  sum(w) OVER (PARTITION BY flag) AS tw
        | FROM grouped)
        |SELECT flag, CAST(count(*) AS BIGINT) AS n_distinct_values,
        | round(max(tw), 2) AS total_weight,
        | round(min(CASE WHEN cw >= 0.25 * tw THEN v END), 2) AS wp25,
        | round(min(CASE WHEN cw >= 0.5 * tw THEN v END), 2) AS wp50,
        | round(min(CASE WHEN cw >= 0.75 * tw THEN v END), 2) AS wp75
        |FROM cum GROUP BY flag ORDER BY flag""".stripMargin,
    "q189_gini" ->
      """WITH pos AS (
        | SELECT c_mktsegment AS segment, c_acctbal AS bal, c_custkey
        | FROM customer WHERE c_acctbal > 0),
        |ranked AS (
        | SELECT segment, bal,
        |  CAST(row_number() OVER (PARTITION BY segment
        |    ORDER BY bal, c_custkey) AS DOUBLE) AS i
        | FROM pos)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_accounts,
        | round(sum(bal), 2) AS total_bal,
        | round(2e0 * sum(i * bal) / (count(*) * sum(bal))
        |  - (count(*) + 1) / CAST(count(*) AS DOUBLE), 6) AS gini
        |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin,
    // Pearson from exact BIGINT sums (counts are integers) — no
    // Welford merge-order drift; float math only in the final ratio.
    "q190_daily_acf" ->
      """WITH daily AS (
        | SELECT event_type,
        |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |lags AS (SELECT unnest([1, 2, 3, 7]) AS lag),
        |pairs AS (
        | SELECT a.event_type, l.lag, a.c AS x, b.c AS y
        | FROM daily a CROSS JOIN lags l
        | JOIN daily b ON b.event_type = a.event_type
        |  AND b.day = a.day - l.lag),
        |sums AS (
        | SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |  sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |  sum(x * x) AS sxx, sum(y * y) AS syy
        | FROM pairs GROUP BY 1, 2)
        |SELECT event_type, lag, n_pairs,
        | round((n_pairs * sxy - sx * sy) /
        |  sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE) *
        |       CAST(n_pairs * syy - sy * sy AS DOUBLE)), 6) AS acf
        |FROM sums ORDER BY event_type, lag""".stripMargin,
    // The running deviation is the scaled EXACT long cumsum
    // n·S_t = cum(n·c − T); argmax tie-breaks to the earliest day.
    "q191_cusum" ->
      """WITH daily AS (
        | SELECT event_type,
        |  datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |stats AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS tot,
        |  CAST(sum(c * c) AS BIGINT) AS sqtot
        | FROM daily GROUP BY 1),
        |cum AS (
        | SELECT d.event_type, d.day, s.n, s.tot, s.sqtot,
        |  CAST(sum(s.n * d.c - s.tot)
        |   OVER (PARTITION BY d.event_type ORDER BY d.day) AS BIGINT) AS ns
        | FROM daily d JOIN stats s USING (event_type)),
        |ranked AS (
        | SELECT event_type, n, tot, sqtot, day, abs(ns) AS a,
        |  row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(ns) DESC, day) AS rn
        | FROM cum)
        |SELECT event_type, n AS n_days, day AS cp_day,
        | round(a / CAST(n AS DOUBLE), 6) AS max_abs_dev,
        | round(a / n / (sqrt(CAST(n * sqtot - tot * tot AS DOUBLE)
        |   / (n * (n - 1))) * sqrt(CAST(n AS DOUBLE))), 6) AS cusum_stat
        |FROM ranked WHERE rn = 1 ORDER BY event_type""".stripMargin,
    "q192_assortativity" ->
      """WITH edges AS MATERIALIZED (
        | SELECT src, dst FROM (
        |  SELECT user_id AS src,
        |   lead(user_id) OVER (PARTITION BY event_type
        |     ORDER BY ts, event_id) AS dst
        |  FROM events)
        | WHERE dst IS NOT NULL AND src <> dst),
        |deg AS (
        | SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT src AS node FROM edges
        |  UNION ALL SELECT dst AS node FROM edges)
        | GROUP BY 1),
        |j AS (
        | SELECT dx.deg AS dx, dy.deg AS dy
        | FROM edges e JOIN deg dx ON e.src = dx.node
        |  JOIN deg dy ON e.dst = dy.node),
        |s AS (
        | SELECT CAST(count(*) AS BIGINT) AS n_edges,
        |  sum(dx) AS sx, sum(dy) AS sy, sum(dx * dy) AS sxy,
        |  sum(dx * dx) AS sxx, sum(dy * dy) AS syy
        | FROM j)
        |SELECT n_edges,
        | round((n_edges * sxy - sx * sy) /
        |  sqrt(CAST(n_edges * sxx - sx * sx AS DOUBLE) *
        |       CAST(n_edges * syy - sy * sy AS DOUBLE)), 6) AS assortativity
        |FROM s""".stripMargin,
    // Drifting float aggregates rounded to 4 (the q114 precedent);
    // min/max are exact. `+ 0` canonicalizes IEEE −0.0 → +0.0: DuckDB's
    // round keeps the sign of a tiny negative mean, Spark's
    // BigDecimal-based round never emits negative zero.
    "q193_embed_profile" ->
      """WITH e AS (
        | SELECT unnest(embedding) AS v,
        |  unnest(generate_series(0, len(embedding) - 1)) AS dim
        | FROM embeddings)
        |SELECT CAST(dim AS INT) AS dim, CAST(count(*) AS BIGINT) AS n_vecs,
        | round(avg(CAST(v AS DOUBLE)), 4) + 0 AS mean,
        | round(stddev_samp(CAST(v AS DOUBLE)), 4) + 0 AS std,
        | round(min(CAST(v AS DOUBLE)), 4) + 0 AS vmin,
        | round(max(CAST(v AS DOUBLE)), 4) + 0 AS vmax
        |FROM e GROUP BY dim ORDER BY dim""".stripMargin,
    "q194_path_trigrams" ->
      """WITH tri AS (
        | SELECT event_type AS t1,
        |  lead(event_type, 1) OVER w AS t2,
        |  lead(event_type, 2) OVER w AS t3
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |FROM tri WHERE t3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin,
    "q195_ref_integrity" ->
      """WITH edges AS (
        | SELECT 'customer.nation' AS fk, c_nationkey AS k,
        |  (SELECT count(*) FROM nation n
        |   WHERE n.n_nationkey = c_nationkey) AS hits
        | FROM customer
        | UNION ALL
        | SELECT 'lineitem.orders', l_orderkey,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_orderkey = l_orderkey)
        | FROM lineitem
        | UNION ALL
        | SELECT 'lineitem.part', l_partkey,
        |  (SELECT count(*) FROM part p WHERE p.p_partkey = l_partkey)
        | FROM lineitem
        | UNION ALL
        | SELECT 'lineitem.supplier', l_suppkey,
        |  (SELECT count(*) FROM supplier s
        |   WHERE s.s_suppkey = l_suppkey)
        | FROM lineitem
        | UNION ALL
        | SELECT 'nation.region', n_regionkey,
        |  (SELECT count(*) FROM region r
        |   WHERE r.r_regionkey = n_regionkey)
        | FROM nation
        | UNION ALL
        | SELECT 'orders.customer', o_custkey,
        |  (SELECT count(*) FROM customer c
        |   WHERE c.c_custkey = o_custkey)
        | FROM orders
        | UNION ALL
        | SELECT 'supplier.nation', s_nationkey,
        |  (SELECT count(*) FROM nation n
        |   WHERE n.n_nationkey = s_nationkey)
        | FROM supplier)
        |SELECT fk, CAST(count(*) AS BIGINT) AS n_child,
        | CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_null,
        | CAST(sum(CASE WHEN k IS NOT NULL AND hits = 0 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_orphan,
        | round(sum(CASE WHEN k IS NOT NULL AND hits = 0 THEN 1 ELSE 0 END)
        |  / CAST(count(*) AS DOUBLE), 6) AS orphan_rate
        |FROM edges GROUP BY fk ORDER BY fk""".stripMargin,
    // Moments are exact BIGINT sums; DuckDB dow convention mapped (+1).
    "q196_dow_anova" ->
      """WITH daily AS (
        | SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS c
        | FROM events GROUP BY 1, 2),
        |dd AS (SELECT event_type, dayofweek(day) + 1 AS dow, c FROM daily),
        |perdow AS (
        | SELECT event_type, dow, CAST(count(*) AS BIGINT) AS nd,
        |  CAST(sum(c) AS BIGINT) AS sd
        | FROM dd GROUP BY 1, 2),
        |pertype AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
        | FROM dd GROUP BY 1),
        |agg AS (
        | SELECT event_type, CAST(count(*) AS BIGINT) AS k,
        |  sum(CAST(sd * sd AS DOUBLE) / nd) AS between_raw
        | FROM perdow GROUP BY 1)
        |SELECT a.event_type, t.n AS n_days, a.k AS n_dows,
        | round((a.between_raw - CAST(t.s * t.s AS DOUBLE) / t.n) /
        |  (t.ss - CAST(t.s * t.s AS DOUBLE) / t.n), 6) AS eta_sq,
        | round(((a.between_raw - CAST(t.s * t.s AS DOUBLE) / t.n) / (a.k - 1)) /
        |  (((t.ss - CAST(t.s * t.s AS DOUBLE) / t.n) -
        |    (a.between_raw - CAST(t.s * t.s AS DOUBLE) / t.n)) / (t.n - a.k)),
        |  6) AS f_stat
        |FROM agg a JOIN pertype t USING (event_type)
        |ORDER BY a.event_type""".stripMargin,
    // Replays the q175 base-31 fold per 5-gram, then window-of-4 minima;
    // list_reduce's first-element seed equals the 0-seeded fold.
    "q197_winnowing" ->
      """WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |h AS (
        | SELECT doc_id,
        |  list_transform(
        |   list_filter(generate_series(5, greatest(n, 5)), i -> i <= n),
        |   i -> list_reduce(
        |     list_transform(
        |      list_filter(string_split_regex(substr(text,
        |        CAST(i - 4 AS INTEGER), 5), ''), c -> len(c) > 0),
        |      c -> CAST(unicode(c) AS BIGINT)),
        |     (a, b) -> (a * 31 + b) % 1000000007)) AS hs
        | FROM d),
        |wins AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(generate_series(1, len(hs) - 3),
        |    j -> list_min(list_slice(hs, j, j + 3)))) AS fps
        | FROM h WHERE len(hs) >= 4),
        |fp AS (SELECT doc_id, unnest(fps) AS fp FROM wins),
        |byfp AS (SELECT fp, CAST(count(*) AS BIGINT) AS nd
        |         FROM fp GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS distinct_fps,
        | CAST(sum(nd) AS BIGINT) AS total_fps,
        | CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS shared_fps,
        | round(avg(nd), 4) AS avg_docs_per_fp
        |FROM byfp""".stripMargin,
    // Ranks are integers (row_number with a vec_id tie-break), so the
    // Pearson-on-ranks sums are exact in both engines.
    "q198_spearman" ->
      """WITH coords AS (
        | SELECT vec_id, unnest(embedding) AS v,
        |  unnest(generate_series(0, len(embedding) - 1)) AS dim
        | FROM embeddings),
        |c8 AS (SELECT vec_id, CAST(dim AS INT) AS dim, v
        |       FROM coords WHERE dim < 8),
        |ranked AS (
        | SELECT vec_id, dim,
        |  CAST(row_number() OVER (PARTITION BY dim ORDER BY v, vec_id)
        |   AS BIGINT) AS r
        | FROM c8),
        |p AS (
        | SELECT a.dim AS di, b.dim AS dj, a.r AS ri, b.r AS rj
        | FROM ranked a JOIN ranked b
        |  ON a.vec_id = b.vec_id AND a.dim < b.dim),
        |s AS (
        | SELECT di, dj, CAST(count(*) AS BIGINT) AS n,
        |  sum(ri) AS sx, sum(rj) AS sy, sum(ri * rj) AS sxy,
        |  sum(ri * ri) AS sxx, sum(rj * rj) AS syy
        | FROM p GROUP BY 1, 2)
        |SELECT di, dj, n,
        | round((n * sxy - sx * sy) /
        |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |       CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman
        |FROM s ORDER BY di, dj""".stripMargin,
    "q199_hits" -> hitsOracleSql(3),
    // The layout/pruning must not change the answer (the q149 contract):
    // the oracle is the plain predicate over the raw table.
    "q201_string_zonemap" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_parts,
        | min(p_name) AS first_name, max(p_name) AS last_name,
        | round(sum(p_retailprice), 2) AS total_price
        |FROM part WHERE p_name >= 'f' AND p_name <= 'o'""".stripMargin,
    "q202_bloom_zonemap" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_orders,
        | min(o_orderkey) AS min_orderkey,
        | max(o_orderkey) AS max_orderkey,
        | round(sum(o_totalprice), 2) AS total_price
        |FROM orders WHERE o_custkey = 42""".stripMargin,
    // q148's prefix-join oracle at t=0.8, symmetrized and cut to the
    // top-5 per doc; round-before-rank + nbr_id tie-break make the cut
    // engine-independent.
    "q203_prefix_topk" ->
      """WITH terms AS (
        | SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'),
        |   x -> len(x) > 0)) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |w AS (
        | SELECT doc_id, term, df, tf * ln(n_docs / df) AS w
        | FROM tf JOIN dft USING (term), nn),
        |norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
        |unitv AS (
        | SELECT w.doc_id AS doc_id, term, df, w / nrm AS u
        | FROM w JOIN norms ON norms.doc_id = w.doc_id WHERE nrm > 0),
        |tails AS (
        | SELECT doc_id, term, u,
        |  sqrt(sum(u * u) OVER (PARTITION BY doc_id ORDER BY df, term
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS tail
        | FROM unitv),
        |posting AS (SELECT doc_id, term, tail FROM tails WHERE tail >= 0.8),
        |cands AS (
        | SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        | FROM posting a JOIN posting b
        |  ON a.term = b.term AND a.doc_id < b.doc_id
        | WHERE a.tail * b.tail >= 0.8 - 1e-9),
        |dots AS (
        | SELECT id_a, id_b, sum(ua.u * ub.u) AS dot
        | FROM cands
        | JOIN unitv ua ON ua.doc_id = id_a
        | JOIN unitv ub ON ub.doc_id = id_b AND ub.term = ua.term
        | GROUP BY 1, 2),
        |pairs AS (
        | SELECT id_a, id_b, round(dot, 4) AS cosine
        | FROM dots WHERE round(dot, 4) >= 0.8),
        |sym AS (
        | SELECT id_a AS doc_id, id_b AS nbr_id, cosine FROM pairs
        | UNION ALL
        | SELECT id_b AS doc_id, id_a AS nbr_id, cosine FROM pairs),
        |ranked AS (
        | SELECT doc_id, nbr_id, cosine, row_number() OVER (
        |   PARTITION BY doc_id ORDER BY cosine DESC, nbr_id) AS rnk
        | FROM sym)
        |SELECT doc_id, nbr_id, cosine, CAST(rnk AS INT) AS rnk
        |FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,

    // q205: the Spark side renders o_orderdate into free-form word-month
    // strings and recovers the day through the lenient grammar + strict
    // grammar; the oracle is the round-trip identity on the source column
    "q205_lenient_dates" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS parsed_day
        |FROM orders ORDER BY o_orderkey""".stripMargin
  )
}
