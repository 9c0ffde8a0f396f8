package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: one JSON line with per-query seconds over
  * SPARK_GRAFT_SF_DIR. Each headline query is warmed once UNTIMED at the
  * bench SF immediately before its timed attempts (codegen + JIT +
  * parquet footer caches), so timings measure the operators, not JVM
  * startup or the first-codegen window. Every execution, warm or timed,
  * is one `Measure.once`: the noop sink runs the complete plan (including
  * sorts) without collect or write overhead.
  *
  * Noise handling: this host shows multi-MINUTE CPU-steal bursts (a warm
  * query can swing 1.8s ↔ 21s on unchanged code; r03's driver bench
  * reported 314s for a 41s-quiet headline set). Each query runs at least
  * twice and we report the minimum; while the best run still overlapped
  * significant steal (>2% of the host's cpu-seconds during the run, read
  * from /proc/stat), up to two extra attempts are made. Because bursts
  * outlast back-to-back retries, attempts made while the host is visibly
  * stolen are deferred: a bounded shared wait budget sits out bursts
  * (sampling steal in 1s windows) before measuring — waiting is cheaper
  * than re-running a 70x-slowed query. A query that throws
  * is reported as -1 with its error in an "errors" map — never as a
  * misleading timing — and, when a missing input caused it, under that
  * path in the full line's "missing" map ([[MissingInputs]]).
  *
  * Session-residue handling (r7 verdict): `Measure.once` releases
  * after every execution, outside the timed window, so localCheckpoint
  * blocks and streaming state-store providers from one query can never
  * inflate a later one; a late-session re-quote of the slowest rows
  * cross-checks that the first quotes were residue-free ("requote" /
  * "inflated" fields).
  */
object Bench {

  /** Representative headline set across the operator families.
    *
    * ROSTER RULE (r11 verdict "What's missing" #3 — why the bench roster
    * is smaller than the correctness registry): every registered query is
    * CORRECTNESS-verified per round by `graft.Verify` + the DuckDB
    * oracle; this roster TIMES the subset whose cost is the operator
    * under test. Excluded, deliberately:
    *   - sub-100ms scalar/projection one-liners (most of q03, q41–q44,
    *     q50–q65, q103, q109–q110, q116–q118, q127–q129, q132,
    *     q135–q137): their quote is session noise, not operator cost,
    *     and they execute inside many roster rows anyway;
    *   - fixture-bound micro-queries over the 50-article corpus
    *     (q60–q65 family beyond the q65 sink representative) — they
    *     measure fixture I/O, not the engine;
    *   - streaming variants whose runtime is dominated by fixed
    *     micro-batch trigger latency and which share their stateful
    *     operator with a roster row (e.g. q91/q92 vs q90/q93/q94) —
    *     the state-scaling evidence lives in StreamsSpec + BASELINE.md
    *     sweeps instead.
    * Every family in SURVEY.md §2 keeps at least one timed row; any
    * query whose plan changes in a round joins the roster for a
    * re-quote (q395 this round).
    */
  private val headline = Seq(
    // NOTE: the first 49 entries are the round-3/4 comparable subtotal AND
    // the subset quoted per-query on stdout (see main: the driver archives
    // only a ~2 KB stdout tail, so the full per-query map would truncate
    // mid-line and fail its JSON extraction — r9/r10 both landed
    // "parsed": null that way; the complete map lives in
    // target/bench_latest.json and the committed BENCH_builder_r{N}.json).
    "q01_pricing_summary", "q02_filter_pushdown", "q04_predicates",
    "q07_revenue_by_nation", "q10_join_broadcast", "q11_join_left_outer",
    "q15_join_range",
    "q16_join_asof", "q108_asof_native", "q17_join_theta",
    "q19_correlated_subquery",
    "q20_group_multi_agg", "q23_distinct", "q26_grouping_sets",
    "q27_stats_exact", "q30_window_topn_group", "q31_window_running_sum",
    "q34_window_ranks", "q37_window_sessionize", "q38_funnel_stages",
    "q40_topk_global", "q42_union_by_name", "q49_merge_upsert",
    "q54_array_hof", "q55_json_extract", "q56_explode_tokens",
    "q66_tfidf", "q67_doc_chunks", "q68_term_redaction",
    "q73_exact_dedup", "q74_ngram_jaccard", "q75_minhash_lsh",
    "q76_simhash", "q78_bottomk_udaf", "q79_corpus_pipeline",
    "q85_dedup_components", "q86_sequence_packing",
    "q80_ann_bruteforce", "q81_ann_lsh", "q82_embed_neardup",
    "q83_ann_ivf", "q87_bigram_lm", "q100_multimodal_features",
    "q102_passage_dedup", "q104_kmv_distinct", "q107_inverted_index",
    "q90_stream_tumbling", "q93_stream_stateful", "q94_stream_sliding",
    // round 5 additions (the round-3/4 comparable subtotal is the first
    // 49 — sum the per-query map without everything below this line)
    "q111_bloom_join", "q112_token_graph_triangles",
    "q113_canonical_docs", "q114_histogram_quantiles",
    "q119_pareto_frontier", "q120_attribution",
    "q121_embed_quantize", "q122_stream_tws_tally",
    "q123_gapfill_ffill", "q125_reachability_cte",
    "q126_lateral_topk", "q127_edit_distance",
    "q128_variant_json", "q129_ordered_set_agg",
    "q130_sorted_groups", "q131_asof_forward",
    "q133_asof_tolerance", "q134_bitmap_distinct",
    // round 5b additions (this session)
    "q138_pagerank", "q141_heavy_hitters", "q142_native_chunks",
    "q144_interval_bin_join", "q145_running_distinct",
    "q148_stream_chained_windows", "q150_canonical_dedup",
    "q151_decontamination", "q152_pmi_collocations",
    // round 5c additions (the TPC-H decision-support shapes)
    "q188_market_share", "q189_sole_supplier", "q190_important_parts",
    // round 6 additions: Q13/Q17/Q20 shapes, the parallelized RFM
    // segmentation, the full-outer stream join, the ImageIO decode
    "q191_custdist", "q192_avg_yearly", "q193_concentrated_suppliers",
    "q161_rfm_segments", "q194_stream_full_outer", "q195_multimodal_imageio",
    // round 6b additions: Q18/Q22/Q2 shapes, semantic dedup, the LM
    // fluency and DSIR selection passes, the right-outer stream join
    "q196_big_orders", "q197_dormant_customers", "q198_min_cost_supplier",
    "q199_semantic_dedup", "q200_lm_fluency", "q201_importance_weights",
    "q202_stream_right_outer",
    // round 6c additions: ORC round-trip, Q19/Q15/Q16 shapes
    "q203_orc_roundtrip", "q204_disjunctive_join", "q205_top_supplier",
    "q206_supplier_census",
    // round 6d additions: the shapes completing all 22 TPC-H queries
    "q207_shipping_priority", "q208_priority_check", "q209_bilateral_volume",
    "q210_profit_by_nation", "q211_returned_items", "q212_late_shipments",
    "q213_promo_share", "q214_incremental_dedup",
    // round 7 additions: landed-binary ingestion, persisted snapshot
    // gate, real WAV decode
    "q215_multimodal_binaryfile", "q216_snapshot_gate_persisted",
    "q217_multimodal_wav", "q218_ann_adc_rerank", "q219_dup_spans",
    "q220_countmin_sketch", "q221_ivf_pq", "q222_dsv2_articles",
    // round 8 additions: the connector's streaming + write faces, BM25
    // lexical retrieval, hybrid RRF fusion, continuous dedup gate
    "q223_dsv2_stream", "q224_bm25_retrieval", "q225_hybrid_rrf",
    "q226_dsv2_write", "q227_stream_dedup_gate", "q228_corpus_mixing",
    "q229_bpe_train", "q230_contamination_matrix", "q231_dsv2_stream_write",
    "q232_winnowing_fingerprints",
    // round 9 additions: dynamic partition pruning star, BPE encode
    "q233_dpp_star", "q234_bpe_encode", "q235_avro_roundtrip",
    "q236_dsv2_agg_pushdown", "q237_kmv_set_ops",
    "q238_leakage_safe_split", "q239_schema_evolution",
    "q240_fuzzy_join", "q241_max_concurrency", "q242_compaction",
    "q243_dq_audit", "q244_stream_dynamic_session",
    "q245_partitioned_compaction",
    // round 10 additions: catalog stats, the versioned-manifest table
    // family, file skipping, bucketed join, metadata-only agg, oracled HLL
    "q246_catalog_stats", "q247_snapshot_read", "q248_hll_registers",
    "q249_vacuum", "q250_time_travel", "q251_file_skipping",
    "q252_stream_versioned_ingest", "q253_bucketed_join",
    "q254_metadata_agg", "q255_version_diff", "q256_cow_delete",
    "q257_zorder_skipping", "q258_cbo_join_reorder",
    "q259_runtime_bloom_join", "q260_aqe_skew_join",
    "q261_dsv2_partitioned_join", "q262_dsv2_metadata_column",
    "q263_catalog_function", "q264_catalog_delete",
    "q265_observed_metrics", "q266_governed_view", "q267_procedure_land",
    "q268_sql_pipe", "q269_merge_into",
    // round 10b additions: state-store introspection, SQL programmability
    // (SQL-body functions, session variables, scripting), waterfill mixing
    "q270_state_introspection", "q271_sql_udf", "q272_session_variables",
    "q273_sql_scripting", "q274_token_waterfill", "q275_fifo_matching",
    "q276_incremental_index", "q277_multitable_snapshot",
    "q278_bloom_skipping", "q279_version_feed", "q280_mv_rewrite",
    "q281_join_elimination", "q282_mv_refresh", "q283_epoch_schedule",
    "q284_optimistic_commit", "q285_partition_evolution",
    "q286_stream_scd2_enrich", "q287_shard_publish",
    "q288_deletion_vectors", "q289_k_anonymity", "q290_pseudonymize",
    "q291_table_history", "q292_snapshot_rollback",
    "q293_change_data_feed", "q294_cdf_apply", "q295_dataset_card",
    "q296_dv_compaction", "q297_not_in_nulls", "q298_range_join_rewrite",
    "q299_mor_merge", "q300_column_mapping", "q301_quality_sweep",
    "q302_packing_efficiency", "q303_dup_provenance", "q304_ann_recall",
    "q305_hard_negatives", "q306_mmr_diversity", "q307_shallow_clone",
    "q308_cascade_erasure", "q309_ivf_append", "q310_curation_funnel",
    "q311_retrieval_metrics", "q312_quality_survivorship",
    "q313_small_files_audit", "q314_semantic_prune",
    // round 10e additions: delta-join MV maintenance, epoch sharding,
    // exact AUC, LSH tuning curve
    "q315_delta_join_view", "q316_epoch_sharding", "q317_quality_auc",
    "q318_lsh_tuning", "q319_matryoshka_recall", "q320_ndcg",
    // round 11 additions: the versioned table's SQL front door, the
    // commit-refusing WAP gate, the DSv2 versioned streaming sink
    "q321_sql_time_travel", "q322_audit_gate", "q323_versioned_stream_sink",
    "q324_ann_churn_recall", "q325_stream_stream_scd2",
    "q326_stream_table_compaction", "q327_sql_table_history",
    "q328_versioned_stream_source", "q329_stats_in_manifest",
    "q330_sql_rollback", "q331_sql_multitable_snapshot",
    "q332_snapshot_drift", "q333_quality_calibration",
    "q334_neardup_leakage", "q335_bloom_skipping", "q336_boilerplate_strip",
    "q337_url_canonical_dedup", "q338_mixed_format_feed",
    "q339_release_tags", "q340_span_corruption", "q341_politeness_schedule",
    "q342_label_agreement", "q343_preference_pairs", "q344_cluster_rewrite",
    // round 11d/e/f additions (decade gauges live in BASELINE.md; the
    // quiet-run quotes join the roster here from round 11g on)
    "q345_pii_scan", "q346_chat_assembly", "q347_bitext_margin",
    "q348_row_tracking", "q349_branch_publish", "q350_bitemporal_asof",
    "q351_branch_subscriber", "q352_centroid_classifier",
    "q353_salted_agg_plan", "q354_sql_branch_read", "q355_snapshot_expiry",
    "q356_phash_dedup", "q357_soft_dedup_weights", "q358_sql_estate_procs",
    "q359_truncated_rerank", "q360_stream_union_lagged",
    "q361_bradley_terry", "q362_parameterized_sql", "q363_table_constraints",
    "q364_sq8_recall", "q365_column_lineage", "q366_versioned_merge",
    "q367_stream_lww_upsert", "q368_taxonomy_tagging",
    "q369_zorder_clustering", "q370_sql_merge_proc",
    "q371_versioned_erasure", "q372_late_deadletter", "q373_schema_gate",
    "q374_concurrent_merge", "q375_prefix_cache_plan", "q376_pass_at_k",
    "q377_bootstrap_ci", "q378_stream_semi_join", "q379_freshness_decay",
    "q380_temperature_mixture", "q381_tokenizer_fertility",
    "q382_atomic_rtas", "q383_filtered_ann", "q384_sql_cow_delete",
    "q385_shortlist_tuning",
    // round 11g additions
    "q386_gopher_repetition", "q387_bleu_stats", "q388_priority_sample",
    "q389_krippendorff_alpha", "q390_sql_insert", "q391_replace_where",
    "q392_sql_update", "q393_rocksdb_state", "q394_sql_unpivot",
    "q395_link_prediction", "q396_cuped", "q397_ab_ztest",
    "q398_incremental_components", "q399_epoch_shuffle", "q400_column_drop",
    "q401_fk_catalog", "q402_match_recognize", "q403_scd2_apply",
    "q404_session_window", "q405_null_safe_join", "q406_kmeans_refine",
    // round 12 additions: persisted ANN index lifecycle (first quote
    // includes the one-time train+commit; the warm re-quotes measure
    // serving from the committed artifact — AnnCheck separates the two)
    "q407_ann_index_commit", "q408_ann_index_append",
    "q409_ann_index_compact", "q410_ann_index_retrain",
    "q411_stream_index_maint", "q412_late_interaction",
    "q413_two_stage_serving",
    // round 13 additions: the recall audit (exact baseline ∩ two-stage),
    // the streaming serving face, and the committed-index near-dup
    "q414_two_stage_recall", "q415_stream_two_stage", "q416_index_neardup",
    // round 14 additions: multi-vector (PLAID-style) candidate
    // generation (batch + streaming faces) and the SQ8 two-tier prune
    "q417_multivec_serving", "q418_stream_multivec", "q419_plaid_pruned"
  )

  /** Cumulative steal ticks across all cpus (USER_HZ=100), 0 if unreadable. */
  private def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val fields = src.getLines().next().trim.split("\\s+")
        // "cpu user nice system idle iowait irq softirq steal ..."
        if (fields.length > 8) fields(8).toLong else 0L
      } finally src.close()
    } catch { case _: Throwable => 0L }

  /** Host CPU count = number of per-cpu "cpuN" lines in /proc/stat. Steal
    * ticks are host-wide, so this is the right normalizer; in a
    * cgroup-limited container `availableProcessors()` can be far below the
    * host core count, which would overstate stealFrac and burn all retry
    * attempts even on a quiet host.
    */
  private def hostCpus(): Int =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val n = src.getLines().count(_.matches("cpu\\d+ .*"))
        if (n > 0) n else Runtime.getRuntime.availableProcessors()
      } finally src.close()
    } catch { case _: Throwable => Runtime.getRuntime.availableProcessors() }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus("4")
    val nCpus = cpus.toInt
    // a dead context (host OOM-kill of an executor thread pool, external
    // SIGTERM of the backend) must cost ONE query's measurement, not every
    // row after it: GraftSession.get's getOrCreate builds a fresh session
    // when the default's context is stopped. It also resets the log level.
    // OFF keeps the driver's stdout-tail window free of log chatter — the
    // compact JSON line must be the last thing printed. OFF, not ERROR
    // (r13 verdict "What's wrong" #2): the deliberately-provoked refusal
    // paths (COW/late-change/stray-row gates) make Spark internals log
    // their expected exception at ERROR with a full stack, which landed in
    // BENCH_r13's archived tail ahead of the JSON line. Bench does its own
    // failure reporting (the "errors"/"failed" JSON fields), so muting
    // log4j here hides no signal.
    def session(): SparkSession = {
      val s = GraftSession.get(cpus)
      s.sparkContext.setLogLevel("OFF")
      s
    }

    val qs = SparkEntry.queries
    val names = headline.filter(qs.contains)

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val missing = new MissingInputs
    val nHostCpus = math.max(nCpus, hostCpus())

    // shared wait budget for sitting out steal bursts (bounded so a
    // never-quiet host still finishes well inside the driver's patience)
    var quietBudgetMs = 8 * 60 * 1000L
    def sampleStealFrac(ms: Long): Double = {
      val s0 = stealTicks()
      Thread.sleep(ms)
      quietBudgetMs -= ms
      (stealTicks() - s0) / (nHostCpus * 100.0 * (ms / 1000.0))
    }
    // poll 1s windows until steal subsides (or the budget runs out)
    def waitForQuiet(): Unit =
      if (quietBudgetMs > 0) {
        var frac = sampleStealFrac(250)
        while (frac > 0.05 && quietBudgetMs > 0) frac = sampleStealFrac(1000)
      }
    // measure one query: warm once (untimed) at the BENCH SF right before
    // the timed attempts — an sf0.001 pass leaves per-query codegen cold
    // (q26's min-of-2 landed 5.9s inside the first-codegen window in r6;
    // warm it is 0.9s), so the minimum must never include a first-codegen
    // run. Each attempt is one `Measure.once`, which releases session
    // storage after EVERY execution, outside the timed window (r7 verdict:
    // q152 read 9.76s bench vs 0.94s fresh-JVM warm, with steal = 0).
    // Codegen, JIT and parquet-footer caches are unaffected by the
    // release, so warm stays warm. The construct seconds (plan build —
    // which for the iterative fixpoint queries q85/q113/q227 runs real
    // jobs) let the JSON attribute construct vs execute (r8 verdict #7);
    // the timed total covers BOTH.
    def measure(name: String): (Double, Double, Double, Int, Option[String]) = {
      val s = session()
      def run() = Measure.once(s)(qs(name)(s, sfDir))
      try run() catch { case _: Throwable => () }
      var best = Double.MaxValue
      var bestConstruct = -1.0
      var bestStealFrac = 1.0
      var attempt = 0
      var err: Option[String] = None
      // >=2 attempts always; keep retrying (to 4) while the best attempt
      // overlapped noticeable steal — min-of-clean beats min-of-noisy
      while (err.isEmpty && attempt < 4 && (attempt < 2 || bestStealFrac > 0.02)) {
        attempt += 1
        // don't measure INTO a burst: retries exist to catch a quiet
        // window, so sit out visible steal first (bounded shared budget)
        if (attempt == 1 || bestStealFrac > 0.02) waitForQuiet()
        val s0 = stealTicks()
        try {
          val (tc, dt) = run()
          // steal ticks are host-wide: normalize by the HOST cpu count
          // (cpuN lines, not availableProcessors — see hostCpus()), or the
          // fraction overcounts whenever the container sees fewer cores
          // than the host has and every query burns all four attempts
          val stealFrac =
            if (dt <= 0) 0.0
            else (stealTicks() - s0) / (nHostCpus * 100.0 * dt)
          if (dt < best) { best = dt; bestConstruct = tc; bestStealFrac = stealFrac }
        } catch {
          case t: Throwable =>
            // a transient failure on a RETRY must not discard a valid
            // earlier measurement — only report -1 when no attempt succeeded
            if (best == Double.MaxValue) {
              missing.record(name, t)
              val msg = Option(t.getMessage).getOrElse(t.getClass.getName)
              err = Some(msg.replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200))
            } else attempt = 4 // stop retrying, keep the valid best
        }
      }
      (best, bestConstruct, bestStealFrac, attempt, err)
    }
    // name -> (value, constructSec, bestStealFrac, attempts)
    val state =
      scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double, Int)]
    // estate split per committed-index serving row (r14 verdict "What's
    // wrong" #5): "cold" when any estate build action (train / append /
    // compact / retrain / sidecar encode) ran during the row's
    // measurement — including its untimed warm pass — "warm" when the
    // row served train-free from the already-committed artifact. Rows
    // outside the serving family never build, so they carry no label.
    // Recorded in the FULL JSON only (target/bench_latest.json): the
    // compact stdout line must stay inside the driver's ~2 KB tail.
    val servingRows = Set(
      "q407_ann_index_commit", "q408_ann_index_append",
      "q409_ann_index_compact", "q410_ann_index_retrain",
      "q411_stream_index_maint", "q412_late_interaction",
      "q413_two_stage_serving", "q414_two_stage_recall",
      "q415_stream_two_stage", "q416_index_neardup",
      "q417_multivec_serving", "q418_stream_multivec", "q419_plaid_pruned")
    val estate = scala.collection.mutable.LinkedHashMap.empty[String, String]
    names.foreach { name =>
      val b0 = graft.operators.Similarity.estateBuilds.get()
      val (best, tc, sf, attempt, err) = measure(name)
      if (servingRows(name))
        estate(name) =
          if (graft.operators.Similarity.estateBuilds.get() > b0) "cold"
          else "warm"
      err.foreach(errors(name) = _)
      state(name) =
        (if (err.isDefined) -1.0 else best, if (err.isDefined) -1.0 else tc,
          if (err.isDefined) -1.0 else sf, attempt)
    }
    val firstQuote = state.map { case (n, (v, _, _, _)) => n -> v }.toMap
    // re-quote UNTIL QUIET (r8 verdict: the single-pass cross-check caught
    // BENCH_r08's contaminated:10 / 3 inflated rows but could not clear
    // them). Round 1 re-measures the slowest 8 (the r7 residue
    // cross-check) plus every row whose best attempt overlapped steal;
    // later rounds only the rows still dirty. A row is dirty while its
    // best-so-far was measured into a burst (stealFrac > 0.02) — a clean
    // re-measure marks it clean even when slower, because steal only ever
    // INFLATES a timing, so a contaminated minimum validated by a clean
    // run is an honest upper-bound-tight quote. Reported value stays the
    // min over all rounds; bounded rounds so a never-quiet host terminates.
    val requoteLast = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def dirtyRows(): Seq[String] =
      state.collect { case (n, (v, _, sf, _)) if v > 0 && sf > 0.02 => n }.toSeq
    var round = 0
    var targets = (state.toSeq.filter(_._2._1 > 0).sortBy(-_._2._1).take(8)
      .map(_._1) ++ dirtyRows()).distinct
    while (targets.nonEmpty && round < 4) {
      round += 1
      targets.foreach { name =>
        val (best, tc, sf, aNew, err) = measure(name)
        if (err.isEmpty && best < Double.MaxValue) {
          requoteLast(name) = best
          val (v0, tc0, sf0, a0) = state(name)
          // attempts is TOTAL spent on the row across all rounds (r9
          // ADVICE: keeping a0 alone under-reported requoted rows)
          if (best < v0) state(name) = (best, tc, sf, a0 + aNew)
          else if (sf <= 0.02 && sf0 > 0.02)
            // clean confirmation of a contaminated minimum: keep the min,
            // clear the dirty flag
            state(name) = (v0, tc0, sf, a0 + aNew)
          else state(name) = (v0, tc0, sf0, a0 + aNew)
        }
      }
      targets = dirtyRows()
    }
    // HEADLINE DE-NOISE (r12 verdict #5): the 49-row comparable subtotal
    // swung 0.94×–1.11× on host weather alone — the per-query retry logic
    // catches steal bursts but not uniform session-wide slowdowns (cpu
    // frequency, co-tenant memory bandwidth), which inflate every row a
    // little and the subtotal a lot. Bursts outlast back-to-back retries
    // but not the ~minutes between the first sweep and this one, so the
    // comparable subset is re-swept IN FULL at session end (it costs
    // ~40 s quiet) and each row keeps the min over both sweeps: the
    // headline becomes min-of-2 temporally-separated sweeps of unchanged
    // code. `sweep2_improved` records how many rows the second sweep won
    // — a high count means the first sweep ran into a slow window.
    val comparable = headline.take(49).filter(state.contains)
    var sweep2Improved = 0
    comparable.foreach { name =>
      val (best, tc, sf, aNew, err) = measure(name)
      if (err.isEmpty && best < Double.MaxValue) {
        val (v0, tc0, sf0, a0) = state(name)
        if (v0 < 0 || best < v0) {
          if (v0 >= 0) sweep2Improved += 1
          state(name) = (best, tc, sf, a0 + aNew)
        } else state(name) = (v0, tc0, sf0, a0 + aNew)
      }
    }
    val inflated = state.collect {
      case (n, (v, _, _, _)) if v > 0 && firstQuote(n) > 2 * v => n
    }.toSeq
    val results = state.toSeq.map { case (n, (v, tc, sf, a)) => (n, v, tc, sf, a) }
    val requote = requoteLast.toMap
    val qjson = results.map { case (k, v, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cjson = results
      .map { case (k, _, tc, _, _) =>
        "\"" + k + "\":" + (math.round(tc * 1000) / 1000.0) }
      .mkString("{", ",", "}")
    // per-query contamination label: the steal fraction overlapping the
    // BEST attempt (>0.02 means even the minimum was measured into a
    // burst — treat that timing as an upper bound, not a regression)
    val sjson = results
      .map { case (k, _, _, sf, _) =>
        "\"" + k + "\":" + (math.round(sf * 1000) / 1000.0) }
      .mkString("{", ",", "}")
    val ajson = results.map { case (k, _, _, _, a) => "\"" + k + "\":" + a }
      .mkString("{", ",", "}")
    val ejson = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val rqjson = requote.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val ijson = inflated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val estJson = estate.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, _, _) if v >= 0 => v }.sum
    val contaminated =
      results.count { case (_, v, _, sf, _) => v >= 0 && sf > 0.02 }
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qjson,"construct":$cjson,"steal":$sjson,"attempts":$ajson,"requote":$rqjson,"inflated":$ijson,"estate":$estJson,"contaminated":$contaminated,"requote_rounds":$round,"comparable_sweeps":2,"sweep2_improved":$sweep2Improved,"quiet_budget_exhausted":${quietBudgetMs <= 0},"errors":$ejson,"missing":${missing.json},"failed":${errors.size},"sf":"$sfDir"}"""
    // The driver archives only a ~2 KB stdout TAIL of the sbt run and
    // json-parses what it finds there. The full line above is ~30 KB at
    // 300+ queries, so printing it truncates mid-map and the driver
    // records "parsed": null (r9, r10). Persist the full line to disk for
    // audit, and print a COMPACT line (summary + the 49-query comparable
    // subset, 2-decimal) as the LAST stdout line so the tail window holds
    // one complete, parseable JSON object.
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_latest.json"), line + "\n")
    } catch { case scala.util.control.NonFatal(_) => () }
    val compactSet = headline.take(49).toSet
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    val qCompact = results.collect {
      case (k, v, _, _, _) if compactSet(k) => "\"" + k + "\":" + r2(v)
    }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${r2(total)},"unit":"sec","queries":$qCompact,"n_queries":${results.size},"failed":${errors.size},"contaminated":$contaminated,"requote_rounds":$round,"comparable_sweeps":2,"sweep2_improved":$sweep2Improved,"quiet_budget_exhausted":${quietBudgetMs <= 0},"full":"target/bench_latest.json","sf":"$sfDir"}"""
    println(compact)
    session().stop()
  }
}
