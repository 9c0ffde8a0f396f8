package graft

/** Scale-growth measurement (r7 verdict #6): time the 22 TPC-H shapes plus
  * the shuffle-bound dedup/ANN family at TWO scale factors in one session
  * and report the growth ratio — converting the "this plan survives 10×"
  * design arguments into measurements. A shuffle-bound plan should grow
  * ≈ linearly (ratio ≈ data ratio, here 10×); a quadratic candidate stage
  * or an unbounded window would show up as ratio ≫ 10.
  *
  * Protocol per (query, dir): `Measure.warmMin` — warm once untimed, then
  * min of 2 timed runs, session storage released after every execution.
  * Usage: runMain graft.ScaleCheck <dirA> <dirB> [query ...]
  * (A = small, B = big). Named queries replace the default set; any
  * registered query may be named, and an unknown name fails the run. With
  * a uniform dir and its Zipf twin as A and B, this is the skew timing
  * table (see `SkewCheck`).
  */
object ScaleCheck {

  /** The 22 TPC-H shapes (Q1..Q22 in query order) + the dedup/ANN set. */
  private val set = Seq(
    "q01_pricing_summary", "q198_min_cost_supplier", "q207_shipping_priority",
    "q208_priority_check", "q07_revenue_by_nation", "q06_filter_sum",
    "q209_bilateral_volume", "q188_market_share", "q210_profit_by_nation",
    "q211_returned_items", "q190_important_parts", "q212_late_shipments",
    "q191_custdist", "q213_promo_share", "q205_top_supplier",
    "q206_supplier_census", "q192_avg_yearly", "q196_big_orders",
    "q204_disjunctive_join", "q193_concentrated_suppliers",
    "q189_sole_supplier", "q197_dormant_customers",
    // shuffle-bound corpus family
    "q74_ngram_jaccard", "q85_dedup_components", "q151_decontamination",
    "q152_pmi_collocations", "q221_ivf_pq", "q224_bm25_retrieval",
    "q225_hybrid_rrf", "q229_bpe_train", "q230_contamination_matrix",
    "q232_winnowing_fingerprints",
    // round 9: DPP star + BPE encode join the batch sweep; round 10 adds
    // the compaction half of the maintenance loop (MaintCheck reports the
    // months-read and files-per-dir evidence the timings alone can't)
    "q233_dpp_star", "q234_bpe_encode", "q245_partitioned_compaction",
    // round 10: the catalog + table-format family (staging lands at the
    // untimed warm pass; the timed runs measure the steady-state op)
    "q246_catalog_stats", "q251_file_skipping",
    "q252_stream_versioned_ingest", "q253_bucketed_join",
    // round 10b: data-sized members of the programmability/estate family
    // (q275 output grows 10×; q276 cost tracks changed docs; q278 reads
    // O(hit files); q281 is the fact-scan-only eliminated plan)
    "q275_fifo_matching", "q276_incremental_index",
    "q278_bloom_skipping", "q281_join_elimination",
    // round 10b continued: MV refresh cost is O(increment)+|MV| merge;
    // q284's commit path is O(1) FS ops over a data-sized staging write;
    // q285 reads a FIXED 2.5-month window of a growing layout (the
    // spec-evolution twin of q233's sublinearity)
    "q282_mv_refresh", "q284_optimistic_commit", "q285_partition_evolution",
    // q283's prefix-rank window and q287's shard shuffle are data-sized;
    // q287's manifest stays 16 rows
    "q283_epoch_schedule", "q287_shard_publish",
    // q288's read is O(live rows) + a broadcast DV; q289 is one
    // partial-agg pass per lattice level
    "q288_deletion_vectors", "q289_k_anonymity",
    // q293/q294 cost one two-version key join (feed ships O(changed));
    // q295's card is one (split × source)-keyed pass over the corpus
    "q293_change_data_feed", "q294_cdf_apply", "q295_dataset_card",
    // q296/q299 stage O(data) once then read O(live)+broadcast artifacts;
    // q298's binned join candidates track matches, not the cross product
    "q296_dv_compaction", "q298_range_join_rewrite", "q299_mor_merge",
    // streaming state sweep (r8 verdict #5): ScaleGen shifts event/doc
    // ids but keeps timestamps and text, so at 10× input the CONTRACT is
    // window-agg state ≈ constant (q90/q148), dedup-gate state ≈ constant
    // (q227 — one row per distinct fingerprint, text replicates), and
    // dedup-by-id state ∝ distinct ids (q183). The JSON carries each
    // row's stateA/stateB so the ratio is measured, not asserted.
    "q90_stream_tumbling", "q148_stream_chained_windows",
    "q183_stream_dedup_agg", "q227_stream_dedup_gate",
    // round 10b: the stream-static SCD2 join must stay STATELESS at 10×
    // input (state = the rollup's ≤4 tier rows, not buffered events)
    "q286_stream_scd2_enrich")

  /** Memory-sink name a streaming query records its state footprint under. */
  private def sinkName(q: String): String = q.takeWhile(_ != '_') + "_sink"

  def main(args: Array[String]): Unit = {
    val (dirA, dirB) = (args(0), args(1))
    val qs = SparkEntry.queries
    // optional 3rd+ args: time these queries instead of the set (the sf10
    // decade runs only the most shuffle-bound shapes)
    val only = args.drop(2).toSeq
    only.foreach(n => require(qs.contains(n), s"unknown query: $n"))
    // GraftSession.get rebuilds the session when its context was stopped,
    // so one casualty doesn't void every later row
    def timed(name: String, dir: String): Double = {
      val spark = GraftSession.get(GraftSession.cpus("32"))
      Measure.warmMin(spark)(qs(name)(spark, dir))
    }

    val rows = (if (only.isEmpty) set.filter(qs.contains) else only).map { name =>
      // state footprint is recorded by the memory-sink helper per run;
      // read it right after each dir's timed runs so A and B don't mix
      val (a, stateA) =
        try {
          val t = timed(name, dirA)
          (t, graft.streaming.Streams.lastStateRows.get(sinkName(name)))
        } catch { case t: Throwable =>
          System.err.println(s"[scalecheck] $name failed on A: ${t.getMessage}")
          (-1.0, None)
        }
      val (b, stateB) =
        try {
          val t = timed(name, dirB)
          (t, graft.streaming.Streams.lastStateRows.get(sinkName(name)))
        } catch { case t: Throwable =>
          System.err.println(s"[scalecheck] $name failed on B: ${t.getMessage}")
          (-1.0, None)
        }
      val ratio = if (a > 0 && b > 0) b / a else -1.0
      val st = (stateA, stateB) match {
        case (Some(x), Some(y)) if a > 0 && b > 0 => Some((x, y))
        case _ => None
      }
      val stMsg = st.map { case (x, y) =>
        f" stateA=$x%d stateB=$y%d stateRatio=${if (x > 0) y.toDouble / x else -1.0}%.2f"
      }.getOrElse("")
      println(f"[scalecheck] $name%-28s A=$a%7.2fs B=$b%7.2fs ratio=$ratio%6.2f$stMsg")
      (name, a, b, ratio, st)
    }
    val js = rows.map { case (n, a, b, r, st) =>
      val stJs = st.map { case (x, y) =>
        f""","stateA":$x%d,"stateB":$y%d""" }.getOrElse("")
      f""""$n":{"a":$a%.3f,"b":$b%.3f,"ratio":$r%.2f$stJs}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"scalecheck","dirA":"$dirA","dirB":"$dirB","queries":$js}""")
    GraftSession.get(GraftSession.cpus("32")).stop()
  }
}
