package graft

import org.apache.spark.sql.functions._

/** Zipf-skew gauge (r11 verdict "What's missing" #2): every decade gauge
  * so far inherited TPC-H/ScaleGen's UNIFORM key geometry, so the df-caps,
  * salting, and the q395 projection cap were never shown to BIND. This
  * main runs against a uniform dataset dir and its Zipf(1.0) twin
  * (ScaleGen's `zipf` mode) and reports, per dir:
  *
  *   - the co-purchase projection's cap evidence: hottest part's buyer
  *     count, parts dropped at the 64 cap, pair rows WITH the cap vs the
  *     pair rows the uncapped r11 plan would have generated (an exact
  *     Σ C(b,2) aggregate — computed, never materialized);
  *   - the shingle-df evidence behind q74/q85's stop-shingle rule: the
  *     hottest 3-gram's df, shingles over the 256 cap, capped vs uncapped
  *     candidate-pair sums;
  *   - the committed IVF index's per-list occupancy-cap evidence (q416).
  *
  * Usage: runMain graft.SkewCheck <uniformDir> <zipfDir>
  *
  * The warm timings of the skew-sensitive roster the r11 verdict named
  * (q46/q105/q260 salting+AQE, q74/q85 caps, q395), uniform vs Zipf with
  * the ratio, come from ScaleCheck:
  * `runMain graft.ScaleCheck <uniformDir> <zipfDir> q46_salted_agg
  * q105_salted_join q260_aqe_skew_join q74_ngram_jaccard
  * q85_dedup_components q395_link_prediction`
  */
object SkewCheck {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(GraftSession.cpus("32"))
    require(args.nonEmpty, "usage: SkewCheck <dir> [dir ...]")

    args.foreach { d =>
      // ---- q395 projection-cap evidence
      val cp = Tables.lineitem(spark, d)
        .select(col("l_orderkey"), col("l_partkey"))
        .join(Tables.orders(spark, d)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
      val pe = cp.groupBy(col("p")).agg(count(lit(1)).as("b"))
        .agg(max(col("b")).as("max_buyers"),
          sum(when(col("b") > 64, 1L).otherwise(0L)).as("parts_dropped"),
          sum(when(col("b").between(2, 64),
            col("b") * (col("b") - 1) / 2).otherwise(0L)).as("pairs_capped"),
          sum(col("b") * (col("b") - 1) / 2).as("pairs_uncapped"))
        .head()
      println(s"[skew] $d q395_projection: max_buyers=${pe.get(0)} " +
        s"parts_dropped=${pe.get(1)} pairs_with_cap=${pe.get(2)} " +
        s"pairs_without_cap=${pe.get(3)}")

      // ---- shingle-df evidence (q74/q85's stop-shingle rule at df 256)
      val se = Tables.documents(spark, d)
        .select(col("doc_id"),
          explode(expr(
            "array_distinct(transform(sequence(1, " +
              "greatest(size(split(text, ' ')) - 2, 1)), " +
              "i -> xxhash64(concat_ws(' ', slice(split(text, ' '), i, 3)))))"
          )).as("sh"))
        .groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .agg(max(col("df")).as("max_df"),
          sum(when(col("df") > 256, 1L).otherwise(0L)).as("hot_shingles"),
          sum(when(col("df") <= 256,
            col("df") * (col("df") - 1) / 2).otherwise(0L)).as("cand_capped"),
          sum(col("df") * (col("df") - 1) / 2).as("cand_uncapped"))
        .head()
      println(s"[skew] $d shingle_df: max_df=${se.get(0)} " +
        s"hot_shingles=${se.get(1)} cand_pairs_with_cap=${se.get(2)} " +
        s"cand_pairs_without_cap=${se.get(3)}")

      // ---- q416 per-list occupancy-cap evidence (r14: the committed-
      // index near-dup's pair stage is Σ C(min(occ, cap), 2) — duplicate
      // clusters co-locate in ONE cell by construction, so a decade/Zipf
      // corpus is exactly where the hottest list would square without
      // the cap; this row shows the cap BINDING, the q395/shingle rows'
      // pattern applied to the index estate)
      try {
        val S = operators.Similarity
        val VM = sources.VersionedManifest
        val root = S.ivfIndexRoot(spark, d, "full")
        S.buildIvfIndex(spark, d, root, baseOnly = false)
        val lv = VM.latestCommitted(spark, s"$root/lists").get
        val cap = S.NearDupListCap
        val le = VM.readAt(spark, s"$root/lists", lv)
          .groupBy(col("cid")).agg(count(lit(1)).as("occ"))
          .agg(max(col("occ")).as("max_occ"),
            sum(when(col("occ") > cap, 1L).otherwise(0L)).as("hot_lists"),
            sum(least(col("occ"), lit(cap.toLong))
              * (least(col("occ"), lit(cap.toLong)) - 1) / 2)
              .as("pairs_capped"),
            sum(col("occ") * (col("occ") - 1) / 2).as("pairs_uncapped"))
          .head()
        println(s"[skew] $d q416_list_cap: max_occ=${le.get(0)} " +
          s"hot_lists=${le.get(1)} pairs_with_cap=${le.get(2)} " +
          s"pairs_without_cap=${le.get(3)}")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[skew] $d q416_list_cap: skipped (${e.getMessage})")
      }
      // the index build leaves session storage (checkpoint blocks) that
      // the next dir's evidence should not run on top of
      CacheHygiene.release(spark)
    }
    spark.stop()
  }
}
