package graft

import graft.GraftSession.withConf
import org.apache.spark.sql.SparkSession

/** The engine's central cross-engine claim — results are bit-identical
  * regardless of partitioning — tested directly: hash-sensitive queries
  * re-run under a deliberately awkward shuffle partition count (7, vs the
  * session's cpu-count default) and a different file-split size must
  * produce byte-identical rows. Exercises the exact-decimal sums, the
  * integer sketch folds, the iterative PageRank, and the xxhash64
  * decontamination join — the families where a partition-order bug would
  * hide.
  */
class DeterminismSpec extends SparkSpec {

  private val sensitive = Seq(
    "q01_pricing_summary",   // exact decimal aggregation
    "q104_kmv_distinct",     // mergeable sketch state
    "q118_exact_corr",       // decimal moments -> double formula
    "q138_pagerank",         // iterative integer supersteps
    "q147_kmeans_step",      // argmin assignment + integer means
    "q151_decontamination",  // hashed-gram broadcast semi join
    "q156_weighted_sample",  // distributed prefix sum
    // round-6 additions where a partition-order bug would hide
    "q199_semantic_dedup",   // Lloyd training + capped within-cluster pairs
    "q201_importance_weights", // integer probability-gap feature scoring
    "q214_incremental_dedup", // fingerprint classification joins
    "q180_clamped_stock"     // non-associative fold: needs a TOTAL sort key
                             // (an sf0.1 duplicate-row collision flaked
                             // before q joined the tiebreak)
  )

  private def rows(s: SparkSession, name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf001)
      .collect().map(_.toString).toSeq

  test("hash-sensitive queries are invariant to shuffle partition count") {
    val baseline = sensitive.map(n => n -> rows(spark, n)).toMap
    withConf(spark, "spark.sql.shuffle.partitions" -> "7") { spark =>
      sensitive.foreach { n =>
        assert(rows(spark, n) == baseline(n), s"$n changed under 7 shuffle partitions")
      }
    }
  }

  test("hash-sensitive queries are invariant to input split size") {
    val baseline = sensitive.map(n => n -> rows(spark, n)).toMap
    // tiny splits -> many more scan partitions -> different partial-agg
    // boundaries; results must not move
    withConf(spark, "spark.sql.files.maxPartitionBytes" -> "65536") { spark =>
      sensitive.foreach { n =>
        assert(rows(spark, n) == baseline(n), s"$n changed under 64 KiB splits")
      }
    }
  }
}
