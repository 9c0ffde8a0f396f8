package graft

import scala.util.Try

import org.apache.spark.network.util.JavaUtils

import graft.GraftSession.withConf

/** Pins [[GraftSession.withConf]] and the invariant it exists for: a query
  * leaves the session's SQL conf as it found it, whether it returns or
  * throws.
  *
  * The invariant compares the `SET` output (every explicitly set key)
  * before and after each query that scopes a conf. `spark.sql.catalog.*`
  * keys are left out: catalog registrations are never removed yet, an open
  * item of ROADMAP direction 2.
  */
class ConfScopeSpec extends SparkSpec {

  /** A registered key with a default that nothing in the engine sets. */
  private val unsetKey = "spark.sql.cbo.starSchemaDetection"
  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val target = "spark.sql.adaptive.shuffle.targetPostShuffleInputSize"

  private def isSet(key: String): Boolean = spark.conf.getAll.contains(key)

  private def setOutput(): Map[String, String] =
    spark.sql("SET").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filterNot(_._1.startsWith("spark.sql.catalog."))
      .toMap

  /** The keys whose value differs between two `SET` snapshots. */
  private def diff(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")

  test("an unset key comes back unset") {
    assert(!isSet(unsetKey))
    withConf(spark, unsetKey -> "true") {
      assert(spark.conf.get(unsetKey) === "true")
    }
    assert(!isSet(unsetKey))
    assert(!setOutput().contains(unsetKey))
  }

  test("a set key comes back with its old value") {
    val key = "spark.sql.shuffle.partitions"
    assert(isSet(key))
    val before = spark.conf.get(key)
    withConf(spark, key -> (before.toInt + 1).toString) {
      assert(spark.conf.get(key) === (before.toInt + 1).toString)
    }
    assert(isSet(key))
    assert(spark.conf.get(key) === before)
  }

  test("advisoryPartitionSizeInBytes still follows its fallback after a scope that set it") {
    assert(!isSet(advisory))
    def bytes(key: String) = JavaUtils.byteStringAsBytes(spark.conf.get(key))
    withConf(spark, advisory -> "8KB") {
      assert(bytes(advisory) === 8192L)
    }
    assert(!isSet(advisory))
    withConf(spark, target -> "3m") {
      assert(bytes(advisory) === 3L * 1024 * 1024)
    }
  }

  test("keys are restored when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val e = intercept[IllegalStateException] {
      withConf(spark, unsetKey -> "true", key -> "1") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(!isSet(unsetKey))
    assert(spark.conf.get(key) === before)
  }

  test("nested scopes on the same key restore correctly") {
    withConf(spark, unsetKey -> "true") {
      withConf(spark, unsetKey -> "false") {
        assert(spark.conf.get(unsetKey) === "false")
      }
      assert(spark.conf.get(unsetKey) === "true")
    }
    assert(!isSet(unsetKey))
  }

  /** Every query with a scope site, run at sf0.001 (q85 and q229 through
    * their shared helpers, q93 through the stream helpers). q261 reads the
    * reference article corpus and throws where it is absent; its conf
    * must still come back.
    */
  private val scoped = Seq(
    "q246_catalog_stats", "q253_bucketed_join", "q254_metadata_agg",
    "q258_cbo_join_reorder", "q259_runtime_bloom_join", "q260_aqe_skew_join",
    "q280_mv_rewrite", "q298_range_join_rewrite", "q401_fk_catalog",
    "q281_join_elimination", "q273_sql_scripting", "q261_dsv2_partitioned_join",
    "q122_stream_tws_tally", "q132_stream_mapstate", "q393_rocksdb_state",
    "q85_dedup_components", "q93_stream_stateful", "q229_bpe_train")

  private def assertLeavesConf(q: String, dir: String): Try[Long] = {
    val before = setOutput()
    val run = Try(SparkEntry.queries(q)(spark, dir).count())
    val leaked = diff(before, setOutput())
    assert(leaked.isEmpty, s"$q on $dir changed the session conf:\n${leaked.mkString("\n")}")
    run
  }

  scoped.foreach { q =>
    test(s"$q leaves the session conf as it found it") {
      val run = assertLeavesConf(q, sf0001)
      if (q != "q261_dsv2_partitioned_join") run.get
    }
  }

  test("a query that throws leaves the session conf as it found it") {
    val missing = tempDir("graft_conf_missing") + "/no_such_dataset"
    assert(assertLeavesConf("q246_catalog_stats", missing).isFailure,
      "q246 ran on a dataset directory that does not exist")
  }
}
