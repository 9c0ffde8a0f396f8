package graft

import scala.util.Try

import org.apache.spark.network.util.JavaUtils

import graft.GraftSession.withConf

/** Pins [[GraftSession.withConf]] and the invariant it exists for: a query
  * leaves the session's SQL conf and temp views as it found it, whether it
  * returns or throws. A scope runs its body on a child session, so the
  * parent is never changed at all.
  *
  * The invariant compares the `SET` output (every explicitly set key) and
  * the temp views before and after each query that scopes a conf or runs a
  * stream into a memory sink. `spark.sql.catalog.*` keys are left out:
  * catalog registrations are never removed yet, an open item of ROADMAP
  * direction 2.
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

  private def tempViews(): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** The keys whose value differs between two `SET` snapshots. */
  private def diff(before: Map[String, String], after: Map[String, String]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.getOrElse(k, "<unset>")} -> ${after.getOrElse(k, "<unset>")}")

  test("an unset key comes back unset") {
    assert(!isSet(unsetKey))
    val before = setOutput()
    withConf(spark, unsetKey -> "true") { child =>
      assert(child.conf.get(unsetKey) === "true")
      assert(!isSet(unsetKey), "the scope set the key on the parent")
    }
    assert(diff(before, setOutput()).isEmpty)
    assert(!setOutput().contains(unsetKey))
  }

  test("a set key comes back with its old value") {
    val key = "spark.sql.shuffle.partitions"
    assert(isSet(key))
    val before = spark.conf.get(key)
    val bumped = (before.toInt + 1).toString
    withConf(spark, key -> bumped) { child =>
      assert(child.conf.get(key) === bumped)
      assert(spark.conf.get(key) === before, "the scope changed the parent's value")
    }
    assert(isSet(key))
    assert(spark.conf.get(key) === before)
  }

  test("advisoryPartitionSizeInBytes still follows its fallback after a scope that set it") {
    assert(!isSet(advisory))
    def bytes(s: org.apache.spark.sql.SparkSession, key: String) =
      JavaUtils.byteStringAsBytes(s.conf.get(key))
    withConf(spark, advisory -> "8KB") { child =>
      assert(bytes(child, advisory) === 8192L)
    }
    assert(!isSet(advisory))
    withConf(spark, target -> "3m") { child =>
      assert(bytes(child, advisory) === 3L * 1024 * 1024)
    }
    assert(bytes(spark, advisory) !== 3L * 1024 * 1024)
  }

  test("keys are restored when the body throws") {
    val key = "spark.sql.shuffle.partitions"
    val before = setOutput()
    val e = intercept[IllegalStateException] {
      withConf(spark, unsetKey -> "true", key -> "1") { _ =>
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(diff(before, setOutput()).isEmpty)
    assert(!isSet(unsetKey))
  }

  test("nested scopes on the same key restore correctly") {
    withConf(spark, unsetKey -> "true") { outer =>
      withConf(outer, unsetKey -> "false") { inner =>
        assert(inner.conf.get(unsetKey) === "false")
      }
      assert(outer.conf.get(unsetKey) === "true")
    }
    assert(!isSet(unsetKey))
  }

  test("a child sees the parent's temp views; its own stay in the child") {
    spark.range(1).createOrReplaceTempView("conf_scope_parent_view")
    withConf(spark, unsetKey -> "true") { child =>
      assert(child.table("conf_scope_parent_view").count() === 1L)
      child.range(2).createOrReplaceTempView("conf_scope_child_view")
      assert(child.table("conf_scope_child_view").count() === 2L)
    }
    assert(!tempViews().contains("conf_scope_child_view"))
    spark.catalog.dropTempView("conf_scope_parent_view")
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

  /** Every query that runs a stream into a memory sink and has no scope
    * site of its own (q122, q132 and q393 are in [[scoped]]). Each one's
    * sink view lives in a child session, never in the parent.
    */
  private val memorySinks = Seq(
    "q90_stream_tumbling", "q91_stream_session", "q94_stream_sliding",
    "q98_stream_stream_join", "q99_stream_static_join", "q143_stream_left_outer",
    "q148_stream_chained_windows", "q183_stream_dedup_agg", "q194_stream_full_outer",
    "q202_stream_right_outer", "q227_stream_dedup_gate",
    "q244_stream_dynamic_session", "q279_version_feed", "q286_stream_scd2_enrich",
    "q325_stream_stream_scd2", "q328_versioned_stream_source",
    "q360_stream_union_lagged", "q378_stream_semi_join")

  private def assertLeavesConf(q: String, dir: String): Try[Long] = {
    val (before, views) = (setOutput(), tempViews())
    val run = Try(SparkEntry.queries(q)(spark, dir).count())
    val leaked = diff(before, setOutput())
    assert(leaked.isEmpty, s"$q on $dir changed the session conf:\n${leaked.mkString("\n")}")
    val viewsAfter = tempViews()
    assert(viewsAfter == views, s"$q on $dir changed the session's temp views: " +
      s"added ${(viewsAfter -- views).toSeq.sorted}, dropped ${(views -- viewsAfter).toSeq.sorted}")
    run
  }

  scoped.foreach { q =>
    test(s"$q leaves the session conf as it found it") {
      val run = assertLeavesConf(q, sf0001)
      if (q != "q261_dsv2_partitioned_join") run.get
    }
  }

  memorySinks.foreach { q =>
    test(s"$q leaves the session conf and temp views as it found it") {
      assertLeavesConf(q, sf0001).get
    }
  }

  test("a query that throws leaves the session conf as it found it") {
    val missing = tempDir("graft_conf_missing") + "/no_such_dataset"
    assert(assertLeavesConf("q246_catalog_stats", missing).isFailure,
      "q246 ran on a dataset directory that does not exist")
  }
}
