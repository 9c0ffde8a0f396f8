package graft

import scala.util.Try

import org.apache.spark.network.util.JavaUtils

import graft.GraftSession.{state, stateDiff, withConf}

/** Pins [[GraftSession.withConf]] and the invariant it exists for: a query
  * leaves the session as it found it, whether it returns or throws. A
  * scope runs its body on a child session, so the parent is never changed
  * at all, and every registry query runs in such a scope
  * ([[SparkEntry.queries]]).
  *
  * The invariant compares the whole [[GraftSession.state]] (the `SET`
  * output with its catalog registrations, temp views, temporary functions,
  * session variables and active streams) of a fresh caller session before
  * and after each query that scopes a conf, runs a stream into a memory
  * sink, or used to leave state in its caller. A fresh caller per query
  * keeps one query's leftovers from hiding another's.
  */
class ConfScopeSpec extends SparkSpec {

  /** A registered key with a default that nothing in the engine sets. */
  private val unsetKey = "spark.sql.cbo.starSchemaDetection"
  private val advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
  private val target = "spark.sql.adaptive.shuffle.targetPostShuffleInputSize"

  private def isSet(key: String): Boolean = spark.conf.getAll.contains(key)

  private def setOutput(): Map[String, String] =
    spark.sql("SET").collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("an unset key comes back unset") {
    assert(!isSet(unsetKey))
    val before = state(spark)
    withConf(spark, unsetKey -> "true") { child =>
      assert(child.conf.get(unsetKey) === "true")
      assert(!isSet(unsetKey), "the scope set the key on the parent")
    }
    assert(stateDiff(before, state(spark)).isEmpty)
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
    val before = state(spark)
    val e = intercept[IllegalStateException] {
      withConf(spark, unsetKey -> "true", key -> "1") { _ =>
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(stateDiff(before, state(spark)).isEmpty)
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
    assert(!state(spark)("temp views").contains("conf_scope_child_view"))
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

  /** Every query that left state in its caller before each query ran on
    * its own child, and has no scope site or memory sink of its own
    * (q328 is in [[memorySinks]]): catalog registrations, temp views,
    * temporary functions (q271) and session variables (q272). q19 and
    * q129 register the same `customer` and `orders` views as q126, and
    * q266 and q327 the same catalogs as q263 and q321.
    */
  private val leakers = Seq(
    "q19_correlated_subquery", "q26_grouping_sets", "q125_reachability_cte",
    "q126_lateral_topk", "q129_ordered_set_agg", "q164_conversion_latency",
    "q165_sql_frontdoor", "q223_dsv2_stream", "q263_catalog_function",
    "q264_catalog_delete", "q266_governed_view", "q267_procedure_land",
    "q268_sql_pipe", "q269_merge_into", "q271_sql_udf", "q272_session_variables",
    "q297_not_in_nulls", "q321_sql_time_travel", "q323_versioned_stream_sink",
    "q326_stream_table_compaction", "q327_sql_table_history", "q330_sql_rollback",
    "q331_sql_multitable_snapshot", "q338_mixed_format_feed", "q339_release_tags",
    "q351_branch_subscriber", "q354_sql_branch_read", "q355_snapshot_expiry",
    "q358_sql_estate_procs", "q362_parameterized_sql", "q370_sql_merge_proc",
    "q382_atomic_rtas", "q384_sql_cow_delete", "q390_sql_insert",
    "q391_replace_where", "q392_sql_update")

  /** Queries that read the reference article corpus (ROADMAP item 0) and
    * may throw where it is absent; their caller must still come back. */
  private val corpusReaders = Set("q223_dsv2_stream", "q261_dsv2_partitioned_join",
    "q263_catalog_function", "q264_catalog_delete", "q266_governed_view",
    "q267_procedure_land", "q269_merge_into")

  /** Runs `q` on a fresh caller session and fails if the caller's state
    * differs afterwards; returns the run, which may have thrown. */
  private def assertLeavesState(q: String, dir: String): Try[Long] = {
    val caller = spark.newSession()
    val before = state(caller)
    val run = Try(SparkEntry.queries(q)(caller, dir).count())
    val leaked = stateDiff(before, state(caller))
    assert(leaked.isEmpty, s"$q on $dir changed its caller's session:\n${leaked.mkString("\n")}")
    run
  }

  private def check(q: String): Unit = {
    val run = assertLeavesState(q, sf0001)
    if (!corpusReaders(q)) run.get
  }

  scoped.foreach { q =>
    test(s"$q leaves the session conf as it found it")(check(q))
  }

  memorySinks.foreach { q =>
    test(s"$q leaves the session conf and temp views as it found it")(check(q))
  }

  leakers.foreach { q =>
    test(s"$q leaves the session as it found it")(check(q))
  }

  test("a query that throws leaves the session conf as it found it") {
    val missing = tempDir("graft_conf_missing") + "/no_such_dataset"
    assert(assertLeavesState("q246_catalog_stats", missing).isFailure,
      "q246 ran on a dataset directory that does not exist")
  }
}
