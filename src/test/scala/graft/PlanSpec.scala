package graft

import scala.jdk.CollectionConverters._
import graft.GraftSession.withConf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, expr, lit}

/** Physical-plan shape assertions — the scale posture is part of the
  * contract, not an accident of the optimizer's mood. Each test pins a
  * plan property that must survive refactors: pushdown reaching the scan,
  * dimensions broadcasting, top-k avoiding global sorts, aggregations
  * staying partial.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String, s: SparkSession = spark): String =
    SparkEntry.queries(name)(s, sf0001).queryExecution.executedPlan.toString

  test("q246 join broadcasts ONLY because ANALYZE ran (catalog stats + CBO)") {
    import org.apache.spark.sql.functions._
    // the registered query, not yet run: its executed plan is the adaptive
    // plan's initial (static, pre-AQE) plan — the decision catalog stats
    // move to plan time; AQE could rescue the no-stats case only after the
    // first shuffle is already laid out. Building it lands and ANALYZEs
    // the catalog tables (idempotent per session+dataset).
    val withStats = SparkEntry.queries("q246_catalog_stats")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(withStats.contains("BroadcastHashJoin"),
      s"ANALYZE'd plan did not broadcast the week-filtered orders:\n$withStats")
    val db = "graft_cat_" + sf001.replaceAll("[^A-Za-z0-9]", "_")
    // a twin of orders with identical data but NO catalog statistics
    if (!spark.catalog.tableExists(s"$db.orders_nostats"))
      spark.table(s"$db.orders").write.saveAsTable(s"$db.orders_nostats")
    withConf(spark, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (16 * 1024).toString) { spark =>
      val o = spark.table(s"$db.orders_nostats")
        .filter(col("o_orderdate") >= lit("1996-03-01").cast("date") &&
          col("o_orderdate") <= lit("1996-03-07").cast("date"))
      val noStats = spark.table(s"$db.lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_linestatus")).agg(count(lit(1)).as("n"))
        .queryExecution.sparkPlan.toString
      assert(!noStats.contains("BroadcastHashJoin") &&
        noStats.contains("SortMergeJoin"),
        s"un-analyzed twin broadcast without stats (contrast lost):\n$noStats")
    }
  }

  test("q02 pushes predicates and prunes columns at the parquet scan") {
    val p = plan("q02_filter_pushdown")
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(p_size,15"),
      s"predicates not pushed:\n$p")
    assert(!p.contains("p_retailprice"), "unprojected column read from scan")
  }

  test("q10 broadcasts the customer dimension") {
    val p = plan("q10_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
  }

  test("q40 global top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q40_topk_global")
    assert(p.contains("TakeOrderedAndProject"), s"top-k compiled to a sort:\n$p")
  }

  test("q01 aggregation is two-phase (map-side partial)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation:\n$p")
  }

  test("q12 semi join stays a join, not a subquery re-scan") {
    val p = plan("q12_join_semi")
    assert(p.contains("LeftSemi"), s"no semi join:\n$p")
  }

  test("q56 explode/count reads only the text column and aggregates partially") {
    val p = plan("q56_explode_tokens")
    assert(p.contains("Generate explode"), s"no generate:\n$p")
    assert(p.contains("ReadSchema: struct<text:string>"), s"scan not pruned to text:\n$p")
    assert(p.contains("partial_count"), s"no map-side partial aggregation:\n$p")
  }

  test("q80 dot products use the native graft_dot expression") {
    val p = plan("q80_ann_bruteforce")
    assert(p.contains("graft_dot"), s"native expression not in plan:\n$p")
  }

  test("q80 broadcasts the 10-row query set, streams the corpus") {
    val p = plan("q80_ann_bruteforce")
    val bx = p.indexOf("BroadcastExchange")
    assert(bx >= 0, s"no broadcast exchange:\n$p")
    // the vec_id<10 query filter must live UNDER the exchange (build side);
    // the streamed side must be the unfiltered corpus scan
    assert(p.substring(bx).contains("LessThan(vec_id,10)"),
      s"broadcast side is not the query relation:\n$p")
    assert(!p.substring(0, bx).contains("LessThan(vec_id,10)"),
      s"query filter on the streamed side — corpus is being broadcast:\n$p")
  }

  test("q66 tfidf joins the 1-row corpus count by broadcast") {
    val p = plan("q66_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"corpus count not broadcast:\n$p")
  }

  test("q87 bigram top-20 is TakeOrderedAndProject, not a global sort") {
    val p = plan("q87_bigram_lm")
    assert(p.contains("TakeOrderedAndProject"), s"top-k compiled to a sort:\n$p")
  }

  test("q89 vocab sizes broadcast; overlap join shuffles on token only") {
    val p = plan("q89_vocab_overlap")
    assert(p.contains("BroadcastHashJoin"), s"sizes dim not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs stage present:\n$p")
  }

  test("q07 six-way star join broadcasts dims and never degenerates") {
    val p = plan("q07_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"join degenerated:\n$p")
  }

  test("q49 merge applies the changeset through one full-outer key join") {
    val p = plan("q49_merge_upsert")
    assert(p.contains("FullOuter"), s"no full-outer merge join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"merge degenerated to an unkeyed join:\n$p")
  }

  test("q75 LSH candidate generation has no all-pairs stage") {
    val p = plan("q75_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"all-pairs stage in LSH plan:\n$p")
  }

  test("q37 sessionize reuses one (user_id) shuffle for both window passes") {
    val p = plan("q37_window_sessionize")
    // lag/new_s and the running sum share partitioning+ordering, so the
    // planner must emit a single sort+exchange feeding both Window nodes
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 2, s"extra shuffles for shared window spec ($exchanges):\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size >= 1, s"no window node:\n$p")
  }

  test("q119 skyline dominance join keys on brand, never all-pairs") {
    val p = plan("q119_pareto_frontier")
    // the dominance test must ride as a residual on a brand-keyed join —
    // a BNLJ/cartesian here is the Θ(n²) global-skyline shape that dies
    // at any real catalog size
    assert(p.contains("LeftAnti"), s"no anti join:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"skyline degenerated to all-pairs:\n$p")
  }

  test("q144 binned interval join is a hash join, not a nested loop") {
    val p = plan("q144_interval_bin_join")
    // the whole point of the bin quantization: the naive BETWEEN spelling
    // plans as BroadcastNestedLoopJoin; the binned one must be an equi
    // hash join with the containment as a residual filter
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"interval join not an equi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join degenerated to a nested loop:\n$p")
  }

  test("q141 heavy hitters recount is a broadcast semi join") {
    val p = plan("q141_heavy_hitters")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate recount not a broadcast semi join:\n$p")
  }

  test("q167 composes TWO native as-of merges, no window buffers") {
    val p = plan("q167_nearest_event")
    val merges = "AsOfJoin".r.findAllIn(p).size
    assert(merges >= 2, s"expected both directions through AsOfJoinExec:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"nearest-event degenerated to all-pairs:\n$p")
  }

  test("q189 Q21 shape keeps semi+anti on one l_orderkey partitioning") {
    // force the at-scale posture: no leg fits in a broadcast
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val p = plan("q189_sole_supplier", spark)
      assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
        s"missing semi/anti joins:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"residual <> degenerated to a nested loop:\n$p")
      // the probe leg must shuffle+sort on l_orderkey exactly ONCE and then
      // ride through semi -> anti -> orders join (SMJ preserves the streamed
      // side's layout); a second l_orderkey exchange or sort means the fact
      // is being re-shuffled between the legs
      assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size == 1,
        s"probe re-shuffles on l_orderkey:\n$p")
      assert("Sort \\[l_orderkey".r.findAllIn(p).size == 1,
        s"probe re-sorts on l_orderkey:\n$p")
      // supplier name lookup must stay broadcast (hinted) even at threshold -1
      assert(p.contains("BroadcastHashJoin"), s"supplier dim not broadcast:\n$p")
    }
  }

  test("q190 global-threshold scalar joins back by broadcast, facts never re-shuffle") {
    val p = plan("q190_important_parts")
    // the 1-row total must be the broadcast side of the filter join; the
    // per-part aggregate (the 100 TB-side relation) must not gain an extra
    // exchange beyond its own partial->final agg shuffle
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"global scalar not broadcast:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"per-part aggregate re-shuffles for the threshold filter:\n$p")
  }

  test("q191 Q13 shape: per-customer count rides the outer join's partitioning") {
    // at-scale posture: neither side of the outer join fits a broadcast
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val p = plan("q191_custdist", spark)
      // one exchange per join input; the per-customer count must reuse the
      // join's custkey layout (a second c_custkey exchange would re-shuffle
      // one row per customer between the join and its aggregate)
      assert("Exchange hashpartitioning\\(c_custkey".r.findAllIn(p).size == 1,
        s"per-customer count re-shuffles on c_custkey:\n$p")
      assert("Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1,
        s"orders side shuffles more than once:\n$p")
      assert(p.contains("LeftOuter"), s"outer join lost:\n$p")
    }
  }

  test("q192 Q17 shape: probe and per-part avg meet on one partkey exchange each") {
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val p = plan("q192_avg_yearly", spark)
      // the decorrelated scalar must JOIN on partkey, not re-execute per
      // row: exactly two partkey exchanges (probe leg + agg leg), with the
      // agg's output partitioning feeding the join directly
      assert("Exchange hashpartitioning\\((l_partkey|pk)".r.findAllIn(p).size == 2,
        s"fact shuffles more than once per leg on partkey:\n$p")
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"correlated avg degenerated to a nested loop:\n$p")
      // the part filter must stay a broadcast semi-join into the fact scans
      assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
        s"part filter not a broadcast semi-join:\n$p")
    }
  }

  test("q193 Q20 shape: both scalar subqueries collapse into ONE pair-key aggregate") {
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val p = plan("q193_concentrated_suppliers", spark)
      // the 1995 and all-time sums share one (l_partkey, l_suppkey)
      // exchange — a second fact-sized shuffle would mean the subqueries
      // didn't fuse; the only other hash exchange is the sliver-sized
      // supplier distinct
      assert("Exchange hashpartitioning\\(l_partkey#\\d+L?, l_suppkey".r.findAllIn(p).size == 1,
        s"pair aggregate shuffles the fact more than once:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        s"unexpected extra shuffle:\n$p")
      // part filter and supplier name lookup ride broadcasts (hinted)
      assert(p.contains("BroadcastHashJoin"), s"dimension not broadcast:\n$p")
    }
  }

  test("q161 RFM scores carry no unpartitioned window; anchor date stays in-plan") {
    val p = plan("q161_rfm_segments")
    // every rank window must be partitioned (by the range-partition id) —
    // a Window node with an empty partition spec serializes one row per
    // customer through a single task, the round-5 scale complaint
    val unpartitioned = p.linesIterator.filter(_.contains("Window ["))
      .filterNot(_.contains("[pid")).toList
    assert(unpartitioned.isEmpty,
      s"global single-task window(s) in q161:\n${unpartitioned.mkString("\n")}\n$p")
    assert(!p.contains("ntile("), s"ntile window survived the rewrite:\n$p")
  }

  test("q126 lateral subquery decorrelates to one rank pass, no re-execution") {
    val p = plan("q126_lateral_topk")
    // Catalyst must rewrite the per-customer LIMIT subquery into a
    // window/rank over one join — a correlated re-execution (or an
    // unkeyed join) would scan orders once per customer
    assert("\\bWindow\\b".r.findAllIn(p).size >= 1 || p.contains("row_number"),
      s"lateral not decorrelated to a rank pass:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lateral degenerated to all-pairs:\n$p")
  }

  test("q196 Q18 shape: one lineitem exchange, the big-order sliver broadcasts") {
    val p = plan("q196_big_orders")
    // the quantity rollup is lineitem's ONLY shuffle; the >300 survivors
    // (~1 per 1.5M lineitems at any TPC-H SF) then broadcast into orders,
    // so the orders scan never shuffles at all
    assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size == 1,
      s"lineitem shuffles more than once on orderkey:\n$p")
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
      s"orders shuffled instead of receiving the broadcast sliver:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 is a global sort:\n$p")
  }

  test("q197 Q22 shape: scalar broadcasts, anti join shuffles each side once") {
    // at-scale posture: customer and orders are both facts
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val p = plan("q197_dormant_customers", spark)
      assert(p.contains("LeftAnti"), s"anti join lost:\n$p")
      assert("Exchange hashpartitioning\\(c_custkey".r.findAllIn(p).size == 1 &&
        "Exchange hashpartitioning\\(o_custkey".r.findAllIn(p).size == 1,
        s"anti join inputs shuffle more than once each:\n$p")
      // the 1-row (possum, poscnt) aggregate must reach every row as a
      // broadcast, never by re-executing the aggregation
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"global scalar not broadcast:\n$p")
    }
  }

  test("q198 Q2 shape: rank-1 window on ONE partkey exchange, dedup rides it") {
    val p = plan("q198_min_cost_supplier")
    // groupwise-min-with-ties as a per-part rank window: the fact shuffles
    // exactly once (the min-subquery join-back spelling costs four — the
    // price lands in the equi-key and both legs + dedup re-shuffle)
    assert("Exchange hashpartitioning\\(l_partkey".r.findAllIn(p).size == 1,
      s"fact shuffles more than once for the groupwise min:\n$p")
    val unpartitioned = p.linesIterator.filter(_.contains("Window ["))
      .filterNot(_.contains("l_partkey")).toList
    assert(unpartitioned.isEmpty, s"rank window lost its partitioning:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-100 is a global sort:\n$p")
  }

  test("q204 Q19 shape: equi-key extracted from the OR, never a nested loop") {
    val p = plan("q204_disjunctive_join")
    // p_partkey = l_partkey is common to all three disjuncts — Catalyst
    // must hash-join on it with the OR as residual; an all-pairs fallback
    // is the classic Q19 planner failure
    assert(p.contains("BroadcastHashJoin"), s"no hash join on the equi key:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"disjunctive condition degenerated to all-pairs:\n$p")
  }

  test("q204 broadcasts only the brand/size sliver of part, never the full dim") {
    val p = plan("q204_disjunctive_join")
    // the single-relation slice of the OR must sit BELOW the
    // BroadcastExchange: the forced hint exempts part from Spark's size
    // check, so an unfiltered broadcast ships (or OOMs on) the whole
    // 20M-row dimension at SF100 — TPC-H Q19's inferred part-side filter
    val bx = p.indexOf("BroadcastExchange")
    assert(bx >= 0, s"no broadcast exchange:\n$p")
    val build = p.substring(bx)
    assert(build.contains("Brand#1") && build.contains("p_size"),
      s"part-side disjunction not pushed below the broadcast exchange:\n$p")
    // ...and reach the part parquet scan as a pushed Or filter
    assert(build.contains("PushedFilters") &&
      "Or\\(.*p_brand,Brand#1".r.findFirstIn(build).isDefined,
      s"brand/size sliver not pushed into the part scan:\n$p")
    // the lineitem side keeps its quantity envelope at its own scan
    val stream = p.substring(0, bx)
    assert("GreaterThanOrEqual\\(l_quantity,1".r.findFirstIn(stream).isDefined,
      s"quantity envelope not pushed into the lineitem scan:\n$p")
  }

  test("q205 Q15 shape: the revenue view's exchange is built once and reused") {
    // exchange reuse is an AQE runtime decision — execute, then read the
    // FINAL adaptive plan (the initial plan prints both subtrees)
    val df = SparkEntry.queries("q205_top_supplier")(spark, sf0001)
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    val p = whole.split("== Initial Plan ==").head
    // the max leg must read the SAME shuffle, not re-scan the fact: one
    // materialized suppkey exchange, the second a ReusedExchange of it
    assert(p.contains("ReusedExchange"),
      s"global-max leg recomputes the revenue view:\n$whole")
    val real = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning(l_suppkey"))
      .filterNot(_.contains("ReusedExchange")).size
    assert(real == 1, s"revenue view materialized $real suppkey shuffles:\n$whole")
  }

  test("q207 Q3 shape: per-order rollup rides the join's orderkey layout") {
    // at-scale posture: the kept orders don't fit a broadcast
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val p = plan("q207_shipping_priority", spark)
      // one exchange per join input, and NO third exchange between the
      // join and the per-order aggregate (group key ⊇ join key)
      assert("Exchange hashpartitioning\\(l_orderkey".r.findAllIn(p).size == 1 &&
        "Exchange hashpartitioning\\(o_orderkey".r.findAllIn(p).size == 1,
        s"per-order rollup re-shuffles after the join:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"top-10 is a global sort:\n$p")
    }
  }

  test("q211 Q10 shape: revenue aggregates to custkey before the enrichment") {
    val p = plan("q211_returned_items")
    // the custkey rollup must sit BELOW the customer join in the plan —
    // aggregating after enrichment would shuffle the wide customer row
    // with every lineitem
    val aggIdx = p.indexOf("HashAggregate(keys=[o_custkey")
    val joinIdx = "Join \\[o_custkey".r.findFirstMatchIn(p).map(_.start).getOrElse(-1)
    assert(aggIdx >= 0, s"no custkey-grain aggregate:\n$p")
    assert(joinIdx >= 0 && joinIdx < aggIdx,
      s"customer enrichment did not stay above the rollup:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 is a global sort:\n$p")
  }

  test("q200 LM scoring join meets the model on the bigram key, not broadcast") {
    // at-scale posture: a web-scale bigram table fits no executor —
    // the scoring join must stay a shuffle join keyed on (w1, w2)
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") { spark =>
      val p = plan("q200_lm_fluency", spark)
      val joinLine = p.linesIterator.find(l =>
        l.contains("Join") && l.contains("w1") && l.contains("w2"))
      assert(joinLine.exists(l => !l.contains("Broadcast")),
        s"LM table broadcast — dies at corpus scale:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 4,
        s"aggregations not two-phase:\n$p")
    }
  }

  test("q201 DSIR feature tables broadcast; scoring never shuffles tokens twice") {
    val p = plan("q201_importance_weights")
    // the 4096-bucket feature table reaches the token stream as a
    // broadcast — map-side scoring, then ONE doc-keyed aggregation
    assert(p.contains("BroadcastHashJoin"),
      s"feature table not broadcast into the token stream:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 is a global sort:\n$p")
  }

  test("q173 skew diagnostic ranks nothing globally: top-5 is TakeOrdered") {
    val p = plan("q173_join_cardinality")
    assert(!p.contains("Window"), s"global rank window over the histogram:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-5 keys not a distributed top-k:\n$p")
  }

  test("q203 ORC read-back pushes the predicate and prunes columns") {
    val p = plan("q203_orc_roundtrip")
    assert(p.contains("Format: ORC") || p.contains("orc"), s"not an ORC scan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(lang), Not(EqualTo(lang,zh))]"),
      s"lang predicate not pushed into the ORC reader:\n$p")
    assert(!p.contains("doc_id"), s"unprojected column read from ORC scan:\n$p")
  }

  test("q240 fuzzy join is ONE equi join on the variant key, never all-pairs") {
    val p = plan("q240_fuzzy_join")
    // FastSS's whole point: candidates come from an equi join on the
    // deletion-variant key with levenshtein only as a residual
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join degenerated to all-pairs:\n$p")
    assert(p.contains("levenshtein"), s"no exact verification residual:\n$p")
    val joins = "BroadcastHashJoin|SortMergeJoin".r.findAllIn(p).size
    assert(joins == 1,
      s"expected exactly one candidate join, got $joins (duplicated subtree?):\n$p")
  }

  test("q241 sweep line rides ONE type-keyed exchange into the running sum") {
    val p = plan("q241_max_concurrency")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"sweep line re-shuffles:\n$p")
    assert("\\bWindow\\b".r.findAllIn(p).size == 1, s"no running-sum window:\n$p")
    assert(!p.contains("Join"), s"interval overlap planned as a join:\n$p")
  }

  test("q233 star join prunes fact partitions DYNAMICALLY from the dim filter") {
    // the registered query has NO static predicate on the partition
    // column — if Catalyst's PartitionPruning rule doesn't inject the
    // dynamicpruning# subquery into the fact scan's PartitionFilters,
    // the scan reads all ~80 ship months and this pin fails
    val df = SparkEntry.queries("q233_dpp_star")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n$p")
    assert(p.contains("PartitionFilters") && p.contains("l_ship_ym"),
      s"partition filter not on the layout column:\n$p")
    // run it, then read the fact scan's own metrics: the pruned scan
    // must report having read FEWER partitions than the layout holds
    // (1997's 12 ship months of ~80) — plan-string evidence alone could
    // mask a filter that never actually prunes
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    val fact = scans(df.queryExecution.executedPlan)
      .find(_.metadata.getOrElse("Location", "").contains("graft_dpp_"))
    assert(fact.isDefined, s"fact scan not found in executed plan:\n$p")
    val readPartitions = fact.get.metrics("numPartitions").value
    val layout = java.nio.file.Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_dpp_" +
        s"${spark.sparkContext.applicationId}_" +
        sf0001.replaceAll("[^A-Za-z0-9.-]", "_"))
    val stream = java.nio.file.Files.list(layout)
    val totalPartitions =
      try stream.iterator().asScala.count(
        _.getFileName.toString.startsWith("l_ship_ym="))
      finally stream.close()
    // ≤12 of 1997's months carry urgent orders at this SF (11 at
    // sf0.001); the layout holds the full 1995-2001 range (~80 dirs)
    assert(readPartitions > 0 && readPartitions <= 12 &&
      totalPartitions > 4 * readPartitions,
      s"DPP did not prune: read $readPartitions of $totalPartitions partitions")
  }

  test("q298 range-join rewrite flips nested-loop to a binned hash join, rows identical") {
    val key = "spark.graft.rangejoin.bin"
    import graft.operators.ScalePatterns
    def planOf(w: String): (String, Seq[org.apache.spark.sql.Row]) =
      withConf(spark, key -> w) { spark =>
        val df = ScalePatterns.q298Query(spark, sf0001)
        (df.queryExecution.executedPlan.toString, df.collect().toSeq)
      }
    val (off, rowsOff) = planOf("0")
    assert(off.contains("NestedLoopJoin"),
      s"without the rule the pure range join must nested-loop:\n$off")
    val (on, rowsOn) = planOf("3600")
    assert(!on.contains("NestedLoopJoin"), s"rule left a nested loop:\n$on")
    assert(on.contains("HashJoin"), s"expected a binned hash join:\n$on")
    assert(on.contains("graft_pbin") || on.contains("graft_ibin"),
      s"bin columns missing from the rewritten plan:\n$on")
    // the rewrite changed the plan, not the answer
    assert(rowsOn == rowsOff,
      s"row mismatch: on=${rowsOn.take(3)} off=${rowsOff.take(3)}")
  }

  test("range-join rewrite also covers half-open (strict) interval bounds") {
    // the idiomatic [start, end) spelling: strict upper bound. Candidate
    // completeness only needs bin monotonicity, so the rule must fire
    // and the residual must apply the strictness exactly
    val key = "spark.graft.rangejoin.bin"
    def run(w: String) =
      withConf(spark, key -> w) { spark =>
        val camp = spark.range(50).select(col("id").as("campaign_id"),
          expr("timestamp_seconds(1704067200 + id * 50220)").as("c_start"),
          expr("timestamp_seconds(1704067200 + id * 50220 + 18000)").as("c_end"))
        val df = Tables.events(spark, sf0001)
          .join(camp, col("ts") >= col("c_start") && col("ts") < col("c_end"))
          .groupBy(col("campaign_id")).agg(count(lit(1)).as("n"))
          .orderBy(col("campaign_id"))
        (df.queryExecution.executedPlan.toString, df.collect().toSeq)
      }
    val (off, rowsOff) = run("0")
    val (on, rowsOn) = run("3600")
    assert(off.contains("NestedLoopJoin"), s"expected NLJ without the rule:\n$off")
    assert(!on.contains("NestedLoopJoin") && on.contains("HashJoin"),
      s"strict-bound range join did not rewrite:\n$on")
    assert(rowsOn == rowsOff)
  }

  test("q308 erasure cascade never sort-merge-joins: O(deleted) build sides broadcast") {
    val p = plan("q308_cascade_erasure")
    assert(!p.contains("SortMergeJoin"),
      s"a cascade hop shuffled the fact instead of broadcasting the key set:\n$p")
    // the three surviving-side scans each anti-join a broadcast key set,
    // and the two RI probes add two more
    assert("BroadcastHashJoin .*LeftAnti".r.findAllIn(p).size >= 5,
      s"expected broadcast anti joins down the FK chain:\n$p")
  }

  test("q305 mining broadcasts the anchor sample; the corpus streams once per side") {
    val p = plan("q305_hard_negatives")
    // qid =!= nid is the only join condition on the scored side — a
    // broadcast nested loop with the 20-anchor build side, never a
    // shuffled all-pairs
    assert(p.contains("BroadcastNestedLoopJoin"), s"anchors not broadcast:\n$p")
    // the positive-max side is O(anchors) rows and broadcasts too: the
    // only exchanges left are the per-anchor rank and the final order
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"mining degenerated to a shuffled all-pairs:\n$p")
  }

  test("q310 funnel shares ONE fingerprint exchange across its stages") {
    val p = plan("q310_curation_funnel")
    val fpShuffles = "hashpartitioning\\(fp_text".r.findAllIn(p).size
    val reused = "ReusedExchange".r.findAllIn(p).size
    // the dedup window's fp shuffle must be planned once and REUSED by the
    // later stages — a funnel that re-shuffles the corpus per stage would
    // be 3x the work at 100 TB
    assert(fpShuffles <= 1,
      s"fingerprint exchange duplicated $fpShuffles times (reused=$reused):\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"decontamination did not broadcast:\n$p")
  }

  test("q313 audit scan reads metadata and partition values, no data columns") {
    val p = plan("q313_small_files_audit")
    // ReadSchema must not include the data columns (doc_id, n_chars) —
    // the census is metadata-only
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(!read.contains("doc_id") && !read.contains("n_chars"),
      s"audit reads data columns: $read")
  }

  test("q30 top-3 per group runs under WindowGroupLimit, partial then final") {
    // the rank-filter idiom must not materialize whole per-group windows:
    // Spark's InferWindowGroupLimit turns `row_number ... WHERE rn <= 3`
    // into a per-partition top-3 BEFORE the shuffle (Partial) and again
    // after (Final) — each task keeps 3 rows per group, so the window
    // never sees more than shuffle-partitions × 3 rows per group at any
    // scale. If a refactor breaks the idiom (e.g. filters on a derived
    // column the rule can't see), this pin fails.
    val p = plan("q30_window_topn_group")
    assert(p.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$p")
    assert(p.contains("Partial") && p.contains("Final"),
      s"expected partial+final group-limit stages:\n$p")
  }
}
