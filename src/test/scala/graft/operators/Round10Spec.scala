package graft.operators

import graft.{SparkEntry, SparkSpec}
import graft.GraftSession.{rebind, withConf}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Round-10 contracts the DuckDB oracles can't see: file skipping actually
  * SKIPS files, vacuum actually reclaims the orphan directory, and the HLL
  * merge really is the register-wise max (not a recompute).
  */
class Round10Spec extends SparkSpec {

  test("q268 pipe syntax is pure front-end: same plan shape as the classic form") {
    val pipe = SparkEntry.queries("q268_sql_pipe")(spark, sf0001)
    val classic = pipe.sparkSession.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
        |FROM lineitem_v268
        |WHERE l_shipdate >= DATE '1996-01-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
    // same optimized operator SHAPE (EXTEND projects `rev` before the
    // aggregate where classic folds it in — same tree, same one
    // Sort/Aggregate/Project/Filter/Scan spine) and identical rows
    val shape = (df: org.apache.spark.sql.DataFrame) =>
      df.queryExecution.optimizedPlan.collect {
        case n => n.getClass.getSimpleName
      }
    assert(shape(pipe) == shape(classic),
      s"${shape(pipe)} vs ${shape(classic)}")
    assert(pipe.collect().toSeq == classic.collect().toSeq)
    val shuffles = pipe.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 2, // one for the agg, one for the final sort
      s"unexpected exchanges:\n${pipe.queryExecution.executedPlan}")
  }

  test("q251 file skipping prunes a strict subset of the landed files") {
    // run the query once so the layout + stats manifest are staged
    val out = SparkEntry.queries("q251_file_skipping")(spark, sf0001)
    assert(out.count() > 0)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_skip_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    val stats = spark.read.json(s"$dir/filestats")
    val total = stats.count()
    val matching = stats.filter(col("hi") >= 100L && col("lo") <= 299L).count()
    // the 100..299 slice of a 0..499 range layout must hit SOME files but
    // not most of them — the pruning is real, not a no-op or a full scan
    assert(matching > 0 && matching <= total / 2,
      s"manifest pruning degenerate: $matching of $total files match")
    // and the pruned read returns exactly what the unpruned filter does
    val pruned = out.agg(sum(col("n_docs"))).head().getLong(0)
    val full = graft.Tables.documents(spark, sf0001)
      .filter(col("doc_id").between(100L, 299L)).count()
    assert(pruned == full, s"pruned read lost rows: $pruned vs $full")
  }

  /** The executed plan of the registered query `q`, built and planned
    * under its own scope. */
  private def registeredPlan(q: String, d: String = sf0001): String =
    SparkEntry.queries(q)(spark, d).queryExecution.executedPlan.toString

  test("q253 bucketed join plans ZERO exchanges on the join inputs") {
    val p = registeredPlan("q253_bucketed_join")
    // the only hash exchange allowed is the groupBy's — both bucketed
    // join inputs must consume their write-time layout (executedPlan,
    // not sparkPlan: exchanges only exist after EnsureRequirements)
    val nExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(nExchanges == 1,
      s"bucketed join sides shuffled ($nExchanges exchanges):\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"unexpected join strategy:\n$p")
    assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
      s"scan not reading bucketed layout:\n$p")
    // one file per bucket → write-time sortBy satisfies the SMJ's
    // ordering requirement: no Sort below the join (the final orderBy's
    // Sort sits above the aggregate's exchange)
    val belowAgg = p.substring(p.indexOf("Exchange hashpartitioning"))
    assert(!belowAgg.contains("Sort "),
      s"bucketed sides re-sorted (multi-file buckets?):\n$p")
  }

  test("q254 min/max/count push to the parquet footer (no data pages read)") {
    val p = registeredPlan("q254_metadata_agg")
    assert(p.contains("PushedAggregation") && p.contains("COUNT(*)") &&
      p.contains("MIN(l_orderkey)") && p.contains("MAX(l_orderkey)"),
      s"aggregates not pushed to the footer scan:\n$p")
  }

  test("q258 CBO reorders the join tree to run the selective join first") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val db = ScalePatterns.catalogDb(spark, sf0001)
    // the written order: facts first, selective dim last
    def query(s: org.apache.spark.sql.SparkSession) = s.table(s"$db.lineitem")
      .join(s.table(s"$db.orders"), col("l_orderkey") === col("o_orderkey"))
      .join(s.table(s"$db.part").filter(col("p_size") === 1),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
    // tables under the INNERMOST join of the optimized logical plan
    def innermost(plan: LogicalPlan): Set[String] = {
      val joins = plan.collect { case j: Join => j } // pre-order: last = deepest
      joins.last.collectLeaves().flatMap {
        case r: LogicalRelation => r.catalogTable.map(_.identifier.table)
        case _ => None
      }.toSet
    }
    val asWritten = withConf(spark,
        "spark.sql.cbo.enabled" -> "false", "spark.sql.cbo.joinReorder.enabled" -> "false") {
      spark => innermost(query(spark).queryExecution.optimizedPlan)
    }
    val reordered = innermost(SparkEntry.queries("q258_cbo_join_reorder")(spark, sf0001)
      .queryExecution.optimizedPlan)
    assert(asWritten == Set("lineitem", "orders"),
      s"without CBO the written order must stand: $asWritten")
    assert(reordered == Set("lineitem", "part"),
      s"CBO did not move the selective join innermost: $reordered")
  }

  test("q259 injects a runtime bloom filter on the probe side") {
    val p = registeredPlan("q259_runtime_bloom_join")
    // the optimizer must have planted might_contain on the lineitem
    // (probe) side — rows drop BEFORE the shuffle
    assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
      s"no runtime bloom filter injected:\n$p")
    // and it must sit UNDER the probe side's exchange: the filter line
    // appears between the join and the probe shuffle in the tree
    val probeFilter = p.indexOf("might_contain")
    val probeExchange = p.lastIndexOf("Exchange hashpartitioning(l_orderkey",
      probeFilter)
    assert(probeExchange >= 0 && probeExchange < probeFilter,
      s"bloom filter not below the probe-side shuffle:\n$p")
  }

  test("q260 AQE marks and splits the skewed join at runtime") {
    // sf0.01: the per-key shuffle partitions must clear the 8KB skew
    // threshold (sf0.001's compressed partitions sit under it)
    val q = SparkEntry.queries("q260_aqe_skew_join")(spark, sf001)
    // run through the SAME execution whose adaptive plan we inspect
    assert(q.collect().length == 3)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("skew=true"),
      s"AQE did not mark the skewed join on the real tables:\n$p")
  }

  test("q257 z-order prunes on BOTH dimensions; a 1-D sort prunes on one") {
    val dir = ScalePatterns.zorderLayouts(spark, sf0001)
    def matched(layout: String, pred: org.apache.spark.sql.Column): Long =
      spark.read.json(s"$dir/${layout}_stats").filter(pred).count()
    val total = spark.read.json(s"$dir/zorder_stats").count()
    assert(total >= 16, s"expected a multi-file layout, got $total")
    // a suppkey-only box over the middle sixteenth of the domain
    val b = graft.Tables.lineitem(spark, sf0001)
      .agg(min(col("l_suppkey")), max(col("l_suppkey"))).head()
    val (slo, shi) = (b.getLong(0), b.getLong(1))
    val (sLo, sHi) =
      (slo + (shi - slo + 1) * 7 / 16, slo + (shi - slo + 1) * 8 / 16 - 1)
    val box = col("shi") >= sLo && col("slo") <= sHi
    val zMatch = matched("zorder", box)
    val kMatch = matched("keysort", box)
    // the 1-D partkey sort leaves every file spanning the full suppkey
    // domain — the suppkey predicate prunes (almost) nothing there, while
    // the z layout bounds suppkey per file and drops most of them
    assert(kMatch >= total - 1, s"1-D layout unexpectedly pruned: $kMatch of $total")
    assert(zMatch <= total / 2,
      s"z layout did not bound the second dimension: $zMatch of $total")
    // and the registered query's both-dim box reads a strict file subset
    // while returning exactly the unpruned filter's rows
    val out = graft.SparkEntry.queries("q257_zorder_skipping")(spark, sf0001)
      .head()
    val pb = graft.Tables.lineitem(spark, sf0001)
      .agg(min(col("l_partkey")), max(col("l_partkey"))).head()
    val (plo, phi) = (pb.getLong(0), pb.getLong(1))
    val (pLo, pHi) =
      (plo + (phi - plo + 1) * 7 / 16, plo + (phi - plo + 1) * 8 / 16 - 1)
    val expect = graft.Tables.lineitem(spark, sf0001)
      .filter(col("l_partkey").between(pLo, pHi) &&
        col("l_suppkey").between(sLo, sHi)).count()
    assert(out.getLong(0) == expect,
      s"z-skipped read lost rows: ${out.getLong(0)} vs $expect")
  }

  test("q249 vacuum removes the orphan dir and keeps all committed history") {
    SparkEntry.queries("q249_vacuum")(spark, sf0001).collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_vac_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/v=3")),
      "orphan v=3 survived the vacuum")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/v=1")) &&
      java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/v=2")),
      "vacuum touched committed history")
    // time travel to BOTH committed versions still works post-vacuum
    assert(graft.sources.VersionedManifest.readAt(spark, dir, 1).count() > 0)
    assert(graft.sources.VersionedManifest.readAt(spark, dir, 2).count() > 0)
  }

  test("q248 merged ALL registers equal the register-wise max of the groups") {
    // recompute the per-group registers independently and check the ALL
    // row's estimate equals the estimate over max-merged registers — the
    // mergeability claim itself, which the oracle only checks end-to-end
    val m = 64
    val df = graft.Tables.orders(spark, sf0001).select(
      col("o_orderpriority").as("grp"),
      expr("CAST(conv(substring(md5(concat('hll-', CAST(o_custkey AS STRING))), 1, 12), 16, 10) AS BIGINT)")
        .as("h"))
      .select(col("grp"), (col("h") % m).as("bucket"), expr(s"h div $m").as("rem"))
      .withColumn("rank",
        when(col("rem") === 0, lit(43)).otherwise(lit(43) - length(bin(col("rem")))))
    val perGroup = df.groupBy("grp", "bucket").agg(max("rank").as("reg"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    val direct = df.groupBy("bucket").agg(max("rank").as("reg"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val merged = perGroup.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._3).max }
    assert(merged == direct,
      "max-merge of per-group registers differs from direct registers")
    // and the registered query's ALL row reflects that merge
    val all = SparkEntry.queries("q248_hll_registers")(spark, sf0001)
      .filter(col("grp") === "ALL").head()
    assert(all.getLong(2) > 0, s"ALL estimate missing: $all")
  }

  test("q271 SQL functions are inlined by the analyzer (zero call overhead)") {
    val df = SparkEntry.queries("q271_sql_udf")(spark, sf0001)
    // ResolveSQLFunctions must rewrite both call sites to their bodies:
    // no function name survives into the optimized plan, so the executed
    // expressions are ordinary codegen'd decimal arithmetic + a generated
    // 10-row dimension — the plan a hand-written q01-style query gets
    val p = df.queryExecution.optimizedPlan.toString
    assert(!p.contains("graft_disc_price") && !p.contains("graft_size_bands"), p)
    val rows = df.collect()
    assert(rows.length == 10 && rows.map(_.getLong(3)).sum > 0)
  }

  test("q272 session variable folds to a literal: predicate reaches the scan") {
    val df = SparkEntry.queries("q272_session_variables")(spark, sf0001)
    // the cutoff bound via EXECUTE IMMEDIATE ... USING must behave exactly
    // like a hand-written constant: visible to the parquet reader as a
    // pushed filter, not evaluated post-scan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(o_orderdate"), p)
    assert(df.collect().length == 5)
  }

  test("q273 scripting loop converges to the closed-form width") {
    val rows = SparkEntry.queries("q273_sql_scripting")(spark, sf0001).collect()
    // quantity spans 1..50 → range 50; smallest power-of-two width with
    // ceil(50/w) <= 16 is 4, giving buckets 0..12
    assert(rows.forall(_.getLong(3) == 4L), rows.mkString(", "))
    assert(rows.map(_.getLong(0)).toSeq == (0L to 12L), rows.mkString(", "))
    // bucket_lo is the left edge: lo + bucket*width
    assert(rows.forall(r => r.getLong(1) == 1L + r.getLong(0) * 4L))
  }

  test("q274 waterfill hits the budget exactly and respects caps") {
    val levels = CorpusOps.q274Levels(spark, sf001).collect()
    val budget = levels.head.getAs[Long]("budget")
    val total = levels.head.getAs[Long]("total_tok")
    assert(budget == total * 3 / 5)
    val alloc = levels.map { r =>
      val sat = r.getAs[Long]("saturated") == 1L
      val n = r.getAs[Long]("n_tokens")
      val lamF = r.getAs[Double]("lam_final")
      val w = r.getAs[Long]("weight")
      val a = if (sat) n.toDouble else lamF * w
      // cap respected: nobody is allocated more than they have
      assert(a <= n + 1e-6, s"over-cap: $r")
      a
    }.sum
    // Σ min(n_i, λ·w_i) = B is the waterfill invariant — float-tight
    assert(math.abs(alloc - budget) < 1e-6 * budget,
      s"allocated $alloc vs budget $budget")
    // at a 60% budget with uneven weights both classes must be present
    assert(levels.exists(_.getAs[Long]("saturated") == 1L) &&
      levels.exists(_.getAs[Long]("saturated") == 0L))
  }

  test("q275 FIFO conservation: per part, matched total = min(shipped, returned)") {
    // the pair-level oracle proves pair-for-pair agreement with the
    // relational spelling; this pins the ALLOCATION invariant neither
    // spelling states explicitly — FIFO matching exhausts the smaller side
    val pairs = SparkEntry.queries("q275_fifo_matching")(spark, sf0001)
      .groupBy("partkey").agg(sum("qty_matched").as("m"))
    val totals = graft.Tables.lineitem(spark, sf0001)
      .groupBy(col("l_partkey").as("partkey"))
      .agg(
        sum(when(col("l_returnflag") =!= "R", col("l_quantity")).otherwise(0))
          .cast("long").as("shipped"),
        sum(when(col("l_returnflag") === "R", col("l_quantity")).otherwise(0))
          .cast("long").as("returned"))
    val bad = totals.join(pairs, Seq("partkey"), "left")
      .filter(coalesce(col("m"), lit(0L)) =!= least(col("shipped"), col("returned")))
    assert(bad.count() == 0, bad.collect().take(5).mkString(", "))
  }

  test("q277 catalog pin hides table-level commits until the catalog rename") {
    import graft.sources.{SnapshotCatalog, VersionedManifest => VM}
    import spark.implicits._
    val root = tempDir("graft_mtcat_spec")
    Seq((1L, "a")).toDF("k", "t").write.parquet(s"$root/tab/v=1")
    VM.commit(spark, s"$root/tab", 1, "v1")
    SnapshotCatalog.commit(spark, root, 1, Map("tab" -> 1L))
    // the update lands and commits AT TABLE LEVEL...
    Seq((1L, "a"), (2L, "b")).toDF("k", "t").write.parquet(s"$root/tab/v=2")
    VM.commit(spark, s"$root/tab", 2, "v2")
    // ...but catalog-governed readers stay on the old pin
    assert(SnapshotCatalog.latest(spark, root).contains(1L))
    assert(SnapshotCatalog.readAt(spark, root, 1, "tab").count() == 1)
    SnapshotCatalog.commit(spark, root, 2, Map("tab" -> 2L))
    assert(SnapshotCatalog.latest(spark, root).contains(2L))
    assert(SnapshotCatalog.readAt(spark, root, 2, "tab").count() == 2)
    // a catalog can never pin an uncommitted version
    intercept[IllegalStateException] {
      SnapshotCatalog.commit(spark, root, 3, Map("tab" -> 9L))
    }
    // and the q277 estate itself ends mid-update: catalog at 2 while the
    // documents table log is at 3
    SparkEntry.queries("q277_multitable_snapshot")(spark, sf0001).collect()
    val qroot = s"${System.getProperty("java.io.tmpdir")}/graft_mtcat_" +
      s"${spark.sparkContext.applicationId}_${sf0001.replaceAll("[^A-Za-z0-9.-]", "_")}"
    assert(SnapshotCatalog.latest(spark, qroot).contains(2L))
    assert(VM.latestCommitted(spark, s"$qroot/documents").contains(3L))
  }

  test("q280 MV rewrite swaps the scan; rows identical with and without") {
    ScalePatterns.mvLayout(spark, sf0001)
    def rollup() = graft.Tables.lineitem(spark, sf0001)
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_discount")).as("max_disc"))
      .orderBy(col("l_returnflag"))
    val without = rollup()
    val planOff = without.queryExecution.executedPlan.toString
    assert(planOff.contains("lineitem.parquet"), planOff)
    val offRows = without.collect().toSeq
    val (planOn, onRows) = withConf(spark, "spark.graft.mv.rewrite" -> "true") { spark =>
      val q = rebind(spark, rollup())
      (q.queryExecution.executedPlan.toString, q.collect().toSeq)
    }
    // the executed plan reads the SUMMARY, not the fact
    assert(planOn.contains("graft_mv") && !planOn.contains("lineitem.parquet"),
      planOn)
    // and the rewrite is invisible in the rows — including the exact
    // decimal sums (re-aggregation of partial decimal sums is associative)
    assert(onRows == offRows, s"$onRows vs $offRows")
  }

  test("q281 RI constraints eliminate both dimension joins from the wide view") {
    // running the registered query audits + declares the constraints
    SparkEntry.queries("q281_join_elimination")(spark, sf0001).collect()
    def wide() = {
      val li = graft.Tables.lineitem(spark, sf0001)
      val o = graft.Tables.orders(spark, sf0001)
      val p = graft.Tables.part(spark, sf0001)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(p, li("l_partkey") === p("p_partkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          graft.Exact.sumMoney(col("l_extendedprice")).as("gross"))
        .orderBy(col("l_returnflag"))
    }
    val off = wide()
    val planOff = off.queryExecution.executedPlan.toString
    assert(planOff.contains("orders.parquet") && planOff.contains("part.parquet"),
      planOff)
    val offRows = off.collect().toSeq
    val (planOn, onRows) = withConf(spark, "spark.graft.ri.eliminate" -> "true") { spark =>
      val q = rebind(spark, wide())
      (q.queryExecution.executedPlan.toString, q.collect().toSeq)
    }
    // both dimension scans are gone; only the fact remains
    assert(planOn.contains("lineitem.parquet") &&
      !planOn.contains("orders.parquet") && !planOn.contains("part.parquet"),
      planOn)
    assert(onRows == offRows, s"$onRows vs $offRows")
  }

  test("q278 bloom manifest prunes the files fingerprint min/max cannot") {
    SparkEntry.queries("q278_bloom_skipping")(spark, sf0001).collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_bskip_" +
      s"${spark.sparkContext.applicationId}_${sf0001.replaceAll("[^A-Za-z0-9.-]", "_")}"
    val probes = graft.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 101 === 7)
      .withColumn("md5col",
        md5(concat(lit("doc-"), col("doc_id").cast("string"))))
      .select(col("md5col").as("fp"), ScalePatterns.bloomBits("md5col").as("bits"))
      .collect().map(r => (r.getString(0), r.getSeq[Long](1)))
    val manifest = spark.read.json(s"$dir/bloom")
      .collect().map(r =>
        (r.getAs[String]("file"), r.getSeq[Long](r.fieldIndex("bits")).toSet))
    val bloomHits = manifest.count { case (_, bits) =>
      probes.exists(_._2.forall(bits.contains)) }
    // the bloom path reads a strict, non-empty subset of the layout
    assert(bloomHits > 0 && bloomHits < manifest.length,
      s"bloom hit $bloomHits of ${manifest.length}")
    // the control: per-file fingerprint MIN/MAX ranges — uniform hex keys
    // span every file, so a range manifest would read the whole layout
    val ranges = spark.read.parquet(s"$dir/data")
      .withColumn("md5col",
        md5(concat(lit("doc-"), col("doc_id").cast("string"))))
      .groupBy(input_file_name())
      .agg(min(col("md5col")).as("lo"), max(col("md5col")).as("hi"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    val rangeHits = ranges.count { case (lo, hi) =>
      probes.exists(p => p._1 >= lo && p._1 <= hi) }
    assert(rangeHits == ranges.length,
      s"min/max unexpectedly pruned: $rangeHits of ${ranges.length}")
  }

  test("q276 incremental index equals the full rebuild term-for-term") {
    // the oracle checks against DuckDB's direct v2 index; this pins the
    // same claim in-engine, with the rebuild computed from the version
    // predicate (v2 = doc_id % 10 != 4) rather than the CDC path
    val inc = SparkEntry.queries("q276_incremental_index")(spark, sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val reb = graft.Tables.documents(spark, sf0001)
      .filter(col("doc_id") % 10 =!= 4)
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => length(t) > 0)).as("term"))
      .distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 50).orderBy(col("term"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(inc.nonEmpty && inc == reb,
      s"${inc.take(3)}... vs ${reb.take(3)}... (${inc.length}/${reb.length})")
  }

  test("q275 two-pointer FIFO equals the unit-by-unit simulation (property)") {
    // independent model: expand each side into its unit stream, zip them
    // (k-th shipped unit meets k-th returned unit — the definition of
    // FIFO), and regroup; the production two-pointer must produce exactly
    // those pairs in staircase order
    val rnd = new scala.util.Random(11)
    (1 to 300).foreach { _ =>
      val qS = Array.fill(1 + rnd.nextInt(10))(1L + rnd.nextInt(8))
      val qR = Array.fill(1 + rnd.nextInt(10))(1L + rnd.nextInt(8))
      val got = Joins.fifoMatch(1L, qS, qR).toSeq
      val unitsS = qS.indices.flatMap(i => Seq.fill(qS(i).toInt)(i + 1L))
      val unitsR = qR.indices.flatMap(j => Seq.fill(qR(j).toInt)(j + 1L))
      val expected = unitsS.zip(unitsR).groupBy(identity).toSeq
        .map { case ((i, j), u) => (1L, i, j, u.size.toLong) }
        .sortBy(t => (t._2, t._3))
      assert(got == expected, s"qS=${qS.toSeq} qR=${qR.toSeq}")
    }
  }

  test("q274 waterfill KKT conditions hold on generated supplies/weights (property)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 10).foreach { _ =>
      val n = 4 + rnd.nextInt(5)
      val rows = (1 to n).map(i =>
        (s"s$i", 1L + rnd.nextInt(1000).toLong, 1L + rnd.nextInt(5).toLong))
      val levels = CorpusOps.waterfill(rows.toDF("source", "n_tokens", "weight"))
        .collect()
      val budget = levels.head.getAs[Long]("budget")
      val lamF = levels.collectFirst {
        case r if r.getAs[Long]("saturated") == 0L => r.getAs[Double]("lam_final")
      }.getOrElse(Double.PositiveInfinity)
      var total = 0.0
      levels.foreach { r =>
        val nTok = r.getAs[Long]("n_tokens")
        val w = r.getAs[Long]("weight")
        val sat = r.getAs[Long]("saturated") == 1L
        val a = if (sat) nTok.toDouble else lamF * w
        total += a
        assert(a <= nTok + 1e-9, s"over-cap in $rows: $r")
        // KKT: saturated sources sit at/below the water level, unsaturated
        // at/above it — the certificate that the split is optimal
        if (sat) assert(nTok <= lamF * w + 1e-9, s"sat above level: $r")
        else assert(nTok >= lamF * w - 1e-9, s"unsat below level: $r")
      }
      // the level exhausts the budget exactly (B < total supply always,
      // since B = 60% of it)
      assert(math.abs(total - budget) < 1e-6 * math.max(1.0, budget.toDouble),
        s"allocated $total vs budget $budget in $rows")
    }
  }

  test("q282 merge surfaces increment-only groups and folds min/max as identity") {
    // the oracle only checks the staged estate's end state; this pins the
    // full-outer merge semantics directly: a group present ONLY in the
    // increment appears with the stale side treated as identity (0 for
    // sum/cnt, absent for min/max), a stale-only group passes through
    // untouched, and an overlapping group adds sums and folds extrema
    import spark.implicits._
    val stale = Seq(
      ("A", "F", BigDecimal("10.00"), BigDecimal("100.00"), 2L, 3.0, 0.05),
      ("N", "O", BigDecimal("7.00"), BigDecimal("70.00"), 1L, 7.0, 0.02))
      .toDF("l_returnflag", "l_linestatus", "sum_qty", "sum_price", "cnt",
        "min_qty", "max_disc")
    val delta = Seq(
      ("A", "F", BigDecimal("5.00"), BigDecimal("50.00"), 1L, 1.0, 0.10),
      ("R", "X", BigDecimal("4.00"), BigDecimal("40.00"), 3L, 2.0, 0.08))
      .toDF("l_returnflag", "l_linestatus", "sum_qty", "sum_price", "cnt",
        "min_qty", "max_disc")
    val got = ScalePatterns.mergeMvIncrement(stale, delta)
      .orderBy(col("l_returnflag"), col("l_linestatus"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
      .toSeq
    assert(got == Seq(
      ("A", "F", 15.0, 150.0, 3L, 1.0, 0.10),  // overlap: add + fold
      ("N", "O", 7.0, 70.0, 1L, 7.0, 0.02),    // stale-only passthrough
      ("R", "X", 4.0, 40.0, 3L, 2.0, 0.08)),   // brand-new group
      got.mkString("\n"))
  }

  test("q284 optimistic commit: loser detects the conflict, rebases, and vacuum reclaims its attempt") {
    import graft.sources.{VersionedManifest => VM}
    import spark.implicits._
    val dir = graft.StagingDirs.register(
      s"${System.getProperty("java.io.tmpdir")}/graft_occ_spec_" +
        spark.sparkContext.applicationId)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def exists(p: String) =
      fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$p"))
    // base version via the POSITIONAL commit path
    Seq((1L, "base")).toDF("id", "who").write.mode("overwrite").parquet(s"$dir/v=1")
    VM.commit(spark, dir, 1, "base")
    // two writers race for slot 2, each staging its own unique dir
    Seq((2L, "a")).toDF("id", "who").write.mode("overwrite").parquet(s"$dir/d-a-1")
    Seq((3L, "b")).toDF("id", "who").write.mode("overwrite").parquet(s"$dir/d-b-1")
    assert(VM.tryCommit(spark, dir, 2, "data=d-a-1\na"), "first committer must win")
    assert(!VM.tryCommit(spark, dir, 2, "data=d-b-1\nb"),
      "second committer must see the conflict, not overwrite")
    // the lost attempt never became readable: version 2 resolves to A's dir
    assert(VM.readAt(spark, dir, 2).select("who").as[String].collect().toSeq == Seq("a"))
    // rebase: B re-tags under a fresh dir and claims slot 3
    Seq((3L, "b")).toDF("id", "who").write.mode("overwrite").parquet(s"$dir/d-b-2")
    assert(VM.tryCommit(spark, dir, 3, "data=d-b-2\nb rebased"))
    // vacuum reclaims ONLY the unreferenced attempt; committed dirs and
    // the positional v=1 survive, and every committed version still reads
    VM.vacuum(spark, dir)
    assert(!exists("d-b-1"), "lost attempt's staging dir must be reclaimed")
    assert(exists("d-a-1") && exists("d-b-2") && exists("v=1"))
    assert(VM.committedVersions(spark, dir) == Seq(1L, 2L, 3L))
    assert(VM.readLatest(spark, dir).select("who").as[String].collect().toSeq == Seq("b"))
    assert(VM.readAt(spark, dir, 1).select("who").as[String].collect().toSeq == Seq("base"))
  }

  test("q285 partition evolution prunes each layout leg by its own spec") {
    val dir = ScalePatterns.q285Estate(spark, sf0001)
    val df = ScalePatterns.q285Read(spark, dir, "2001-08-01", "2001-10-15")
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(pl: SparkPlan): Seq[FileSourceScanExec] = pl match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scans)
    }
    def dirs(sub: String): Int = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir, sub))
      try st.iterator().asScala.count(_.getFileName.toString.contains("="))
      finally st.close()
    }
    val all = scans(df.queryExecution.executedPlan)
    def readOf(leg: String): Long = {
      val sc = all.find(_.metadata.getOrElse("Location", "").contains(leg))
      assert(sc.isDefined, s"$leg scan missing")
      sc.get.metrics("numPartitions").value
    }
    // month leg: the range touches 2001-08..2001-10, but the month layout
    // ends at 2001-09 — 2 dirs read of the ~80 the history holds
    val (mRead, mAll) = (readOf("bymonth"), dirs("bymonth"))
    assert(mRead == 2 && mAll > 60, s"month leg read $mRead of $mAll")
    // day leg: exactly the days of [2001-10-01, 2001-10-15) that EXIST in
    // the layout (sparse at sf0.001 — not every day shipped), never more
    val st2 = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "byday"))
    val inRange =
      try st2.iterator().asScala.map(_.getFileName.toString)
        .count(n => n >= "l_ship_day=2001-10-01" && n < "l_ship_day=2001-10-15")
      finally st2.close()
    val (dRead, dAll) = (readOf("byday"), dirs("byday"))
    assert(dRead == inRange && inRange > 0 && dAll > 2 * dRead,
      s"day leg read $dRead, expected $inRange of $dAll")
    // and the union is exact despite the coarsened month predicate
    val expected = graft.Tables.lineitem(spark, sf0001)
      .filter(col("l_shipdate") >= lit("2001-08-01").cast("date") &&
        col("l_shipdate") < lit("2001-10-15").cast("date")).count()
    assert(df.count() == expected)
  }

  test("q287 publishes one file per shard dir and the manifest covers the whole corpus") {
    val res = SparkEntry.queries("q287_shard_publish")(spark, sf0001).collect()
    assert(res.nonEmpty && res.length <= 16)
    val dataDir = java.nio.file.Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_shards_" +
        s"${spark.sparkContext.applicationId}_" +
        sf0001.replaceAll("[^A-Za-z0-9.-]", "_"), "data")
    val st = java.nio.file.Files.list(dataDir)
    val shardDirs =
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("shard=")).toSeq
      finally st.close()
    assert(shardDirs.size == res.length, s"${shardDirs.size} dirs vs ${res.length} manifest rows")
    shardDirs.foreach { sd =>
      val st2 = java.nio.file.Files.list(dataDir.resolve(sd))
      val parts =
        try st2.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
        finally st2.close()
      assert(parts == 1, s"$sd has $parts part files, expected 1")
    }
    // nothing dropped or duplicated by the publish
    assert(res.map(_.getLong(1)).sum ==
      graft.Tables.documents(spark, sf0001).count())
  }

  test("q288 deletion vectors never rewrite the base, and the subtract is a broadcast anti join") {
    import java.nio.file.{Files, Paths}
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dv_spec_" +
      spark.sparkContext.applicationId
    graft.StagingDirs.register(dir)
    val docs = graft.Tables.documents(spark, sf0001)
    docs.repartition(4).write.mode("overwrite").parquet(s"$dir/base")
    def baseStats(): Map[String, (Long, Long)] = {
      val st = Files.list(Paths.get(dir, "base"))
      try st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis))
        .toMap
      finally st.close()
    }
    val before = baseStats()
    val pred =
      expr("CAST(conv(substring(md5(concat('del-', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 20 = 0")
    spark.read.parquet(s"$dir/base")
      .select(col("_metadata.file_path").as("f"),
        col("_metadata.row_index").as("r"), col("doc_id"))
      .filter(pred).select(col("f"), col("r"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/dv")
    // the merge-on-read contract: the delete wrote ONLY the sidecar
    assert(baseStats() == before, "base files changed under a MoR delete")
    val dv = spark.read.parquet(s"$dir/dv")
    assert(dv.count() == docs.filter(pred).count(), "DV must hold exactly the matched rows")
    val live = spark.read.parquet(s"$dir/base")
      .withColumn("f", col("_metadata.file_path"))
      .withColumn("r", col("_metadata.row_index"))
      .join(broadcast(dv), Seq("f", "r"), "left_anti")
    val plan = live.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"DV subtract is not a broadcast anti join:\n$plan")
    // and the MoR view equals the logical delete
    assert(live.count() == docs.filter(!pred).count())
  }

  test("q292 rollback is a pointer move: forensic history intact, zero bytes copied") {
    import graft.sources.{VersionedManifest => VM}
    SparkEntry.queries("q292_snapshot_rollback")(spark, sf0001).collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_rollback_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    // the bad version is still time-travelable for forensics
    val nDocs = graft.Tables.documents(spark, sf0001).count()
    assert(VM.readAt(spark, dir, 2).count() == 2 * nDocs)
    // the rollback re-POINTED, it did not copy: v3 resolves to v1's dir
    assert(VM.resolveDataDir(spark, dir, 3) == VM.resolveDataDir(spark, dir, 1))
    assert(VM.readLatest(spark, dir).count() == VM.readAt(spark, dir, 1).count())
  }

  test("q296 compaction absorbs the DV: plain scan after, anti join only before") {
    SparkEntry.queries("q296_dv_compaction")(spark, sf0001).collect()
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_dvcomp_" +
      s"${spark.sparkContext.applicationId}_" +
      sf0001.replaceAll("[^A-Za-z0-9.-]", "_")
    // before: the MoR view needs the broadcast anti join
    val before = ScalePatterns.morView(spark, dir)
      .queryExecution.executedPlan.toString
    assert(before.contains("LeftAnti"), s"MoR view lost its DV subtract:\n$before")
    // after: the compacted latest is a PLAIN scan — no join at all
    val after = graft.sources.VersionedManifest.readLatest(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!after.contains("Join"), s"compacted read still joins:\n$after")
    // and both spell the same rows
    assert(ScalePatterns.morView(spark, dir).count() ==
      graft.sources.VersionedManifest.readLatest(spark, dir).count())
  }

  test("q300 column rename rewrites nothing: the old generation is byte-identical") {
    import java.nio.file.{Files, Paths}
    import graft.sources.{VersionedManifest => VM}
    import spark.implicits._
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_colmap_spec_" +
      spark.sparkContext.applicationId
    graft.StagingDirs.register(dir)
    Seq((1L, 10L, "s1"), (2L, 20L, "s2")).toDF("doc_id", "n_chars", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v=1")
    VM.commit(spark, dir, 1, "map=char_count:n_chars\ninitial")
    def stats(): Map[String, (Long, Long)] = {
      val st = Files.list(Paths.get(dir, "v=1"))
      try st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString ->
          (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally st.close()
    }
    val before = stats()
    Seq((3L, 30L, "s1")).toDF("doc_id", "char_count", "source")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/v=2")
    VM.commit(spark, dir, 2, "map=char_count:char_count\nrename + append")
    assert(stats() == before, "rename must not touch generation-1 files")
    // the mapped union resolves both physical names to the logical one
    val mapped = Seq(1L, 2L).map { n =>
      val m = VM.describe(spark, dir, n).linesIterator
        .filter(_.startsWith("map=")).map(_.stripPrefix("map="))
        .map { kv => val Array(lg, ph) = kv.split(":", 2); lg -> ph }.toMap
      m.foldLeft(VM.readAt(spark, dir, n)) { case (df, (lg, ph)) =>
        if (lg == ph) df else df.withColumnRenamed(ph, lg)
      }
    }.reduce(_ unionByName _)
    assert(mapped.columns.contains("char_count") && !mapped.columns.contains("n_chars"))
    assert(mapped.agg(sum(col("char_count"))).head.getLong(0) == 60L)
  }

  test("q283 schedule is exact, tight to one document, and seed-free deterministic") {
    val sched = SparkEntry.queries("q283_epoch_schedule")(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toMap
    assert(sched.nonEmpty)
    // exactness: epochs_full / rem_target decompose floor(allocated) of the
    // waterfill output
    CorpusOps.q274Levels(spark, sf0001).collect().foreach { r =>
      val src = r.getAs[String]("source")
      val nTok = r.getAs[Long]("n_tokens")
      val alloc =
        if (r.getAs[Long]("saturated") == 1L) nTok.toDouble
        else r.getAs[Double]("lam_final") * r.getAs[Long]("weight")
      val allocTok = math.floor(alloc).toLong
      val (n, ef, rem, _, _) = sched(src)
      assert(n == nTok)
      assert(ef == allocTok / nTok && rem == allocTok % nTok,
        s"$src: ($ef, $rem) vs alloc_tok=$allocTok of $nTok")
    }
    // coverage + tightness: the hash-ranked prefix covers rem_target but
    // overshoots by less than one document (drop the last picked doc and
    // the remainder is no longer covered)
    val maxDoc = graft.Tables.documents(spark, sf0001)
      .groupBy(col("source"))
      .agg(max(size(filter(split(col("text"), " "),
        t => length(t) > 0))).cast("long").as("mx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sched.foreach { case (src, (_, _, rem, nExtra, extra)) =>
      if (rem == 0L) assert(nExtra == 0L && extra == 0L, src)
      else {
        assert(extra >= rem, s"$src: prefix $extra under-covers $rem")
        assert(extra - rem < maxDoc(src),
          s"$src: overshoot ${extra - rem} >= max doc ${maxDoc(src)}")
      }
    }
    // determinism: md5 ranking is seed-free, so a re-run is row-identical
    val again = SparkEntry.queries("q283_epoch_schedule")(spark, sf0001)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toMap
    assert(again == sched)
  }

  test("q301 sweep is monotone: a higher quality bar never keeps more docs or tokens") {
    val out = SparkEntry.queries("q301_quality_sweep")(spark, sf0001).collect()
    // deciles with zero survivors drop out (join semantics, oracle-matched):
    // the populated prefix is ascending and starts at the vacuous bar 0
    val deciles = out.map(_.getLong(0))
    assert(deciles.nonEmpty && deciles.head == 0L &&
      deciles.sameElements(deciles.sorted) && deciles.last <= 10L)
    val docs = out.map(_.getLong(1))
    val toks = out.map(_.getLong(2))
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b },
      s"docs not monotone: ${docs.mkString(",")}")
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b })
    // decile 0 keeps everything: quality >= 0 is vacuous
    assert(docs.head == graft.Tables.documents(spark, sf0001).count())
  }

  test("q302 packing accounting balances: capacity = tokens + slack, waste only from overlong docs") {
    SparkEntry.queries("q302_packing_efficiency")(spark, sf0001).collect().foreach { r =>
      val (bins, cap, total, _, overlong, waste, slack) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getLong(7))
      assert(cap == bins * 2048, s"capacity mismatch in $r")
      assert(slack == cap - total, s"slack identity broken in $r")
      assert(slack >= 0 && slack < 2048,
        s"greedy fill slack must fit inside the last bin: $r")
      assert((waste > 0) == (overlong > 0), s"waste without overlong docs: $r")
    }
  }

  test("q303 attribution keeps the min-doc original: no self-flows from singleton prefixes") {
    val out = SparkEntry.queries("q303_dup_provenance")(spark, sf0001).collect()
    assert(out.nonEmpty)
    // independently recompute: every duplicate row's fingerprint has a
    // strictly smaller origin doc_id carrying the same 100-char prefix
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("source"), substring(col("text"), 1, 100).as("p"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val byP = docs.groupBy(_._3)
    val expected = byP.values.filter(_.length > 1).flatMap { g =>
      val origin = g.minBy(_._1)
      g.filter(_._1 != origin._1).map(m => (origin._2, m._2))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val got = out.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"flow matrix drifted: $got vs $expected")
  }

  test("q304 IVF recall@5 stays above the serving floor") {
    val out = SparkEntry.queries("q304_ann_recall")(spark, sf0001).collect()
    assert(out.length == 10)
    val recalled = out.map(_.getLong(1)).sum
    assert(out.forall(_.getLong(2) == 5L))
    assert(recalled >= 35, s"recall@5 collapsed: $recalled/50") // ≥70%
  }

  test("q305 negatives cross labels and the semi-hard flag is the exact margin predicate") {
    val out = SparkEntry.queries("q305_hard_negatives")(spark, sf0001).collect()
    assert(out.nonEmpty)
    val label = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(1)).sorted.sameElements(1L to rows.length.toLong))
    }
    out.foreach { r =>
      assert(label(r.getLong(2)) != label(r.getLong(0)),
        s"negative shares the anchor's label: $r")
      val (cn, cp, sh) = (r.getDouble(3), r.getDouble(4), r.getLong(5))
      assert((sh == 1L) == (cn < cp && cn > cp - 0.05), s"flag drifted: $r")
    }
  }

  test("q306 MMR matches an independent greedy replay; scores are non-increasing") {
    val out = SparkEntry.queries("q306_mmr_diversity")(spark, sf0001).collect()
    assert(out.length == 5 && out.map(_.getLong(1)).distinct.length == 5)
    val scores = out.map(_.getLong(4))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
      s"greedy scores must be non-increasing: ${scores.mkString(",")}")
    // driver-side replay of the recurrence over the raw vectors
    val vecs = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val qv = vecs(0L)
    val cand = vecs.toSeq.collect { case (id, v) if id != 0L => (id, v, dot(v, qv)) }
      .sortBy { case (id, _, rel) => (-rel, id) }.take(20)
    var sel = List.empty[Array[Long]]
    var selIds = Set.empty[Long]
    val picks = (1 to 5).map { _ =>
      val best = cand.filterNot { case (id, _, _) => selIds(id) }
        .map { case (id, v, rel) =>
          val ms = if (sel.isEmpty) 0L else sel.map(dot(v, _)).max
          (id, v, rel, ms, 7 * rel - 3 * ms)
        }
        .minBy { case (id, _, _, _, sc) => (-sc, id) }
      sel ::= best._2; selIds += best._1
      best
    }
    out.zip(picks).foreach { case (r, (id, _, rel, ms, sc)) =>
      assert(r.getLong(1) == id && r.getLong(2) == rel &&
        r.getLong(3) == ms && r.getLong(4) == sc,
        s"engine row $r vs replay ($id,$rel,$ms,$sc)")
    }
  }

  test("q320 NDCG stays in [0, IDCG] and the normalization is exact") {
    val out = SparkEntry.queries("q320_ndcg")(spark, sf0001).collect()
    assert(out.map(_.getLong(0)).sorted.sameElements(0L until 5L))
    // the shared constants: w_i = round(1e6/log2(i+1)), fixed band IDCG
    val w = (1 to 10).map(i => math.round(1000000.0 / (math.log(i + 1.0) / math.log(2.0))))
    val idcg = Seq(7L, 7L, 7L, 3L, 3L, 3L, 1L, 1L, 1L, 1L).zip(w)
      .map { case (g, x) => g * x }.sum
    out.foreach { r =>
      val (dcg, ppm) = (r.getLong(1), r.getLong(2))
      assert(dcg >= 0 && dcg <= idcg, s"DCG outside [0, IDCG=$idcg]: $r")
      assert(ppm == dcg * 1000000L / idcg, s"normalization drifted: $r")
    }
    assert(out.exists(_.getLong(1) > 0),
      "fixture degenerate: no query scored any graded-relevant doc")
  }

  test("q319 truncation audit: the full-dimension row is a perfect self-test") {
    val out = SparkEntry.queries("q319_matryoshka_recall")(spark, sf0001).collect()
    assert(out.map(_.getInt(0)).sameElements(Array(4, 8, 16, 64)))
    out.foreach { r =>
      val (nq, hits, ppm) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nq > 0 && hits <= 5 * nq, s"hits exceed the top-5 budget: $r")
      assert(ppm == hits * 1000000L / (5 * nq), s"recall arithmetic drifted: $r")
    }
    // m = 64 is the untruncated identity: recall must be exactly 1.0
    val full = out.find(_.getInt(0) == 64).get
    assert(full.getLong(3) == 1000000L,
      s"identity row must have perfect recall: $full")
  }

  test("q318 S-curve: nested-band monotonicity, clean low end, saturated high end") {
    val out = SparkEntry.queries("q318_lsh_tuning")(spark, sf0001).collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getLong(2)),
        (r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out.nonEmpty)
    val deciles = out.keys.map(_._3).toSeq.distinct.sorted
    assert(deciles.length >= 4, s"curve degenerate — deciles: $deciles")
    // the 16 mins are sliced into nested bands (8-row bands are pairs of
    // 4-row bands, etc.), so a coarser-band collision IMPLIES a
    // finer-band collision: candidate counts must be monotone in bands
    val order = Seq((2, 8), (4, 4), (8, 2), (16, 1))
    deciles.foreach { dec =>
      val cands = order.flatMap(c => out.get((c._1, c._2, dec)).map(_._2))
      assert(cands == cands.sorted,
        s"band-nesting monotonicity broken at decile $dec: $cands")
      val pairs = order.flatMap(c => out.get((c._1, c._2, dec)).map(_._1))
      assert(pairs.distinct.length <= 1,
        s"configs disagree on the pair population at decile $dec: $pairs")
    }
    // non-dups (decile 0) must stay essentially candidate-free even for
    // the most permissive config, and exact dups must always collide
    out.collect { case ((_, _, 0L), (_, _, ppm)) =>
      assert(ppm < 10000L, s"decile-0 candidate rate too high: $ppm ppm") }
    out.collect { case ((_, _, 10L), (_, _, ppm)) =>
      assert(ppm == 1000000L, s"identical pairs must always collide: $ppm") }
  }

  test("q317 rank-sum AUC equals the brute-force pairwise definition") {
    val out = SparkEntry.queries("q317_quality_auc")(spark, sf0001).collect()
    assert(out.nonEmpty)
    // driver-side replay straight from the definition:
    // U2 = Σ over (pos, neg) pairs of [2·1(s⁺>s⁻) + 1(s⁺=s⁻)]
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("source"), col("lang"), split(col("text"), " ").as("t"))
      .select(col("source"), col("lang"),
        size(col("t")).cast("long").as("n"),
        size(org.apache.spark.sql.functions.filter(col("t"),
          x => x.isin("the", "a"))).cast("double").as("stops"),
        size(array_distinct(col("t"))).cast("double").as("uniq"))
      .collect().map { r =>
        val n = r.getLong(2)
        val q = r.getDouble(4) / n * 0.5 + (1.0 - r.getDouble(3) / n) * 0.3 +
          math.min(n.toDouble / 256.0, 1.0) * 0.2
        (r.getString(0), r.getString(1) == "en", q)
      }
    out.foreach { r =>
      val src = r.getString(0)
      val pos = docs.collect { case (s, true, q) if s == src => q }
      val neg = docs.collect { case (s, false, q) if s == src => q }
      assert(r.getLong(1) == pos.length && r.getLong(2) == neg.length, s"$r")
      val u2 = (for (p <- pos; n <- neg)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      assert(r.getLong(3) == u2, s"rank-sum U2 drifted from pairwise: $r vs $u2")
      if (pos.nonEmpty && neg.nonEmpty)
        assert(r.getLong(4) == u2 * 500000L / (pos.length.toLong * neg.length),
          s"auc_ppm mismatch: $r")
    }
  }

  test("q316 shards partition the corpus contiguously with no global-order window") {
    val df = SparkEntry.queries("q316_epoch_sharding")(spark, sf0001)
    val out = df.collect()
    val docs = graft.Tables.documents(spark, sf0001)
    assert(out.map(_.getLong(1)).sum == docs.count(),
      "shard doc counts must partition the corpus")
    val totalTokens = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .head().getLong(0)
    assert(out.map(_.getLong(2)).sum == totalTokens,
      "shard token counts must conserve the corpus token mass")
    // contiguity in permutation order: shard k's key span sits wholly
    // below shard k+1's
    val spans = out.sortBy(_.getLong(0)).map(r => (r.getString(3), r.getString(4)))
    spans.foreach { case (lo, hi) => assert(lo <= hi) }
    spans.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, s"shards overlap: $hi vs $lo")
      case _ =>
    }
    // the balance the cut rule guarantees: every shard within one max-doc
    // of ideal — deviation stays well under the ideal share itself
    out.foreach(r => assert(r.getLong(5) < 1000000L,
      s"shard deviates by more than the ideal share: $r"))
    // scale pin: the running sum is windowed WITHIN range partitions —
    // a global-order (empty partitionBy) window would serialize the
    // corpus through one task. (String-match: AQE stage wrappers hide
    // WindowExec from plan.collect.)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("windowspecdefinition(pid#"),
      s"running sum not partitioned by pid:\n$planStr")
    assert(!planStr.contains("windowspecdefinition(p#"),
      s"global-order window found:\n$planStr")
  }

  test("q315 refresh never re-joins the old sides: 2 broadcast joins + the stored MV") {
    val df = SparkEntry.queries("q315_delta_join_view")(spark, sf0001)
    // the delta-join algebra reproduces the direct recompute exactly
    val direct = graft.Tables.lineitem(spark, sf0001)
      .join(graft.Tables.orders(spark, sf0001), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority").as("prio"), col("l_returnflag").as("rflag"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy(col("prio"), col("rflag"))
    assert(df.collect().toSeq == direct.collect().toSeq)
    // plan: exactly the two delta legs as joins, both broadcast-hash —
    // the (old, old) pair class comes from the stored artifact, so no
    // table-sized join (and no sort-merge) exists anywhere in the refresh
    val plan = df.queryExecution.sparkPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.length == 2, s"expected the two delta legs only:\n$plan")
    joins.foreach(j => assert(
      j.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec],
      s"delta leg must broadcast its delta side:\n$j"))
    // and the stale MV parquet is among the scanned inputs
    val scans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.mkString(",")
    }
    assert(scans.exists(_.contains("graft_djv_")) &&
      scans.exists(_.endsWith("/mv")),
      s"stored MV artifact not read by the refresh:\n${scans.mkString("\n")}")
  }

  test("q314 pruning keeps exactly the hardest ceil(n/5) of every cluster") {
    val out = SparkEntry.queries("q314_semantic_prune")(spark, sf0001).collect()
    assert(out.nonEmpty)
    // cluster populations partition the corpus
    assert(out.map(_.getLong(1)).sum ==
      graft.Tables.embeddings(spark, sf0001).count())
    out.foreach { r =>
      val (n, kept, maxD, cutD) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(kept == (n + 4) / 5, s"keep fraction drifted: $r")
      assert(cutD <= maxD, s"distance band inverted: $r")
    }
  }

  test("q311 metrics are internally consistent: rr tracks the first hit exactly") {
    val out = SparkEntry.queries("q311_retrieval_metrics")(spark, sf0001).collect()
    assert(out.map(_.getLong(0)).sorted.sameElements(0L until 5L))
    out.foreach { r =>
      val (hits, rr) = (r.getLong(1), r.getLong(2))
      assert(hits >= 0L && hits <= 10L, s"P@10 numerator out of range: $r")
      assert((rr == 0L) == (hits == 0L), s"rr/hits disagree: $r")
      if (rr > 0L)
        assert((1L to 10L).exists(k => 1000L / k == rr), s"rr not 1000/rank: $r")
    }
  }

  test("q312 survivorship conserves the corpus and keeps one doc per fingerprint") {
    val out = SparkEntry.queries("q312_quality_survivorship")(spark, sf0001).collect()
    val kept = out.map(_.getLong(1)).sum
    val dropped = out.map(_.getLong(2)).sum
    val all = graft.Tables.documents(spark, sf0001)
    assert(kept + dropped == all.count(), "kept+dropped must partition the corpus")
    assert(kept == all.select(md5(substring(col("text"), 1, 100))).distinct().count(),
      "exactly one survivor per fingerprint group")
    out.foreach(r => assert(r.getLong(3) <= r.getLong(1),
      s"rescued exceeds kept: $r"))
  }

  test("q313 file census matches the physical layout and the compaction trigger") {
    val out = SparkEntry.queries("q313_small_files_audit")(spark, sf0001).collect()
    assert(out.nonEmpty)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_sfiles_" +
      s"${spark.sparkContext.applicationId}_${sf0001.replaceAll("[^A-Za-z0-9.-]", "_")}"
    out.foreach { r =>
      val (lang, nFiles, nRows, flag) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(4))
      // the physical count under lang=<l>/bucket=*/ is what the audit said
      val stream = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$dir/docs/lang=$lang"))
      val physical = try stream.iterator().asScala
        .count(p => p.toString.endsWith(".parquet")) finally stream.close()
      assert(physical == nFiles, s"audit says $nFiles files, disk has $physical ($lang)")
      assert((flag == 1L) == (nFiles > 4L), s"trigger drifted: $r")
      assert(r.getLong(3) == nRows / nFiles)
    }
  }

  test("q310 funnel is monotone, starts at the full corpus, and ends eval-free") {
    val out = SparkEntry.queries("q310_curation_funnel")(spark, sf0001).collect()
    assert(out.map(_.getLong(0)).sameElements(0L to 3L))
    val docs = out.map(_.getLong(2))
    val toks = out.map(_.getLong(3))
    assert(docs.zip(docs.tail).forall { case (a, b) => a >= b },
      s"funnel docs grew: ${docs.mkString(",")}")
    assert(toks.zip(toks.tail).forall { case (a, b) => a >= b })
    val all = graft.Tables.documents(spark, sf0001)
    assert(docs(0) == all.count())
    // dedup stage == distinct text fingerprints
    assert(docs(1) == all.select(md5(col("text"))).distinct().count())
    // the final stage kept at least something and dropped the eval slice
    val evalN = all.filter(col("doc_id") % 101 === 0).count()
    assert(docs(3) > 0 && docs(3) <= docs(2) && evalN > 0)
    // at least max(0, evalN − removed-so-far) eval docs reach stage 2,
    // and every one of them must fall in stage 3
    assert(docs(2) - docs(3) >= evalN - (docs(0) - docs(2)),
      "decontamination must at least remove the surviving eval docs")
  }

  test("q308 erasure cascade is complete and referentially closed") {
    val out = SparkEntry.queries("q308_cascade_erasure")(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out("orphan_orders") == 0L && out("orphan_lineitems") == 0L)
    // conservation: forgotten + surviving partitions each table exactly
    val cust = graft.Tables.customer(spark, sf0001)
    assert(out("customer_after") + out("customer_forgotten") == cust.count())
    val ord = graft.Tables.orders(spark, sf0001)
    assert(out("orders_after") + out("orders_deleted") == ord.count())
    // independent recompute of the cascade's middle hop
    val expectedDeleted = ord.filter(col("o_custkey") % 97 === 0).count()
    assert(out("orders_deleted") == expectedDeleted)
    // no surviving order belongs to a forgotten customer (direct probe)
    assert(out("customer_forgotten") > 0, "forget list empty — audit vacuous")
  }

  test("q309 append assignment conserves both corpora and flags only over-share lists") {
    val out = SparkEntry.queries("q309_ivf_append")(spark, sf0001).collect()
    assert(out.nonEmpty)
    val emb = graft.Tables.embeddings(spark, sf0001)
    val baseN = emb.filter(col("vec_id") % 5 =!= 4).count()
    val newN = emb.filter(col("vec_id") % 5 === 4).count()
    assert(out.map(_.getLong(1)).sum == baseN, "base vectors lost in assignment")
    assert(out.map(_.getLong(2)).sum == newN, "arrivals lost in assignment")
    // the flag uses the GEOMETRY nlist (fair-share denominator), not the
    // possibly-smaller surviving-list count
    val geomNl = math.min(1024L, math.ceil(math.sqrt(baseN.toDouble)).toLong)
    out.foreach { r =>
      assert((r.getLong(3) == 1L) == (r.getLong(2) * geomNl > 2 * newN),
        s"hot flag drifted: $r (nl=$geomNl, t=$newN)")
    }
  }

  test("q307 shallow clone copies zero data files; histories diverge independently") {
    import graft.sources.{VersionedManifest => VM}
    SparkEntry.queries("q307_shallow_clone")(spark, sf0001).collect()
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_clone_" +
      s"${spark.sparkContext.applicationId}_${sf0001.replaceAll("[^A-Za-z0-9.-]", "_")}"
    val (src, cl) = (s"$root/src", s"$root/clone")
    // clone v1 resolves ENTIRELY into the source table — zero local data
    assert(VM.resolveDataDirs(spark, cl, 1).forall(_.startsWith(src)))
    // no parquet ever landed under the clone outside its own delta dir
    val stream = java.nio.file.Files.walk(java.nio.file.Paths.get(cl))
    val local = try stream.iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(_.toString).toSeq
    finally stream.close()
    assert(local.nonEmpty && local.forall(_.contains("/d-delta-1/")),
      s"clone grew unexpected data files: $local")
    // the source's history never saw the clone's append
    assert(VM.committedVersions(spark, src) == Seq(1L))
    assert(VM.committedVersions(spark, cl) == Seq(1L, 2L))
    // clone time travel: v1 is exactly the source; v2 adds only the delta
    val srcN = VM.readLatest(spark, src).count()
    assert(VM.readAt(spark, cl, 1).count() == srcN)
    assert(VM.readAt(spark, cl, 2).count() > srcN)
  }
}
