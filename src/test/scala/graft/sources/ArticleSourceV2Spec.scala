package graft.sources

import graft.SparkSpec
import graft.GraftSession.withConf
import org.apache.spark.sql.functions._

/** Pins the V2 connector's three contracts: row identity with the
  * composed [[ArticleSource]] spelling, filter pushdown all the way into
  * the reader (no Filter node survives above the scan), and column
  * pruning visible in the scan's read schema.
  */
class ArticleSourceV2Spec extends SparkSpec {

  private def v2 = spark.read
    .format("graft.sources.ArticleSourceV2")
    .option("corpus", "all").load()

  test("v2 read is row-identical to the composed ArticleSource union") {
    val got = v2.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    val want = ArticleSource.unionAll(spark)
      .select(ArticleSource.schema.fieldNames.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
    assert(got === want)
    assert(want.nonEmpty)
  }

  test("supported filters are fully pushed: no Filter above the BatchScan") {
    val df = v2.filter(col("indexation") === "IEEE")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(indexation), EqualTo(indexation,IEEE)]")
      || plan.contains("PushedFilters: [EqualTo(indexation,IEEE), IsNotNull(indexation)]"),
      s"filters not pushed into the scan:\n$plan")
    assert(!plan.contains("Filter "), s"residual Filter survived above the scan:\n$plan")
    // and the reader applied them: results match the un-pushed spelling
    val want = ArticleSource.unionAll(spark)
      .select(ArticleSource.schema.fieldNames.map(col).toIndexedSeq: _*)
      .filter(col("indexation") === "IEEE").collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet === want)
    assert(want.nonEmpty, "no IEEE articles in the fixture — pushdown test is vacuous")
  }

  test("unsupported filters stay as a residual Filter node") {
    val df = v2.filter(length(col("doi")) > 10)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Filter "), "residual filter was dropped — wrong pushFilters contract")
  }

  test("column pruning reaches the reader's schema") {
    val df = v2.select(col("doi"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doi:string>"),
      s"scan not pruned to doi:\n$plan")
  }

  test("corpus option selects a single corpus (one partition per corpus)") {
    val one = spark.read.format("graft.sources.ArticleSourceV2")
      .option("corpus", "ai_articles").load()
    assert(one.rdd.getNumPartitions === 1)
    assert(one.count() === ArticleSource.json(spark, "ai_articles").count())
    assert(v2.rdd.getNumPartitions === 4)
  }

  test("micro-batch stream paces one corpus per batch and collapses to the batch read") {
    spark.catalog.dropTempView("v2_stream_spec_sink")
    val agg = spark.readStream.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load()
      .groupBy(col("indexation")).count()
    val q = agg.writeStream.format("memory").queryName("v2_stream_spec_sink")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the admission-controlled pacing: exactly the four corpora, one per
    // micro-batch (50/50 IEEE, 20/20 ACM), nothing merged or dropped
    val perBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(perBatch.sorted === Seq(20L, 20L, 50L, 50L),
      s"per-batch input rows: $perBatch")
    val got = spark.table("v2_stream_spec_sink").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val want = v2.groupBy(col("indexation")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got === want, "stream collapse diverges from the batch read")
  }

  test("a divergent user schema is rejected, not silently dropped") {
    import org.apache.spark.sql.types._
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.ArticleSourceV2")
        .schema(StructType(Seq(StructField("nope", StringType))))
        .load()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8).toSeq
    assert(chain(ex).exists(_.isInstanceOf[UnsupportedOperationException]),
      s"expected UnsupportedOperationException, got: $ex")
    // and the EXACT fixed schema is accepted as a no-op override
    val same = spark.read.format("graft.sources.ArticleSourceV2")
      .schema(ArticleSource.schema).load()
    assert(same.schema === ArticleSource.schema)
  }

  test("v2 write lands staged part files, publishes on commit, truncates on overwrite") {
    val dir = new java.io.File(graft.StagingDirs.dir(spark, "v2write_spec"))
    def partFiles = Option(dir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("part-")).sorted.toSeq

    v2.write.format("graft.sources.ArticleSourceV2")
      .mode("overwrite").save(dir.getAbsolutePath)
    val first = partFiles
    // one part file per input partition (one per corpus), no stage left
    assert(first.size === 4, s"part files: $first")
    assert(Option(dir.listFiles()).getOrElse(Array.empty)
      .forall(!_.getName.startsWith(".staging")), "staging dir survived commit")

    // the landed artifact re-reads row-identical to the direct read
    val landed = spark.read.schema(ArticleSource.schema)
      .json(dir.getAbsolutePath)
    val got = landed.collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    val want = v2.collect().map(_.toSeq)
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(got === want, "landed artifact diverges from the source rows")

    // overwrite truncates: a second write must REPLACE, not accumulate
    v2.write.format("graft.sources.ArticleSourceV2")
      .mode("overwrite").save(dir.getAbsolutePath)
    assert(partFiles.size === 4, s"overwrite accumulated: $partFiles")
    first.foreach(f => new java.io.File(dir, f).delete())
    partFiles.foreach(f => new java.io.File(dir, f).delete())
    dir.delete()
  }

  test("v2 streaming write lands one epoch-tagged part file per micro-batch") {
    val dir = new java.io.File(graft.StagingDirs.dir(spark, "v2swrite_spec"))
    val ckpt = new java.io.File(graft.StagingDirs.dir(spark, "v2swrite_spec_ckpt"))
    val q = spark.readStream.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load()
      .writeStream.format("graft.sources.ArticleSourceV2")
      .option("path", dir.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("part-e")).sorted.toSeq
    // four micro-batches (one corpus each, the admission-control pacing)
    // -> four distinct epochs, each its own published file
    assert(parts.size === 4, s"part files: $parts")
    assert(parts.map(_.split("-")(1)).distinct.size === 4,
      s"expected 4 distinct epochs, got: $parts")
    // the landed loop re-reads row-identical to the direct batch read
    val landed = spark.read.schema(ArticleSource.schema)
      .json(dir.getAbsolutePath)
    assert(landed.count() === v2.count(), "stream-landed artifact lost rows")
    // cleanup
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
      f.delete()
    }
    rm(dir); rm(ckpt)
  }

  test("COUNT(*) GROUP BY pushes into the reader: aggregated scan schema") {
    val df = v2.groupBy(col("indexation")).agg(count(lit(1)).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT(*) GROUP BY indexation]"),
      s"aggregate not pushed into the scan:\n$plan")
    // the scan's output is the 2-column aggregated schema — articles
    // never cross the source boundary
    assert(plan.contains("COUNT(*)"), s"scan does not emit counts:\n$plan")
    // partial pushdown: Spark's FINAL aggregate still merges the
    // per-corpus partials, so the values match the row-level spelling
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = v2.collect().map(_.getAs[String]("indexation"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(got === want, s"pushed counts diverge: $got vs $want")
  }

  test("unsupported aggregates are NOT pushed: the row scan survives") {
    // min(doi) is outside the pushdown contract (COUNT(*) only) — the
    // builder must decline and Spark must fall back to the row-level scan
    val df = v2.groupBy(col("indexation")).agg(min(col("doi")).as("m"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregation"),
      s"unsupported aggregate claimed as pushed:\n$plan")
    assert(df.count() > 0)
  }

  test("runtime filtering drops whole corpora from a dim-side join filter") {
    // the dim's key values are only known at RUNTIME (behind a filter on
    // a parquet dim — a LocalRelation would be constant-folded and the
    // pruning rule would see no selective predicate), so only the DSv2
    // runtime-filtering path — not static pushdown — can stop the IEEE
    // corpora from being parsed
    val dim = graft.Tables.region(spark, sf0001)
      .filter(col("r_name") === "ASIA")
      .select(when(col("r_regionkey") >= 0, "ACM").as("idx"))
    val fact = v2
    val joined = fact.join(dim, fact("indexation") === dim("idx"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no runtime filter injected into the v2 scan:\n$plan")
    ArticlesReaderFactory.readersOpened.set(0)
    val n = joined.count()
    assert(n === 40, s"ACM corpora hold 40 articles, got $n")
    val opened = ArticlesReaderFactory.readersOpened.get()
    assert(opened === 2,
      s"runtime filtering should open ONLY the 2 ACM corpora, opened $opened")
  }

  test("reported statistics let the planner auto-broadcast the corpus side") {
    // without SupportsReportStatistics a v2 relation is sized at
    // spark.sql.defaultSizeInBytes (effectively infinite) and the join
    // below would plan as a sort-merge join; the ~150 KB reported size
    // must put the connector side under the broadcast threshold
    val big = graft.Tables.orders(spark, sf0001)
    val corpus = v2
    val joined = big.join(corpus, big("o_orderstatus") === corpus("indexation"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"corpus side not auto-broadcast despite reported stats:\n$plan")
    val bx = plan.indexOf("BroadcastExchange")
    assert(bx >= 0 && plan.substring(bx).contains("graft-articles"),
      s"broadcast build side is not the connector scan:\n$plan")
  }

  test("limit pushes into the reader and the scan stops early") {
    val df = v2.limit(30)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 30"),
      s"limit not pushed into the scan:\n$plan")
    assert(df.count() === 30)
    // partial push: with 4 partitions of 50/50/20/20 rows, a per-reader
    // stop at 30 emits at most 30+30+20+20 rows for Spark's global cut —
    // strictly fewer than the 140 a full scan parses
    val emitted = spark.read.format("graft.sources.ArticleSourceV2")
      .option("corpus", "all").load().limit(30)
      .queryExecution.executedPlan.executeCollect().length
    assert(emitted === 30)
  }

  test("q261 storage-partitioned join consumes the connector's clustering") {
    withConf(spark, "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      import org.apache.spark.sql.functions._
      val read = () => spark.read.format("graft.sources.ArticleSourceV2")
        .option("corpus", "all").option("clusterByIndexation", "true").load()
        .filter(col("indexation").isNotNull)
        .select(col("indexation"))
      val joined = read().as("a")
        .join(read().as("b"), col("a.indexation") === col("b.indexation"))
        .groupBy(col("a.indexation")).agg(count(lit(1)).as("n"))
      val rows = joined.collect()
      assert(rows.length == 2, s"expected IEEE+ACM rows, got ${rows.toSeq}")
      val p = joined.queryExecution.executedPlan.toString
      // the join inputs arrive clustered by the SOURCE's partition key:
      // no exchange may sit between the scans and the join (the groupBy
      // keys on the same column, so it needs none either)
      assert(!p.contains("Exchange hashpartitioning"),
        s"storage-partitioned join still shuffled:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"unexpected join strategy:\n$p")
    }
  }

  test("metadata-column predicates and groupings bypass the record-level pushdowns") {
    import org.apache.spark.sql.functions._
    // a filter on _corpus must stay ABOVE the scan (the reader evaluates
    // pushed filters against the parsed record, where _corpus does not
    // exist — claiming it would silently drop every row)
    val filtered = v2.select(col("_corpus"), col("titre"))
      .where(col("_corpus") === "ai_articles")
    assert(filtered.count() == 50)
    // a groupBy on _corpus must NOT take the aggregate-pushdown path
    // (the agg reader keys groups from the record → one NULL group)
    val grouped = v2.groupBy(col("_corpus")).count().collect()
    assert(grouped.length == 4 && grouped.forall(_.getString(0) != null),
      grouped.mkString(", "))
  }

  test("_corpus metadata column appears only when selected") {
    import org.apache.spark.sql.functions._
    val withMeta = v2.select(col("_corpus"), col("doi"))
    val rows = withMeta.collect()
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq == Seq(
      "acm_blockchain_articles", "acm_machine_learning_articles",
      "ai_articles", "blockchain_articles"))
    val metaPlan = withMeta.queryExecution.executedPlan.toString
    assert(metaPlan.contains("_corpus"), s"metadata column not in scan:\n$metaPlan")
    // a plain read must NOT carry the metadata column anywhere
    val plain = v2.select(col("doi")).queryExecution.executedPlan.toString
    assert(!plain.contains("_corpus"),
      s"metadata column leaked into an unrelated scan:\n$plain")
  }
}
