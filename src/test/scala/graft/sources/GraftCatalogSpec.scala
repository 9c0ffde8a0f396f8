package graft.sources

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.functions._

/** Pins for the catalog face (q263/q264) that SQL results can't see:
  * identifier resolution, the codegen'd Invoke path for the V2 scalar
  * function, file-granularity delete semantics, and the read-only DDL
  * surface.
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val cat = {
    spark.conf.set("spark.sql.catalog.graft_spec",
      classOf[GraftCatalog].getName)
    "graft_spec"
  }

  test("tables resolve by identifier; the estate is the file listing") {
    val names = spark.sql(s"SHOW TABLES IN $cat.articles")
      .select("tableName").collect().map(_.getString(0)).sorted
    assert(names.contains("all") && names.contains("ai_articles") &&
      names.length == 5)
    assert(spark.table(s"$cat.articles.ai_articles").count() == 50)
    assert(spark.table(s"$cat.articles.all").count() ==
      spark.table(s"$cat.articles.all").select("titre").count())
  }

  test("split_bucket matches the q69 conv-spelling and plans as Invoke") {
    val df = spark.sql(
      s"""SELECT k, $cat.fns.split_bucket(k, 100) AS b,
         |  CAST(conv(substring(md5(k), 1, 7), 16, 10) AS BIGINT) % 100 AS ref
         |FROM VALUES ('doc-1'), ('doc-2'), (''), ('äöü'), ('a b c') AS t(k)""".stripMargin)
    df.collect().foreach(r =>
      assert(r.getInt(1) == r.getLong(2).toInt, s"mismatch for ${r.getString(0)}"))
    // the magic-method path: a codegen-capable Invoke, not an interpreted
    // ApplyFunctionExpression
    val hasInvoke = df.queryExecution.analyzed.expressions.exists(
      _.exists(_.isInstanceOf[Invoke]))
    assert(hasInvoke, df.queryExecution.analyzed.toString)
  }

  test("DELETE is two-tier: file-aligned predicates drop artifacts, finer ones fall back to row-level COW") {
    val stage = tempDir("graft_catspec")
    Seq("ai_articles", "acm_blockchain_articles").foreach { c =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(ArticleSource.dataDir, s"$c.json"),
        java.nio.file.Paths.get(stage, s"$c.json"))
    }
    spark.conf.set("spark.sql.catalog.gcs_del", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcs_del.dataDir", stage)

    // sub-file predicate: the metadata path refuses (canDeleteWhere) and
    // Spark falls back to the ROW-LEVEL delete (SupportsDelta) — rows go,
    // the artifact stays, rewritten copy-on-write
    val before = spark.table("gcs_del.articles.all").count()
    val nullDois = spark.table("gcs_del.articles.all")
      .filter("doi IS NULL").count()
    assert(nullDois > 0)
    spark.sql("DELETE FROM gcs_del.articles.all WHERE doi IS NULL")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(stage, "ai_articles.json")),
      "row-level delete must keep the artifact")
    assert(spark.table("gcs_del.articles.all").count() == before - nullDois)
    assert(spark.table("gcs_del.articles.all").filter("doi IS NULL").count() == 0)

    // SQL UPDATE rides the same delta machinery
    spark.sql("UPDATE gcs_del.articles.all SET pays = 'normalized' " +
      "WHERE pays IS NOT NULL")
    assert(spark.table("gcs_del.articles.all")
      .filter("pays IS NOT NULL AND pays <> 'normalized'").count() == 0)

    // file-aligned predicate: artifact gone, estate re-lists without it
    spark.sql("DELETE FROM gcs_del.articles.all WHERE indexation = 'ACM'")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(stage, "acm_blockchain_articles.json")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(stage, "ai_articles.json")))
    val left = spark.sql("SELECT DISTINCT indexation FROM gcs_del.articles.all")
      .collect().map(_.getString(0)).toSeq
    assert(left == Seq("IEEE"))
  }

  test("the governed view masks PII at resolution and fuses into the scan") {
    // PII columns do not exist on the view: selecting them is an
    // ANALYSIS error, not a runtime redaction
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(s"SELECT chercheurs FROM $cat.views.articles_public").collect()
    }
    assert(e.getMessage.contains("chercheurs"), e.getMessage)

    // the pseudonym is stable and the underlying read is the SAME
    // pushdown-complete connector scan — pure plan substitution, no
    // materialization: one BatchScan, pruned to what the query needs
    val df = spark.sql(
      s"SELECT author_token FROM $cat.views.articles_public WHERE author_token IS NOT NULL")
    val plan = df.queryExecution.executedPlan
    val scans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.length == 1, s"expected one connector scan:\n$plan")
    val read = scans.head.scan.readSchema().fieldNames.toSet
    assert(read == Set("chercheurs"),
      s"view read should prune to the mask's one input column, got $read")

    // stability: the token equals the md5 prefix of the raw column
    val joined = spark.sql(
      s"""SELECT count(*) AS n FROM (
         |  SELECT v.author_token, substring(md5(t.chercheurs), 1, 12) AS expect
         |  FROM $cat.views.articles_public v
         |  JOIN $cat.articles.all t ON v.titre = t.titre
         |  WHERE t.chercheurs IS NOT NULL)
         |WHERE author_token <> expect""".stripMargin)
    assert(joined.collect().head.getLong(0) == 0L)
  }

  test("a stored view with a WITH-clause body resolves (rule-side CTE substitution)") {
    val viaView = spark.sql(
      s"SELECT * FROM $cat.views.recurring_journals ORDER BY journal")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val direct = spark.sql(
      s"""SELECT journal, CAST(COUNT(*) AS BIGINT) AS n FROM $cat.articles.all
         |WHERE journal IS NOT NULL GROUP BY journal
         |HAVING COUNT(*) >= 2 ORDER BY journal""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(viaView.nonEmpty && viaView == direct, s"$viaView vs $direct")
  }

  test("CALL sys.land lands an artifact and returns its receipt; args bind by name or position") {
    val stage = tempDir("graft_landspec")
    spark.conf.set("spark.sql.catalog.gcs_land", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcs_land.dataDir", stage)

    // named arguments, in swapped order
    val r1 = spark.sql(
      s"CALL gcs_land.sys.land(src => '${ArticleSource.dataDir}', corpus => 'ai_articles')")
      .collect()
    assert(r1.length == 1 && r1.head.getString(0) == "ai_articles")
    assert(r1.head.getLong(1) == java.nio.file.Files.size(
      java.nio.file.Paths.get(stage, "ai_articles.json")),
      "receipt bytes must equal the landed artifact's size")

    // positional arguments
    spark.sql(
      s"CALL gcs_land.sys.land('acm_blockchain_articles', '${ArticleSource.dataDir}')")
      .collect()
    // the estate now lists exactly the two landed corpora
    val tables = spark.sql("SHOW TABLES IN gcs_land.articles")
      .select("tableName").collect().map(_.getString(0)).sorted
    assert(tables.toSeq == Seq("acm_blockchain_articles", "ai_articles", "all"))
    assert(spark.table("gcs_land.articles.all").count() == 70)

    // unknown procedure fails to resolve
    intercept[Exception] {
      spark.sql("CALL gcs_land.sys.nope()").collect()
    }
    // a corpus name that could escape the estate path is rejected
    val bad = intercept[Exception] {
      spark.sql(
        s"CALL gcs_land.sys.land('../escape', '${ArticleSource.dataDir}')")
        .collect()
    }
    assert(bad.getMessage.contains("bare artifact name"), bad.getMessage)
  }

  test("TRUNCATE TABLE drops every artifact (SupportsDelete's truncate face)") {
    val stage = tempDir("graft_truncspec")
    Seq("ai_articles", "blockchain_articles").foreach { c =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(ArticleSource.dataDir, s"$c.json"),
        java.nio.file.Paths.get(stage, s"$c.json"))
    }
    // an estate holding a corpus OUTSIDE the indexation map (the shape
    // CALL-landing and MERGE inserts produce) must still truncate:
    // unconditional delete needs no per-file constants
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(ArticleSource.dataDir, "ai_articles.json"),
      java.nio.file.Paths.get(stage, "custom_corpus.json"))
    spark.conf.set("spark.sql.catalog.gcs_trunc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcs_trunc.dataDir", stage)
    spark.sql("TRUNCATE TABLE gcs_trunc.articles.all")
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(stage)).count() == 0,
      "truncate must remove every landed artifact")
    assert(spark.sql("SHOW TABLES IN gcs_trunc.articles")
      .select("tableName").collect().map(_.getString(0)).toSeq == Seq("all"))
  }

  test("streaming reads resolve through the catalog identifier too") {
    // the same ArticlesTable serves MICRO_BATCH_READ when addressed by
    // identifier: readStream.table pages one corpus per micro-batch
    val q = spark.readStream.table(s"$cat.articles.all")
      .groupBy("indexation").count()
      .writeStream.format("memory").queryName("cat_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.table("cat_stream").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == Map("IEEE" -> 100L, "ACM" -> 40L), rows.toString)
    } finally q.stop()
  }

  test("MERGE INTO rewrites the estate copy-on-write: updates, inserts, atomic swap") {
    val stage = tempDir("graft_mergespec")
    Seq("ai_articles", "acm_blockchain_articles").foreach { c =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(ArticleSource.dataDir, s"$c.json"),
        java.nio.file.Paths.get(stage, s"$c.json"))
    }
    spark.conf.set("spark.sql.catalog.gcs_merge", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcs_merge.dataDir", stage)
    val before = spark.table("gcs_merge.articles.all")
      .selectExpr("count(*)", "count(doi)").collect().head
    val (nBefore, doiBefore) = (before.getLong(0), before.getLong(1))
    assert(nBefore == 70 && doiBefore < nBefore)

    spark.sql(
      """MERGE INTO gcs_merge.articles.all t
        |USING (
        |  SELECT DISTINCT titre AS s_titre,
        |    concat('generated:', substring(md5(titre), 1, 10)) AS s_doi
        |  FROM gcs_merge.articles.all WHERE doi IS NULL AND titre IS NOT NULL
        |  UNION ALL
        |  SELECT 'A Synthetic Backfill Record', 'generated:synthetic1'
        |) s
        |ON t.titre = s.s_titre
        |WHEN MATCHED THEN UPDATE SET doi = s.s_doi
        |WHEN NOT MATCHED THEN INSERT (titre, doi, indexation)
        |  VALUES (s.s_titre, s.s_doi, 'SYNTH')""".stripMargin)

    val after = spark.table("gcs_merge.articles.all")
    assert(after.count() == nBefore + 1, "one inserted row")
    assert(after.filter("doi IS NULL AND titre IS NOT NULL").count() == 0,
      "every titled row has a doi after the backfill")
    // provenance preserved through the rewrite; inserts in their own artifact
    val corpora = after.selectExpr("_corpus").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    assert(corpora == Seq("acm_blockchain_articles", "ai_articles", "merged_inserts"),
      corpora.toString)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(stage, "merged_inserts.json")))
    // no staging residue
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(stage))
      .iterator().asScala.exists(_.getFileName.toString.startsWith(".staging")),
      "staging must be cleaned up at commit")
  }

  test("the DDL surface is read-only") {
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.articles.extra (x STRING)")
    }
    assert(e1.getMessage.contains("read-only"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"DROP TABLE $cat.articles.ai_articles")
    }
    assert(e2.getMessage.contains("read-only"), e2.getMessage)
  }
}
