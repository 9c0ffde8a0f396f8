package graft.sources

import graft.{SparkSpec, StagingDirs}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The versioned table's SQL front door and streaming write face:
  * time-travel resolution, the analysis-time refusal of uncommitted
  * versions, and the epoch-commit-is-manifest-commit protocol with its
  * rogue-epoch replay guarantee.
  */
class VersionedCatalogSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("tag", StringType, nullable = true)))

  private def freshDir(name: String): String =
    StagingDirs.register(s"${System.getProperty("java.io.tmpdir")}/graft_r11_${name}_" +
      spark.sparkContext.applicationId)

  /** Drive one task's writer for an epoch and return its commit message. */
  private def stageEpoch(w: VersionedStreamingWrite, epoch: Long,
                         rows: Seq[(Long, String)]) = {
    val f = w.createStreamingWriterFactory(null)
    val writer = f.createWriter(0, epoch * 100, epoch)
    rows.foreach { case (k, t) =>
      writer.write(InternalRow(k, UTF8String.fromString(t)))
    }
    writer.commit()
  }

  test("streaming epoch commit IS a manifest commit; a rogue replay lands nothing") {
    val dir = freshDir("vsw")
    VersionedManifest.writeSchema(spark, dir, schema)
    val w = new VersionedStreamingWrite(dir, "t1", schema)

    val m0 = stageEpoch(w, 0, Seq(1L -> "a", 2L -> "b"))
    w.commit(0, Array(m0))
    assert(VersionedManifest.committedVersions(spark, dir) == Seq(1L))
    assert(VersionedManifest.readLatest(spark, dir).count() == 2)

    // rogue epoch: a zombie attempt replays epoch 0 with fresh staged
    // files — the marker in committed history means it lands NOTHING
    val rogue = stageEpoch(w, 0, Seq(1L -> "a", 2L -> "b"))
    w.commit(0, Array(rogue))
    assert(VersionedManifest.committedVersions(spark, dir) == Seq(1L),
      "replayed epoch minted a new version")
    assert(VersionedManifest.readLatest(spark, dir).count() == 2,
      "replayed epoch doubled rows")

    // the next epoch publishes version 2 whose CUMULATIVE manifest
    // references both epochs' dirs
    val m1 = stageEpoch(w, 1, Seq(3L -> "c"))
    w.commit(1, Array(m1))
    assert(VersionedManifest.committedVersions(spark, dir) == Seq(1L, 2L))
    assert(VersionedManifest.readLatest(spark, dir).count() == 3)
    // and version 1 still reads as its own snapshot
    assert(VersionedManifest.readAt(spark, dir, 1).count() == 2)
  }

  test("compaction across the format boundary: parquet snapshot, JSON history intact") {
    val dir = freshDir("vcmp")
    VersionedManifest.writeSchema(spark, dir, schema)
    val w = new VersionedStreamingWrite(dir, "t3", schema)
    w.commit(0, Array(stageEpoch(w, 0, Seq(1L -> "a", 2L -> "b"))))
    w.commit(1, Array(stageEpoch(w, 1, Seq(3L -> "c"))))
    // the q326 move: fold the JSON snapshot into parquet as version 3
    VersionedManifest.readAt(spark, dir, 2).repartition(1)
      .write.parquet(s"$dir/d-compact-2")
    assert(VersionedManifest.tryCommit(spark, dir, 3,
      "data=d-compact-2\nformat=parquet\ncompaction of 1..2"))
    assert(VersionedManifest.formatOf(spark, dir, 3) == "parquet")
    def keys(n: Long) = VersionedManifest.readAt(spark, dir, n)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(keys(3) == Set(1L, 2L, 3L))
    // time travel to the pre-compaction version still decodes as JSON
    assert(VersionedManifest.formatOf(spark, dir, 2) == "json")
    assert(keys(2) == Set(1L, 2L, 3L))
    assert(keys(1) == Set(1L, 2L))
    // a further streaming append refuses: the latest snapshot is parquet
    val m = stageEpoch(w, 2, Seq(4L -> "d"))
    val e = intercept[IllegalStateException](w.commit(2, Array(m)))
    assert(e.getMessage.contains("json-format"), e.getMessage)
  }

  test("catalog SQL: latest read, VERSION AS OF, analysis-time refusal of uncommitted") {
    val root = freshDir("vcat")
    val dir = s"$root/t"
    VersionedManifest.writeSchema(spark, dir, schema)
    val w = new VersionedStreamingWrite(dir, "t2", schema)
    w.commit(0, Array(stageEpoch(w, 0, Seq(1L -> "a", 2L -> "b"))))
    w.commit(1, Array(stageEpoch(w, 1, Seq(3L -> "c"))))

    VersionedCatalog.mount(spark, "vc11", root)
    assert(spark.sql("SELECT COUNT(*) FROM vc11.tables.t").head.getLong(0) == 3)
    assert(spark.sql(
      "SELECT COUNT(*) FROM vc11.tables.t VERSION AS OF 1").head.getLong(0) == 2)
    // typed read-back through the declared schema
    assert(spark.sql(
      "SELECT SUM(k) FROM vc11.tables.t VERSION AS OF 2").head.getLong(0) == 6)
    // an uncommitted version refuses at ANALYSIS time — same contract as
    // VersionedManifest.readAt (q247's refusal), now in SQL spelling
    val e = intercept[Exception](
      spark.sql("SELECT * FROM vc11.tables.t VERSION AS OF 9"))
    assert(e.getMessage.contains("not committed"), e.getMessage)
    // and a table the root does not hold is a NoSuchTable analysis error
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM vc11.tables.nope"))
    assert(e2.getMessage.toLowerCase.contains("table"), e2.getMessage)
  }

  test("stream READ: manifest versions are offsets; a resumed subscriber sees each row once") {
    val root = freshDir("vsrc")
    val dir = s"$root/t"
    VersionedManifest.writeSchema(spark, dir, schema)
    val w = new VersionedStreamingWrite(dir, "t5", schema)
    w.commit(0, Array(stageEpoch(w, 0, Seq(1L -> "a", 2L -> "b"))))
    w.commit(1, Array(stageEpoch(w, 1, Seq(3L -> "c"))))
    VersionedCatalog.mount(spark, "vc11s", root)
    val ckpt = freshDir("vsrc_ckpt")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(): Seq[Long] = {
      val before = seen.size
      val q = spark.readStream.table("vc11s.tables.t")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("k").collect().foreach(r => seen.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.drop(before)
    }
    // first drain: both committed versions
    assert(drain().sorted == Seq(1L, 2L, 3L))
    // nothing new: the offset log says version 2 is done
    assert(drain().isEmpty)
    // a third epoch lands; ONLY its rows arrive on the same checkpoint
    w.commit(2, Array(stageEpoch(w, 2, Seq(4L -> "d"))))
    assert(drain() == Seq(4L))
  }

  test("branch-scoped stream: the horizon is the branch head; unknown branch refuses") {
    val root = freshDir("vbrs")
    val dir = s"$root/t"
    VersionedManifest.writeSchema(spark, dir, schema)
    val w = new VersionedStreamingWrite(dir, "tb", schema)
    w.commit(0, Array(stageEpoch(w, 0, Seq(1L -> "a", 2L -> "b"))))
    w.commit(1, Array(stageEpoch(w, 1, Seq(3L -> "c"))))
    VersionedManifest.createBranch(spark, dir, "main", 1)
    VersionedCatalog.mount(spark, "vbrs11", root)
    val ckpt = freshDir("vbrs_ckpt")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def drain(branch: String): Seq[Long] = {
      val before = seen.size
      val q = spark.readStream.option("branch", branch)
        .table("vbrs11.tables.t")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("k").collect().foreach(r => seen.add(r.getLong(0)))
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.drop(before)
    }
    // version 2 is committed but past the branch head — invisible
    assert(drain("main").sorted == Seq(1L, 2L))
    assert(drain("main").isEmpty)
    // the fast-forward publishes version 2 to this subscriber
    assert(VersionedManifest.advanceBranch(spark, dir, "main", 0, 2))
    assert(drain("main") == Seq(3L))
    // an unknown branch refuses rather than draining the table
    val e = intercept[Exception] { drain("nosuch") }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("nosuch"))),
      s"wrong failure: $e")
  }

  test("the .history metadata table reads the manifest trail by SQL") {
    val root = freshDir("vhist")
    val dir = s"$root/t"
    VersionedManifest.writeSchema(spark, dir, schema)
    val w = new VersionedStreamingWrite(dir, "t4", schema)
    w.commit(0, Array(stageEpoch(w, 0, Seq(1L -> "a"))))
    w.commit(1, Array(stageEpoch(w, 1, Seq(2L -> "b"))))
    VersionedCatalog.mount(spark, "vc11h", root)
    val rows = spark.sql(
      "SELECT version, format, operation FROM vc11h.tables.t.history " +
        "ORDER BY version").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.forall(_.getString(1) == "json"))
    // operation keeps the writer's description, with the addressing
    // (data=/format=/epoch=) lines stripped
    assert(rows.map(_.getString(2)).toSeq ==
      Seq("streaming ingest epoch 0", "streaming ingest epoch 1"))
    // history of a table that does not exist is an analysis error
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT * FROM vc11h.tables.nope.history"))
  }

  test("mixed-format snapshot: parquet appends feed subscribers once; compaction feeds nothing") {
    val root = freshDir("vmixspec")
    VersionedCatalog.mount(spark, "vmix11", root)
    spark.sql("CREATE TABLE vmix11.tables.t (k BIGINT, tag STRING)")
    val dir = s"$root/t"
    // v1: a hand-landed JSON epoch (the stream-arrival format)
    val e1 = java.nio.file.Paths.get(dir, "d-e1")
    java.nio.file.Files.createDirectories(e1)
    java.nio.file.Files.writeString(e1.resolve("part-0.json"),
      "{\"k\":1,\"tag\":\"a\"}\n{\"k\":2,\"tag\":\"b\"}\n")
    assert(VersionedManifest.tryCommit(spark, dir, 1,
      "data=d-e1\nformat=json\nepoch one"))
    val sink = freshDir("vmixspec_sink")
    val ckpt = freshDir("vmixspec_ckpt")
    def drained(): Seq[Long] = {
      val q = spark.readStream.table("vmix11.tables.t")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(sink).collect().map(_.getAs[Long]("k")).toSeq.sorted
    }
    assert(drained() == Seq(1L, 2L))
    // v2: a parquet APPEND with per-dir format addressing
    import spark.implicits._
    Seq((3L, "c")).toDF("k", "tag").write.parquet(s"$dir/d-app")
    assert(VersionedManifest.tryCommit(spark, dir, 2,
      "data=d-e1;format=json\ndata=d-app;format=parquet\nappend"))
    // the append flows to the subscriber — exactly once
    assert(drained() == Seq(1L, 2L, 3L),
      "the parquet append did not reach the subscriber exactly once")
    // the MIXED snapshot batch-reads whole by SQL, typed per the schema
    assert(spark.sql("SELECT k FROM vmix11.tables.t").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    // time travel to the pre-append version still decodes JSON alone
    assert(spark.sql("SELECT k FROM vmix11.tables.t VERSION AS OF 1")
      .count() == 2)
    // v3: compaction (same rows, one parquet dir, dataChange=false)
    VersionedManifest.readAt(spark, dir, 2)
      .write.mode("overwrite").parquet(s"$dir/d-c")
    assert(VersionedManifest.tryCommit(spark, dir, 3,
      "data=d-c\nformat=parquet\ndataChange=false\ncompaction of 1..2"))
    assert(drained() == Seq(1L, 2L, 3L),
      "a dataChange=false compaction leaked rows into the subscriber")
    // the compacted (feed) table still batch-reads and still streams;
    // a LATER data-changing parquet append keeps feeding it
    Seq((4L, "d")).toDF("k", "tag").write.parquet(s"$dir/d-app2")
    assert(VersionedManifest.tryCommit(spark, dir, 4,
      "data=d-c;format=parquet\ndata=d-app2;format=parquet\nappend two"))
    assert(drained() == Seq(1L, 2L, 3L, 4L))
    assert(spark.sql("SELECT count(*) FROM vmix11.tables.t")
      .head().getLong(0) == 4L)
  }

  test("maxVersionsPerBatch: a backlogged subscriber catches up in bounded bites, exactly once") {
    val root = freshDir("vadm")
    VersionedCatalog.mount(spark, "vadm11", root)
    spark.sql("CREATE TABLE vadm11.tables.t (k BIGINT, tag STRING)")
    val dir = s"$root/t"
    // a 3-version backlog, one row each (cumulative data= addressing)
    (1 to 3).foreach { v =>
      val d0 = java.nio.file.Paths.get(dir, s"d-e$v")
      java.nio.file.Files.createDirectories(d0)
      java.nio.file.Files.writeString(d0.resolve("part-0.json"),
        s"""{"k":$v,"tag":"t$v"}\n""")
      val lines = (1 to v).map(i => s"data=d-e$i") :+ "format=json"
      assert(VersionedManifest.tryCommit(spark, dir, v,
        lines.mkString("\n") + s"\nepoch $v"))
    }
    val sink = freshDir("vadm_sink")
    val q = spark.readStream
      .option("maxVersionsPerBatch", "1")
      .table("vadm11.tables.t")
      .writeStream.format("parquet").option("path", sink)
      .option("checkpointLocation", freshDir("vadm_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // every row exactly once...
    assert(spark.read.parquet(sink).collect().map(_.getAs[Long]("k"))
      .sorted.toSeq == Seq(1L, 2L, 3L))
    // ...across THREE bounded micro-batches, not one table-sized batch
    val batchRows = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
    assert(batchRows == Seq(1L, 1L, 1L),
      s"expected 3 one-version batches, saw input rows $batchRows")
  }

  test("catalog reads keep parquet pushdown: filter and pruning reach the delegate scan") {
    // the catalog must only decide WHICH dirs a snapshot means — the
    // delegate ScanBuilder is handed back untouched, so predicate
    // pushdown and column pruning are the stock parquet scan's
    graft.SparkEntry.queries("q321_sql_time_travel")(spark, sf0001).collect()
    val cat = VersionedCatalog.mount(spark, "g321spec", StagingDirs.dir(spark, "sqltt", sf0001))
    val df = spark.sql(
      s"SELECT doc_id FROM $cat.tables.tt VERSION AS OF 2 WHERE doc_id = 42")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(doc_id,42)"),
      s"filter did not reach the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("n_chars"),
      s"column pruning lost through the catalog:\n$plan")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(42L))
  }

  test("pinned catalog: tables travel together; in-flight table commits stay invisible") {
    graft.SparkEntry.queries("q331_sql_multitable_snapshot")(spark, sf0001).collect()
    val cat = VersionedCatalog.mount(spark, "g331spec", StagingDirs.dir(spark, "sqlmt", sf0001),
      pinned = true)
    // the CURRENT pin (catalog v2) excludes src3 — and the in-flight
    // documents v=3 (src5 also erased) must be invisible despite its
    // table-level commit existing
    val srcs = spark.sql(
      s"SELECT DISTINCT source FROM $cat.tables.documents")
      .collect().map(_.getString(0)).toSet
    assert(!srcs.contains("src3") && srcs.contains("src5"),
      s"pin leaked a generation: $srcs")
    // VERSION AS OF 1 = CATALOG version 1: BOTH tables at their pinned
    // versions — documents still holds src3 AND docstats agrees
    val v1 = spark.sql(
      s"""SELECT CAST(COUNT(*) AS BIGINT) FROM $cat.tables.documents VERSION AS OF 1 d
         |JOIN $cat.tables.docstats VERSION AS OF 1 s ON d.source = s.source
         |WHERE d.source = 'src3'""".stripMargin).head.getLong(0)
    assert(v1 > 0, "catalog v1 must still see src3 in both tables")
    // a catalog version nothing committed is an analysis-time refusal
    val e = intercept[Exception](spark.sql(
      s"SELECT * FROM $cat.tables.documents VERSION AS OF 9"))
    assert(e.getMessage.contains("not committed"), e.getMessage)
    // a table the pin set does not name does not exist in this snapshot
    intercept[org.apache.spark.sql.AnalysisException](
      spark.sql(s"SELECT * FROM $cat.tables.ghost"))
  }

  test("CALL sys.rollback flips the pointer; the bad version stays travelable") {
    graft.SparkEntry.queries("q330_sql_rollback")(spark, sf0001).collect()
    val cat = VersionedCatalog.mount(spark, "g330spec", StagingDirs.dir(spark, "sqlrb", sf0001))
    val good = spark.sql(s"SELECT COUNT(*) FROM $cat.tables.tt").head.getLong(0)
    val v1 = spark.sql(
      s"SELECT COUNT(*) FROM $cat.tables.tt VERSION AS OF 1").head.getLong(0)
    val v2 = spark.sql(
      s"SELECT COUNT(*) FROM $cat.tables.tt VERSION AS OF 2").head.getLong(0)
    assert(good == v1, "latest state is not the restored version")
    val full = graft.Tables.documents(spark, sf0001).count()
    assert(v2 == 2 * full, "the bad (doubled) version must stay travelable")
    val hist = spark.sql(
      s"SELECT operation FROM $cat.tables.tt.history ORDER BY version")
      .collect().map(_.getString(0))
    assert(hist.take(2).toSeq ==
      Seq("good load", "bad rewrite (doubled rows)"))
    assert(hist.last == "rollback to version 1", hist.mkString("; "))
  }

  test("TIMESTAMP AS OF resolves against manifest commit times") {
    val dir = freshDir("vmts")
    spark.range(1).toDF("k").write.mode("overwrite").parquet(s"$dir/v=1")
    VersionedManifest.commit(spark, dir, 1, "first")
    Thread.sleep(1100)
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    spark.range(5).toDF("k").write.mode("overwrite").parquet(s"$dir/v=2")
    VersionedManifest.commit(spark, dir, 2, "second")
    assert(VersionedManifest.versionAtTimestamp(spark, dir, between) == 1L)
    assert(VersionedManifest.versionAtTimestamp(
      spark, dir, System.currentTimeMillis()) == 2L)
    intercept[IllegalStateException](
      VersionedManifest.versionAtTimestamp(spark, dir, between - 3600 * 1000))
    // the SQL spelling rides the same resolution
    val root = new java.io.File(dir).getParent
    VersionedCatalog.mount(spark, "vc11b", root)
    val tbl = new java.io.File(dir).getName
    val n = spark.sql(
      s"SELECT COUNT(*) FROM vc11b.tables.`$tbl` " +
        "TIMESTAMP AS OF current_timestamp()")
      .head.getLong(0)
    assert(n == 5)
  }

  test("batch write face: INSERT INTO appends; a constraint violation refuses and publishes nothing") {
    val root = freshDir("vins")
    val dir = s"$root/t"
    VersionedManifest.writeSchema(spark, dir, schema)
    val w = new VersionedStreamingWrite(dir, "seed", schema)
    w.commit(0, Array(stageEpoch(w, 0, Seq(1L -> "a", 2L -> "b"))))
    VersionedManifest.addConstraint(spark, dir, "k_pos", "k > 0")
    VersionedCatalog.mount(spark, "vins11", root)
    spark.sql("INSERT INTO vins11.tables.t SELECT 3L AS k, 'c' AS tag")
    assert(spark.sql("SELECT COUNT(*) FROM vins11.tables.t")
      .head.getLong(0) == 3)
    val before = VersionedManifest.latestCommitted(spark, dir)
    val e = intercept[Exception](spark.sql(
      "INSERT INTO vins11.tables.t SELECT -7L AS k, 'bad' AS tag"))
    assert(e.getMessage.contains("append refused") ||
      Option(e.getCause).exists(_.getMessage.contains("append refused")),
      e.toString)
    // refusal published NOTHING: same version, same rows
    assert(VersionedManifest.latestCommitted(spark, dir) == before)
    assert(spark.sql("SELECT COUNT(*) FROM vins11.tables.t")
      .head.getLong(0) == 3)
  }

  test("INSERT OVERWRITE truncates atomically; earlier versions still travel") {
    val root = freshDir("vtrunc")
    val dir = s"$root/t"
    VersionedManifest.writeSchema(spark, dir, schema)
    val w = new VersionedStreamingWrite(dir, "seed", schema)
    w.commit(0, Array(stageEpoch(w, 0, Seq(1L -> "a", 2L -> "b"))))
    VersionedCatalog.mount(spark, "vtr11", root)
    spark.sql("INSERT OVERWRITE vtr11.tables.t SELECT 9L AS k, 'z' AS tag")
    assert(spark.sql("SELECT k FROM vtr11.tables.t")
      .collect().map(_.getLong(0)).toSeq == Seq(9L))
    assert(spark.sql("SELECT COUNT(*) FROM vtr11.tables.t VERSION AS OF 1")
      .head.getLong(0) == 2)
  }

  test("replaceWhere: stray source rows refuse; the out-of-scope dir re-addresses untouched") {
    import spark.implicits._
    val root = freshDir("vrepl")
    val dir = s"$root/t"
    VersionedManifest.writeSchema(spark, dir, schema)
    // two dirs: tag 'a' rows and tag 'b' rows
    Seq((1L, "a"), (2L, "a")).toDF("k", "tag")
      .write.parquet(s"$dir/d-1")
    VersionedManifest.commit(spark, dir, 1, s"data=$dir/d-1\nseed a")
    Seq((10L, "b")).toDF("k", "tag").write.parquet(s"$dir/d-2")
    VersionedManifest.commit(spark, dir, 2,
      s"data=$dir/d-1\ndata=$dir/d-2\nseed b")
    VersionedCatalog.mount(spark, "vrp11", root)
    // a source row with tag 'b' does NOT match the predicate — refuse
    val stray = intercept[Exception] {
      Seq((5L, "a"), (6L, "b")).toDF("k", "tag")
        .writeTo("vrp11.tables.t")
        .overwrite(org.apache.spark.sql.functions.col("tag") ===
          org.apache.spark.sql.functions.lit("a"))
    }
    assert(stray.getMessage.contains("not matching") ||
      Option(stray.getCause).exists(_.getMessage.contains("not matching")),
      stray.toString)
    assert(VersionedManifest.latestCommitted(spark, dir).contains(2L))
    // the clean replace: only the 'a' dir rewrites, d-2 re-addresses
    Seq((5L, "a")).toDF("k", "tag")
      .writeTo("vrp11.tables.t")
      .overwrite(org.apache.spark.sql.functions.col("tag") ===
        org.apache.spark.sql.functions.lit("a"))
    assert(VersionedManifest.latestCommitted(spark, dir).contains(3L))
    val v3 = VersionedManifest.resolveDataDirs(spark, dir, 3).toSet
    assert(v3.contains(s"$dir/d-2"), v3.toString)
    assert(!v3.contains(s"$dir/d-1"), v3.toString)
    assert(spark.sql("SELECT k FROM vrp11.tables.t ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(5L, 10L))
    // an untranslatable predicate refuses loudly: Spark can't express
    // `k % 2 = 0` as V1 filters, so the overwrite never reaches the
    // manifest (and certainly never overwrites wrong)
    val bad = intercept[Exception] {
      Seq((7L, "a")).toDF("k", "tag")
        .writeTo("vrp11.tables.t")
        .overwrite(org.apache.spark.sql.functions.expr("k % 2 = 0"))
    }
    assert(bad.getMessage.contains("does not support overwrite by expression"),
      bad.toString)
    assert(VersionedManifest.latestCommitted(spark, dir).contains(3L))
  }

  test("updateWhere: assignments see the PRE-update row (swap); no-match publishes nothing") {
    import spark.implicits._
    val root = freshDir("vupd")
    val dir = s"$root/t"
    Seq((1L, 100L), (5L, 500L)).toDF("a", "b").write.parquet(s"$dir/d-1")
    VersionedManifest.commit(spark, dir, 1, s"data=$dir/d-1\nseed")
    val (v, aff, unt) = VersionedManifest.updateWhere(spark, dir,
      "a > 1", Seq("a" -> "b", "b" -> "a"))
    assert(v == 2L && aff.size == 1 && unt.isEmpty)
    val rows = VersionedManifest.readAt(spark, dir, 2)
      .orderBy("a").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // (5,500) swapped to (500,5) — both RHSes read the old row
    assert(rows == Seq((1L, 100L), (500L, 5L)), rows.toString)
    // a predicate matching nothing publishes NO churn version
    val (v2, aff2, _) = VersionedManifest.updateWhere(spark, dir,
      "a > 99999", Seq("a" -> "0"))
    assert(v2 == 2L && aff2.isEmpty)
    assert(VersionedManifest.latestCommitted(spark, dir).contains(2L))
  }

  test("commitAudited refuses the poisoned batch: no manifest, orphan is vacuumable") {
    val dir = freshDir("wap")
    import spark.implicits._
    Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/v=1")
    val audit: org.apache.spark.sql.DataFrame => Seq[String] = df => {
      val neg = df.filter(org.apache.spark.sql.functions.col("n_chars") < 0).count()
      if (neg > 0) Seq(s"n_chars<0: $neg") else Nil
    }
    assert(VersionedManifest.commitAudited(spark, dir, 1, "load", audit).isEmpty)
    Seq((3L, -5L)).toDF("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/v=2")
    val refused = VersionedManifest.commitAudited(spark, dir, 2, "bad", audit)
    assert(refused == Seq("n_chars<0: 1"))
    // invisible to readers, at latest AND by direct version address
    assert(VersionedManifest.latestCommitted(spark, dir).contains(1L))
    intercept[IllegalStateException](VersionedManifest.readAt(spark, dir, 2))
    // the refused dir is an orphan vacuum reclaims; v=1 survives
    assert(VersionedManifest.vacuum(spark, dir) == Seq(2L))
    assert(VersionedManifest.readLatest(spark, dir).count() == 2)
  }

  test("atomic CTAS/RTAS: abort leaves the prior snapshot and no staging") {
    val root = freshDir("rtas")
    val cat = "g_rtas_spec"
    VersionedCatalog.mount(spark, cat, root)
    spark.sql(s"CREATE TABLE $cat.tables.t AS SELECT 1L AS k, 'a' AS tag")
    // CTAS on an existing table refuses at analysis time
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.tables.t AS SELECT 2L AS k, 'b' AS tag")
    }
    // REPLACE of a missing table refuses
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE $cat.tables.nope AS SELECT 1L AS k")
    }
    spark.sql(s"CREATE OR REPLACE TABLE $cat.tables.t " +
      "AS SELECT 2L AS k, 'b' AS tag")
    // failing replace: ANSI cast throws on the executor mid-write
    intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TABLE $cat.tables.t " +
        "AS SELECT CAST(tag AS BIGINT) AS k, tag FROM " +
        s"$cat.tables.t")
    }
    // latest is STILL v2's content; v1 remains time-travelable
    val cur = spark.sql(s"SELECT k, tag FROM $cat.tables.t").collect()
    assert(cur.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((2L, "b")))
    val v1 = spark.sql(s"SELECT k FROM $cat.tables.t VERSION AS OF 1").collect()
    assert(v1.map(_.getLong(0)).toSeq == Seq(1L))
    // the aborted staging dir was deleted
    val staged = new java.io.File(s"$root/t").listFiles()
      .map(_.getName).filter(_.startsWith("d-rtas-"))
    assert(staged.length == 2, staged.mkString(","))
  }
}
