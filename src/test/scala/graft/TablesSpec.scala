package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.GraftSession.withConf

/** Pins `Tables.apply`'s schema memo: a memoized read returns what a
  * schema-less read returns, launches no Spark job, and never serves a
  * schema for files or inference confs other than those it was inferred
  * under.
  */
class TablesSpec extends SparkSpec {

  private val names = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  /** Runs `body` and counts the Spark jobs it launched. Listener events
    * arrive asynchronously but in order, so a sentinel job run afterwards
    * marks the point where every job of `body` has been seen.
    */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    val sentinel = s"$group-end"
    val seen = new AtomicInteger
    val ended = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => seen.incrementAndGet()
          case `sentinel` => ended.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "tables memo", interruptOnCancel = false)
      val out = body
      sc.setJobGroup(sentinel, "tables memo sentinel", interruptOnCancel = false)
      sc.parallelize(Seq(1), 1).count()
      assert(ended.await(30, TimeUnit.SECONDS), "the sentinel job never reached the listener")
      (out, seen.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a memoized read matches a schema-less read and launches no job") {
    withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      names.foreach { n =>
        val plain = spark.read.parquet(s"$sf0001/$n.parquet")
        Tables(spark, sf0001, n)
        val (memo, jobs) = jobsDuring(Tables(spark, sf0001, n))
        assert(jobs === 0, s"$n: a warm read launched $jobs jobs")
        assert(memo.schema === plain.schema, s"$n: schema")
        assert(memo.schema.map(_.nullable) === plain.schema.map(_.nullable), s"$n: nullability")
        assert(rows(memo) === rows(plain), s"$n: rows")
      }
      assert(jobsDuring(Tables.events(spark, sf0001))._2 === 0, "events")
    }
  }

  test("flipping an inference conf misses the memo") {
    withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      Tables(spark, sf0001, "events")
    }
    withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "false") {
      // a TIMESTAMP(NANOS) generation of events fails inference here, after
      // its footer job has started; either way a miss launches a job
      val (_, jobs) = jobsDuring(Try(Tables(spark, sf0001, "events")))
      assert(jobs > 0, "nanosAsLong=false was served the schema inferred under true")
    }
    // an unadjusted TIMESTAMP(MICROS) ts is TIMESTAMP_NTZ only while NTZ
    // inference is on, so a stale entry would show as a wrong type
    withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> "true") {
      Seq("true", "false").foreach { ntz =>
        withConf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) {
          val plain = spark.read.parquet(s"$sf0001/events.parquet")
          assert(Tables(spark, sf0001, "events").schema === plain.schema, s"NTZ inference $ntz")
        }
      }
    }
  }

  test("a rewritten file or directory misses the memo") {
    val dir = tempDir("tables_memo")
    val file = Paths.get(dir, "t.parquet")
    Files.copy(Paths.get(sf0001, "nation.parquet"), file)
    Tables(spark, dir, "t")
    assert(jobsDuring(Tables(spark, dir, "t"))._2 === 0)
    Files.copy(Paths.get(sf0001, "region.parquet"), file, StandardCopyOption.REPLACE_EXISTING)
    val region = spark.read.parquet(s"$sf0001/region.parquet")
    val (reread, jobs) = jobsDuring(Tables(spark, dir, "t"))
    assert(jobs > 0)
    assert(reread.schema === region.schema)
    assert(rows(reread) === rows(region))

    spark.range(3).write.parquet(s"$dir/d.parquet")
    Tables(spark, dir, "d")
    assert(jobsDuring(Tables(spark, dir, "d"))._2 === 0)
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    val (d, djobs) = jobsDuring(Tables(spark, dir, "d"))
    assert(djobs > 0)
    assert(d.schema.fieldNames.toSeq === Seq("id", "s"))
    assert(rows(d) === Seq("[0,0]", "[1,1]", "[2,2]"))
  }
}
