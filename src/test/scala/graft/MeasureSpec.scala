package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException

/** Pins the one measurement protocol: [[Measure.once]] leaves no persisted
  * RDD behind whether the query returns or throws, and its construct
  * seconds sit inside its total; [[Measure.warmMin]] runs its body N+1
  * times; no main outside `Measure.scala` keeps a clock or a batch
  * `noop` sink of its own; no source builds a stock Hadoop
  * `Configuration` or switches a filesystem's checksums; no source
  * reads parquet around [[Tables.parquet]]; and bounded streams, fresh
  * stream estates and epoch-marker scans each have one definition.
  */
class MeasureSpec extends SparkSpec {

  private val q85 = SparkEntry.queries("q85_dedup_components")

  test("once releases the blocks a query persisted while it was built") {
    CacheHygiene.release(spark, blocking = true)
    var whileBuilt = -1
    Measure.once(spark) {
      val df = q85(spark, sf0001)
      whileBuilt = CacheHygiene.persistedRddCount(spark)
      df
    }
    assert(whileBuilt > 0, "q85's fixpoint localCheckpoints while it is built")
    assert(CacheHygiene.persistedRddCount(spark) === 0)
  }

  test("a query that throws propagates and still leaves no persisted RDD") {
    CacheHygiene.release(spark, blocking = true)
    val missing = StagingDirs.dir(spark, "measurespec_missing")
    val e = intercept[AnalysisException] {
      Measure.once(spark) {
        spark.sparkContext.range(0, 10).persist().count()
        q85(spark, missing)
      }
    }
    assert(e.getMessage.contains("measurespec_missing"))
    assert(CacheHygiene.persistedRddCount(spark) === 0)
  }

  test("construct seconds are part of the total") {
    val (construct, total) = Measure.once(spark)(q85(spark, sf0001))
    assert(construct > 0.0)
    assert(construct <= total)
  }

  test("warmMin runs its body once untimed and then N times") {
    var calls = 0
    val best = Measure.warmMin(spark, 3) { calls += 1; spark.range(1).toDF() }
    assert(calls === 4)
    assert(best >= 0.0)
  }

  private lazy val sources = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  /** Every `src/main/scala` line (outside `exempt`) that holds one of `banned`. */
  private def offenders(banned: Seq[String], exempt: String = ""): Seq[String] =
    offending(line => banned.exists(line.contains), exempt)

  private def offending(bad: String => Boolean, exempt: String = ""): Seq[String] =
    for {
      p <- sources if p.getFileName.toString != exempt
      (line, i) <- Files.readAllLines(p).asScala.toSeq.zipWithIndex
      if bad(line)
    } yield s"$p:${i + 1}: ${line.trim}"

  test("no main keeps its own clock or batch noop sink outside Measure.scala") {
    assert(sources.exists(_.getFileName.toString == "Measure.scala"))
    val found = offenders(Seq("System.nanoTime", "write.format(\"noop\")"), "Measure.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  // FileSystem.get caches one instance per scheme for the whole JVM: a
  // stock Configuration that reaches it first pins Hadoop's spawning local
  // filesystem, and a checksum switch on it changes every other writer
  test("no source builds a stock Hadoop Configuration or switches checksums") {
    val found = offenders(Seq("new org.apache.hadoop.conf.Configuration()",
      "new Configuration()", "setWriteChecksum", "setVerifyChecksum"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  // a schema-less read.parquet infers its schema in a Spark job of its
  // own; Tables.parquet reads the same footer on the driver
  test("no source reads parquet outside Tables.scala") {
    assert(sources.exists(_.getFileName.toString == "Tables.scala"))
    val found = offenders(Seq("read.parquet("), "Tables.scala")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  // a bounded stream runs only through Streams.drain, a stream estate that
  // must not resume a committed checkpoint comes only from
  // StagingDirs.fresh, and committed history is scanned for an epoch
  // marker only by VersionedManifest.hasMarker
  test("one bounded-stream run, one fresh-estate counter, one epoch-marker scan") {
    def in(file: String, found: Seq[String]) =
      assert(found.size === 1 && found.head.contains(s"/$file:"), found.mkString("\n", "\n", ""))
    in("Streams.scala", offenders(Seq("Trigger.AvailableNow()")))
    in("Streams.scala", offenders(Seq("awaitTermination()")))
    in("VersionedManifest.scala", offenders(Seq("== marker", "contains(marker")))
    val counters = offending(line => "q\\d+Runs".r.findFirstIn(line).nonEmpty) ++
      offenders(Seq("createTempDirectory"))
    assert(counters.isEmpty, counters.mkString("\n", "\n", ""))
  }
}
