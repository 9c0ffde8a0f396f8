package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException

/** Pins the one measurement protocol: [[Measure.once]] leaves no persisted
  * RDD behind whether the query returns or throws, and its construct
  * seconds sit inside its total; [[Measure.warmMin]] runs its body N+1
  * times; and no main outside `Measure.scala` keeps a clock or a batch
  * `noop` sink of its own.
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

  test("no main keeps its own clock or batch noop sink outside Measure.scala") {
    val sources = {
      val walk = Files.walk(Paths.get("src/main/scala"))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.getFileName.toString == "Measure.scala"))
    val offenders = for {
      p <- sources if p.getFileName.toString != "Measure.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("System.nanoTime") || line.contains("write.format(\"noop\")")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
