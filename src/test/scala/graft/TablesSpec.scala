package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Try

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession.withConf

/** Pins [[Tables.parquet]]'s contract: a read of any input returns the
  * schema, nullability and rows of a schema-less `spark.read.parquet`,
  * launches no Spark job where Spark infers from one footer, and throws
  * Spark's own exception where Spark does.
  */
class TablesSpec extends SparkSpec {

  private val names = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "events", "documents", "embeddings")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `Tables.parquet(paths)` equals a schema-less read of them and, unless
    * `jobs` is false, launches no Spark job.
    */
  private def matchesSpark(s: SparkSession, paths: String*)(jobs: Boolean = false): Unit = {
    val what = paths.mkString(", ")
    val plain = s.read.parquet(paths: _*)
    val (df, launched) = jobsDuring(Tables.parquet(s, paths: _*))
    if (!jobs) assert(launched === 0, s"$what: launched $launched jobs")
    assert(df.schema === plain.schema, s"$what: schema")
    assert(df.schema.map(_.nullable) === plain.schema.map(_.nullable), s"$what: nullability")
    assert(rows(df) === rows(plain), s"$what: rows")
  }

  /** `Tables.parquet(path)` throws what a schema-less read of it throws. */
  private def throwsAsSpark(path: String): Unit = {
    val plain = Try(spark.read.parquet(path)).failed.get
    val ours = Try(Tables.parquet(spark, path)).failed.get
    assert(ours.getClass === plain.getClass, path)
    Seq(plain, ours).foreach(e => assert(e.isInstanceOf[SparkThrowable], e))
    assert(ours.asInstanceOf[SparkThrowable].getCondition ===
      plain.asInstanceOf[SparkThrowable].getCondition, path)
  }

  test("every table read matches a schema-less read and launches no job") {
    names.foreach(n => matchesSpark(spark, s"$sf0001/$n.parquet")())
    assert(jobsDuring(Tables.events(spark, sf0001))._2 === 0, "events")
  }

  test("a read follows the inference confs it runs under") {
    val events = s"$sf0001/events.parquet"
    Seq("true", "false").foreach { nanos =>
      withConf(spark, "spark.sql.legacy.parquet.nanosAsLong" -> nanos) { s =>
        // a TIMESTAMP(NANOS) generation of events fails inference under
        // false: the read must then fail as Spark's does
        if (Try(s.read.parquet(events)).isSuccess) matchesSpark(s, events)()
        else assert(Try(Tables.parquet(s, events)).isFailure, s"nanosAsLong $nanos")
      }
    }
    // an unadjusted TIMESTAMP(MICROS) ts is TIMESTAMP_NTZ only while NTZ
    // inference is on
    Seq("true", "false").foreach { ntz =>
      withConf(spark, "spark.sql.parquet.inferTimestampNTZ.enabled" -> ntz) { s =>
        matchesSpark(s, events)()
      }
    }
  }

  test("a rewritten file or directory is read with its new schema") {
    val dir = tempDir("tables_rewrite")
    val file = Paths.get(dir, "t.parquet")
    Files.copy(Paths.get(sf0001, "nation.parquet"), file)
    matchesSpark(spark, file.toString)()
    Files.copy(Paths.get(sf0001, "region.parquet"), file, StandardCopyOption.REPLACE_EXISTING)
    matchesSpark(spark, file.toString)()

    spark.range(3).write.parquet(s"$dir/d.parquet")
    matchesSpark(spark, s"$dir/d.parquet")()
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.mode("overwrite").parquet(s"$dir/d.parquet")
    matchesSpark(spark, s"$dir/d.parquet")()
    assert(Tables(spark, dir, "d").schema.fieldNames.toSeq === Seq("id", "s"))
  }

  test("partitioned parents, directory lists and file lists match a schema-less read") {
    val dir = tempDir("tables_layouts")
    spark.range(4).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(s"$dir/e/v=1")
    spark.range(6).selectExpr("id", "CAST(id AS STRING) AS s").write.parquet(s"$dir/e/v=2")
    spark.range(8).selectExpr("id", "id % 3 AS k", "id % 2 AS j")
      .write.partitionBy("k", "j").parquet(s"$dir/p")
    matchesSpark(spark, s"$dir/e")()
    assert(Tables.parquet(spark, s"$dir/e").columns.toSeq === Seq("id", "s", "v"))
    matchesSpark(spark, s"$dir/e/v=1")()
    matchesSpark(spark, s"$dir/e/v=1", s"$dir/e/v=2")()
    matchesSpark(spark, s"$dir/p")()
    val parts = Files.list(Paths.get(s"$dir/e/v=2")).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq
    matchesSpark(spark, parts: _*)()

    // a file column that is also a partition directory: Spark places and
    // types it differently under a given schema, so the read is Spark's
    spark.range(3).selectExpr("id", "'x' AS v").write.parquet(s"$dir/o/v=1")
    matchesSpark(spark, s"$dir/o")(jobs = true)
  }

  test("a streaming file sink is read from its log, and mergeSchema merges") {
    val dir = tempDir("tables_sink")
    spark.range(5).write.parquet(s"$dir/in")
    spark.readStream.schema(spark.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
      .writeStream.format("parquet").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$dir/ckpt").start(s"$dir/sink")
      .awaitTermination()
    // a file the log does not list, sorting first in the directory
    Files.copy(Paths.get(sf0001, "nation.parquet"), Paths.get(dir, "sink", "a.parquet"))
    matchesSpark(spark, s"$dir/sink")(jobs = true)
    assert(Tables.parquet(spark, s"$dir/sink").columns.toSeq === Seq("id"))

    spark.range(3).write.parquet(s"$dir/m1")
    spark.range(3).selectExpr("id", "id * 2 AS x").write.parquet(s"$dir/m2")
    withConf(spark, "spark.sql.parquet.mergeSchema" -> "true") { s =>
      matchesSpark(s, s"$dir/m1", s"$dir/m2")(jobs = true)
      assert(Tables.parquet(s, s"$dir/m1", s"$dir/m2").columns.toSeq === Seq("id", "x"))
    }
  }

  test("a missing path and an empty directory throw what Spark throws") {
    val dir = tempDir("tables_errors")
    throwsAsSpark(s"$dir/missing")
    Files.createDirectories(Paths.get(dir, "empty"))
    throwsAsSpark(s"$dir/empty")
  }
}
