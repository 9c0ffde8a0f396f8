package graft.sources

import graft.SparkSpec
import graft.GraftSession.withConf
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Sink round trips (SURVEY.md §2.1 S7/S8): the engine's CSV and JSON
  * writers reproduce the reference's landed formats well enough that a
  * re-read returns the same data under the ''→NULL rule.
  */
class SinksSpec extends SparkSpec {

  private def tmpDir(tag: String): String = {
    tempDir(s"graft_sink_$tag") + "/out"
  }

  test("CSV sink round trip (header, quoted fields, '' to NULL)") {
    val src = ArticleSource.json(spark, "blockchain_articles")
    val path = tmpDir("csv")
    // coalesce(1) mirrors the reference's single-file artifact (main.py:194)
    src.coalesce(1).write.option("header", true).option("escape", "\"").csv(path)
    val back = spark.read.option("header", true).option("multiLine", true)
      .option("escape", "\"").csv(path)
    assert(back.count() == src.count())
    val cols = src.columns.sorted.toSeq
    val a = src.select(cols.map(c => count(col(c)).as(c)): _*).collect()(0)
    val b = back.select(cols.map(c => count(col(c)).as(c)): _*).collect()(0)
    assert(a == b, s"fill profile drifted: wrote=$a read=$b")
  }

  test("JSON sink round trip (JSONL out, same records back)") {
    val src = ArticleSource.json(spark, "acm_blockchain_articles")
    val path = tmpDir("json")
    src.write.json(path) // JSONL — the Spark-native spelling of S8
    val back = spark.read.json(path)
    assert(back.count() == src.count())
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doi")).collect().map(_.getString(0)).sorted.toSeq
    assert(key(back) == key(src))
  }

  test("JSON array sink is byte-identical to the reference's landed artifacts") {
    // main.py:197-198 — json.dump(results, f, ensure_ascii=False, indent=2):
    // round-trip each corpus through ArticleSource (''→NULL) and the array
    // sink (NULL→'') and compare bytes against the reference's own file
    val ieeeCols = ArticleSource.schema.fields.map(_.name).toSeq
    val acmCols = ieeeCols.take(9) // mainn.py:67-83 — ACM rows carry 9 keys
    for ((name, cols) <- Seq(
        "ai_articles" -> ieeeCols, "blockchain_articles" -> ieeeCols,
        "acm_machine_learning_articles" -> acmCols,
        "acm_blockchain_articles" -> acmCols)) {
      val path = tmpDir(s"arr_$name") + ".json"
      JsonArraySink.write(ArticleSource.json(spark, name), cols, path)
      val got = Files.readAllBytes(java.nio.file.Paths.get(path))
      val want = Files.readAllBytes(
        java.nio.file.Paths.get(s"${ArticleSource.dataDir}/$name.json"))
      assert(java.util.Arrays.equals(got, want),
        s"$name: ${got.length}B written vs ${want.length}B golden")
    }
  }

  test("parquet sink round trip preserves types exactly") {
    val src = graft.Tables.orders(spark, sf0001)
    val path = tmpDir("parquet")
    src.write.parquet(path)
    val back = spark.read.parquet(path)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
  }

  test("ORC sink round trip preserves types exactly") {
    val src = graft.Tables.orders(spark, sf0001)
    val path = tmpDir("orc")
    src.write.orc(path)
    val back = spark.read.orc(path)
    assert(back.schema == src.schema)
    assert(back.count() == src.count())
    // spot-check values survive the format hop
    val k = src.agg(org.apache.spark.sql.functions.sum("o_orderkey")).head.getLong(0)
    assert(back.agg(org.apache.spark.sql.functions.sum("o_orderkey")).head.getLong(0) == k)
  }

  test("parquet schema evolution: mergeSchema unions columns, missing read as null") {
    // the landing-zone reality: yesterday's files lack the column added
    // today. mergeSchema must union the schemas and null-fill the gap.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val path = tmpDir("evolve")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v1")
      .write.parquet(s"$path/day=1")
    Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v1", "v2")
      .write.parquet(s"$path/day=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.toSet == Set("id", "v1", "v2", "day"))
    val rows = merged.orderBy("id")
      .select(col("id"), col("v2")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.toSeq == Seq(
      (1L, None), (2L, None), (3L, Some(30L)), (4L, Some(40L))))
  }

  test("dynamic partition overwrite replaces only the partitions written") {
    // the incremental-reload contract: INSERT OVERWRITE of day=2 must not
    // touch day=1 under partitionOverwriteMode=dynamic (static mode would
    // truncate the whole table)
    import spark.implicits._
    val path = tmpDir("dpo")
    Seq((1L, "d1"), (2L, "d1"), (3L, "d2"))
      .toDF("id", "day").write.partitionBy("day").parquet(path)
    withConf(spark, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      Seq((30L, "d2"), (31L, "d2")).toDF("id", "day")
        .write.mode("overwrite").partitionBy("day").parquet(path)
    }
    val back = spark.read.parquet(path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(back == Set((1L, "d1"), (2L, "d1"), (30L, "d2"), (31L, "d2")),
      s"dynamic overwrite produced $back")
  }
}
