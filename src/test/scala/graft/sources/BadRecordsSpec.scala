package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Bad-row tolerance (SURVEY.md §2.9): the reference skips broken rows and
  * keeps scraping (`main.py:117-123`); the engine analog is PERMISSIVE
  * parsing with `_corrupt_record` — broken records are quarantined into a
  * column instead of failing the job.
  */
class BadRecordsSpec extends SparkSpec {

  test("PERMISSIVE JSONL parse quarantines corrupt rows, keeps good ones") {
    val dir = new java.io.File(tempDir("graft_bad"))
    val f = new java.io.File(dir, "mixed.jsonl")
    Files.writeString(f.toPath,
      """{"titre": "ok one", "doi": "10.1/a"}
        |{"titre": "broken (unclosed
        |{"titre": "ok two", "doi": "10.1/b"}
        |not json at all
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("titre", StringType), StructField("doi", StringType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(f.getAbsolutePath)
      .cache() // corrupt-record queries need the full row materialized
    assert(df.count() == 4)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 2)
    assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    assert(df.filter(col("titre") === "ok two").count() == 1)
    df.unpersist()
  }

  test("FAILFAST mode surfaces the corruption instead (opt-in strictness)") {
    val dir = new java.io.File(tempDir("graft_bad2"))
    val f = new java.io.File(dir, "bad.jsonl")
    Files.writeString(f.toPath, "{\"a\": 1}\nnope\n")
    val thrown = intercept[Exception] {
      spark.read
        .schema(StructType(Seq(StructField("a", LongType))))
        .option("mode", "FAILFAST")
        .json(f.getAbsolutePath)
        .collect()
    }
    assert(thrown.getMessage.contains("FAILFAST") ||
      thrown.getCause != null, s"unexpected error: ${thrown.getMessage}")
  }
}
