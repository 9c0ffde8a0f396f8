package graft.functions

import graft.SparkSpec
import graft.sources.BoundSplitBucket
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class DigestSpec extends SparkSpec {

  /** One row carrying every column the operators hash, with their types. */
  private lazy val keys = spark.sql(
    """SELECT CAST(1 AS BIGINT) AS doc_id, CAST(2 AS BIGINT) AS event_id,
      |  CAST(3 AS BIGINT) AS user_id, CAST(4 AS BIGINT) AS o_custkey,
      |  CAST(5 AS BIGINT) AS g, CAST(6 AS BIGINT) AS grp, CAST(7 AS BIGINT) AS salt,
      |  'b' AS brand, 'w' AS w, 't' AS text, 'x' AS x,
      |  md5('h') AS h""".stripMargin)

  private def analyzed(c: Column): Expression =
    keys.select(c).queryExecution.analyzed.asInstanceOf[Project].projectList.head match {
      case Alias(e, _) => e
      case e => e
    }

  // every SQL spelling an operator carried before Digest, next to the
  // helper spelling that replaced it
  private val shapes: Seq[(String, Column)] = Seq(
    "CAST(conv(substring(md5(concat('samp-', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 100" ->
      Digest.bucket(Digest.salted("samp-", col("doc_id")), 1, 7) % 100,
    "CAST(conv(substring(md5(brand), 1, 4), 16, 10) AS BIGINT) % 2000" ->
      Digest.bucket(col("brand"), 1, 4) % 2000,
    "CAST(conv(substring(md5(concat('del-', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 20 = 0" ->
      (Digest.bucket(Digest.salted("del-", col("doc_id")), 1, 7) % 20 === 0),
    "CAST(conv(substring(md5(concat('salt-', CAST(event_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % salt" ->
      Digest.bucket(Digest.salted("salt-", col("event_id")), 1, 8) % col("salt"),
    "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '-', CAST(g AS STRING))), 1, 7), 16, 10) AS BIGINT) % 7 = 0" ->
      (Digest.bucket(concat(col("doc_id").cast("string"), lit("-"),
        col("g").cast("string")), 1, 7) % 7 === 0),
    "CAST(conv(substring(md5(concat('doc-', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 100" ->
      Digest.docBucket(100),
    "CAST(conv(substring(md5(concat('doc-', CAST(doc_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 1000000" ->
      Digest.docBucket(1000000),
    "CAST(conv(substring(md5(concat('split-', CAST(grp AS STRING))), 1, 7), 16, 10) AS BIGINT) % 100" ->
      Digest.bucket(Digest.salted("split-", col("grp")), 1, 7) % 100,
    "CAST(conv(substring(md5(w), 1, 4), 16, 10) AS BIGINT) % 4096" ->
      Digest.bucket(col("w"), 1, 4) % 4096,
    "CAST(conv(substring(h, 1, 12), 16, 10) AS BIGINT)" ->
      Digest.hexPrefix(col("h"), 1, 12),
    "CAST(conv(substring(md5(concat('pri-', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)" ->
      Digest.bucket(Digest.salted("pri-", col("doc_id")), 1, 12),
    "CAST(conv(substring(md5(concat('ep3-', CAST(doc_id AS STRING))), 1, 12), 16, 10) AS BIGINT)" ->
      Digest.bucket(Digest.salted("ep3-", col("doc_id")), 1, 12),
    "CAST(conv(substring(md5(text), 1, 7), 16, 10) AS BIGINT)" ->
      Digest.bucket(col("text"), 1, 7),
    "CAST(conv(substring(md5(x), 1, 14), 16, 10) AS BIGINT)" ->
      Digest.bucket(col("x"), 1, 14),
    "CAST(conv(substring(md5(x), 9, 7), 16, 10) AS BIGINT)" ->
      Digest.bucket(col("x"), 9, 7),
    "CAST(conv(substring(md5(concat('ab-', CAST(user_id AS STRING))), 1, 7), 16, 10) AS BIGINT) % 2" ->
      Digest.bucket(Digest.salted("ab-", col("user_id")), 1, 7) % 2,
    "CAST(conv(substring(md5(concat('kmv-', CAST(o_custkey AS STRING))), 1, 12), 16, 10) AS BIGINT)" ->
      Digest.bucket(Digest.salted("kmv-", col("o_custkey")), 1, 12),
    "CAST(conv(substring(md5(concat('kmvset-', w)), 1, 12), 16, 10) AS BIGINT)" ->
      Digest.bucket(concat(lit("kmvset-"), col("w")), 1, 12),
    "md5(concat('doc-', CAST(doc_id AS STRING)))" -> Digest.docMd5)

  test("every Digest spelling analyzes to the SQL spelling it replaced") {
    shapes.foreach { case (sql, helper) =>
      val want = analyzed(expr(sql))
      val got = analyzed(helper)
      assert(got.semanticEquals(want), s"\n$sql\n  sql:    $want\n  helper: $got")
    }
  }

  /** Valid UTF-8 strings: empty, ASCII, Latin-1, CJK and astral (emoji). */
  private val strings: Seq[String] = {
    val rnd = new scala.util.Random(20261017)
    val ranges = Seq((0x20, 0x7e), (0xa0, 0xff), (0x4e00, 0x9fff), (0x1f300, 0x1f5ff))
    Seq("", "a", "doc-0", "ä", "日本") ++ (0 until 200).map { _ =>
      val sb = new java.lang.StringBuilder
      (0 until rnd.nextInt(24)).foreach { _ =>
        val (lo, hi) = ranges(rnd.nextInt(ranges.size))
        sb.appendCodePoint(lo + rnd.nextInt(hi - lo + 1))
      }
      sb.toString
    }
  }

  private def jvmDigest(s: String): Array[Byte] = Digest.instance.digest(s.getBytes("UTF-8"))

  test("the JVM primitive equals the composite for every (off, len) in 1..15") {
    import spark.implicits._
    val shapes = for (off <- 1 to 15; len <- 1 to 15) yield (off, len)
    val composite = strings.toDF("s")
      .crossJoin(shapes.toDF("off", "len"))
      .select(col("s"), col("off"), col("len"),
        expr("CAST(conv(substring(md5(s), off, len), 16, 10) AS BIGINT)"))
      .as[(String, Int, Int, Long)].collect()
    assert(composite.length == strings.size * shapes.size)
    composite.foreach { case (s, off, len, want) =>
      assert(Digest.nibbles(jvmDigest(s), off - 1, len) == want, s"'$s' off=$off len=$len")
    }
  }

  test("the JVM hex form equals md5() and the %02x spelling it replaced") {
    import spark.implicits._
    val sparkHex = strings.toDF("s").select(col("s"), md5(col("s")))
      .as[(String, String)].collect()
    sparkHex.foreach { case (s, want) =>
      assert(Digest.md5Hex(s.getBytes("UTF-8")) == want, s"'$s'")
      val dg = jvmDigest(s)
      assert(Digest.hex(dg) == dg.map("%02x".format(_)).mkString, s"'$s'")
    }
  }

  test("split_bucket's invoke equals the composite % n") {
    import spark.implicits._
    for (n <- Seq(1, 7, 100, 1000003)) {
      val composite = strings.toDF("s")
        .select(col("s"), expr(s"CAST(conv(substring(md5(s), 1, 7), 16, 10) AS BIGINT) % $n"))
        .as[(String, Long)].collect()
      composite.foreach { case (s, want) =>
        assert(BoundSplitBucket.invoke(UTF8String.fromString(s), n).toLong == want, s"'$s' n=$n")
      }
    }
  }
}
