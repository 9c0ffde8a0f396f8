package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the fused text/sketch kernels bit-identical to the composite
  * spellings they replace (q229/q234 BPE steps, q387 BLEU clip, q377
  * bootstrap weights, q219 window hashes, q220 count-min buckets) — the
  * DuckDB oracle replays those exact identities, so equivalence here is
  * each query's hash-match gate.
  */
class TextKernelsSpec extends SparkSpec {

  private def realVocab: DataFrame =
    graft.Tables.documents(spark, sf0001)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("s", expr(
        "array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), ' ')"))

  test("graft_bpe_pairs matches the posexplode/lead-window pair stream on the real vocab") {
    val v = realVocab
    val byW = Window.partitionBy(col("w")).orderBy(col("pos"))
    val old = v
      .select(col("w"), posexplode(split(col("s"), " ")).as(Seq("pos", "sym")))
      .withColumn("nxt", lead(col("sym"), 1).over(byW))
      .filter(col("nxt").isNotNull)
      .groupBy(concat(col("sym"), lit(" "), col("nxt")).as("pair"))
      .agg(count(lit(1)).as("c"))
    val fused = v.select(explode(expr("graft_bpe_pairs(s)")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c"))
    assert(old.count() > 0)
    assert(old.join(fused.withColumnRenamed("c", "fc"), Seq("pair"), "full")
      .filter(col("c").isNull || col("fc").isNull || col("c") =!= col("fc"))
      .count() == 0)
  }

  /** The exact pre-fusion merge application: mark matching adjacent pairs,
    * gaps-and-islands over marked runs, keep every other mark from the
    * first, rebuild the symbol string.
    */
  private def compositeMerge(v: DataFrame, pair: String): DataFrame = {
    val byW = Window.partitionBy(col("w")).orderBy(col("pos"))
    val runWin = Window.partitionBy(col("w"), col("mark")).orderBy(col("pos"))
    v.select(col("w"), posexplode(split(col("s"), " ")).as(Seq("pos", "sym")))
      .withColumn("nxt", lead(col("sym"), 1).over(byW))
      .withColumn("mark",
        coalesce(concat(col("sym"), lit(" "), col("nxt")) === lit(pair), lit(false)))
      .withColumn("run",
        when(col("mark"), col("pos") - row_number().over(runWin)))
      .withColumn("keep",
        col("mark") &&
          (col("pos") - min(col("pos"))
            .over(Window.partitionBy(col("w"), col("run")))) % 2 === 0)
      .withColumn("pk", coalesce(lag(col("keep"), 1).over(byW), lit(false)))
      .filter(!col("pk"))
      .withColumn("out",
        when(col("keep"), concat(col("sym"), col("nxt"))).otherwise(col("sym")))
      .groupBy(col("w"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("out")))),
          x => x.getField("out")), " ").as("s2"))
  }

  test("graft_bpe_merge matches the islands-window merge on the real vocab for the top pairs") {
    val v = realVocab.localCheckpoint()
    // take the 3 most frequent adjacent pairs — includes the actual step-1 argmax
    val tops = v.select(explode(expr("graft_bpe_pairs(s)")).as("pair"), col("freq"))
      .groupBy("pair").agg(sum(col("freq")).as("cnt"))
      .orderBy(desc("cnt"), col("pair")).limit(3)
      .collect().map(_.getString(0))
    tops.foreach { p =>
      val fused = v.select(col("w"),
        expr(s"graft_bpe_merge(s, '${p.replace("'", "''")}')").as("s2"))
      val old = compositeMerge(v, p)
      assert(fused.join(old.withColumnRenamed("s2", "os2"), "w")
        .filter(col("s2") =!= col("os2")).count() == 0, s"pair [$p]")
    }
  }

  test("graft_bpe_merge adversarial runs: overlapping self-pairs merge greedily left-to-right") {
    import spark.implicits._
    val rows = Seq(
      ("w1", "a a a a"), ("w2", "a a a"), ("w3", "a"), ("w4", "b c"),
      ("w5", "a a b a a a a b"), ("w6", "x y x y x"))
      .toDF("w", "s")
    val fused = rows.select(col("w"), expr("graft_bpe_merge(s, 'a a')").as("s2"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fused("w1") == "aa aa")
    assert(fused("w2") == "aa a")
    assert(fused("w3") == "a")
    assert(fused("w4") == "b c")
    assert(fused("w5") == "aa b aa aa b")
    assert(fused("w6") == "x y x y x")
    val old = compositeMerge(rows, "a a")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fused == old)
  }

  /** The exact pre-fusion q387 clip: per-n gram explode on both sides,
    * per-(doc,n,g) counts, inner join, Σ least.
    */
  private def compositeClip(docs: DataFrame): DataFrame = {
    val byN = docs.select(col("doc_id"), col("c"), col("r"),
        explode(expr("sequence(1, 4)")).as("n0"))
      .select(col("doc_id"), col("c"), col("r"),
        col("n0").cast("long").as("n"))
    def gramCounts(src: String, out: String): DataFrame =
      byN.filter(size(col(src)) >= col("n"))
        .select(col("doc_id"), col("n"), explode(expr(
          s"transform(sequence(0, size($src) - n), " +
            s"i -> concat_ws(' ', slice($src, i + 1, n)))")).as("g"))
        .groupBy(col("doc_id"), col("n"), col("g"))
        .agg(count(lit(1)).as(out))
    gramCounts("c", "cc")
      .join(gramCounts("r", "cr"), Seq("doc_id", "n", "g"))
      .groupBy(col("doc_id"), col("n"))
      .agg(sum(least(col("cc"), col("cr"))).as("clipped"))
  }

  test("graft_bleu_clip matches the explode/join/least spelling on the real corpus") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), split(col("text"), " ").as("r"))
      .withColumn("c", expr("filter(r, (x, i) -> (i + 1) % 7 != 0)"))
    val fused = docs
      .select(col("doc_id"), posexplode(expr("graft_bleu_clip(c, r)")).as(Seq("n0", "clipped")))
      .select(col("doc_id"), (col("n0") + 1).cast("long").as("n"), col("clipped"))
      .filter(col("clipped") > 0)
    val old = compositeClip(docs).filter(col("clipped") > 0)
    assert(old.count() > 0)
    assert(fused.join(old.withColumnRenamed("clipped", "oc"), Seq("doc_id", "n"), "full")
      .filter(col("clipped").isNull || col("oc").isNull || col("clipped") =!= col("oc"))
      .count() == 0)
  }

  test("graft_bleu_clip degenerate inputs: short/empty sides clip to zero") {
    import spark.implicits._
    val rows = Seq(
      (Seq("a", "b", "a", "b"), Seq("a", "b", "c")),
      (Seq.empty[String], Seq("a")),
      (Seq("a"), Seq.empty[String]),
      (Seq("", "a"), Seq("", "a", "")))
      .toDF("c", "r")
    val fused = rows.select(expr("graft_bleu_clip(c, r)").as("cl")).collect()
    // c 1-grams {a:2,b:2} vs r {a:1,b:1,c:1} -> 1+1; 2-grams {"a b":2,"b a":1}
    // vs {"a b":1,"b c":1} -> 1; no 3/4-gram overlap
    assert(fused(0).getSeq[Long](0) == Seq(2L, 1L, 0L, 0L))
    assert(fused(1).getSeq[Long](0) == Seq(0L, 0L, 0L, 0L))
    assert(fused(2).getSeq[Long](0) == Seq(0L, 0L, 0L, 0L))
    // ("", "a") 1-grams: "" and "a" both occur in r; 2-gram " a" occurs in r (" a" from ("","a"))
    assert(fused(3).getSeq[Long](0) == Seq(2L, 1L, 0L, 0L))
  }

  test("graft_bootweights matches the explode/md5/CASE spelling including null ids") {
    import spark.implicits._
    val ids = ((0L until 500L).map(Some(_): Option[Long]) :+ (None: Option[Long]))
      .toDF("event_id")
    val old = ids
      .withColumn("b", explode(sequence(lit(0), lit(31))))
      .withColumn("h", conv(substring(md5(concat_ws("|",
        lit("boot"), col("b"), col("event_id"))), 1, 2), 16, 10).cast("long"))
      .withColumn("w", when(col("h") < 94, 0L).when(col("h") < 188, 1L)
        .when(col("h") < 235, 2L).otherwise(3L))
      .select(col("event_id"), col("b"), col("w"))
    val fused = ids
      .select(col("event_id"),
        posexplode(expr("graft_bootweights(CAST(event_id AS STRING))"))
          .as(Seq("b", "w")))
    assert(fused.count() == 501 * 32)
    assert(old.join(fused.withColumnRenamed("w", "fw"),
        old("event_id") <=> fused("event_id") && old("b") === fused("b"))
      .filter(col("w") =!= col("fw")).count() == 0)
  }

  test("graft_winhash matches the transform/xxhash64/array_join spelling on the real corpus") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select(col("doc_id"), filter(split(col("text"), " "), t => length(t) > 0).as("t"))
      .filter(size(col("t")) >= 16)
    val old = docs.select(col("doc_id"), posexplode(expr(
      "transform(sequence(0, size(t) - 16)," +
        " i -> xxhash64(array_join(slice(t, i + 1, 16), ' ')))")).as(Seq("pos", "h")))
    val fused = docs.select(col("doc_id"),
      posexplode(expr("graft_winhash(t, 16)")).as(Seq("pos", "h")))
    assert(old.count() > 0)
    assert(old.withColumnRenamed("h", "oh")
      .join(fused, Seq("doc_id", "pos"), "full")
      .filter(col("oh").isNull || col("h").isNull || col("oh") =!= col("h"))
      .count() == 0)
  }

  test("graft_cms matches the md5-bucket transform spelling on the real corpus") {
    val bucket = "CAST(conv(substring(md5(concat('cms-', CAST(r AS STRING)," +
      " '-', w)), 1, 7), 16, 10) AS BIGINT) % 512"
    val tok = graft.Tables.documents(spark, sf0001)
      .select(explode(filter(split(col("text"), " "), t => length(t) > 0)).as("w"))
      .distinct()
    val old = tok.select(col("w"), explode(expr(
        s"transform(sequence(0, 3), r -> named_struct('r', r, 'b', $bucket))")).as("rb"))
      .select(col("w"), col("rb.r").as("r"), col("rb.b").as("b"))
    val fused = tok.select(col("w"), posexplode(expr("graft_cms(w)")).as(Seq("r", "b")))
    assert(old.count() > 0)
    assert(old.withColumnRenamed("b", "ob")
      .join(fused, Seq("w", "r"), "full")
      .filter(col("ob").isNull || col("b").isNull || col("ob") =!= col("b"))
      .count() == 0)
  }
}
