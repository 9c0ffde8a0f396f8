package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic sf1 generator for the scale check the r7 verdict asked
  * for: every plan claim ("survives 100×") was argued from plan shape and
  * measured only at sf0.1, so this derives a 10× dataset FROM sf0.1 (which
  * is itself deterministic, driver seed 42 — see TESTDATA.md) by unioning
  * `copies` key-shifted replicas of each fact/dimension: copy i adds
  * i·(max(key)+1) to every primary key and to the foreign keys that
  * reference it, so join cardinalities scale exactly linearly and every
  * query's semantic shape is preserved. Dates, measures, text, and
  * embeddings are left as-is — document text repeating 10× is exactly the
  * stress a dedup corpus applies, so the near-dup family gets a HARDER
  * input at sf1, not an easier one. nation/region (fixed dims) and events
  * are copied through unchanged.
  *
  * Output lands OUTSIDE /root/testdata (read-only): `target/sf1` by
  * default. Usage: runMain graft.ScaleGen [srcDir] [dstDir] [copies]
  */
object ScaleGen {

  private def stride(df: DataFrame, key: String): Long =
    df.agg(max(col(key)).cast("long")).head().getLong(0) + 1L

  /** Zipf(1.0) key over [0, n): the inverse CDF under the H_N ≈ ln N
    * approximation is rank = ⌈n^u⌉ with u uniform on (0,1) — here
    * u = (pmod(xxhash64(seed), 2^20) + 0.5) / 2^20, so the
    * redistribution is DETERMINISTIC and seed-free (r11 verdict missing
    * #2: every gauge decade inherited TPC-H's uniform key geometry; real
    * corpora are head-heavy, and the df-caps/salting/projection caps
    * deserve a dataset where the head actually exists). Rank 1 (the
    * hottest key) receives ~1/ln(n) of ALL references. */
  private def zipfKey(n: Long, seed: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val u = (pmod(xxhash64(seed), lit(1048576L)).cast("double") + lit(0.5)) /
      lit(1048576.0)
    least(lit(n), greatest(lit(1L),
      ceil(pow(lit(n.toDouble), u)).cast("long"))) - lit(1L)
  }

  /** Shift `keys` (column → stride) in copy i, preserving column types. */
  private def shifted(df: DataFrame, keys: Map[String, Long], i: Int): DataFrame =
    keys.foldLeft(df) { case (d, (k, s)) =>
      val t = df.schema(k).dataType
      d.withColumn(k, (col(k).cast("long") + lit(i * s)).cast(t))
    }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated table subset — the second decade
    // (sf1 → sf10) only needs the tables its query set reads, and the
    // disk ceiling is real at 100× (r8 verdict #2)
    val only: Set[String] = args.lift(3).filter(_ != "-")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    def wanted(n: String) = only.isEmpty || only(n)
    // optional 5th arg: comma-separated modes —
    //   "zipf": redistribute the hot foreign keys and the document
    //     duplicate-cluster sizes Zipf(1.0) — see [[zipfKey]];
    //   "perturb": deterministic ±0.2 jitter on DUPLICATED embeddings
    //     (copies i>0) — verbatim copies make recall gauges degenerate at
    //     decade scales (every query's top-5 is its own exact duplicates,
    //     co-located in its own list ⇒ recall ≡ 1.0 at nprobe=1 — r13
    //     verdict "What's missing" #2). The magnitude matters: ±0.02 was
    //     measured to leave every sibling in the query's own coarse cell
    //     (recall still ≡ 1.0); ±0.2 scatters siblings across NEIGHBORING
    //     cells while keeping them the true near-neighbors, so recall@5
    //     sweeps 0.66→0.90 with nprobe at sf1 — a valid column
    val modes: Set[String] = args.lift(4)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val zipf = modes("zipf")
    val perturb = modes("perturb")
    val spark = GraftSession.get(GraftSession.cpus("32"))

    def load(n: String) = Tables(spark, src, n)
    // primary-key strides, shared with the referencing foreign keys
    val sCust = stride(load("customer"), "c_custkey")
    val sSupp = stride(load("supplier"), "s_suppkey")
    val sPart = stride(load("part"), "p_partkey")
    val sOrd = stride(load("orders"), "o_orderkey")
    val sDoc = stride(load("documents"), "doc_id")
    val sVec = stride(load("embeddings"), "vec_id")

    val plans: Seq[(String, Map[String, Long])] = Seq(
      "customer" -> Map("c_custkey" -> sCust),
      "supplier" -> Map("s_suppkey" -> sSupp),
      "part" -> Map("p_partkey" -> sPart),
      "orders" -> Map("o_orderkey" -> sOrd, "o_custkey" -> sCust),
      "lineitem" -> Map("l_orderkey" -> sOrd, "l_partkey" -> sPart,
        "l_suppkey" -> sSupp),
      "documents" -> Map("doc_id" -> sDoc),
      "embeddings" -> Map("vec_id" -> sVec),
      "nation" -> Map.empty, "region" -> Map.empty)

    plans.filter(p => wanted(p._1)).foreach { case (name, keys) =>
      val base = load(name)
      val out0 =
        if (keys.isEmpty) base
        else (0 until copies).map(shifted(base, keys, _)).reduce(_.unionAll(_))
      // zipf mode: redistribute references AFTER replication so the head
      // spans the whole scaled key domain. orders→customer and
      // lineitem→part get hot dimension keys (salting/AQE/projection-cap
      // stress); documents get Zipf-sized verbatim-duplicate clusters
      // (df-cap / component-fixpoint stress)
      val out = if (!zipf) out0 else name match {
        case "orders" =>
          val t = out0.schema("o_custkey").dataType
          out0.withColumn("o_custkey",
            zipfKey(sCust * copies, col("o_orderkey")).cast(t))
        case "lineitem" =>
          val t = out0.schema("l_partkey").dataType
          out0.withColumn("l_partkey",
            zipfKey(sPart * copies,
              xxhash64(col("l_orderkey"), col("l_linenumber"))).cast(t))
        case "documents" =>
          val rep = out0.withColumn("_rep", zipfKey(sDoc * copies, col("doc_id")))
          val txt = out0.select(col("doc_id").as("_rep"), col("text").as("_rtext"))
          rep.join(txt, "_rep")
            .withColumn("text", col("_rtext"))
            .select(out0.columns.map(col): _*)
        case _ => out0
      }
      // perturb mode: jitter the REPLICA embeddings (vec_id >= sVec ⇔
      // copy i > 0; copy 0 is bit-untouched so the standard query set and
      // any cross-scale comparison keep their exact vectors). The jitter
      // is seed-free-deterministic per (vec_id, component): uniform over
      // ±0.020 in 0.001 steps — ±20 units in the engines' ×1000 integer
      // quantization, ~2% of a unit-ish component.
      val out1 =
        if (!perturb || name != "embeddings") out
        else out.withColumn("embedding", expr(
          s"CASE WHEN vec_id >= $sVec THEN " +
            "transform(embedding, (x, j) -> CAST(x + " +
            "(pmod(xxhash64(vec_id, j), 401) - 200) / 1000.0 AS FLOAT)) " +
            "ELSE embedding END"))
      out1.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scalegen] $name: ${out1.count()} rows -> $dst/$name.parquet" +
        (if (modes.nonEmpty) s" (${modes.toSeq.sorted.mkString(",")})" else ""))
    }
    // events scales like the facts — copies shift event_id (and user_id,
    // which some stateful queries key on) but keep TIMESTAMPS as-is, so
    // at 10× input the event-time window count is unchanged: exactly the
    // contrast the streaming state sweep measures (window-agg state
    // constant, dedup-by-id state ∝ distinct ids — r8 verdict #5)
    if (wanted("events")) {
    val ev = load("events")
    val sEvt = stride(ev, "event_id")
    val sUsr = stride(ev, "user_id")
    val evOut0 = (0 until copies)
      .map(shifted(ev, Map("event_id" -> sEvt, "user_id" -> sUsr), _))
      .reduce(_.unionAll(_))
    // zipf mode: hot users — the per-key state / sessionize stressor
    val evOut =
      if (!zipf) evOut0
      else evOut0.withColumn("user_id",
        zipfKey(sUsr * copies, col("event_id"))
          .cast(evOut0.schema("user_id").dataType))
    evOut.write.mode("overwrite").parquet(s"$dst/events.parquet")
    println(s"[scalegen] events: ${evOut.count()} rows -> $dst/events.parquet" +
      (if (zipf) " (zipf)" else ""))
    }
    spark.stop()
  }
}
