package graft

/** Count one registered query's output rows on a dataset dir — the
  * measurement harness behind scale-growth output-size claims
  * (BASELINE.md): `runMain graft.CountOne <query> <dir> [<dir2> ...]`.
  */
object CountOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(GraftSession.cpus("32"))
    val q = SparkEntry.queries(args.head)
    args.tail.foreach { dir =>
      val (n, dt) = Measure.timed(q(spark, dir).count())
      println(f"[countone] ${args.head} $dir rows=$n time=$dt%.1fs")
      CacheHygiene.release(spark)
    }
    spark.stop()
  }
}
