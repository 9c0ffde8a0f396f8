package graft

/** Local replica of the driver's t1 smoke: run [[SparkEntry.entry]] on
  * sf0.001 and require rows > 0. Also sanity-runs every registered query
  * once at sf0.001 so a broken registry entry is caught before the round's
  * verify pass.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus("8")
    val spark = GraftSession.get(cpus)
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "FAIL"))
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val c = fn(spark, dir).count()
        println(s"[smoke] $name rows=$c")
      } catch {
        case e: Throwable =>
          bad += 1
          println(s"[smoke] $name FAILED: ${e.getMessage}")
      }
    }
    val missingOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    if (missingOracle.nonEmpty)
      println(s"[smoke] no oracle (rows-only check): ${missingOracle.toSeq.sorted.mkString(", ")}")
    println(s"[smoke] ${SparkEntry.queries.size} queries, $bad failed")
    spark.stop()
    if (n == 0 || bad > 0) sys.exit(1)
  }
}
