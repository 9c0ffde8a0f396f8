package graft

/** Local replica of the driver's t1 smoke: run [[SparkEntry.entry]] on
  * sf0.001 and require rows > 0. Also sanity-runs every registered query
  * once at sf0.001 so a broken registry entry is caught before the round's
  * verify pass, and checks that each one leaves the session's
  * [[GraftSession.state]] as it found it (`LEAKED` names what changed).
  * A query that fails on a missing input is reported once per missing
  * path, with every query that path blocks ([[MissingInputs]]).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus("8")
    val spark = GraftSession.get(cpus)
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows=$n " + (if (n > 0) "OK" else "FAIL"))
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val missing = new MissingInputs
    var (bad, leaking) = (0, 0)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val before = GraftSession.state(spark)
      try {
        val c = fn(spark, dir).count()
        println(s"[smoke] $name rows=$c")
      } catch {
        case e: Throwable =>
          bad += 1
          if (!missing.record(name, e)) println(s"[smoke] $name FAILED: ${e.getMessage}")
      }
      val leaked = GraftSession.stateDiff(before, GraftSession.state(spark))
      if (leaked.nonEmpty) {
        leaking += 1
        println(s"[smoke] $name LEAKED: ${leaked.mkString("; ")}")
      }
    }
    missing.lines.foreach(l => println(s"[smoke] $l"))
    val missingOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    if (missingOracle.nonEmpty)
      println(s"[smoke] no oracle (rows-only check): ${missingOracle.toSeq.sorted.mkString(", ")}")
    println(s"[smoke] ${SparkEntry.queries.size} queries, $bad failed, $leaking leaking")
    spark.stop()
    if (n == 0 || bad > 0 || leaking > 0) sys.exit(1)
  }
}
