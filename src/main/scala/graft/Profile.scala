package graft

/** Dev tool: time a named query and print its formatted physical plan.
  * Usage: runMain graft.Profile <sfDir> <query> [query...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = GraftSession.cpus("32")
    val spark = GraftSession.get(cpus)
    args.drop(1).foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"===== $name =====")
      // construction is not free for every query: iterative operators
      // (q85) and streaming backfills (q90+) execute jobs while building
      // the result — time it separately from plan re-execution
      val (df, tc) = Measure.timed(fn(spark, sfDir))
      println(f"[profile] $name construct: $tc%.2f s")
      if (sys.env.contains("GRAFT_EXPLAIN")) df.explain("formatted")
      (1 to 3).foreach { i =>
        val (_, t) = Measure.timed(Measure.execute(df))
        println(f"[profile] $name run$i: $t%.2f s")
        // NOTE: not `Measure.once` — releasing here would break iterative
        // queries whose result depends on localCheckpoint blocks built at
        // construction (q85 et al. re-execute from the checkpointed RDD);
        // release only between queries, after this df's last run.
        // the FINAL adaptive plan (ReusedExchange, AQEShuffleRead, join
        // demotions) only exists after execution — GRAFT_EXPLAIN's
        // pre-run dump cannot show it
        if (i == 1 && sys.env.contains("GRAFT_EXPLAIN_FINAL")) {
          // the noop write executes its OWN QueryExecution — finalize this
          // df's plan (executor-side foreach, nothing collected) so the
          // printed tree is the adaptive final (ReusedExchange,
          // AQEShuffleRead, runtime join demotions), not the initial
          df.queryExecution.toRdd.foreach(_ => ())
          println(s"----- $name final adaptive plan (post-run) -----")
          println(df.queryExecution.executedPlan.toString)
        }
      }
      CacheHygiene.release(spark)
      println(s"[profile] active streams after $name: " +
        df.sparkSession.streams.active.length)
    }
    spark.stop()
  }
}
