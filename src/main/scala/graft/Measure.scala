package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement protocol of the harness mains (`Bench`,
  * `ScaleCheck`, `AnnCheck`, `RecallCheck`, `MaintCheck`, `Profile`,
  * `CountOne`):
  *
  *   - [[timed]] is the only wall clock;
  *   - [[execute]] runs the whole plan (sorts included) into the `noop`
  *     sink, without collect or write overhead;
  *   - [[once]] builds a query, executes it and releases session storage
  *     (`CacheHygiene.release`) in a `finally`, so neither a later timing
  *     nor a failed run inherits its checkpoint blocks or state-store
  *     providers. Without the release after every execution, late rows of
  *     a long session read up to 10× their fresh-JVM time (see
  *     [[CacheHygiene]]);
  *   - [[warmMin]] is warm once untimed, then the minimum of `n` timed
  *     [[once]] runs.
  *
  * Construction is timed inside the total: iterative and streaming queries
  * run real jobs while the DataFrame is built.
  */
object Measure {

  /** The result of `body` and the seconds it took. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Execute every operator of `df`'s plan into the `noop` sink. */
  def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Build the query, execute it, then release `s`'s storage whether or
    * not either step threw. Returns (construct seconds, total seconds);
    * the release is outside both. */
  def once(s: SparkSession)(build: => DataFrame): (Double, Double) =
    try timed { val (df, construct) = timed(build); execute(df); construct }
    finally CacheHygiene.release(s)

  /** Run [[once]] untimed, then `n` timed times; the minimum total. */
  def warmMin(s: SparkSession, n: Int = 2)(build: => DataFrame): Double = {
    once(s)(build)
    (1 to n).map(_ => once(s)(build)._2).min
  }
}
