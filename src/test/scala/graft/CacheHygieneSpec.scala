package graft

/** Pins the CacheHygiene contract the r7 verdict asked for: after a query
  * family that localCheckpoints (the q85 fixpoint) and a streaming backfill
  * (q93's state store) run, `release` returns the block manager to
  * baseline — zero persisted RDDs — and the queries still run correctly
  * (bit-identical) afterwards, proving the released blocks were residue,
  * not state the next execution needed.
  */
class CacheHygieneSpec extends SparkSpec {

  private def runNoop(name: String): Unit =
    SparkEntry.queries(name)(spark, sf001)
      .write.format("noop").mode("overwrite").save()

  test("localCheckpoint blocks are released and the query re-runs identically") {
    CacheHygiene.release(spark, blocking = true)
    val baseline = CacheHygiene.persistedRddCount(spark)
    assert(baseline === 0, "release must drive persisted RDDs to zero")

    val first = SparkEntry.queries("q85_dedup_components")(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    assert(CacheHygiene.persistedRddCount(spark) > 0,
      "q85's fixpoint localCheckpoints — blocks must be live after the action")

    CacheHygiene.release(spark, blocking = true)
    assert(CacheHygiene.persistedRddCount(spark) === 0,
      "all localCheckpoint blocks must be gone after release")

    val second = SparkEntry.queries("q85_dedup_components")(spark, sf001)
      .collect().map(_.toString).sorted.toSeq
    assert(second === first, "a re-run after release must be bit-identical")
    CacheHygiene.release(spark, blocking = true)
  }

  test("streaming state-store providers are released and the query re-runs") {
    runNoop("q93_stream_stateful")
    CacheHygiene.release(spark, blocking = true)
    assert(CacheHygiene.persistedRddCount(spark) === 0)
    // the next streaming query must lazily restart state-store maintenance
    runNoop("q93_stream_stateful")
    CacheHygiene.release(spark, blocking = true)
  }
}
