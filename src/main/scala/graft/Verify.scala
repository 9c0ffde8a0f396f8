package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * DRIVER-PROOF EVIDENCE CHAIN (r12 verdict #1 — CORRECTNESS_r{09,10,12}
  * .json landed `{}` when the driver's run collided with the sbt target
  * lock or died mid-sweep):
  *   - `oracle_sql.json` is written FIRST, before any query runs, so an
  *     interrupted sweep leaves a partial-but-parseable dump (the
  *     driver's compare then lands partial results, never an empty map);
  *   - the structural completeness checks of `tools/check_dump.py` are
  *     folded into this main: after the loop it verifies every oracled
  *     query has a result dir with >= 1 parquet file and that the result
  *     count reaches the registry size, printing "DUMP OK: …" on stdout
  *     — and EXITS NON-ZERO with a "DUMP INCOMPLETE: …" line otherwise,
  *     so a broken sweep can never be mistaken for a green one;
  *   - an sbt-free launch exists so the run cannot collide with the sbt
  *     target lock at all: `tools/verify.sh <sfDir> <outDir>` runs this
  *     main via plain `java -cp dist/graft.jar:&lt;spark jars&gt;`
  *     (see .claude/skills/verify/SKILL.md).
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd+ args: restrict to the named queries (local iteration).
    val only: Set[String] = args.drop(2).toSet
    val cpus = GraftSession.cpus("4")
    val spark = GraftSession.get(cpus)
    // harness main: ERROR-only logs keep the driver's stdout tail clean
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle map FIRST: an interrupted sweep must land partial-not-empty
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val names = SparkEntry.queries.keys.toSeq
      .filter(n => only.isEmpty || only(n))
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(s"[verify] $name ok")
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      }
      // keep the 407-query session at storage baseline (see CacheHygiene)
      CacheHygiene.release(spark)
    }
    spark.stop()
    // ------- structural completeness gate (check_dump.py, folded in) --
    def die(msg: String): Nothing = {
      // stdout AND stderr: the driver tails stdout; a human reads stderr
      println(s"DUMP INCOMPLETE: $msg")
      System.err.println(s"DUMP INCOMPLETE: $msg")
      sys.exit(2)
    }
    def hasParquet(name: String): Boolean = {
      val d = Paths.get(outDir, name)
      Files.isDirectory(d) && {
        val s = Files.list(d)
        try s.anyMatch(p => p.getFileName.toString.endsWith(".parquet"))
        finally s.close()
      }
    }
    if (failed.nonEmpty)
      die(s"${failed.size} queries failed inside Verify: " +
        failed.take(10).mkString(", "))
    val missing = names.filterNot(hasParquet)
    if (missing.nonEmpty)
      die(s"${missing.size} result dirs missing/empty: " +
        missing.take(10).mkString(", "))
    // full-sweep floor (r13 ADVICE #5: the old `names.size <
    // queries.size` check was tautological — names derives from
    // queries.keys). The independent count here is the ORACLE registry:
    // every oracled name must be a registered query AND must have dumped,
    // so a module whose queries map lost entries its oracles map still
    // carries can no longer pass silently.
    if (only.isEmpty) {
      val orphanOracles =
        SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
      if (orphanOracles.nonEmpty)
        die(s"${orphanOracles.size} oracles have no registered query: " +
          orphanOracles.take(10).mkString(", "))
      if (names.size < SparkEntry.oracleSql.size)
        die(s"only ${names.size} results for " +
          s"${SparkEntry.oracleSql.size} oracles")
    }
    println(s"DUMP OK: ${names.size} results, " +
      s"${SparkEntry.oracleSql.size} oracles")
  }
}
