package graft

import org.apache.spark.sql.SparkSession

/** The one place the harness session is configured. Every main and the
  * shared test fixture build through here, so the verify, bench, and test
  * paths can never silently diverge on an environment setting (the round-3
  * review found the same 6-line block copy-pasted five times).
  */
object GraftSession {

  /** Default parallelism when `SPARK_GRAFT_CPUS` is unset. */
  def cpus(default: String): String = sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** A configured builder: local[cpus], shuffle partitions = cpus, UTC,
    * UI off, the graft extensions (native functions + optimizer rule +
    * as-of strategy), and no per-file checkpoint checksums — harness
    * streams checkpoint into throwaway temp dirs, where that durability
    * is pure overhead (a real deployment configures its own session).
    *
    * Three settings that stop a warm session from paying codegen and
    * memory costs again on every query (measured with the perfbench
    * `corpus` workload, local[4], 3 GiB heap):
    *
    *   - `spark.sql.codegen.cache.maxEntries` = 400 (default 100). Spark
    *     caches compiled generated classes up to this many; the corpus
    *     mix cycles through more than 100 of them per pass, so it missed
    *     on nearly every one and recompiled about 130 classes per warm
    *     pass. The conf is static and read once, when `CodeGenerator`
    *     first initializes, so it has to be set here, before any query
    *     plans (CodegenCacheSpec checks that it took effect).
    *   - `spark.sql.codegen.useIdInClassName` = false. The cache is keyed
    *     on the generated source, and by default the class name carries
    *     the whole-stage codegen id, which depends on the order in which
    *     adaptive execution re-plans stages and so varies between runs of
    *     one query. q112 and q248 kept compiling classes that differed
    *     only in that id, a few per pass; without the id they hit the
    *     cache. With both settings a warm corpus pass compiles nothing.
    *   - `spark.buffer.pageSize` = 2m. The default is heap ÷ cores ÷ 16,
    *     which at local[4] with a 3 GiB heap is 32 MB: every sort or
    *     aggregate took a 32 MB on-heap page for a few thousand rows. At
    *     2 MB peak execution memory in a corpus pass falls from 65 to
    *     9 MB. A record larger than a page still gets a page of its own
    *     size.
    */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "400")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.buffer.pageSize", "2m")

  /** Build (or reuse) the session and quiet the logs. */
  def get(cpus: String): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
