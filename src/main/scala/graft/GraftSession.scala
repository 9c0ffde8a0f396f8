package graft

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

import graft.sources.{GraftLocalFileSystem, GraftLocalFs}

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
    *
    * Three settings that stop every write and every stream start from
    * paying setup again (measured with the perfbench `estate-ingest`
    * workload, local[4]; a run is 8 passes):
    *
    *   - `spark.hadoop.fs.file.impl` and
    *     `spark.hadoop.fs.AbstractFileSystem.file.impl` install
    *     [[graft.sources.LocalFs]]'s local filesystem. Without the native
    *     `libhadoop`, Hadoop's own runs a `chmod` process for every file and
    *     directory it creates and a `readlink` process for every streaming
    *     checkpoint-log rename, about 6 ms each: 1,839 of them in one run
    *     (about 230 a pass), 0 with these settings. `.crc` sidecars are
    *     written and verified as before.
    *   - `spark.sql.artifact.isolation.enabled` = false. Each stream runs
    *     on a cloned session, and with isolation on each clone compiles
    *     through its own artifact class loader, which is part of the codegen
    *     cache key: a warm pass compiled 15 classes, all at stream starts,
    *     and compiles 0 with it off. The harness adds no artifacts.
    *
    * Together they took a traced warm pass's construct time from 3.20 to
    * 2.01 s and the median stream batch from 506 to 177 ms.
    *
    * `spark.sql.legacy.parquet.nanosAsLong` = true lets the events table's
    * TIMESTAMP(NANOS) generation be read at all (see `Tables.events`). It
    * is set here, not scoped around the read, because every scan of the
    * events table reads it.
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
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)

  /** Build (or reuse) the session and quiet the logs. */
  def get(cpus: String): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` on a child of `s` ([[GraftSqlBridge.child]]) with each
    * `k -> v` set on the child's conf; `s` is never changed, whether `body`
    * returns or throws. A DataFrame keeps its own session's conf: one built
    * from the child plans under the scoped values whenever its action
    * runs, so write the body as `withConf(s, …) { s => … }`, and
    * [[rebind]] a DataFrame made outside the scope before using it.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: SparkSession => T): T = {
    val c = GraftSqlBridge.child(s)
    kvs.foreach { case (k, v) => c.conf.set(k, v) }
    body(c)
  }

  /** What a query can leave behind in a session, by kind: the `SET`
    * output (`key=value`, catalog registrations included), temp views,
    * temporary functions, session variables and active streams. Every
    * registry query runs on its own child ([[SparkEntry.queries]]), so
    * the caller's state is the same before and after each one; Smoke
    * and ConfScopeSpec compare it. */
  def state(s: SparkSession): Map[String, Set[String]] = Map(
    "conf" -> s.sql("SET").collect().map(r => s"${r.getString(0)}=${r.getString(1)}").toSet,
    "temp views" -> s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet,
    "temp functions" -> GraftSqlBridge.tempFunctions(s).toSet,
    "variables" -> GraftSqlBridge.variables(s).toSet,
    "streams" -> s.streams.active.map(_.id.toString).toSet)

  /** One `kind +added -removed …` line per kind that differs between two
    * [[state]]s; empty when they are equal. */
  def stateDiff(before: Map[String, Set[String]], after: Map[String, Set[String]]): Seq[String] =
    before.keys.toSeq.sorted.flatMap { k =>
      val change = Seq("+" -> (after(k) -- before(k)), "-" -> (before(k) -- after(k)))
        .flatMap { case (sign, names) => names.toSeq.sorted.map(sign + _) }
      if (change.isEmpty) None else Some(s"$k ${change.mkString(" ")}")
    }

  /** `df`'s analyzed plan on `s`, planned and run under `s`'s conf (not
    * `logical`, which may name a view only `df`'s session has). */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    GraftSqlBridge.ofRows(s, df.queryExecution.analyzed)

  /** Input bytes per shuffle partition for [[inputParts]]. */
  private val partitionBytes = 32L * 1024 * 1024

  /** Shuffle partitions sized to the input at `path` (a file, or a
    * directory of files): one per 32 MiB, clamped to [`floor`, the
    * session's `spark.sql.shuffle.partitions`]. A small working set then
    * stops paying task launch and per-partition state for every session
    * partition, while a large input still spreads across all of them.
    */
  def inputParts(s: SparkSession, path: String, floor: Int): Int = {
    val sess = s.conf.get("spark.sql.shuffle.partitions").toLong
    val src = new java.io.File(path)
    val bytes =
      if (src.isDirectory)
        Option(src.listFiles()).map(_.filter(_.isFile).map(_.length).sum).getOrElse(0L)
      else src.length
    math.max(floor.toLong, math.min(sess, bytes / partitionBytes + 1L)).toInt
  }
}
