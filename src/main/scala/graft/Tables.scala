package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (`/root/repo/TESTDATA.md`). Every query goes through here so scans stay
  * parquet-native: vectorized reader, predicate pushdown and column pruning
  * all apply (verify with `.explain("formatted")` → `PushedFilters`,
  * `ReadSchema`). At cluster scale the same call reads a partitioned
  * directory instead of a single file — nothing else changes.
  */
object Tables {

  /** SQL confs whose values change what parquet schema inference returns
    * for the same files (`events` flips the first).
    */
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.caseSensitive")

  /** (path, inference conf values) → (the input's files when inferred, the
    * schema inferred from them). One entry per path and conf setting, so a
    * rewritten input replaces its entry instead of adding one.
    */
  private val schemas =
    new ConcurrentHashMap[(String, Seq[String]), (Seq[(String, Long, Long)], StructType)]()

  /** Every file under `path` (the path itself for a single file) as
    * (name, length, modification time); empty when nothing is there.
    */
  private def files(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new Path(path)
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      val out = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        out += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      out.result().sorted
    } catch { case _: FileNotFoundException => Nil }
  }

  /** Reads `dir/name.parquet` with the schema inferred the last time the
    * same files were read under the same inference confs. A schema-less
    * `read.parquet` runs a Spark job to read a footer on every call; a warm
    * read skips it. The files are listed before inferring, so an input
    * rewritten meanwhile is re-inferred on its next read, never served a
    * stale schema.
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, inferenceConfs.map(spark.conf.get))
    val stamp = files(spark, path)
    Option(schemas.get(key)) match {
      case Some((`stamp`, schema)) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemas.put(key, (stamp, df.schema))
        df
    }
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** The events table's `ts` has shipped in two physical spellings across
    * testdata generations: TIMESTAMP(NANOS) — which Spark's reader rejects
    * outright ([PARQUET_TYPE_ILLEGAL]) unless read as a plain long
    * (`spark.sql.legacy.parquet.nanosAsLong`) and floor-truncated to
    * microseconds — and plain TIMESTAMP(MICROS) without UTC adjustment,
    * which Spark infers as TIMESTAMP_NTZ. Dispatch on the landed type and
    * normalize both to session-zone TIMESTAMP: under the harness's UTC
    * session the NTZ→LTZ cast is wall-clock-identical to what DuckDB's
    * naive-timestamp read sees, so the oracle compares equal either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // nanos-as-long generation: floor-truncate to micros
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case _ => // TIMESTAMP_NTZ generation: reinterpret in the UTC session zone
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
