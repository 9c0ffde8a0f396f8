package graft

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (`TESTDATA.md`), and [[parquet]], the one parquet read of
  * the engine. Every scan stays parquet-native: vectorized reader,
  * predicate pushdown and column pruning all apply (verify with
  * `.explain("formatted")` → `PushedFilters`, `ReadSchema`). At cluster
  * scale the same call reads a partitioned directory instead of a single
  * file — nothing else changes.
  */
object Tables {

  /** `spark.read.parquet(paths: _*)` without the Spark job its schema
    * inference runs (about 90 ms on a warm local session). Spark infers
    * from one footer: the first `_common_metadata`, else `_metadata`, else
    * data file of the listing sorted by path. This reads that footer on the
    * driver and converts it with Spark's own converter under the session's
    * confs, so schema, nullability and rows are the schema-less read's.
    * Inputs Spark reads another way keep the schema-less read, and with it
    * Spark's own errors: a missing path, a glob, an empty directory, a
    * footer the converter rejects, a layout other than files or `k=v`
    * directories, a partition column that is also a file column, a
    * streaming file sink (listed from its `_spark_metadata` log), and
    * `spark.sql.parquet.mergeSchema`.
    */
  def parquet(s: SparkSession, paths: String*): DataFrame =
    footerSchema(s, paths).map(schema => (schema, s.read.schema(schema).parquet(paths: _*)))
      .collect { case (schema, df) if !partitionedByFileColumn(schema, df) => df }
      .getOrElse(s.read.parquet(paths: _*))

  private def footerSchema(s: SparkSession, paths: Seq[String]): Option[StructType] = {
    val (sqlConf, conf) = (GraftSqlBridge.sqlConf(s), GraftSqlBridge.hadoopConf(s))
    def visible(st: FileStatus) = !GraftSqlBridge.hiddenPath(st.getPath.getName)
    def leaves(st: FileStatus): Seq[FileStatus] = if (!st.isDirectory) Seq(st) else {
      val listed = st.getPath.getFileSystem(conf).listStatus(st.getPath).toSeq.filter(visible)
      val (dirs, files) = listed.partition(_.isDirectory)
      require(dirs.isEmpty || files.isEmpty && dirs.forall(_.getPath.getName.contains("=")))
      files ++ dirs.flatMap(leaves)
    }
    val rank = Map(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE -> 0,
      ParquetFileWriter.PARQUET_METADATA_FILE -> 1)
    if (paths.exists(_.exists("{}[]*?\\".contains(_))) || sqlConf.isParquetSchemaMergingEnabled) None
    else Try {
      val roots = paths.map(new Path(_)).map(p => p.getFileSystem(conf).getFileStatus(p))
      val file = roots.filter(r => r.isDirectory || visible(r)).flatMap(leaves)
        .minBy(f => (rank.getOrElse(f.getPath.getName, 2), f.getPath.toString))
      require(!FileStreamSink.hasMetadata(paths, conf, sqlConf))
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(sqlConf))
    }.toOption
  }

  /** Under a given schema a file column that is also a partition column
    * takes the directory's place and type; under inference, the file's. */
  private def partitionedByFileColumn(schema: StructType, df: DataFrame): Boolean =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }.exists {
      case r: HadoopFsRelation =>
        r.partitionSchema.fieldNames.exists(p => schema.fieldNames.exists(_.equalsIgnoreCase(p)))
      case _ => false
    }

  /** Reads `dir/name.parquet` through [[parquet]]. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  /** The events table's `ts` has shipped in two physical spellings across
    * testdata generations: TIMESTAMP(NANOS), which Spark's reader rejects
    * ([PARQUET_TYPE_ILLEGAL]) unless read as a plain long
    * (`spark.sql.legacy.parquet.nanosAsLong`, set by [[GraftSession.builder]])
    * and floor-truncated to microseconds; and unadjusted TIMESTAMP(MICROS),
    * which Spark infers as TIMESTAMP_NTZ. Both normalize to session-zone
    * TIMESTAMP: under the harness's UTC session the NTZ→LTZ cast is
    * wall-clock-identical to DuckDB's naive-timestamp read, so the oracle
    * compares equal either way.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampType}
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
