package graft.sources

import scala.util.Using
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, StructType}
import graft.api.DataTable

/** Loader for the driver's parquet tables (TESTDATA.md). Parquet scans give
  * Catalyst pushdown/pruning for free; at cluster scale the same call reads
  * a partitioned directory tree unchanged. */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def df(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(paths: _*)` with the schema resolved on the
    * driver. Spark's own inference launches a one-task job to read a
    * single footer (`SchemaMergeUtils.mergeSchemasInParallel`), so a plain
    * parquet read costs a Spark job before the verb chain is even built.
    * Here the same footer — the first data file by path
    * string, as `ParquetUtils.splitFiles` orders them — is read in place
    * (metadata only, no row groups) and converted with Spark's own
    * converter under the session conf; the result is then handed to
    * `spark.read.schema`, so building the frame launches no job.
    *
    * Every layout where Spark's inference would look at something else
    * falls back to the plain read, so its errors and edge semantics stay
    * Spark's: a non-hidden subdirectory (partition discovery), a
    * `_metadata`/`_common_metadata` summary file, a glob, a missing path,
    * no data file at all, `spark.sql.parquet.mergeSchema` on, or any
    * exception on the footer path. No schema is cached: the footer is
    * read fresh on every call, so a rewritten table is never seen with a
    * stale schema. */
  def parquet(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }

  private def footerSchema(spark: SparkSession,
                           paths: Seq[String]): Option[StructType] =
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      val listed = paths.map(p => dataFiles(new Path(p), conf))
      if (listed.exists(_.isEmpty)) None
      else listed.flatten.flatten.minByOption(_.getPath.toString).map { f =>
        val opts = HadoopReadOptions.builder(conf)
          .withMetadataFilter(SKIP_ROW_GROUPS).build()
        val meta = Using.resource(
          ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf), opts))(
          _.getFooter)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
    } catch { case NonFatal(_) => None }

  /** The data files Spark's file index lists under one input path, or
    * None when the path is a layout only Spark's own inference handles.
    * Names are filtered as `HadoopFSUtils.shouldFilterOutPathName` does:
    * `.`-prefixed, `_`-prefixed without `=`, and `._COPYING_` are hidden. */
  private def dataFiles(path: Path,
                        conf: Configuration): Option[Seq[FileStatus]] = {
    def hidden(n: String) = (n.startsWith("_") && !n.contains("=")) ||
      n.startsWith(".") || n.endsWith("._COPYING_")
    def summary(n: String) =
      n.startsWith("_metadata") || n.startsWith("_common_metadata")
    if (path.toString.exists("{}[]*?\\".contains(_))) return None
    val fs = path.getFileSystem(conf)
    val root = fs.getFileStatus(fs.makeQualified(path))
    if (root.isFile) Option.when(!hidden(root.getPath.getName))(Seq(root))
    else {
      val kids = fs.listStatus(root.getPath).toSeq
      def name(k: FileStatus) = k.getPath.getName
      if (kids.exists(k => summary(name(k)) || (k.isDirectory && !hidden(name(k)))))
        None
      else Some(kids.filter(k => k.isFile && !hidden(name(k))))
    }
  }

  /** Epoch-microsecond LONG for the events `ts` column, portable across
    * both testdata vintages: timestamp[ns] parquet surfaces as a nano
    * LONG under `spark.sql.legacy.parquet.nanosAsLong` (integer `div` —
    * ns since epoch exceeds 2^53, double math would corrupt it);
    * timestamp[us] surfaces as TIMESTAMP_NTZ, where the cast to
    * TIMESTAMP is the identity on the stored micros because the session
    * timezone is pinned UTC everywhere (Verify/Bench/SparkSpec). Either
    * way the value equals DuckDB's `epoch_us(ts)`, the oracle mapping. */
  def tsMicros(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case _        => expr("unix_micros(cast(ts as timestamp))")
  }

  /** TIMESTAMP twin of [[tsMicros]] for event-time operators (window /
    * session_window / watermark need a timestamp column, not micros). */
  def tsStamp(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("timestamp_micros(ts div 1000)")
    case _        => expr("cast(ts as timestamp)")
  }

  /** `events` plus a proper microsecond timestamp column `ts_utc`
    * (schema-adaptive — see [[tsStamp]]). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val e = df(spark, dir, "events")
    e.withColumn("ts_utc", tsStamp(e))
  }

  /** `events` plus the epoch-micro LONG column `ts_us` (schema-adaptive
    * — see [[tsMicros]]); the integer-arithmetic twin of [[events]]. */
  def eventsUs(spark: SparkSession, dir: String): DataFrame = {
    val e = df(spark, dir, "events")
    e.withColumn("ts_us", tsMicros(e))
  }

  def apply(spark: SparkSession, dir: String, name: String): DataTable =
    DataTable(df(spark, dir, name))
}
