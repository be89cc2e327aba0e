package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output side of the pipeline: partitioned parquet — the layout a
  * 100 TB curation job writes so downstream readers get PARTITION
  * PRUNING (a `lang='en'` filter skips whole directories, verified by
  * plan assertion in SinksSuite) and per-partition file sizing.
  * Beyond-reference (the reference's only sink is CSV/HDF5). */
object Sinks {

  /** Write `df` as parquet partitioned by `partitionCols` (directory per
    * value combination). `maxRecordsPerFile` bounds file size so a skewed
    * partition value cannot produce one giant file; zstd (bundled with
    * Spark 4) over default snappy — at 100 TB the storage/scan-IO saving
    * outweighs the extra encode CPU. */
  def writeParquet(df: DataFrame, path: String,
                   partitionCols: Seq[String] = Nil,
                   maxRecordsPerFile: Long = 5000000L,
                   compression: String = "zstd"): Unit = {
    val w = df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression", compression)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(path)
  }

  /** ORC twin of [[writeParquet]] — same partitioning/file-sizing rules,
    * for stacks standardized on ORC (Hive-lineage warehouses). Parquet
    * stays the default sink; this keeps the columnar-format choice a
    * one-line swap. */
  def writeOrc(df: DataFrame, path: String,
               partitionCols: Seq[String] = Nil,
               maxRecordsPerFile: Long = 5000000L,
               compression: String = "zstd"): Unit = {
    val w = df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression", compression)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(path)
  }

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Per-file column statistics of a parquet dataset: row count and
    * min/max of each named column — the same min/max intersection test
    * parquet row-group skipping runs, surfaced as a table. The layout
    * audit tool: run after [[graft.operators.Layout.clusterByZorder]] (or
    * any sort) to SEE how selective a filter will be, per file, before
    * betting a 100 TB scan on it. One distributed aggregate grouped on
    * `input_file_name` — no driver-side file walking. */
  def fileStats(spark: SparkSession, path: String,
                cols: Seq[String]): DataFrame =
    Tables.parquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))): _*)

  /** Compact a parquet dataset's small files: read, coalesce toward
    * `targetRowsPerFile`, rewrite to `outPath`. The small-file problem is
    * the operational tax of incremental/streaming writers (every
    * micro-batch lands a file per partition; a listing of 10^6 tiny files
    * costs more than the scan) — periodic compaction is the standard
    * cure. Row-count sizing via one cheap count over footer metadata;
    * `maxRecordsPerFile` caps stragglers the even split misses. */
  def compactParquet(spark: SparkSession, inPath: String, outPath: String,
                     targetRowsPerFile: Long = 5000000L,
                     compression: String = "zstd"): Unit = {
    // qualified-path guard: raw string compare misses trailing slashes,
    // relative spellings, and scheme-qualified variants of the same dir;
    // also reject nesting either way — overwrite inside the input mutates
    // it mid-read, input inside output gets deleted by the overwrite
    val conf = spark.sessionState.newHadoopConf()
    def qualify(p: String): org.apache.hadoop.fs.Path = {
      val hp = new org.apache.hadoop.fs.Path(p)
      // URI.normalize resolves ".." segments, which Hadoop Path keeps
      new org.apache.hadoop.fs.Path(
        hp.getFileSystem(conf).makeQualified(hp).toUri.normalize())
    }
    val (qi, qo) = (qualify(inPath), qualify(outPath))
    def contains(a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path) = {
      var p = b
      var hit = false
      while (p != null && !hit) { hit = p == a; p = p.getParent }
      hit
    }
    require(!contains(qi, qo) && !contains(qo, qi),
      s"compactParquet: output $qo overlaps input $qi — the overwrite " +
        "would destroy the input mid-read")
    val df = Tables.parquet(spark, inPath)
    val n = df.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRowsPerFile).toInt)
    df.repartition(files)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", targetRowsPerFile)
      .option("compression", compression)
      .parquet(outPath)
  }
}
