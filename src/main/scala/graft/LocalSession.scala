package graft

import org.apache.spark.sql.SparkSession

/** The local-mode session every harness main (Bench, BenchOne,
  * ExplainQuery, ProfileOne, ScaleCheck, ScaleUp, Verify) runs on, so
  * the plan one tool prints is the plan the others execute.
  *
  * Cores come from `SPARK_GRAFT_CPUS`, else every available processor;
  * shuffle partitions equal the core count. Session time zone UTC, and
  * events.parquet's TIMESTAMP(NANOS) reads as a nanos-since-epoch long
  * (queries derive timestamps via integer div). */
object LocalSession {

  private def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(logLevel: String = "WARN"): SparkSession = {
    val n = cores
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
