package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.DataTable
import graft.functions.TextFunctions.fingerprint
import graft.operators.{Dedup, FpStore}
import graft.sources.{Csv, Jsonl, Tables}

/** Ingest steps built from the engine's public source, store and dedup
  * functions. Each mirrors the ledger query it is named after
  * (`ingest.q_x` mirrors `q_x`, so it is checked against that query's
  * oracle SQL), but writes under `root`, inside the benchmark's own work
  * directory, where the ledger versions write to a fixed scratch path. */
object Ingest {

  def steps(root: String): Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest.q_csv_roundtrip" -> ((s: SparkSession, dir: String) => {
      val tmp = s"$root/csv"
      Csv.writeCsv(Tables.df(s, dir, "customer"), tmp)
      DataTable(Csv.readCsv(s, tmp))
        .selectCols(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        .arrange("c_custkey").df
    }),

    "ingest.q_jsonl_roundtrip" -> ((s: SparkSession, dir: String) => {
      val tmp = s"$root/jsonl"
      val src = Tables.df(s, dir, "documents")
      Jsonl.writeJsonl(src, tmp)
      DataTable(Jsonl.readJsonl(s, tmp, Some(src.schema))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), md5(col("text").cast("binary")).as("text_fp")))
        .arrange("doc_id").df
    }),

    // corpus fingerprints seed the store; two batches are each screened
    // against the store state the previous one left, survivors land in
    // a parquet sink and their fingerprints append; a final compaction
    "ingest.q_dedup_incr_store" -> ((s: SparkSession, dir: String) => {
      val store = s"$root/fpstore"
      val sink = s"$root/fpstore_sink"
      FpStore.destroy(store)
      val docs = Tables.df(s, dir, "documents")
      FpStore.create(s, store,
        docs.filter(col("doc_id") % 4 < 2).select(fingerprint(col("text")).as("fp")))
      def ingest(batch: DataFrame, tag: String): Unit = {
        Dedup.exactIncrementalAgainstFps(batch, "text", "doc_id",
            FpStore.read(s, store), "fp")
          .select(col("doc_id"), col("fp"))
          .write.mode("overwrite").parquet(s"$sink/$tag")
        FpStore.append(s, store, s.read.parquet(s"$sink/$tag"))
      }
      ingest(docs.filter(col("doc_id") % 4 === 2), "b1")
      ingest(docs.filter(col("doc_id") % 4 === 3), "b2")
      FpStore.compact(s, store)
      DataTable(
        s.read.parquet(s"$sink/b1").withColumn("batch", lit(1L))
          .unionByName(s.read.parquet(s"$sink/b2").withColumn("batch", lit(2L))))
        .arrange("doc_id").df
    })
  )
}
