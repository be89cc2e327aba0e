package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{NfcNormalize, Shim}
import org.apache.spark.storage.StorageLevel

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.Dedup
import graft.sources.Tables

/** Kernel probes and the verify yield, both through the engine's public
  * functions only. Run after the timed passes of a traced run. */
object Probes {

  /** Copies of the document and embedding tables stacked so a probe
    * scans enough rows for the kernel to dominate job overhead. */
  private val MinRows = 20000
  private val Reps = 3

  private def stacked(df: DataFrame): DataFrame = {
    val n = df.count().toInt
    val copies = math.max(1, (MinRows + n - 1) / math.max(1, n))
    df.crossJoin(df.sparkSession.range(copies).toDF("__copy")).drop("__copy")
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** ns per row of `kernel` over the cached column, minus an identity
    * projection of the same column; the median of `Reps` timings each. */
  private def nsPerRow(cached: DataFrame, rows: Long, c: String,
                       kernel: DataFrame => DataFrame,
                       mark: (String, Double, Double) => Unit,
                       name: String): Double = {
    def time(f: DataFrame => DataFrame): Double = median((1 to Reps).map { _ =>
      val t0 = System.nanoTime(); noop(f(cached)); (System.nanoTime() - t0).toDouble })
    val s = System.currentTimeMillis().toDouble
    val k = time(kernel)
    val id = time(_.select(col(c)))
    mark(name, s, System.currentTimeMillis().toDouble)
    (k - id) / rows
  }

  /** The plans.*_ns_row metrics. `mark` records one span per probe. */
  def kernels(spark: SparkSession, dir: String,
              mark: (String, Double, Double) => Unit): Map[String, Double] = {
    val text = stacked(Tables.df(spark, dir, "documents").select(col("doc_id"), col("text")))
      .persist(StorageLevel.MEMORY_ONLY)
    val vecs = stacked(Tables.df(spark, dir, "embeddings")
      .select(VectorFunctions.toDoubleArray(col("embedding")).as("v")))
      .persist(StorageLevel.MEMORY_ONLY)
    try {
      val nt = text.count()
      val nv = vecs.count()
      val probe = vecs.select(col("v")).head().getSeq[Double](0).toArray
      def onText(name: String, f: Column => Column) =
        name -> nsPerRow(text, nt, "text", _.select(f(col("text")).as("k")), mark, name)
      Map(
        "plans.minhash_ns_row" -> nsPerRow(text, nt, "text",
          Dedup.withMinhashSignature(_, "text").select(col("sig")), mark,
          "plans.minhash_ns_row"),
        "plans.simhash_ns_row" -> nsPerRow(text, nt, "text",
          Dedup.simhashChunkRows(_, "text", "doc_id"), mark,
          "plans.simhash_ns_row"),
        onText("plans.winnow_ns_row", TextFunctions.winnowFingerprints(_, 5, 4)),
        onText("plans.nfc_ns_row",
          c => Shim.toColumn(NfcNormalize(Shim.toExpression(c)))),
        onText("plans.feature_hash_ns_row", TextFunctions.featureHash(_, 1024)),
        "plans.cosine_ns_row" -> nsPerRow(vecs, nv, "v",
          _.select(VectorFunctions.cosine(col("v"), VectorFunctions.litVec(probe))),
          mark, "plans.cosine_ns_row"))
    } finally {
      text.unpersist(blocking = true)
      vecs.unpersist(blocking = true)
    }
  }

  /** Pairs kept over candidate pairs, summed over the MinHash, SimHash,
    * winnow and embedding-cell families: each family's public candidate
    * function run once with its verify threshold and once with the
    * threshold opened to every candidate its blocking produces. */
  def verifyYield(spark: SparkSession, dir: String): (Long, Long) = {
    val docs = Tables.df(spark, dir, "documents")
    val emb = Tables.df(spark, dir, "embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val families: Seq[(DataFrame, DataFrame)] = Seq(
      Dedup.minhashCandidates(docs, "text", "doc_id", minEstJaccard = 0.5) ->
        Dedup.minhashCandidates(docs, "text", "doc_id", minEstJaccard = 0.0),
      Dedup.simhashCandidates(docs, "text", "doc_id", maxHamming = 3) ->
        Dedup.simhashCandidates(docs, "text", "doc_id", maxHamming = 48),
      Dedup.winnowCandidates(docs, "text", "doc_id", minShared = 2L) ->
        Dedup.winnowCandidates(docs, "text", "doc_id", minShared = 1L),
      Dedup.embeddingCandidates(emb, "embedding", "vec_id", dim, minCosine = 0.95) ->
        Dedup.embeddingCandidates(emb, "embedding", "vec_id", dim, minCosine = -1.0))
    families.foldLeft((0L, 0L)) { case ((k, c), (kept, cand)) =>
      (k + kept.count(), c + cand.count()) }
  }
}
