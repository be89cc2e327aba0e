package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Versioned trained-artifact store — the production seam between
  * "train" and "score" that the per-query retraining pattern lacks: a
  * 100 TB pipeline trains its k-means cells / PQ codebooks / SQ bounds
  * / quality-classifier weights / BPE merges ONCE per refresh cadence,
  * persists them, and every downstream scoring job loads the artifact
  * instead of rescanning the corpus (`q_semantic_dedup` and the ANN
  * family retrain per query by design — correctness-clean and
  * replayable, but train-per-job does not survive production cadence).
  *
  * Discipline is [[FpStore]]'s generalized to keyed, versioned,
  * whole-artifact publishes:
  *   - layout `<root>/<kind>/v-<seq>` parquet directories, `kind` a
  *     caller-chosen slug (one store can hold a pipeline's whole model
  *     family);
  *   - every publish stages under `<root>/<kind>/.staging-*` and
  *     becomes visible with ONE atomic directory rename (object
  *     stores: the committer's atomic-publish equivalent);
  *   - unlike FpStore's set-of-deltas, a model version is a COMPLETE
  *     artifact — readers always open exactly one version directory
  *     (latest by default, pinned by number for reproducibility), so
  *     the version sequence doubles as provenance: v-k is "the model
  *     the pipeline trained at refresh k", and a scoring job that
  *     pins its version replays bit-identically forever;
  *   - a crash mid-publish leaves only a `.staging-*` orphan readers
  *     never list (cleaned by the next [[prune]]); a reader racing a
  *     publish keeps the version listing it captured — published
  *     directories are immutable and only [[prune]] unlinks.
  *
  * Artifacts are aggregate-result-sized (k·dim cell rows, m·ncode·d
  * codebook rows, dim+1 weight rows, merge-table rows — kilobytes to
  * megabytes), so the typed codecs below round-trip them through the
  * driver: parquet DOUBLE is the same IEEE-754 bit pattern the trainer
  * collected, so a loaded model scores bit-identically to the freshly
  * trained one (ModelStoreSuite pins this; `q_model_store_ivf` /
  * `q_model_store_bpe` hash-check whole store-backed chains against
  * the retrain-per-query oracles). Single-writer per (root, kind), the
  * FpStore rule; concurrent publishers need an external lock. */
object ModelStore {

  private val VersionRe = "v-([0-9]{8})".r
  private val KindRe = "[a-z0-9_\\-]+".r

  /** Root as a driver-local java.nio path. Accepts a plain path or an
    * explicit `file:` URI (`file:///x`, `file:/x`); any other scheme
    * (hdfs:, s3a:, ...) is outside the store's POSIX contract and
    * fails loudly — on such deployments point the root at a local or
    * POSIX-mounted shared path (object stores lack the atomic
    * directory rename the publish protocol needs either way). */
  private def localRoot(root: String): Path = {
    val uri = try new java.net.URI(root) catch { case _: Exception => null }
    if (uri != null && uri.getScheme != null) {
      require(uri.getScheme == "file",
        s"ModelStore: root '$root' has scheme '${uri.getScheme}' — the " +
          "store's contract is a driver-local (or POSIX-mounted shared) " +
          "filesystem; use a plain path or a file: URI")
      // an opaque URI ("file:models" — scheme but no "/") has a null
      // path; Paths.get(null) would NPE with no context, so reject it
      // with the same guidance as a foreign scheme
      require(uri.getPath != null,
        s"ModelStore: root '$root' is an opaque file: URI (no absolute " +
          "path after the scheme) — use a plain path or file:///abs/path")
      Paths.get(uri.getPath)
    } else Paths.get(root)
  }

  private def kindDir(root: String, kind: String): Path = {
    require(KindRe.pattern.matcher(kind).matches(),
      s"ModelStore: kind '$kind' must match ${KindRe.regex}")
    localRoot(root).resolve(kind)
  }

  private def versionDirs(root: String, kind: String): Seq[(Int, Path)] = {
    val d = kindDir(root, kind)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try s.iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case VersionRe(seq) => Some(seq.toInt -> p)
        case _              => None
      }
    }.toSeq.sortBy(_._1)
    finally s.close()
  }

  /** Versions present for `kind`, ascending (empty → never trained). */
  def versions(root: String, kind: String): Seq[Int] =
    versionDirs(root, kind).map(_._1)

  def exists(root: String, kind: String): Boolean =
    versionDirs(root, kind).nonEmpty

  /** Publish `artifact` as the next version of `kind`; returns the
    * version number. The write IS an action — on return the version is
    * durable and visible to new loads. */
  def publish(root: String, kind: String, artifact: DataFrame): Int = {
    val d = kindDir(root, kind)
    Files.createDirectories(d)
    val seq = versionDirs(root, kind).lastOption.map(_._1 + 1).getOrElse(0)
    val staging = d.resolve(s".staging-${java.util.UUID.randomUUID()}")
    // Stage through an explicit file: URI so the write lands on the
    // driver-local filesystem the java.nio rename below operates on,
    // REGARDLESS of fs.defaultFS — on a remote-default deployment a
    // bare path would commit to HDFS/S3 while the rename saw an empty
    // local dir (the r18 failure mode, previously only asserted away).
    artifact.write.parquet(staging.toUri.toString)
    // Validate the staged artifact directly instead of trusting the
    // _SUCCESS marker: deployments commonly disable
    // mapreduce.fileoutputcommitter.marksuccessfuljobs, and a committed
    // parquet directory always has at least one part- file (even for
    // zero rows).
    val committed = {
      val s = Files.list(staging)
      try s.iterator().asScala.exists(
        _.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
    require(committed,
      s"ModelStore.publish: no part- files under $staging — refusing to " +
        "publish a broken version")
    Files.move(staging, d.resolve(f"v-$seq%08d"), StandardCopyOption.ATOMIC_MOVE)
    seq
  }

  /** Open ONE version of `kind` (default: latest). Fails loudly on an
    * untrained kind or a version that was never published / was pruned
    * — a scoring job silently running on no model is the failure mode
    * this store exists to prevent. */
  def load(spark: SparkSession, root: String, kind: String,
           version: Int = -1): DataFrame = {
    // -1 is the ONLY latest sentinel: a caller bug like version = -5
    // must throw, not silently alias to the newest model
    require(version >= -1,
      s"ModelStore.load: version $version — use -1 for latest or a " +
        "published version number")
    val ds = versionDirs(root, kind)
    require(ds.nonEmpty, s"ModelStore.load: no '$kind' model at $root — " +
      "train and publish first")
    val p =
      if (version < 0) ds.last._2
      else ds.collectFirst { case (v, q) if v == version => q }.getOrElse(
        throw new IllegalArgumentException(
          s"ModelStore.load: '$kind' version $version not present at $root " +
            s"(have ${ds.map(_._1).mkString(",")})"))
    // explicit file: URI — versions live on the driver-local FS by
    // contract; a bare path would resolve against a remote fs.defaultFS
    Tables.parquet(spark, p.toUri.toString)
  }

  /** Keep the newest `keep` versions of `kind`, unlink the rest and any
    * crash-orphaned staging directories. Never touches the latest
    * version; publishes are immutable so racing readers keep whatever
    * version directory they already opened on POSIX (object stores:
    * align pruning with reader-lease cadence). */
  def prune(root: String, kind: String, keep: Int = 1): Unit = {
    require(keep >= 1, s"ModelStore.prune: keep >= 1, got $keep")
    val ds = versionDirs(root, kind)
    ds.dropRight(keep).foreach { case (_, p) => FpStore.deleteRecursively(p) }
    val d = kindDir(root, kind)
    if (Files.isDirectory(d)) {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".staging-"))
        .foreach(FpStore.deleteRecursively)
      finally s.close()
    }
  }

  /** Remove the whole store (rerun hygiene for roundtrip queries). */
  def destroy(root: String): Unit =
    FpStore.deleteRecursively(localRoot(root))

  // ---- typed codecs ---------------------------------------------------
  // Each codec fixes one artifact schema and round-trips the exact
  // driver-side shape the trainers produce / the scorers consume.
  // Loads sort by the codec's key columns, so the reconstructed Scala
  // value is deterministic regardless of parquet file order.

  private def driverDf(spark: SparkSession, schema: StructType,
                       rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)

  private val centroidSchema = StructType(Seq(
    StructField("cell", LongType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("val", DoubleType, nullable = false)))

  /** k-means cells as trained by `Similarity.kmeansCells` — rows
    * (cell, pos, val), one per centroid component. */
  def saveCentroids(spark: SparkSession, root: String,
                    cents: Seq[(Long, Array[Double])],
                    kind: String = "kmeans_cells"): Int = {
    require(cents.nonEmpty, "ModelStore.saveCentroids: empty centroid set")
    publish(root, kind, driverDf(spark, centroidSchema,
      for { (id, v) <- cents; (x, p) <- v.toIndexedSeq.zipWithIndex }
        yield Row(id, p, x)))
  }

  def loadCentroids(spark: SparkSession, root: String,
                    kind: String = "kmeans_cells",
                    version: Int = -1): Seq[(Long, Array[Double])] =
    load(spark, root, kind, version)
      .orderBy("cell", "pos").collect()
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (id, rows) => (id, rows.map(_.getDouble(2))) }

  private val codebookSchema = StructType(Seq(
    StructField("subspace", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("val", DoubleType, nullable = false)))

  /** PQ codebooks (`Similarity.pqCodebooks` / `ivfPqCodebooks`) — rows
    * (subspace, code, pos, val). */
  def saveCodebooks(spark: SparkSession, root: String,
                    books: Seq[Seq[Array[Double]]],
                    kind: String = "pq_codebooks"): Int = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "ModelStore.saveCodebooks: empty codebook set")
    publish(root, kind, driverDf(spark, codebookSchema,
      for { (book, m) <- books.toIndexedSeq.zipWithIndex
            (cw, c) <- book.toIndexedSeq.zipWithIndex
            (x, p) <- cw.toIndexedSeq.zipWithIndex }
        yield Row(m, c, p, x)))
  }

  def loadCodebooks(spark: SparkSession, root: String,
                    kind: String = "pq_codebooks",
                    version: Int = -1): Seq[Seq[Array[Double]]] =
    load(spark, root, kind, version)
      .orderBy("subspace", "code", "pos").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (_, sub) =>
        sub.groupBy(_.getInt(1)).toSeq.sortBy(_._1)
          .map { case (_, rows) => rows.map(_.getDouble(3)) }
      }

  private val sqBoundsSchema = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false)))

  /** SQ8 per-dimension bounds (`Similarity.sqBounds`). */
  def saveSqBounds(spark: SparkSession, root: String,
                   lo: Array[Double], hi: Array[Double],
                   kind: String = "sq_bounds"): Int = {
    require(lo.nonEmpty && lo.length == hi.length,
      "ModelStore.saveSqBounds: lo/hi must be same nonempty length")
    publish(root, kind, driverDf(spark, sqBoundsSchema,
      lo.toIndexedSeq.zipWithIndex.map { case (l, p) => Row(p, l, hi(p)) }))
  }

  def loadSqBounds(spark: SparkSession, root: String,
                   kind: String = "sq_bounds",
                   version: Int = -1): (Array[Double], Array[Double]) = {
    val rows = load(spark, root, kind, version).orderBy("pos").collect()
    (rows.map(_.getDouble(1)), rows.map(_.getDouble(2)))
  }

  private val linearWeightsSchema = StructType(Seq(
    StructField("j", IntegerType, nullable = false),
    StructField("w_micro", LongType, nullable = false)))

  /** Quality-classifier micro-weights (`Corpus.trainQualityClassifier`)
    * — rows (j, w_micro) for j in [0, dim), bias at j = dim (the
    * trainer's own bias-as-last-bucket convention). */
  def saveLinearWeights(spark: SparkSession, root: String,
                        weights: Seq[Long], bias: Long,
                        kind: String = "quality_weights"): Int = {
    require(weights.nonEmpty, "ModelStore.saveLinearWeights: empty weights")
    publish(root, kind, driverDf(spark, linearWeightsSchema,
      weights.toIndexedSeq.zipWithIndex.map { case (w, j) => Row(j, w) } :+
        Row(weights.length, bias)))
  }

  def loadLinearWeights(spark: SparkSession, root: String,
                        kind: String = "quality_weights",
                        version: Int = -1): (Seq[Long], Long) = {
    val rows = load(spark, root, kind, version).orderBy("j").collect()
    require(rows.length >= 2,
      s"ModelStore.loadLinearWeights: malformed '$kind' artifact")
    (rows.init.map(_.getLong(1)).toSeq, rows.last.getLong(1))
  }

  private val bpeMergesSchema = StructType(Seq(
    StructField("rank", IntegerType, nullable = false),
    StructField("pair", StringType, nullable = false),
    StructField("n", LongType, nullable = false)))

  /** Ordered BPE merge rules (`Corpus.bpeTrain`'s `merges`) — rank is
    * the training order, the part of the artifact order parquet must
    * not lose. */
  def saveBpeMerges(spark: SparkSession, root: String,
                    merges: Seq[(String, Long)],
                    kind: String = "bpe_merges"): Int = {
    require(merges.nonEmpty, "ModelStore.saveBpeMerges: empty merge list")
    publish(root, kind, driverDf(spark, bpeMergesSchema,
      merges.toIndexedSeq.zipWithIndex.map { case ((p, n), r) => Row(r, p, n) }))
  }

  def loadBpeMerges(spark: SparkSession, root: String,
                    kind: String = "bpe_merges",
                    version: Int = -1): Seq[(String, Long)] =
    load(spark, root, kind, version).orderBy("rank").collect()
      .map(r => (r.getString(1), r.getLong(2))).toSeq

  /** The BPE word→pieces vocabulary (`bpeTrain`'s `vocab` frame:
    * (word, n, seq)) is already a DataFrame — publish it as-is; it is
    * vocabulary-bounded, not corpus-bounded, so it stays
    * artifact-sized. Load with plain [[load]]. */
  def saveBpeVocab(spark: SparkSession, root: String, vocab: DataFrame,
                   kind: String = "bpe_vocab"): Int =
    publish(root, kind, vocab)
}
