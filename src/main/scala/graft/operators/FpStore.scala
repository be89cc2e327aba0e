package graft.operators

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Maintained fingerprint store — the persistent state behind the
  * incremental dedup stages ([[Dedup.exactIncrementalAgainstFps]],
  * [[Dedup.winnowIncrementalAgainstFps]], [[Dedup.decontaminate]]'s
  * bench set). A daily ingestion pipeline screens each batch against the
  * store, appends the batch-survivor fingerprints, and periodically
  * compacts — the corpus itself is never rescanned per ingest (a
  * whole-corpus rescan per batch does not survive 100 TB).
  *
  * Layout: `<root>/delta-<seq>[-c]` parquet directories, each holding a
  * single `fp` column (string md5 for exact dedup, long hash48 for
  * winnow/shingle stores — the store is schema-agnostic on the
  * fingerprint type). Every mutation writes to a `<root>/.staging-*`
  * directory first and becomes visible with ONE directory rename —
  * atomic on a POSIX filesystem (on an object store, swap the rename for
  * the committer's atomic-publish equivalent). There is no manifest to
  * corrupt: the store is a SET, and every consumer distincts or
  * semi-/anti-joins it, so the two non-atomic windows are both benign by
  * construction —
  *   - a crash mid-stage leaves only a `.staging-*` orphan, which
  *     readers never list (cleaned by the next [[compact]]);
  *   - a reader racing [[compact]] (which publishes the merged delta
  *     BEFORE unlinking the originals) sees duplicate fingerprints,
  *     never a missing one.
  *
  * Deltas are written sorted by `fp` inside each partition, so parquet
  * row-group min/max statistics prune point probes (plan-asserted in
  * FpStoreSuite). Single-writer per store (the ingestion pipeline);
  * concurrent appends would need an external lock and are out of scope.
  */
object FpStore {

  private val DeltaRe = "delta-([0-9]{8})(-c)?".r

  private def deltaDirs(path: String): Seq[(Int, Path)] = {
    val r = Paths.get(path)
    if (!Files.isDirectory(r)) return Seq.empty
    val s = Files.list(r)
    try s.iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case DeltaRe(seq, _) => Some(seq.toInt -> p)
        case _               => None
      }
    }.toSeq.sortBy(_._1)
    finally s.close()
  }

  def exists(path: String): Boolean = deltaDirs(path).nonEmpty

  /** Recursive delete (walk deepest-first). Shared with the scratch-dir
    * shutdown hook in [[graft.Queries]] so the idiom has one home. */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Stage `fps` as parquet under `.staging-*`, then atomically rename
    * to `delta-<seq>`. The write IS an action — on return the delta is
    * durable and visible to new [[read]]s. */
  private def publish(path: String, fps: DataFrame, fpCol: String,
                      seq: Int, compacted: Boolean): Path = {
    val r = Paths.get(path)
    Files.createDirectories(r)
    val staging = r.resolve(s".staging-${java.util.UUID.randomUUID()}")
    val dest = r.resolve(f"delta-$seq%08d" + (if (compacted) "-c" else ""))
    // sorted within partitions → parquet row-group min/max stats carry
    // the fp order, so point membership probes prune (FpStoreSuite)
    fps.select(col(fpCol).as("fp"))
      .sortWithinPartitions("fp")
      .write.parquet(staging.toString)
    Files.move(staging, dest, StandardCopyOption.ATOMIC_MOVE)
    dest
  }

  /** Create a new store at `path` from the corpus fingerprint
    * projection. Fails loudly if a store already exists there. */
  def create(spark: SparkSession, path: String, fps: DataFrame,
             fpCol: String = "fp"): Unit = {
    require(!exists(path), s"FpStore.create: store already exists at $path")
    publish(path, fps, fpCol, 0, compacted = false)
  }

  /** Append a delta (typically the batch-survivor fingerprints of one
    * ingest) to an existing store. */
  def append(spark: SparkSession, path: String, fps: DataFrame,
             fpCol: String = "fp"): Unit = {
    val ds = deltaDirs(path)
    require(ds.nonEmpty, s"FpStore.append: no store at $path (create first)")
    publish(path, fps, fpCol, ds.last._1 + 1, compacted = false)
  }

  /** The store contents as a single-column `fp` frame. May contain
    * duplicates across deltas — consumers distinct or semi-/anti-join
    * (both duplicate-insensitive); [[Dedup.exactIncrementalAgainstFps]]
    * and [[Dedup.winnowIncrementalAgainstFps]] distinct internally. The
    * delta listing is captured eagerly here, so a frame read before a
    * mutation keeps evaluating against the deltas it saw (published
    * parquet is immutable; only [[compact]] unlinks, and callers holding
    * pre-compact frames must re-read after compacting). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val ds = deltaDirs(path)
    require(ds.nonEmpty, s"FpStore.read: no store at $path")
    Tables.parquet(spark, ds.map(_._2.toString): _*)
  }

  /** Merge every delta into one distinct, sorted delta. Publishes the
    * merged delta FIRST (readers racing the compact see a superset —
    * set semantics make that harmless), then unlinks the originals and
    * any crash-orphaned staging directories. One distinct shuffle over
    * the store; at 100 TB run it at the cadence the deltas accumulate
    * (hundreds of tiny deltas slow the listing, not the consumers). */
  def compact(spark: SparkSession, path: String,
              numPartitions: Int = 0): Unit = {
    val ds = deltaDirs(path)
    require(ds.nonEmpty, s"FpStore.compact: no store at $path")
    val merged0 = read(spark, path).distinct()
    val merged = if (numPartitions > 0)
      merged0.repartition(numPartitions, col("fp")) else merged0
    publish(path, merged, "fp", ds.last._1 + 1, compacted = true)
    ds.foreach { case (_, p) => deleteRecursively(p) }
    val r = Paths.get(path)
    val s = Files.list(r)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith(".staging-"))
      .foreach(deleteRecursively)
    finally s.close()
  }

  /** Remove the store entirely (rerun hygiene for roundtrip queries). */
  def destroy(path: String): Unit = deleteRecursively(Paths.get(path))
}
