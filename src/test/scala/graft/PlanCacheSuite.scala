package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, GlobalOps, GlobalRank, GlobalShift, PlanCache}

/** The engine's one persist lifecycle: PlanCache pins each plan once,
  * and releasing pins at any moment — even while another thread is
  * executing queries that read them — costs recomputes, never wrong
  * answers. The global window operators pin nothing, so a release can
  * never misalign them. */
class PlanCacheSuite extends SparkSpec {
  import spark.implicits._

  test("pinning two equal plans persists once and registers once") {
    GlobalOps.releaseSnapshots() // start from an empty registry
    def plan = spark.range(50).select((col("id") * 3).as("x"))
    val (_, pinned) = persistedDuring {
      assert(PlanCache.pinned(plan).count() == 50L)
      assert(PlanCache.pinned(plan).count() == 50L)
    }
    assert(pinned.size == 1, s"expected one persisted RDD, got $pinned")
    assert(PlanCache.releaseSnapshots() == 1, "one registry entry")
    assert(plan.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  private def tiedS = spark.range(400)
    .select(struct((col("id") % 10).as("v")).as("v"), col("id").as("rid"))
    .repartition(7)

  private def shiftFrame = (1 to 100).map(i => (i.toLong, i * 10L)).reverse
    .toDF("k", "v").repartition(8).withColumn("ks", struct(col("k")))

  private def docs = {
    val core = (1 to 12).map(i => s"core$i").mkString(" ")
    (1 to 8).map { i =>
      val filler = (1 to 20 * i).map(j => s"fill${i}w$j").mkString(" ")
      (i.toLong, if (i % 2 == 0) s"$filler $core" else filler)
    }.toDF("doc_id", "text")
  }

  /** Struct-keyed (bounds fallback) rank and shifts, plus a query whose
    * shingle sets PlanCache pins, each collected in a fixed order. */
  private def workload(): Seq[Seq[Row]] = Seq(
    GlobalRank.withGlobalRanks(tiedS, Seq(col("v")))
      .select("rid", "rnk", "drnk", "prnk", "cdist").orderBy("rid").collect().toSeq,
    GlobalShift.withGlobalShifts(shiftFrame,
      Seq(GlobalShift.Shift("prev", col("v"), 7, isLead = false, default = -1L),
        GlobalShift.Shift("next", col("v"), 30, isLead = true)),
      Seq(col("ks"))).select("k", "prev", "next").orderBy("k").collect().toSeq,
    Dedup.containmentPairs(docs, "text", "doc_id")
      .orderBy("id_a", "id_b").collect().toSeq)

  test("two threads: global windows and pinned queries stay exact while the other releases pins") {
    val serial = workload()
    assert(serial(2).nonEmpty, "containment pairs must be non-vacuous")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val releases = new java.util.concurrent.atomic.AtomicInteger(0)
    val releaser = new Thread(() =>
      while (!stop.get) {
        GlobalOps.releaseSnapshots()
        releases.incrementAndGet()
        Thread.sleep(2)
      })
    @volatile var results: Seq[Seq[Seq[Row]]] = Nil
    @volatile var failure: Throwable = null
    val worker = new Thread(() =>
      try results = (1 to 3).map(_ => workload())
      catch { case t: Throwable => failure = t })
    releaser.start()
    worker.start()
    try worker.join()
    finally { stop.set(true); releaser.join() }
    if (failure != null) throw failure
    assert(releases.get > 0, "the releaser never ran")
    assert(results.size == 3)
    results.foreach(r => assert(r == serial, "concurrent run diverged from serial"))
  }
}
