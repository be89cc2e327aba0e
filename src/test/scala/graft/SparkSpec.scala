package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.DataTable

/** Shared Spark session + golden-compare helpers for the test kit.
  *
  * Comparator semantics follow SURVEY.md §1.2: float comparisons use the
  * reference's epsilon (`almostEqual`, `value.nim:393-408` — 1e-8
  * relative), confined to the TEST comparator; engine queries use exact
  * SQL equality (SURVEY.md §7.5 risk 3).
  */
trait SparkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSpec.session

  /** Collect one column as a Seq (driver-side; test kit only). */
  def colSeq(dt: DataTable, c: String): Seq[Any] =
    dt.df.select(c).collect().toSeq.map(_.get(0))

  def colLongs(dt: DataTable, c: String): Seq[Long] =
    colSeq(dt, c).map {
      case n: Long => n
      case n: Int => n.toLong
      case x => fail(s"column $c: expected integer, got $x (${x.getClass})")
    }

  def colDoubles(dt: DataTable, c: String): Seq[Double] =
    colSeq(dt, c).map {
      case d: Double => d
      case f: Float => f.toDouble
      case x => fail(s"column $c: expected double, got $x (${x.getClass})")
    }

  def colStrings(dt: DataTable, c: String): Seq[String] =
    colSeq(dt, c).map(v => if (v == null) null else v.toString)

  /** Reference epsilon equality (`value.nim:393-408`). */
  def almostEqual(x: Double, y: Double, eps: Double = 1e-8): Boolean =
    if (x.isNaN && y.isNaN) true
    else if (x == y) true
    else math.abs(x - y) <= eps * math.max(math.abs(x), math.abs(y))

  def assertAllClose(got: Seq[Double], want: Seq[Double], eps: Double = 1e-6): Unit = {
    assert(got.length == want.length, s"length ${got.length} != ${want.length}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(almostEqual(g, w, eps), s"at $i: $g != $w")
    }
  }

  def rowCount(df: DataFrame): Long = df.count()

  /** Runs `body` and returns its result with the call site of every
    * Spark job it launched. Jobs are matched by a fresh job group; a
    * sentinel job in a second group runs afterwards, and since the
    * listener bus delivers events in order, seeing the sentinel start
    * means every job of `body` has been seen too. */
  def jobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group`    =>
            seen.add(e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse(""))
          case `sentinel` => done.countDown()
          case _          => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, group)
      val r = try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the sentinel job")
      (r, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
