package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** One benchmark run in one JVM: set up a session, time a cold pass and
  * then `--passes` warm passes over the workload's queries, then
  * (outside every timed span) write and digest each query's result for
  * the output check. With `--trace 1` it also records spans and
  * per-layer counts.
  *
  * Usage: Harness --image DIR --queries q1,q2 --passes N --trace 0|1
  *                --out DIR [--throw q] [--leak q]
  * `--throw` and `--leak` inject a throwing query and a pin that is never
  * released; the benchmark's self-test uses them. Writes DIR/result.json
  * (and DIR/spans.jsonl when tracing). */
object Harness {

  type Q = (SparkSession, String) => DataFrame

  final case class Pass(index: Int, traced: Boolean, wallS: Double,
                        latencies: Seq[(String, Double)])

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val args = argv.grouped(2).collect { case Array(k, v) => k -> v }.toSeq
    def arg(k: String) = args.collectFirst { case (`k`, v) => v }
      .getOrElse(sys.error(s"missing $k"))
    def multi(k: String) = args.collect { case (`k`, v) => v }.toSet
    val image = arg("--image")
    val order = arg("--queries").split(",").toSeq
    val warmPasses = arg("--passes").toInt
    val trace = arg("--trace") == "1"
    val out = arg("--out")
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // the self-test's injected faults
    val leaked = mutable.ArrayBuffer.empty[DataFrame]
    def withFaults(name: String, fn: Q): Q =
      if (multi("--throw")(name)) (_, _) => throw new RuntimeException(s"injected failure in $name")
      else if (multi("--leak")(name)) (s, d) => {
        // a plan of its own each time: an identical plan would hit the
        // cache entry the previous pass left
        val pin = s.range(10 + leaked.size).toDF("x").persist()
        pin.count()
        leaked += pin
        fn(s, d)
      }
      else fn
    val ingest = Ingest.steps(s"$out/ingest")
    val queries: Seq[(String, Q)] = order.map { q =>
      q -> withFaults(q, ingest.getOrElse(q, graft.SparkEntry.queries(q))) }

    val errors = mutable.LinkedHashMap.empty[String, String]
    val tracer = new Tracer(spark)
    val layers = new Layers(cores)
    val sc = spark.sparkContext
    def now = System.currentTimeMillis().toDouble
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

    def runPass(index: Int, traced: Boolean): Pass = {
      if (traced) tracer.attach()
      val gc0 = gcMs
      val marks = mutable.ArrayBuffer.empty[QueryMarks]
      var pinsPeak, bytesPeak, pinsLeaked = 0L
      val t0 = System.nanoTime()
      val lat = queries.flatMap { case (name, fn) =>
        val before = if (traced) sc.getPersistentRDDs.size else 0
        val c0 = now
        val q0 = System.nanoTime()
        val r = try {
          sc.setJobDescription(s"bench:$name:construct")
          val df = fn(spark, image)
          val c1 = now
          sc.setJobDescription(s"bench:$name:sink")
          df.write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - q0) / 1e9
          if (traced) marks += QueryMarks(name, c0, c1, now,
            df.queryExecution.tracker.phases.get("analysis")
              .map(p => (p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
          Some(name -> dt)
        } catch { case e: Throwable =>
          errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
          None
        } finally sc.setJobDescription(null)
        if (traced) {
          pinsPeak = math.max(pinsPeak, sc.getPersistentRDDs.size.toLong)
          bytesPeak = math.max(bytesPeak,
            sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
        }
        graft.operators.GlobalOps.releaseSnapshots()
        if (traced) pinsLeaked += math.max(0, sc.getPersistentRDDs.size - before)
        r
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) {
        tracer.detach(marks.map(k => (k.c1, k.s1)).toSeq)
        val (jobs, stages, plans) = tracer.drain()
        layers.addPass(index, marks.toSeq, jobs, stages, plans,
          (gcMs - gc0) / 1e3,
          Map("operators.pins_peak" -> pinsPeak.toDouble,
            "operators.cache_bytes_peak" -> bytesPeak.toDouble,
            "operators.pins_leaked" -> pinsLeaked.toDouble))
      }
      Pass(index, traced, wall, lat)
    }

    // The measured window: a cold pass, then a fixed number of warm
    // passes, so both sides of a comparison do the same work. A traced
    // run adds traced passes between the warm ones, so every warm traced
    // pass has an untraced pass on either side and the tracing overhead
    // is measured in the same JVM.
    val total = if (trace) 2 * math.max(2, warmPasses) else 1 + warmPasses
    val passes = (0 until total).map(i => runPass(i, traced = trace && i % 2 == 0))

    if (trace) {
      Probes.kernels(spark, image, (name, s, e) => layers.span(name, "plans", "", -1, s, e))
        .foreach { case (k, v) => layers.probe(k, v) }
      val (kept, cand) = Probes.verifyYield(spark, image)
      layers.probe("operators.verify_yield", if (cand == 0) 0.0 else kept.toDouble / cand)
    }

    // Output check, outside every timed span: each query's result is
    // written once and digested from what was written.
    val digests = mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      try {
        sc.setJobDescription(s"bench:$name:verify")
        val dst = s"$out/results/$name"
        fn(spark, image).coalesce(1).write.mode("overwrite").parquet(dst)
        digests(name) = digest(spark.read.parquet(dst))
      } catch { case e: Throwable =>
        errors.getOrElseUpdate(name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally {
        sc.setJobDescription(null)
        graft.operators.GlobalOps.releaseSnapshots()
      }
    }
    val oracle = queries.map(_._1).flatMap { q =>
      graft.SparkEntry.oracleSql.get(q.stripPrefix("ingest.")).map(q -> _) }

    val rssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

    import Json._
    val result = obj(
      "cores" -> num(cores),
      "setup_s" -> num(setupS),
      "session_s" -> num(sessionS),
      "peak_rss_mb" -> num(rssMb),
      "queries" -> arr(order.map(str)),
      "passes" -> arr(passes.map { p => obj(
        "index" -> num(p.index), "traced" -> bool(p.traced),
        "wall_s" -> num(p.wallS),
        "latencies" -> obj(p.latencies.map { case (q, t) => q -> num(t) }: _*)) }),
      "errors" -> obj(errors.toSeq.map { case (q, e) => q -> str(e) }: _*),
      "digests" -> obj(digests.toSeq.map { case (q, d) => q -> str(d) }: _*),
      "oracle_sql" -> obj(oracle.map { case (q, s) => q -> str(s) }: _*),
      "layers" -> (if (trace) layers.toJson else "null"))
    Files.writeString(Paths.get(s"$out/result.json"), result)
    if (trace) Files.writeString(Paths.get(s"$out/spans.jsonl"), layers.spansJsonl)
    leaked.foreach(_.unpersist())
    spark.stop()
  }

  /** Order-insensitive digest: row count and two 32-bit halves of the
    * per-row xxhash64, each summed over rows (sums cannot overflow
    * below 2^31 rows). Map columns hash through their JSON text. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xffffffffL))),
      sum(shiftrightunsigned(h, 32))).head()
    def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    s"${g(0)}:${g(1)}:${g(2)}"
  }
}

/** Harness-side timestamps of one query in a traced pass (epoch ms):
  * construct starts at `c0`, the sink starts at `c1` and ends at `s1`;
  * `analysis` is the analysis phase of the DataFrame construct returned. */
final case class QueryMarks(query: String, c0: Double, c1: Double, s1: Double,
                            analysis: Option[(Double, Double)])

/** Minimal JSON writer for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(i: Int): String = i.toString
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
