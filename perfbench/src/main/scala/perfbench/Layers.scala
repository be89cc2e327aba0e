package perfbench

import scala.collection.mutable

/** Turns what the tracer saw during each traced pass into spans and the
  * per-layer metrics, one value per pass; the run reports each metric's
  * median over its warm traced passes. */
final class Layers(cores: Int) {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val perPass = mutable.ArrayBuffer.empty[(Int, Map[String, Double])]
  private val probes = mutable.LinkedHashMap.empty[String, Double]

  def span(name: String, layer: String, query: String, pass: Int,
           start: Double, end: Double, parent: Int = -1,
           attrs: Map[String, Double] = Map.empty): Int = {
    val id = spans.size
    spans += Span(id, parent, name, layer, query, pass, start, end, attrs)
    id
  }

  def probe(name: String, value: Double): Unit = probes(name) = value

  /** A job launched by file I/O (schema inference, file and store reads
    * and writes), told by its call site: the engine's sources and store
    * files, or the harness's Ingest steps, which call Spark's reader and
    * writer directly. Adaptive-execution stage jobs run from a pool
    * thread and carry no such call site; they count as operators. */
  private def isSource(callSite: String): Boolean =
    callSite.matches(".* at (Tables|Csv|Jsonl|Sinks|FpStore|ModelStore|Ingest)\\.scala:\\d+")

  /** Milliseconds of [lo, hi] covered by the union of `ivs`. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, reach = 0.0
    var started = false
    clipped.foreach { case (a, b) =>
      if (!started || a > reach) { total += b - a; reach = b; started = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }

  def addPass(pass: Int, marks: Seq[QueryMarks], jobs: Seq[JobStat],
              stages: Map[Int, StageStat], plans: Seq[PlanStat],
              gcS: Double, extra: Map[String, Double]): Unit = {
    def tag(j: JobStat): (String, String) = j.desc.split(":") match {
      case Array("bench", q, phase) => (q, phase)
      case _ => ("", "")
    }
    val construct = jobs.filter(j => tag(j)._2 == "construct")
    val (sourceJobs, eager) = construct.partition(j => isSource(j.callSite))
    val jobStages = jobs.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val iv = (j: JobStat) => (j.start, j.end)
    val dur = (iv: (Double, Double)) => iv._2 - iv._1

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("sources.construct_jobs") = sourceJobs.size
    m("operators.eager_jobs") = eager.size
    m("operators.eager_s") = eager.map(iv).map(dur).sum / 1e3
    m("api.build_s") = marks.map { k =>
      val own = construct.filter(tag(_)._1 == k.query).map(iv)
      k.c1 - k.c0 - covered(own, k.c0, k.c1)
    }.sum / 1e3

    val sinkPlans = marks.flatMap { k =>
      plans.filter(_.plannedWithin(k.c1, k.s1)).lastOption.map(k -> _)
    }.toMap
    m("catalyst.analysis_s") = marks.map { k =>
      (k.analysis.toSeq ++ sinkPlans.get(k).flatMap(_.phases.get("analysis")))
        .map(dur).sum }.sum / 1e3
    for (ph <- Seq("optimization", "planning"))
      m(s"catalyst.${ph}_s") = sinkPlans.values.flatMap(_.phases.get(ph))
        .map(dur).sum / 1e3
    m("catalyst.exchanges") = sinkPlans.values.map(_.exchanges).sum

    val wallMs = covered(jobs.map(iv), Double.MinValue, Double.MaxValue)
    val taskS = jobStages.map(_.runS).sum
    m("exec.wall_s") = wallMs / 1e3
    m("exec.jobs") = jobs.size
    m("exec.stages") = jobStages.size
    m("exec.tasks") = jobStages.map(_.tasks).sum
    m("exec.task_s") = taskS
    m("exec.cpu_s") = jobStages.map(_.cpuS).sum
    m("exec.idle_core_s") = wallMs / 1e3 * cores - taskS
    m("exec.shuffle_write_bytes") = jobStages.map(_.shWrite).sum.toDouble
    m("exec.shuffle_read_bytes") = jobStages.map(_.shRead).sum.toDouble
    m("exec.spill_bytes") = jobStages.map(_.spill).sum.toDouble
    m("exec.gc_s") = gcS
    m("sources.scan_bytes") = jobStages.map(_.inBytes).sum.toDouble
    m("sources.scan_rows") = jobStages.map(_.inRows).sum.toDouble
    val writing = jobStages.filter(_.outBytes > 0)
    m("sources.write_bytes") = writing.map(_.outBytes).sum.toDouble
    m("sources.write_s") = writing.map(_.runS).sum
    m ++= extra
    perPass += pass -> m.toMap

    // spans: query > {construct > {analysis, construct-time jobs},
    // sink > {optimization, planning, jobs > stages}}
    marks.foreach { k =>
      val root = span(k.query, "query", k.query, pass, k.c0, k.s1)
      val cons = span("construct", "api", k.query, pass, k.c0, k.c1, root)
      val sink = span("sink", "exec", k.query, pass, k.c1, k.s1, root)
      k.analysis.foreach { case (s, e) =>
        span("analysis", "catalyst", k.query, pass, s, e, cons) }
      sinkPlans.get(k).foreach(_.phases.foreach { case (ph, (s, e)) =>
        span(ph, "catalyst", k.query, pass, s, e, sink) })
      jobs.filter(tag(_)._1 == k.query).foreach { j =>
        val (layer, parent) =
          if (tag(j)._2 != "construct") ("exec", sink)
          else if (isSource(j.callSite)) ("sources", cons)
          else ("operators", cons)
        val jid = span(s"job ${j.jobId} ${j.callSite}", layer, k.query, pass,
          j.start, j.end, parent)
        j.stageIds.flatMap(stages.get).foreach { st =>
          span(s"stage ${st.stageId}", layer, k.query, pass, st.start, st.end, jid,
            Map("tasks" -> st.tasks.toDouble, "task_s" -> st.runS,
              "shuffle_write_bytes" -> st.shWrite.toDouble,
              "spill_bytes" -> st.spill.toDouble))
        }
      }
    }
  }

  /** Median over warm traced passes (all traced passes if only the cold
    * one was traced), plus the probe values. */
  def toJson: String = {
    import Json._
    val warm = perPass.filter(_._1 > 0).map(_._2)
    val use = if (warm.nonEmpty) warm else perPass.map(_._2)
    val keys = use.headOption.map(_.keys.toSeq).getOrElse(Nil)
    def med(xs: Seq[Double]) = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    obj((keys.map(k => k -> num(med(use.flatMap(_.get(k)).toSeq))) ++
      probes.toSeq.map { case (k, v) => k -> num(v) }): _*)
  }

  def spansJsonl: String = {
    import Json._
    spans.map { s =>
      obj("id" -> num(s.id), "parent" -> num(s.parent), "name" -> str(s.name),
        "layer" -> str(s.layer), "query" -> str(s.query), "pass" -> num(s.pass),
        "start_ms" -> num(s.start), "end_ms" -> num(s.end),
        "attrs" -> obj(s.attrs.toSeq.map { case (k, v) => k -> num(v) }: _*))
    }.mkString("", "\n", "\n")
  }
}
