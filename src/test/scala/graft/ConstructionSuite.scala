package graft

import graft.operators.GlobalOps

/** Building a verb or join ledger query — the `fn(spark, dir)` call,
  * without its sink — launches no Spark job: every source resolves its
  * schema on the driver and every verb is lazy. A new source or verb
  * that adds a construction-time job fails here by name. */
class ConstructionSuite extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  /** Queries whose construction does documented eager work, and why. */
  private val eager: Map[String, String] = Map(
    // writes the CSV it reads back, then Csv.readCsv reads the header and
    // runs the reference type vote over the column values
    "q_csv_roundtrip" -> "CSV write, header read and type vote"
  )

  test("building each QueriesVerbs/QueriesJoins query launches no Spark job") {
    val qs = QueriesVerbs.queries ++ QueriesJoins.queries
    assert(eager.keySet.subsetOf(qs.keySet), "allowlist names an unknown query")
    val jobs = qs.toSeq.sortBy(_._1).map { case (name, fn) =>
      val (_, sites) = jobsDuring(fn(spark, sf))
      GlobalOps.releaseSnapshots()
      name -> sites
    }
    val offenders = jobs.filter { case (n, s) => s.nonEmpty && !eager.contains(n) }
    assert(offenders.isEmpty, "construction launched jobs: " +
      offenders.map { case (n, s) => s"$n -> ${s.mkString(", ")}" }.mkString("; "))
    // a stale allowlist entry fails too: the eager work must still exist
    val stale = eager.keys.filter(n => jobs.toMap.apply(n).isEmpty)
    assert(stale.isEmpty, s"allowlisted but launched no job: ${stale.mkString(", ")}")
  }
}
