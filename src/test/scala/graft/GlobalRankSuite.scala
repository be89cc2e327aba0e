package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.GlobalRank

/** Two-pass global rank: value parity with the naive single-partition
  * window (which is the semantics, just not an acceptable plan), tie
  * behavior across range-partition boundaries, empty input, and the plan
  * shape that makes it 100×-safe — range partitioning, never a
  * SinglePartition exchange, per-partition share bounded by the shuffle
  * fan-out instead of a partition-key's cardinality. */
class GlobalRankSuite extends SparkSpec {

  import spark.implicits._

  /** 400 rows over 7 input partitions with heavy ties (values 0..9 repeat
    * 40× each) — every tie group is larger than a naive even split, so any
    * tie straddling a range boundary would corrupt rank/dense_rank. */
  private def tied = spark.range(400)
    .select((col("id") % 10).as("v"), col("id").as("rid"))
    .repartition(7)

  /** Unique values — exercises the rank==dense_rank==row position case. */
  private def uniq = spark.range(1000)
    .select(((col("id") * 379) % 10007).as("v"), col("id").as("rid"))
    .repartition(5)

  private def naive(df: org.apache.spark.sql.DataFrame,
                    order: Seq[String] = Seq("v")) = {
    val w = Window.orderBy(order.map(col): _*)
    df.withColumn("e_rnk", rank().over(w).cast("long"))
      .withColumn("e_drnk", dense_rank().over(w).cast("long"))
      .withColumn("e_prnk", percent_rank().over(w))
      .withColumn("e_cdist", cume_dist().over(w))
  }

  private def checkParity(df: org.apache.spark.sql.DataFrame,
                          order: Seq[String] = Seq("v")): Unit = {
    val got = GlobalRank.withGlobalRanks(df, order.map(col))
    val both = got.join(naive(df, order), "rid").collect()
    assert(both.length == df.count())
    both.foreach { r =>
      assert(r.getAs[Long]("rnk") == r.getAs[Long]("e_rnk"), s"rank: $r")
      assert(r.getAs[Long]("drnk") == r.getAs[Long]("e_drnk"), s"dense: $r")
      // exact ==, not epsilon: both sides are the same division of the
      // same exact integers — the operator's bit-exactness contract
      assert(r.getAs[Double]("prnk") == r.getAs[Double]("e_prnk"), s"pct: $r")
      assert(r.getAs[Double]("cdist") == r.getAs[Double]("e_cdist"), s"cume: $r")
    }
  }

  test("parity with single-partition window on tie-heavy data") {
    checkParity(tied)
  }

  test("parity with single-partition window on unique keys") {
    checkParity(uniq)
  }

  test("single-row and empty inputs") {
    val one = Seq((42L, 0L)).toDF("v", "rid")
    val r = GlobalRank.withGlobalRanks(one, Seq(col("v"))).collect()(0)
    assert(r.getAs[Long]("rnk") == 1L && r.getAs[Long]("drnk") == 1L)
    // SQL defines percent_rank of a 1-row frame as 0.0 (not 0/0)
    assert(r.getAs[Double]("prnk") == 0.0 && r.getAs[Double]("cdist") == 1.0)

    val empty = spark.emptyDataFrame.withColumn("v", lit(0L))
    val (e, pinned) = persistedDuring {
      val e = GlobalRank.withGlobalRanks(empty, Seq(col("v")))
      assert(e.count() == 0L)
      e
    }
    assert(e.columns.toSeq == Seq("v", "rnk", "drnk", "prnk", "cdist"))
    assert(pinned.isEmpty, s"empty input persisted $pinned")
  }

  test("plan: partitioned exchange, no SinglePartition anywhere") {
    // the exchange hashes the deterministic __pid buckets — never
    // SinglePartition
    val plan = GlobalRank.withGlobalRanks(uniq, Seq(col("v")))
      .queryExecution.executedPlan.toString
    val lower = plan.toLowerCase
    assert(lower.contains("hashpartitioning(__pid"), s"plan:\n$plan")
    assert(!plan.contains("SinglePartition"), s"plan:\n$plan")
  }

  test("split-point tier: no snapshot pinned, release reports none, parity exact") {
    val (n, pinned) = persistedDuring(
      GlobalRank.withGlobalRanks(uniq, Seq(col("v"))).count())
    assert(n == 1000L)
    assert(pinned.isEmpty, "split-point tier must not persist anything")
    checkParity(uniq)
  }

  test("date key: split-point tier (days-since-epoch image), no persist, exact") {
    // ingestion date is the most common global-order key in corpus work
    // (VERDICT r17 #3): DateType must ride the split tier — days since
    // epoch is already an exact monotone long image — persisting nothing
    val dated = spark.range(1000)
      .select(date_add(lit("2020-01-01").cast("date"),
        ((col("id") * 379) % 1500).cast("int")).as("v"), col("id").as("rid"))
      .repartition(5)
    val (n, pinned) = persistedDuring(
      GlobalRank.withGlobalRanks(dated, Seq(col("v"))).count())
    assert(n == 1000L)
    assert(pinned.isEmpty, "date split-point tier must not persist anything")
    checkParity(dated)
  }

  test("string key with a corpus-wide common prefix: split tier, no persist, plan-pinned") {
    // the motivating 100 TB workload (VERDICT r15 #3): ranking by URL —
    // every value shares a long common prefix, so a naive first-K-bytes
    // image collapses to one bucket; the tier must strip the corpus-wide
    // common prefix (from one bounded min/max aggregate) and bucket on
    // the bytes after it, persisting nothing
    val urls = spark.range(1000)
      .select(concat(lit("https://www.example.com/page/"),
        format_string("%05d", (col("id") * 379) % 10007)).as("v"),
        col("id").as("rid"))
      .repartition(5)
    val (n, pinned) = persistedDuring(
      GlobalRank.withGlobalRanks(urls, Seq(col("v"))).count())
    assert(n == 1000L)
    assert(pinned.isEmpty, "string split-point tier must not persist anything")
    val plan = GlobalRank.withGlobalRanks(urls, Seq(col("v")))
      .queryExecution.executedPlan.toString
    val lower = plan.toLowerCase
    assert(lower.contains("hashpartitioning(__pid"),
      s"expected deterministic __pid buckets, got:\n$plan")
    assert(!lower.contains("inmemorytablescan"),
      s"string split tier must not read through a cached snapshot:\n$plan")
    checkParity(urls)
  }

  test("single-distinct-value string key falls back to the legacy tier, stays exact") {
    // min == max -> the prefix image is degenerate by construction; the
    // split-point ladder rejects it and the full-tuple bounds fallback
    // must still rank (ties broken by nothing — all rank 1), persisting
    // nothing
    val const = spark.range(100)
      .select(lit("https://only.example.com/").as("v"), col("id").as("rid"))
      .repartition(3)
    val (rows, pinned) = persistedDuring(
      GlobalRank.withGlobalRanks(const, Seq(col("v"))).collect())
    assert(rows.length == 100 && rows.forall(_.getAs[Long]("rnk") == 1L))
    assert(pinned.isEmpty, s"bounds fallback persisted $pinned")
  }

  test("parity holds under AQE with coalescing forced (cross-job alignment)") {
    // The operator's correctness rests on the stats job and the rank job
    // deriving identical range partitions. AQE's partition coalescing is
    // the most plausible way for the two jobs to diverge, so force it:
    // adaptive on, a high initial fan-out that tiny data guarantees AQE
    // will rewrite, and coalescing explicitly enabled. Runtime stats over
    // a deterministic source are deterministic → both jobs must coalesce
    // identically, and ranks must still match the naive window.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "64")
      checkParity(tied)
      checkParity(uniq)
      // struct keys take the full-tuple bounds fallback (numeric,
      // decimal, date, and string keys take the split-point ladder)
      checkParity(tied.select(struct(col("v")).as("v"), col("rid")))
      // the decimal unscaled-long split tier under the same AQE pressure
      checkParity(tied.select(
        col("v").cast("decimal(12,0)").as("v"), col("rid")))
      // and the string binary-prefix tier under the same AQE pressure
      checkParity(tied.select(
        format_string("%05d", col("v")).as("v"), col("rid")))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("parquet-backed tie-heavy source: parity survives job-specific range boundaries") {
    // THE regression case: Spark's range boundaries are sampled with a
    // seed involving the materialization-specific RDD id, so the stats
    // job and the rank job can cut a heavy tie group to different sides
    // (sf0.01 lineitem really did flip l_quantity=26 between two
    // count-by-pid jobs). The persisted snapshot freezes the assignment;
    // without it this test fails with ranks off by whole tie groups.
    val dir = java.nio.file.Files.createTempDirectory("graft_grank").toString
    try {
      spark.range(20000)
        .select(((col("id") * 7919) % 50).cast("double").as("v"), col("id").as("rid"))
        .repartition(9)
        .write.mode("overwrite").parquet(dir)
      checkParity(spark.read.parquet(dir))
      // struct keys (same values, same heavy ties) take the full-tuple
      // bounds fallback, whose one bounds job samples the same unstable
      // range partitioner — but only to pick literal bounds, so the stats
      // and rank jobs still agree (decimal(12,2) rides the unscaled-long
      // split tier; keep it as that tier's tie-heavy parquet parity pin)
      checkParity(spark.read.parquet(dir).select(
        struct(col("v")).as("v"), col("rid")))
      checkParity(spark.read.parquet(dir).select(
        col("v").cast("decimal(12,2)").as("v"), col("rid")))
      // string twin now rides the binary-prefix split tier — parity must
      // hold there too on the same tie-heavy parquet source
      checkParity(spark.read.parquet(dir).select(
        format_string("%09.2f", col("v")).as("v"), col("rid")))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("struct key: withGlobalRanks adds no persisted RDD, stays exact") {
    // struct keys take the full-tuple bounds fallback
    val tiedS = tied.select(struct(col("v")).as("v"), col("rid"))
    val (_, pinned) = persistedDuring {
      checkParity(tiedS)
      assert(GlobalRank.withGlobalRanks(tiedS, Seq(col("v")))
        .filter(col("rnk").isNull).count() == 0L)
    }
    assert(pinned.isEmpty, s"struct key persisted $pinned")
  }

  test("bench-loop shape: N plain invocations + releaseSnapshots leave zero live snapshots") {
    // Bench/Verify run each query, consume the result fully, then call
    // releaseSnapshots(); a global rank leaves nothing for it to free
    val tiedS = tied.select(struct(col("v")).as("v"), col("rid"))
    (1 to 3).foreach { _ =>
      val (n, pinned) = persistedDuring(
        GlobalRank.withGlobalRanks(tiedS, Seq(col("v"))).count())
      assert(n == 400L)
      assert(pinned.isEmpty, s"plain call persisted $pinned")
      graft.operators.GlobalOps.releaseSnapshots()
    }
  }

  test("boolean and single-distinct keys: withGlobalRanks adds no persisted RDD") {
    // both are rejected by the split-point ladder (too coarse); the
    // bounds fallback splits the boolean key's ties on the second key
    val boolKeyed = uniq.select((col("v") % 3 === 0).as("b"), col("v"),
      col("rid"))
    val single = spark.range(100)
      .select(lit(7L).as("v"), col("id").as("rid")).repartition(3)
    val (rows, pinned) = persistedDuring {
      checkParity(boolKeyed, Seq("b", "v"))
      checkParity(single)
      GlobalRank.withGlobalRanks(single, Seq(col("v"))).collect()
    }
    assert(rows.length == 100 && rows.forall(_.getAs[Long]("rnk") == 1L))
    assert(pinned.isEmpty, s"coarse keys persisted $pinned")
  }

  test("misalignment guard is wired: offset lookup raises instead of nulling") {
    // Real misalignment cannot be provoked from a deterministic source
    // (that's the point), so pin the guard's presence in the plan: the
    // rank projection must contain the raise_error branch, not a bare
    // element_at whose null would silently corrupt every rank.
    val analyzed = GlobalRank.withGlobalRanks(uniq, Seq(col("v")))
      .queryExecution.analyzed.toString
    assert(analyzed.contains("raise_error"), s"guard missing:\n$analyzed")
    assert(analyzed.contains("misalignment"), s"guard missing:\n$analyzed")
  }

  test("withGlobalNtile: SQL remainder rule, parity with the naive window") {
    // N=1000, b=7: q=142, r=6 — six buckets of 143, one of 142
    val got = GlobalRank.withGlobalNtile(uniq, 7, Seq(col("v")), "t")
    val w = Window.orderBy(col("v"))
    val exp = uniq.withColumn("e_t", ntile(7).over(w).cast("long"))
    val both = got.join(exp, "rid").collect()
    assert(both.length == 1000)
    both.foreach(r =>
      assert(r.getAs[Long]("t") == r.getAs[Long]("e_t"), s"ntile: $r"))
    val sizes = got.groupBy("t").count().collect()
      .map(r => r.getAs[Long]("t") -> r.getAs[Long]("count")).toMap
    assert(sizes == Map(1L -> 143L, 2L -> 143L, 3L -> 143L, 4L -> 143L,
      5L -> 143L, 6L -> 143L, 7L -> 142L), s"sizes: $sizes")
  }

  test("withGlobalNtile: fewer rows than buckets — one row per bucket") {
    val tiny = spark.range(3).select(col("id").as("v"), col("id").as("rid"))
    val got = GlobalRank.withGlobalNtile(tiny, 7, Seq(col("v")), "t")
      .orderBy("v").collect().map(_.getAs[Long]("t")).toSeq
    assert(got == Seq(1L, 2L, 3L), s"got $got")
  }

  test("withGlobalNtile: non-unique order fails loudly, never diverges silently") {
    val e = intercept[IllegalArgumentException] {
      GlobalRank.withGlobalNtile(tied, 4, Seq(col("v")), "t").collect()
    }
    assert(e.getMessage.contains("not unique"), e.getMessage)
  }

  test("withGlobalNtile: plan has no SinglePartition exchange") {
    val plan = GlobalRank.withGlobalNtile(uniq, 5, Seq(col("v")), "t")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"plan:\n$plan")
  }

  test("per-partition share is bounded by the range fan-out, not by key cardinality") {
    // the pass the operator actually runs: range-partition on the order
    // key. Explicit fan-out — on KB-sized test data AQE (correctly)
    // coalesces the default fan-out to one partition, which would test
    // the coalescer, not the range split
    val sizes = uniq.repartitionByRange(8, col("v"))
      .groupBy(spark_partition_id()).count()
      .collect().map(_.getLong(1))
    assert(sizes.length > 1, s"expected >1 range partitions, got ${sizes.toSeq}")
    val total = sizes.sum.toDouble
    // even split would be total/n; allow 4x sampling skew
    assert(sizes.max <= 4 * total / sizes.length,
      s"skewed range split: ${sizes.toSeq}")
  }
}
