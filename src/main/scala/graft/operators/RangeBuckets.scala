package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic range bucketing for the two-pass global operators
  * ([[GlobalRank]], [[GlobalShift]], [[GlobalCumSum]]): stamps every
  * row with a bucket id `__pid` that is a PURE PROJECTION of the row
  * against literal boundaries captured once on the driver.
  *
  * The problem it solves: Spark's `repartitionByRange` samples its
  * boundaries PER MATERIALIZATION, so two jobs planning the same range
  * exchange can disagree on which side of a cut a tie group falls, and
  * pass 1's per-bucket facts would then not describe pass 2's buckets.
  * Literal boundaries make every job derive the identical bucket for
  * every row by construction — nothing persists, nothing can misalign.
  * The boundary values themselves need not be exact or reproducible
  * (they are captured once as literals; balance is the only thing at
  * stake).
  *
  * Contiguity and ties: bucket b holds exactly the rows with
  * bound(b-1) <= key < bound(b), so buckets are contiguous in the
  * global order and EQUAL KEYS NEVER STRADDLE a bucket boundary — the
  * invariant both global rank (tie groups stay together) and global
  * shift (boundary hand-off) build on.
  *
  * Two ways to get the boundaries:
  *   - [[tryBucket]], the split-point ladder: when the first order key
  *     has a monotone long/double image (integral, timestamp, date,
  *     float, decimal, string prefix), one approxQuantile job over a
  *     scan pruned to that key gives ~numParts split points. Heavy
  *     first-key ties only degrade balance.
  *   - [[tupleBounds]], the fallback for every other case (boolean or
  *     struct keys, and keys too coarse to fill ~numParts buckets): the
  *     minimum full order tuple of each range partition, compared as a
  *     struct literal, so the remaining order keys can split first-key
  *     ties. */
private[operators] object RangeBuckets {

  /** `keyed` stamped with `__pid` (int, 0-based in bucket order): the
    * split-point ladder when it accepts, else literal full-tuple
    * bounds. `okCols` are the order-key columns already on `keyed`;
    * `firstOkName` names the first of them. */
  def bucket(keyed: DataFrame,
             firstOrderType: org.apache.spark.sql.types.DataType,
             firstOkName: String, okCols: Seq[Column],
             numParts: Int): DataFrame =
    tryBucket(keyed, firstOrderType, firstOkName, numParts)
      .getOrElse(tupleBounds(keyed, okCols, numParts))

  /** Literal full-tuple bounds in one job: the minimum `struct(okCols)`
    * of each partition of a range repartition on the order tuple (at
    * most numParts rows to the driver), in partition order, deduped,
    * smallest dropped (every row is >= it). `__pid` counts the bounds a
    * row's tuple reaches. Struct comparison uses the window sort's own
    * ordering — ascending, nulls first, NaN last, -0.0 = 0.0 — so a
    * bucket is a contiguous run of the sort and equal tuples share it.
    * The partitioner only shapes balance: any bound set yields
    * contiguous buckets. No bounds (empty or single-partition input)
    * stamps 0 everywhere. */
  private def tupleBounds(keyed: DataFrame, okCols: Seq[Column],
                          numParts: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftshim.Shim
    val tuple = struct(okCols: _*)
    val tupleType = keyed.select(tuple).schema.head.dataType
    val bounds = keyed.select(okCols: _*)
      .repartitionByRange(numParts, okCols: _*)
      .groupBy(spark_partition_id().as("__p"))
      .agg(min(tuple).as("__m"))
      .collect().sortBy(_.getInt(0)).map(_.get(1)).distinct.drop(1)
    val pid = bounds.map { b =>
      when(tuple >= Shim.toColumn(Literal.create(b, tupleType)), 1)
        .otherwise(0)
    }.foldLeft(lit(0))(_ + _)
    keyed.withColumn("__pid", pid)
  }

  /** The split-point ladder: `keyed` stamped with `__pid` derived from
    * literal split points of the first order key, or None when the key
    * type has no long/double image or is too coarse for ~numParts
    * buckets. */
  private def tryBucket(keyed: DataFrame,
                firstOrderType: org.apache.spark.sql.types.DataType,
                firstOkName: String, numParts: Int): Option[DataFrame] = {
    import org.apache.spark.sql.types._
    val bk: Option[(Column, Boolean)] = firstOrderType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((col(firstOkName).cast("long"), true))
      case TimestampType => // epoch seconds: truncation is monotone, and
        Some((col(firstOkName).cast("long"), true)) // ties → one bucket
      case DateType => // days since epoch — already an exact long image
        Some((unix_date(col(firstOkName)).cast("long"), true))
      case FloatType | DoubleType =>
        Some((col(firstOkName).cast("double"), false))
      case dt: DecimalType if dt.precision <= 18 && dt.scale >= 0 =>
        // exact unscaled-long image: v·10^s is integer-valued and fits
        // a long for decimal(p ≤ 18, s) — injective, so the tier loses
        // nothing
        Some(((col(firstOkName) *
          lit(scala.math.BigDecimal(10).pow(dt.scale))).cast("long"), true))
      case _: DecimalType =>
        // p > 18 or legacy negative scale: the double image — rounding
        // to nearest double is weakly monotone, so distinct keys can
        // only COLLAPSE into one bucket (balance, never correctness)
        Some((col(firstOkName).cast("double"), false))
      case StringType =>
        stringPrefixKey(keyed, firstOkName)
      // Everything else — boolean (≤2 distinct values can never fill
      // ~numParts buckets), struct/array keys, and degenerate inputs
      // (all-null or single-distinct keys, rejected below/in the string
      // probe) — takes [[tupleBounds]], which splits ties on the FULL
      // order tuple.
      case _ => None
    }
    bk.flatMap { case (bkCol, integral) =>
      val probs = (1 until numParts).map(_.toDouble / numParts).toArray
      val q = keyed.select(bkCol.cast("double").as("__bk"))
        .stat.approxQuantile("__bk", probs, 0.001).toSeq
      val splits = (if (integral) q.map(Math.floor) else q).distinct.sorted
      if (splits.size < math.max(1, numParts / 2)) None
      else {
        warnIfBucketsLikelySpill(keyed, splits.size + 1)
        val pid = splits.map { s =>
          val boundary = if (integral) lit(Math.floor(s).toLong) else lit(s)
          when(bkCol >= boundary, 1).otherwise(0)
        }.reduce(_ + _)
        Some(keyed.withColumn("__pid", pid))
      }
    }
  }

  /** The sizing rule the sf10 rehearsal measured (PLANS r19 triage): each
    * range bucket is sorted by ONE task, so the sort stays in memory only
    * while `bucketBytes ~ inputBytes / numBuckets` fits the per-task
    * execution-memory share, `executorHeap x spark.memory.fraction x
    * (1 - spark.memory.storageFraction) / coresPerExecutor`. Past that
    * boundary the sort still completes correctly but spills, and wall
    * time inflates by pure spill I/O (the q_global_lag 18.5x-vs-8.5x
    * slope gap at sf10/8g). On a real cluster the share grows with the
    * executor count, so crossing it is a deployment-sizing fact, not a
    * plan defect — surface it as a log warning a deployer can act on. */
  private def warnIfBucketsLikelySpill(keyed: DataFrame, buckets: Int): Unit =
    try {
      val spark = keyed.sparkSession
      val inBytes = keyed.queryExecution.optimizedPlan.stats.sizeInBytes
      // catalyst's "unknown" default is Long.MaxValue-scale — skip those
      if (inBytes > 0 && inBytes < BigInt(Long.MaxValue) / 4) {
        val heap = spark.conf.getOption("spark.executor.memory")
          .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
          .getOrElse(Runtime.getRuntime.maxMemory)
        // the share divides ONE executor's heap by that executor's task
        // slots: spark.executor.cores on a cluster; local mode has a
        // single "executor" whose slot count IS defaultParallelism
        val cores = spark.conf.getOption("spark.executor.cores")
          .map(_.toInt)
          .getOrElse(math.max(1, spark.sparkContext.defaultParallelism))
        val frac = spark.conf.getOption("spark.memory.fraction")
          .map(_.toDouble).getOrElse(0.6)
        val storage = spark.conf.getOption("spark.memory.storageFraction")
          .map(_.toDouble).getOrElse(0.5)
        val share = (heap * frac * (1 - storage) / cores).toLong
        val perBucket = (inBytes / math.max(1, buckets)).toLong
        if (perBucket > share)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"global-sort range buckets likely to spill: ~${perBucket >> 20} " +
              s"MiB/bucket vs ~${share >> 20} MiB per-task execution share " +
              s"(${cores}-way, ${heap >> 20} MiB executor heap). Correct but " +
              "slower by spill I/O; grow executor memory or parallelism.")
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Bytes of string key used for split points, AFTER the corpus-wide
    * common prefix: 6 bytes = 48 bits keeps every derived long exactly
    * representable as a double, so approxQuantile (which works in
    * doubles) cannot perturb the ordering of candidate boundaries. */
  private val PrefixBytes = 6

  /** Monotone long image of a STRING first key — the binary-prefix tier
    * for the common crawl-scale case of text order keys: URL, domain,
    * doc id.
    *
    * Under the default binary collation Spark compares strings bytewise
    * unsigned on UTF-8, so "first K bytes as a big-endian integer" is a
    * monotone (ties-collapsing) map — exactly what the split-point
    * invariant needs: contiguous buckets, equal keys never straddling a
    * boundary (keys sharing the K-byte image collapse into one bucket —
    * balance, not correctness, is at stake). A naive first-K-bytes dies
    * on exactly the motivating workload, though: every URL starts
    * "https://", so K=6 would collapse the whole corpus into one image.
    * One bounded min/max aggregate (2 values to the driver, pruned scan,
    * map-side partials) finds the corpus-wide common prefix — for a
    * bytewise order every value between min and max shares their common
    * prefix, so ordering within the corpus is decided from byte L+1 on,
    * and the image takes [[PrefixBytes]] bytes from there. min = max
    * (single distinct key) is rejected as too coarse; all-null keys
    * likewise ([[tupleBounds]] handles both).
    *
    * The image is computed per row as a pure projection:
    * `conv(rpad(hex(substring(utf8, L+1, 6)), 12, '0'), 16, 10)` —
    * shorter/absent suffixes zero-pad, preserving bytewise order since
    * suffix bytes are unsigned. Costs one extra bounded job vs the
    * numeric tier (min/max before the quantile probe). */
  private def stringPrefixKey(keyed: DataFrame,
                              name: String): Option[(Column, Boolean)] = {
    val mm = keyed.agg(min(col(name)).as("lo"), max(col(name)).as("hi")).head()
    if (mm.isNullAt(0) || mm.isNullAt(1)) None
    else {
      val lo = mm.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val hi = mm.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var l = 0
      while (l < lo.length && l < hi.length && lo(l) == hi(l)) l += 1
      if (l == lo.length && l == hi.length) None // single distinct key
      else {
        val img = conv(
          rpad(hex(substring(encode(col(name), "UTF-8"), l + 1, PrefixBytes)),
            PrefixBytes * 2, "0"),
          16, 10).cast("long")
        Some((img, true))
      }
    }
  }
}
