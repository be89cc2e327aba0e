package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Whole-table (global) rank family WITHOUT the single-partition window a
  * naive `rank() OVER (ORDER BY …)` plans — the classic two-pass pattern:
  * range-partition on the order keys, rank locally per partition, then add
  * broadcast per-partition offsets. Beyond-reference extension (the
  * reference ranks by sorting the whole frame in one process,
  * `dataframe.nim:2298-2341`-adjacent; a distributed engine must not).
  *
  * Pass 1 aggregates per-range-partition row/distinct-key counts (one
  * tiny row per partition, collected to the driver and prefix-summed —
  * bounded by the shuffle-partition count, never by data). Pass 2 ranks
  * inside each range partition with an ordinary parallel window and adds
  * the offsets as a scan-local map lookup. Equal keys land in the same
  * range partition by construction, so ties never straddle partitions and
  *   global rank       = partition row offset + local rank
  *   global dense_rank = partition key offset + local dense_rank
  *   percent_rank      = (rank − 1) / (N − 1)
  *   cume_dist         = (rank + tie_size − 1) / N
  * — every derivation a single division of exact integers, so the doubles
  * are bit-identical cross-engine (oracle-proven by `q_global_rank`).
  *
  * Scale shape: max task size is ~N / shuffle-partitions rows (plus tie
  * skew), asserted in GlobalRankSuite — parallelism grows with the
  * cluster instead of being capped at 1 (or at the cardinality of some
  * low-card partition key). The order keys are exchanged twice (the
  * stats pass and the rank pass are separate jobs); both exchanges are
  * full-width, and at 100 TB the alternative — one partition sorting
  * everything — is not an alternative.
  *
  * Cross-job alignment: pass 1's offsets are only valid if pass 2 lands
  * every row in the same range partition. Spark's own range boundaries
  * are reservoir-sampled per materialization, so two jobs planning the
  * same `repartitionByRange` can cut a tie group differently
  * (empirically: two count-by-pid jobs over sf0.01 lineitem disagreed
  * on which side of a cut the l_quantity=26 group fell). The operator
  * therefore never lets Spark pick boundaries per job: [[RangeBuckets]]
  * captures literal boundaries once and stamps the partition id as a
  * pure projection, so both passes derive the identical partition for
  * every row and nothing is persisted. Defense-in-depth: a pid in pass
  * 2 with no pass-1 stats row — never a legitimate state — FAILS
  * LOUDLY via `raise_error` instead of silently nulling ranks. AQE with
  * forced coalescing and a parquet-backed source (the case that exposed
  * the boundary instability) are pinned in GlobalRankSuite.
  *
  * Order-key nulls: keys are ranked with Spark's default ASC NULLS
  * FIRST; DuckDB (and the SQL standard default for ASC) is NULLS LAST,
  * so the oracle family's bit-exactness claim holds for NON-NULL order
  * keys only — that is part of this operator's contract. Callers with
  * nullable keys should `coalesce` them to a sentinel (or filter) first;
  * the rank arithmetic itself stays correct either way, only the
  * cross-engine tie order of the null group differs. */
object GlobalRank {

  /** Append global `rnk`/`drnk`/`prnk`/`cdist` over `order`. Tie-stable:
    * a non-unique order still yields deterministic values (ntile is
    * excluded here for exactly that reason — see DataTable.withNtile).
    * Persists nothing: the returned plan can be executed any number of
    * times, from any thread. */
  def withGlobalRanks(df: DataFrame, order: Seq[Column],
                      rankName: String = "rnk", denseName: String = "drnk",
                      pctName: String = "prnk", cumeName: String = "cdist"): DataFrame =
    build(df, order, rankName, denseName, pctName, cumeName)._1

  /** Global `NTILE(buckets)` over a UNIQUE total order, two-pass — the
    * whole-table quantile bucketing a naive
    * `ntile(b) OVER (ORDER BY …)` funnels through one SinglePartition
    * window. Pass 1's per-partition counts give the global row number
    * (rank ≡ row_number under a unique order — non-uniqueness FAILS
    * LOUDLY, checked from the same stats rows) AND the total N, so the
    * bucket is a scan-local integer formula replicating the SQL-standard
    * remainder rule: with q = N div b, r = N mod b, the first r buckets
    * take q+1 rows. All `IntegralDivide` arithmetic — exact past 2^53,
    * bit-replayable by a DuckDB `NTILE(b)` over the same order.
    *
    * Order-key nulls follow the family contract (NULLS FIRST — oracle
    * parity for non-null keys only). */
  def withGlobalNtile(df: DataFrame, buckets: Int, uniqueOrder: Seq[Column],
                      name: String = "bucket"): DataFrame = {
    require(buckets >= 1, s"withGlobalNtile: buckets=$buckets must be >= 1")
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    import org.apache.spark.sql.graftshim.Shim
    val rn = "__nt_rn"
    val helpers = Seq("__nt_d", "__nt_p", "__nt_c")
    val (ranked, total) = build(df, uniqueOrder, rn, helpers(0),
      helpers(1), helpers(2), requireUnique = true)
    val q = total / buckets
    val r = total % buckets
    def idiv(a: Column, d: Long): Column = Shim.toColumn(new IntegralDivide(
      Shim.toExpression(a), Shim.toExpression(lit(d))))
    val rn0 = col(rn) - lit(1L)
    // q == 0 (fewer rows than buckets): r = N, so the first branch
    // covers every row; the guarded max keeps the dead branch's divisor
    // non-zero
    val bucket =
      when(rn0 < lit(r * (q + 1)), idiv(rn0, q + 1) + lit(1L))
        .otherwise(lit(r) + idiv(rn0 - lit(r * (q + 1)), math.max(q, 1L)) +
          lit(1L))
    ranked.withColumn(name, bucket.cast("long"))
      .drop(rn +: helpers: _*)
  }

  /** Core: returns (ranked plan, total row count). */
  private def build(df: DataFrame, order: Seq[Column],
                    rankName: String, denseName: String,
                    pctName: String, cumeName: String,
                    requireUnique: Boolean = false): (DataFrame, Long) = {
    require(order.nonEmpty, "withGlobalRanks: need at least one order column")
    val okNames = order.indices.map(i => s"__ok$i")
    val keyed = order.zip(okNames).foldLeft(df) { case (d, (c, n)) => d.withColumn(n, c) }
    val okCols = okNames.map(col)
    // bucket count = the shuffle fan-out; buckets are a projection of
    // the row, so AQE coalescing the pass exchanges (which it decides
    // per job) cannot move a row to another bucket
    val numParts = df.sparkSession.sessionState.conf.numShufflePartitions
    // literal range buckets (see RangeBuckets): __pid is a pure
    // projection, so both passes align by construction and equal keys
    // never straddle a bucket boundary (the tie invariant the rank
    // arithmetic builds on)
    val firstType = df.select(order.head).schema.head.dataType
    val parted = RangeBuckets.bucket(
      keyed, firstType, okNames.head, okCols, numParts)

    // pass 1: per-partition row + distinct-key counts (one row/partition)
    val stats = parted.groupBy("__pid").agg(
      count(lit(1)).as("__rows"),
      count_distinct(struct(okCols: _*)).as("__keys"))
      .collect().map(r => (r.getAs[Int]("__pid"),
        r.getAs[Long]("__rows"), r.getAs[Long]("__keys")))
      .sortBy(_._1)
    val total = stats.map(_._2).sum
    // ntile contract: with a NON-unique order, equal keys share a rank
    // and the bucket arithmetic silently diverges from SQL NTILE (which
    // splits ties by position) — pass 1 already counted rows AND
    // distinct keys, so enforce for free instead of diverging
    if (requireUnique) {
      val keys = stats.map(_._3).sum
      require(keys == total,
        s"withGlobalNtile: order is not unique ($total rows, $keys " +
          "distinct keys) — NTILE over a non-unique order is " +
          "position-dependent; add a tiebreaker key")
    }
    // empty input: no stats rows → typedLit of an empty map has no value
    // type to infer; short-circuit with the same (empty) schema
    if (total == 0L) {
      return (df
        .withColumn(rankName, lit(null).cast("long"))
        .withColumn(denseName, lit(null).cast("long"))
        .withColumn(pctName, lit(null).cast("double"))
        .withColumn(cumeName, lit(null).cast("double"))
        .filter(lit(false)), 0L)
    }
    val rowOff = stats.map(_._1).zip(stats.scanLeft(0L)(_ + _._2).init).toMap
    val keyOff = stats.map(_._1).zip(stats.scanLeft(0L)(_ + _._3).init).toMap

    // pass 2: ordinary parallel windows inside each range partition.
    // A pid with no pass-1 stats row means the two jobs disagreed on
    // range-partition assignment — corrupt ranks; fail loudly instead.
    def offset(m: Map[Int, Long]): Column = {
      val raw = element_at(typedLit(m), col("__pid"))
      when(raw.isNull, raise_error(concat(
        lit("GlobalRank: range-partition misalignment between stats and rank passes, pid="),
        col("__pid").cast("string")))).otherwise(raw)
    }
    val w = Window.partitionBy("__pid").orderBy(okCols: _*)
    val rnk = offset(rowOff) + rank().over(w)
    val drnk = offset(keyOff) + dense_rank().over(w)
    // SQL defines percent_rank of a 1-row table as 0.0 — avoid 0/0
    val prnk =
      if (total > 1L)
        (col(rankName) - lit(1L)).cast("double") / lit((total - 1L).toDouble)
      else lit(0.0)
    // cume_dist numerator = rows ≤ current in the order, PEERS INCLUDED —
    // exactly count(*) over the default RANGE UNBOUNDED PRECEDING ..
    // CURRENT ROW frame of the SAME (partition, order) spec the ranks
    // use: locally that count is rank + tie_size − 1, so the global
    // numerator is rowOffset + localCount — the identical exact-integer
    // sum the previous (rank + tie − 1) form produced. Sharing w keeps
    // every window expression in ONE Window operator; the old tie count
    // partitioned by (__pid, okCols…), a DIFFERENT distribution that
    // forced a second full-width Exchange + Sort into pass 2
    // (guide §2.4: operations keyed the same way share one exchange).
    val cume = (offset(rowOff) + count(lit(1)).over(w)).cast("double") /
      lit(total.toDouble)
    (parted
      .withColumn(rankName, rnk)
      .withColumn(denseName, drnk)
      .withColumn(pctName, prnk)
      .withColumn(cumeName, cume)
      .drop(okNames :+ "__pid": _*), total)
  }
}
