package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Dev tool: synthesize a 10x scale point from sf0.1 for the slope
  * rehearsal (the tri-scale audit tops out at ~600k lineitem rows; the
  * design claims are 100 TB, so PLANS.md wants a fourth point). Driver
  * testdata is read-only — this writes `<outDir>/<table>.parquet` with
  * ten referentially-intact copies of each scaled table:
  *
  *  - every synthetic key (order/cust/part/supp/event/user/doc/vec)
  *    shifts by `copy * Stride`, so joins stay referentially exact and
  *    key spaces never collide across copies;
  *  - dimension tables (region, nation) are fixed points of scale, as
  *    in TPC-H;
  *  - document text for copies >= 1 gets a per-copy LETTER SUBSTITUTION
  *    (one letter in each 4-letter block of every letter-run becomes
  *    the copy's tag character), which makes copies of one doc mutually
  *    DISSIMILAR
  *    under word-shingle Jaccard while every pair of docs WITHIN a copy
  *    keeps its original exact/near-dup relationship (both sides
  *    transform identically). So each original dup/near-dup pair
  *    replicates once per copy — dup-pair space grows LINEARLY with
  *    corpus size, the realistic "crawl got bigger" shape. The original
  *    " rep$k" SUFFIX scheme violated exactly this when CHAINED
  *    (sf0.1 -> sf1 -> sf10): suffixed variants of one base doc stayed
  *    pairwise near-identical, so group size MULTIPLIED per decade
  *    (10 -> 100) and the pairwise truth space of the recall-eval
  *    family went quadratic — at sf10 the exact-Jaccard truth join
  *    spilled >70 GB and died, measuring the image's redundancy shape,
  *    not the engine. Substitution keeps `length(text)` (and therefore
  *    the stored `n_chars` fixture invariant) unchanged. Chained
  *    levels stay distinct because each level substitutes a DIFFERENT
  *    in-block offset (stridePow % 4) — tag letters themselves can
  *    repeat across levels (the (stridePow*9 + k) % 26 walk collides
  *    three decades apart), so the offset, not the letter, is the
  *    load-bearing distinction (copy (0,k) of level 2 is never
  *    identical to copy (k,0) of level 1);
  *  - timestamps and value distributions are untouched (10x rows per
  *    window/group, the density growth a bigger corpus actually has).
  *
  * Usage: `sbt "runMain graft.ScaleUp /root/testdata/sf0.1 target/sf1"`.
  * Determinism: pure column arithmetic over deterministic input — no
  * RNG, no sampling — so reruns are bit-identical. */
object ScaleUp {

  private val Copies = 10

  /** Smallest power of ten strictly greater than every source key —
    * the copy shift. Computed from the input, never hard-coded: the
    * original `1e7 > any sf0.1 key` constant silently broke CHAINED
    * scaling (sf1 keys already reach base + 9e7, so a second 1e7-stride
    * pass collapsed distinct copies onto the same key — caught by
    * withGlobalNtile's order-uniqueness guard at sf10). */
  private[graft] def strideFor(maxKey: Long): Long = {
    require(maxKey >= 0, s"ScaleUp: negative max key $maxKey")
    math.pow(10, math.ceil(math.log10((maxKey + 1).toDouble))).toLong
  }

  /** The per-copy text perturbation: in each aligned 4-letter block of
    * every letter-run, the letter at offset `stridePow % 4` becomes the
    * copy's tag character. Length-preserving (the `n_chars ==
    * length(text)` fixture invariant holds untouched); identical inputs
    * map to identical outputs (within-copy dup relationships survive);
    * different copies get different tags (cross-copy near-identity —
    * the quadratic dup-space failure — cannot form); and chained scale
    * levels write DIFFERENT block offsets, so a later level never
    * erases an earlier level's tags (distinct for up to 4 chained
    * decades). Copy 0 is the identity — the base image embeds
    * unchanged. */
  private[graft] def perturbText(c: org.apache.spark.sql.Column,
                                 stridePow: Int, k: Int)
      : org.apache.spark.sql.Column =
    if (k == 0) c
    else {
      val tagOffset = stridePow % 4
      val tag = ('a' + (stridePow * 9 + k) % 26).toChar
      val pat =
        s"([A-Za-z]{$tagOffset})[A-Za-z]([A-Za-z]{${3 - tagOffset}})"
      regexp_replace(c, pat, "$1" + tag + "$2")
    }

  /** Union of `Copies` key-shifted images of `df`: `keys` columns get
    * `+ copy*stride`; `textCol` (if set) gets [[perturbText]]. */
  private[graft] def scaledCopies(df: DataFrame, keys: Seq[String],
                                  stride: Long, stridePow: Int,
                                  textCol: Option[String]): DataFrame =
    (0 until Copies).map { k =>
      val shifted = keys.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(k * stride)) }
      textCol match {
        case Some(tc) =>
          shifted.withColumn(tc, perturbText(col(tc), stridePow, k))
        case None => shifted
      }
    }.reduce(_ unionAll _)

  /** Key columns shifted per copy, per scaled table. Dimension tables
    * (region, nation) are fixed points of scale, as in TPC-H. */
  private val ScaledKeys: Seq[(String, Seq[String])] = Seq(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: ScaleUp <srcSfDir> <outDir>")
    val (src, out) = (args(0), args(1))
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = Tables.df(spark, src, t)

    // Stride from the data ([[strideFor]]); per-copy tag letters and
    // the in-block substitution offset rotate with the stride magnitude
    // so chained applications (different stride decades) never pick the
    // same tag for the same copy index and never overwrite an earlier
    // level's tag position (see [[perturbText]]).
    val maxKey = ScaledKeys.map { case (t, ks) =>
      val row = read(t).select(ks.map(c => max(col(c).cast("long")))
        .reduce((a, b) => greatest(a, b))).head()
      // max over an empty table is NULL — name the table instead of
      // NPE-ing on getLong
      require(!row.isNullAt(0),
        s"ScaleUp: source table '$t' is empty (or its keys are all " +
          s"null) — cannot derive a stride from ${ks.mkString(", ")}")
      row.getLong(0)
    }.max
    val stride = strideFor(maxKey)
    println(s"[scaleup] max source key $maxKey -> stride $stride")
    val stridePow = math.round(math.log10(stride.toDouble)).toInt

    // Dup-space contract guard: a non-empty doc with no 4-letter run is
    // IMMUNE to perturbText (the regexp never matches), so its 10 copies
    // embed byte-identical — and chained decades would multiply that
    // exact-dup group 10x per level, the precise quadratic-truth-space
    // failure the substitution scheme exists to prevent. Today's
    // fixtures have zero such docs; if a fixture refresh introduces one,
    // fail loudly instead of silently corrupting the scale image.
    val immune = read("documents")
      .filter(length(col("text")) > 0 && !col("text").rlike("[A-Za-z]{4}"))
      .count()
    require(immune == 0,
      s"ScaleUp: $immune document(s) have no 4-letter run — perturbText " +
        "cannot distinguish their copies, so the scale image would " +
        "multiply exact-dup groups per decade; extend the perturbation " +
        "scheme (or fix the fixture) first")

    val keysOf = ScaledKeys.toMap
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation")) ++ ScaledKeys.map { case (t, _) =>
      t -> scaledCopies(read(t), keysOf(t), stride, stridePow,
        textCol = if (t == "documents") Some("text") else None)
    }

    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${Tables.df(spark, out, name).count()} rows")
    }
    spark.stop()
  }
}
