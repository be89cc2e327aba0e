package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.FpStore
import graft.sources.Tables

/** `Tables.parquet` resolves a parquet source's schema on the driver
  * from one footer. Pins: the schema is exactly `spark.read.parquet`'s
  * (all testdata tables, re-split tables, multi-path reads, both
  * `nanosAsLong` settings), every layout Spark infers differently falls
  * back to Spark's own answer or error, and building a frame through
  * `Tables.df` or `FpStore.read` launches no Spark job. */
class TablesSuite extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  private def withTmp[T](f: Path => T): T = {
    val d = Files.createTempDirectory("graft_tables_")
    try f(d) finally FpStore.deleteRecursively(d)
  }

  private def withConf[T](k: String, v: String)(f: => T): T = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** Same schema, or the same error, as spark.read.parquet. */
  private def sameOutcome(paths: String*): Either[String, StructType] = {
    def run(f: => DataFrame) = Try(f.schema).toEither.left.map(e =>
      s"${e.getClass.getName}: ${e.getMessage}")
    val want = run(spark.read.parquet(paths: _*))
    assert(run(Tables.parquet(spark, paths: _*)) == want)
    want
  }

  private def same(paths: String*): StructType =
    sameOutcome(paths: _*).fold(e => fail(e), identity)

  private def sameError(paths: String*): String =
    sameOutcome(paths: _*).swap.getOrElse(fail(s"reading $paths succeeded"))

  private def write(df: DataFrame, p: Path): String = {
    df.write.mode("overwrite").parquet(p.toString)
    p.toString
  }

  test("schema equals spark.read.parquet for every testdata table") {
    Tables.All.foreach(t => same(s"$sf/$t.parquet"))
  }

  /** A two-column file with `ts` stored as INT64 TIMESTAMP(NANOS)
    * — the older testdata vintage of `events.ts` (the current tables store
    * timestamp[us], which both settings read alike). */
  private def writeNanos(p: Path): String = {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "optional int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new HPath(p.resolve("part-0.parquet").toString))
      .withType(schema).build()
    try (0 until 3).foreach { i =>
      w.write(new SimpleGroupFactory(schema).newGroup()
        .append("event_id", i.toLong).append("ts", 1700000000000000000L + i))
    } finally w.close()
    p.toString
  }

  test("parity under both nanosAsLong settings; a TIMESTAMP(NANOS) column tells them apart") {
    withTmp { d =>
      val ns = writeNanos(Files.createDirectory(d.resolve("ns")))
      val ts = Seq("true", "false").map { v =>
        withConf("spark.sql.legacy.parquet.nanosAsLong", v) {
          Tables.All.foreach(t => same(s"$sf/$t.parquet"))
          sameOutcome(ns).map(_("ts").dataType)
        }
      }
      assert(ts.head == Right(LongType), s"nanosAsLong=true read ts as ${ts.head}")
      assert(ts.distinct.size == 2, s"ts read alike under both settings: $ts")
    }
  }

  test("parity for a table re-split into several part files") {
    withTmp { d =>
      val p = write(Tables.df(spark, sf, "lineitem").repartition(3), d.resolve("li"))
      val parts = Files.list(d.resolve("li")).iterator().asScala
        .count(_.getFileName.toString.startsWith("part-"))
      assert(parts == 3)
      same(p)
    }
  }

  test("multi-path read picks the first data file by path string, as Spark does") {
    withTmp { d =>
      // the first path holds the narrower schema, the second sorts first:
      // non-merge inference reads the second's footer
      val b = write(spark.range(5).toDF("x"), d.resolve("b"))
      val a = write(spark.range(5).select(col("id").as("x"),
        col("id").cast("string").as("y")), d.resolve("a"))
      assert(same(b, a).fieldNames.toSeq == Seq("x", "y"))
    }
  }

  test("parity for an FpStore delta list, and FpStore.read goes through the helper") {
    withTmp { d =>
      val store = d.resolve("store").toString
      FpStore.create(spark, store, spark.range(10).select(md5(col("id").cast("string")).as("fp")))
      FpStore.append(spark, store, spark.range(10, 20).select(md5(col("id").cast("string")).as("fp")))
      val deltas = Files.list(d.resolve("store")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("delta-")).map(_.toString).toSeq.sorted
      assert(deltas.size == 2)
      same(deltas: _*)
      assert(FpStore.read(spark, store).schema == spark.read.parquet(deltas: _*).schema)
      assert(FpStore.read(spark, store).count() == 20)
    }
  }

  test("fallback: a k=v partitioned directory keeps Spark's partition column") {
    withTmp { d =>
      val p = d.resolve("pt").toString
      spark.range(6).select(col("id"), (col("id") % 2).as("k"))
        .write.partitionBy("k").parquet(p)
      assert(same(p).fieldNames.toSeq == Seq("id", "k"))
    }
  }

  test("fallback: a _metadata summary file is what Spark's inference reads") {
    withTmp { d =>
      val data = write(spark.range(3).toDF("x"), d.resolve("t"))
      val wide = write(spark.range(3).select(col("id").as("x"),
        lit("s").as("z")), d.resolve("wide"))
      val wideFile = Files.list(d.resolve("wide")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(wideFile, d.resolve("t").resolve("_metadata"),
        StandardCopyOption.REPLACE_EXISTING)
      // Spark takes the summary's schema over the data file's; so must we
      assert(same(data).fieldNames.toSeq == Seq("x", "z"))
      assert(spark.read.parquet(wide).count() == 3)
    }
  }

  test("fallback: an empty directory fails exactly as Spark does") {
    withTmp { d =>
      Files.createDirectory(d.resolve("empty"))
      assert(sameError(d.resolve("empty").toString)
        .contains("AnalysisException: [UNABLE_TO_INFER_SCHEMA]"))
    }
  }

  test("fallback: mergeSchema=true gets Spark's merged schema") {
    withTmp { d =>
      val a = write(spark.range(3).toDF("x"), d.resolve("a"))
      val b = write(spark.range(3).select(col("id").as("x"),
        lit(1.0).as("w")), d.resolve("b"))
      withConf("spark.sql.parquet.mergeSchema", "true") {
        assert(same(a, b).fieldNames.toSeq == Seq("x", "w"))
      }
    }
  }

  test("fallback: a missing path raises Spark's PATH_NOT_FOUND") {
    withTmp { d =>
      assert(sameError(d.resolve("nope").toString)
        .contains("AnalysisException: [PATH_NOT_FOUND]"))
      // one missing path among good ones fails the same way
      assert(sameError(s"$sf/region.parquet", d.resolve("nope").toString)
        .contains("AnalysisException: [PATH_NOT_FOUND]"))
    }
  }

  test("Tables.df and FpStore.read launch zero Spark jobs") {
    val (_, plain) = jobsDuring(spark.read.parquet(s"$sf/region.parquet"))
    assert(plain.nonEmpty, "the counter must see Spark's own inference job")
    val (_, tables) = jobsDuring(Tables.All.foreach(t => Tables.df(spark, sf, t)))
    assert(tables.isEmpty, s"Tables.df launched $tables")
    withTmp { d =>
      val store = d.resolve("store").toString
      FpStore.create(spark, store, spark.range(10).select(col("id").as("fp")))
      FpStore.append(spark, store, spark.range(5).select(col("id").as("fp")))
      val (df, fp) = jobsDuring(FpStore.read(spark, store))
      assert(fp.isEmpty, s"FpStore.read launched $fp")
      assert(df.count() == 15)
    }
  }
}
