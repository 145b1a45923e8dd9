package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.StatsOps
import graft.pkg.PackageWriter

/** The package write observes its own evidence (row count, content
  * hash, stats profile, quarantine count) instead of reading the
  * package back. These specs hold the observed evidence equal to what a
  * read of the written files computes, and hold the one remaining
  * read-back able to catch files damaged after the write. */
class PackageEvidenceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("l", LongType, nullable = false),
    StructField("i", IntegerType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("ts", TimestampType),
    StructField("dec", DecimalType(12, 3)),
    StructField("dt", DateType)))

  /** The columns the `stats/` profile covers (integer, long, double,
    * float, string, timestamp; decimal and date are not profiled). */
  private val statCols = Seq("l", "i", "d", "s", "ts")

  private def frame(n: Int): DataFrame = {
    val specialD = Seq[java.lang.Double](Double.NaN, -0.0, null, 0.0, Double.PositiveInfinity)
    val strs = Seq("plain", null, "Ünïcödé", "日本語テキスト", "", "emoji 🚀")
    val rows = (0 until n).map { k =>
      Row(k.toLong * 7919L - 50000L,
        if (k % 11 == 0) null else Integer.valueOf(k % 97 - 40),
        if (k % 3 == 0) specialD(k % specialD.length) else java.lang.Double.valueOf(k * 1.25 - 30.5),
        strs(k % strs.length),
        if (k % 13 == 0) null else new java.sql.Timestamp(1700000000000L + k * 61000L),
        if (k % 17 == 0) null else new java.math.BigDecimal(s"${k * 3 - 100}.125"),
        if (k % 19 == 0) null else java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(k.toLong)))
    }
    spark.createDataFrame(rows.asJava, schema)
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("observed count, content hash, quarantine count and stats equal a read of the written package") {
    val df = frame(300)
    val hashes = Seq(1, 7, 32).map { parts =>
      val dir = tmpDir()
      val input = df.repartition(parts)
      val quarantine = df.filter(col("l") % 5 === 0).repartition(parts)
      val pkg = PackageWriter.write(input, Some(quarantine), dir, "evidence", "p0")

      val data = spark.read.parquet(s"$dir/data")
      assert((pkg.rows, pkg.contentHash) == PackageWriter.countAndHash(data), s"$parts partitions")
      assert(pkg.rows == 300)
      assert(pkg.quarantined == spark.read.parquet(s"$dir/quarantine").count())
      assert(pkg.quarantined == 60)

      val stats = spark.read.parquet(s"$dir/stats")
      val expected = StatsOps.batchStats(data, statCols)
      assert(stats.schema.map(f => f.name -> f.dataType) == expected.schema.map(f => f.name -> f.dataType))
      assert(sorted(stats.collect()) == sorted(expected.collect()), s"$parts partitions")
      (pkg.contentHash, pkg.packageHash)
    }
    // jobs invariance: identity does not depend on partitioning
    assert(hashes.distinct.size == 1, hashes)
  }

  test("statically empty inputs finish: the observation is delivered, never awaited forever") {
    val df = frame(20)
    val empties = Seq(
      "limit(0)" -> df.limit(0),
      "filter(false)" -> df.filter(lit(false)),
      "empty createDataFrame" -> spark.createDataFrame(java.util.List.of[Row](), schema))
    empties.foreach { case (label, empty) =>
      val dir = tmpDir()
      val pkg = Await.result(Future(PackageWriter.write(empty, Some(empty), dir, "empty", "p0")),
        2.minutes)
      assert(pkg.rows == 0 && pkg.quarantined == 0 && pkg.contentHash == "0", label)
      val stats = spark.read.parquet(s"$dir/stats").collect()
      assert(stats.length == 1 && stats.head.getAs[Long]("row_count") == 0L, label)
      assert(PackageWriter.readBack(spark, pkg).matches, label)
    }
  }

  private def partFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted
    finally s.close()
  }

  /** The file names under `dir`, without the local file system's
    * `.crc` checksum sidecars. */
  private def listing(dir: String): Seq[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).filterNot(_.startsWith(".")).toSeq.sorted
    finally s.close()
  }

  test("stats/ holds exactly one part file and no _-prefixed file after every write") {
    val df = frame(120)
    val inputs = Seq(
      "1 partition" -> df.coalesce(1), "7 partitions" -> df.repartition(7),
      "limit(0)" -> df.limit(0), "filter(false)" -> df.filter(lit(false)),
      "empty createDataFrame" -> spark.createDataFrame(java.util.List.of[Row](), schema))
    inputs.foreach { case (label, input) =>
      val dir = tmpDir()
      PackageWriter.write(input, Some(input), dir, "stats_files", "p0")
      val files = listing(s"$dir/stats")
      assert(files.size == 1 && files.head.startsWith("part-"), s"$label: $files")
      // a second write into the same package directory overwrites stats/
      PackageWriter.write(df, None, dir, "stats_files", "p1")
      assert(listing(s"$dir/stats").size == 1, label)
      assert(spark.read.parquet(s"$dir/stats").head().getAs[Long]("row_count") == 120L, label)
    }
  }

  test("a quarantine write that fails at run time fails write only after the data write ended, with no stats or manifest") {
    val dir = tmpDir()
    // each row sleeps, so the data write outlasts the failing quarantine
    // write that runs beside it
    val slow = udf((l: Long) => { Thread.sleep(2L); l })
    val data = frame(400).repartition(4).withColumn("l", slow(col("l")))
    // the exchange keeps the optimizer from evaluating the projection
    // over the local rows at planning time: the fault fires in a task
    val quarantine = frame(40).repartition(2).select(col("l"),
      when(col("l").isNotNull, raise_error(lit("planted quarantine fault"))).as("boom"))
    val err = intercept[Exception](PackageWriter.write(data, Some(quarantine), dir, "qfail", "p0"))
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains("planted quarantine fault")), err)
    // the data write had committed when the failure surfaced
    assert(Files.exists(Paths.get(dir, "data", "_SUCCESS")))
    assert(spark.read.parquet(s"$dir/data").count() == 400)
    assert(!Files.exists(Paths.get(dir, "manifest.json")))
    assert(!Files.exists(Paths.get(dir, "stats")) || partFiles(s"$dir/stats").isEmpty)
  }

  test("the read-back rejects a package whose data part-file was deleted after the write") {
    val dir = tmpDir()
    val pkg = PackageWriter.write(frame(200).repartition(4), None, dir, "damaged", "p0")
    assert(PackageWriter.readBack(spark, pkg).matches)
    val parts = partFiles(s"$dir/data")
    assert(parts.size > 1)
    Files.delete(parts.head)
    assert(!PackageWriter.readBack(spark, pkg).matches)
  }

  test("the read-back rejects a package whose data part-file was rewritten with one changed value") {
    val dir = tmpDir()
    val pkg = PackageWriter.write(frame(200).repartition(4), None, dir, "damaged", "p0")
    val victim = partFiles(s"$dir/data").head
    val original = spark.read.parquet(victim.toString).collect()
    val changed = original.head.getLong(0)
    val edited = spark.read.parquet(victim.toString)
      .withColumn("l", when(col("l") === changed, col("l") + 1).otherwise(col("l")))
    val tmp = s"${tmpDir()}/rewrite"
    edited.coalesce(1).write.parquet(tmp)
    Files.move(partFiles(tmp).head, victim, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the local file system verifies a checksum sidecar; drop the stale one
    Files.deleteIfExists(victim.resolveSibling(s".${victim.getFileName}.crc"))
    val rewritten = spark.read.parquet(victim.toString)
    assert(rewritten.count() == original.length) // same row count, one value differs
    val rb = PackageWriter.readBack(spark, pkg)
    assert(!rb.matches)
    assert(rb.receipt.rows == pkg.rows && rb.receipt.contentHash == pkg.contentHash)
  }
}
