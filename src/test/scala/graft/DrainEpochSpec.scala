package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Ledger
import graft.pkg.PackageWriter
import graft.streaming.{DrainEpoch, StreamRunner}

/** The drain-epoch step is shared by `DrainEpoch.drain` and
  * `StreamRunner.drainAvailableNow`: both give the same epochs and
  * package contents for the same input, and neither leaves its
  * carryover cached when an epoch fails. */
class DrainEpochSpec extends SparkSpec {

  private val GraceMs = 180000L
  private val LagMs = 1000L

  /** File k: 400 rows spanning 10 minutes from `k` × 5 minutes, so
    * under [[watermarkFor]] every epoch admits, recaptures and
    * quarantines rows. */
  private def events(k: Int): DataFrame =
    spark.range(400).select(
      (col("id") * 31 + k).as("event_id"),
      timestamp_seconds(col("id") * 600 / 400 + 1700000000L + k * 300L).as("ts"),
      (col("id") * 1.5).as("value"))

  private def watermarkFor(b: DataFrame): Option[Timestamp] = {
    val r = b.agg(max(col("ts"))).head()
    if (r.isNullAt(0)) None else Some(new Timestamp(r.getTimestamp(0).getTime - 300000L))
  }

  /** `files` single-file parquet inputs in one directory, modified in
    * file order so the file source picks them up in that order. */
  private def stage(base: String, files: Int): Seq[String] = {
    val flat = Paths.get(base, "src")
    Files.createDirectories(flat)
    (0 until files).map { k =>
      val staged = s"$base/staging_$k"
      events(k).coalesce(1).write.parquet(staged)
      val s = Files.list(Paths.get(staged))
      val part = try s.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally s.close()
      val to = flat.resolve(s"f$k.parquet")
      Files.move(part, to)
      Files.setLastModifiedTime(to, FileTime.fromMillis(System.currentTimeMillis() - 600000L + k * 1000L))
      to.toString
    }
  }

  private def streamDrain(base: String, out: String,
      wm: DataFrame => Option[Timestamp]): StreamRunner.StreamResult = {
    val stream = spark.readStream.schema(events(0).schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    StreamRunner.drainAvailableNow(stream, "ts", GraceMs, LagMs, wm, out, Ledger.at(out), "parity")
  }

  private def packageHashes(out: String): Map[String, (String, Option[String])] = {
    val s = Files.list(Paths.get(out))
    val dirs = try s.iterator().asScala.filter(_.getFileName.toString.startsWith("epoch_")).toList
      finally s.close()
    dirs.map { d =>
      def hash(leaf: String) = Option.when(Files.exists(d.resolve(leaf)))(
        PackageWriter.contentHash(spark.read.parquet(d.resolve(leaf).toString)))
      d.getFileName.toString -> (hash("data").get, hash("quarantine"))
    }.toMap
  }

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("drainAvailableNow and DrainEpoch.drain give the same epochs and package contents") {
    val base = tmpDir()
    val files = stage(base, 3)
    val streamOut = s"$base/stream"
    val streamed = streamDrain(base, streamOut, watermarkFor)

    val batches = files.map(f => spark.read.schema(events(0).schema).parquet(f))
    val drainOut = s"$base/drain"
    val drained = DrainEpoch.drain(spark,
      DrainEpoch.Config("parity", "ts", GraceMs, LagMs, maxEpochs = 10),
      batches, batches.map(b => watermarkFor(b).get), drainOut, Ledger.at(drainOut))

    def rows(rs: Seq[DrainEpoch.EpochResult]) =
      rs.map(e => (e.epoch, e.watermark, e.admitted, e.recaptured, e.quarantined, e.frontierUs))
    assert(drained.size == 4) // 3 epochs + the carryover flush
    assert(drained.exists(_.recaptured > 0) && drained.exists(_.quarantined > 0))
    assert(rows(streamed.epochs) == rows(drained))
    assert(streamed.frontierUs == drained.last.frontierUs)

    val hashes = packageHashes(streamOut)
    assert(hashes.keySet == Set("epoch_0", "epoch_1", "epoch_2", "epoch_3_flush"))
    assert(hashes == packageHashes(drainOut))
  }

  test("DrainEpoch.drain releases its carryover when a later epoch fails") {
    import spark.implicits._
    spark.catalog.clearCache()
    val out = tmpDir()
    // 09:30 is within the 1 h grace of the 10:00 watermark: recaptured
    val b1 = Seq("2024-01-01 10:30:00", "2024-01-01 09:30:00").map(Timestamp.valueOf).toDF("ts")
    val b2 = spark.range(2).select(
      raise_error(concat(lit("epoch 1 fails in a task: "), col("id").cast("string")))
        .cast("timestamp").as("ts"))
    val wms = Seq("2024-01-01 10:00:00", "2024-01-01 12:00:00").map(Timestamp.valueOf)
    intercept[Exception] {
      DrainEpoch.drain(spark, DrainEpoch.Config("leak", "ts", 3600 * 1000L, 0L, maxEpochs = 2),
        Seq(b1, b2), wms, out, Ledger.at(out))
    }
    assert(Files.exists(Paths.get(out, "epoch_0", "manifest.json")))
    assert(cacheEmpty)
  }

  test("drainAvailableNow releases its carryover when a later epoch fails") {
    spark.catalog.clearCache()
    val base = tmpDir()
    stage(base, 2)
    val calls = new AtomicInteger
    val out = s"$base/out"
    intercept[Exception] {
      streamDrain(base, out, b =>
        if (calls.incrementAndGet() == 2) throw new IllegalStateException("watermark fails")
        else watermarkFor(b))
    }
    assert(calls.get == 2)
    assert(Files.exists(Paths.get(out, "epoch_0", "manifest.json")))
    assert(cacheEmpty)
  }
}
