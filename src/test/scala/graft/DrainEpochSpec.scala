package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{GraftError, Ledger, Position}
import graft.pkg.PackageWriter
import graft.streaming.{DrainEpoch, StreamRunner}

/** The drain-epoch step is shared by `DrainEpoch.drain` and
  * `StreamRunner.drainAvailableNow`: both give the same epochs and
  * package contents for the same input, and neither leaves anything
  * cached when an epoch fails (the carryover is a file under
  * `_carryover/`, not a cache). The restart law holds for both: a drain
  * killed at any point and resumed on the same checkpoint and ledger
  * delivers what an uninterrupted drain does, and its safe frontier
  * never regresses across drains. */
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
  private def stage(base: String, files: Int): Seq[String] = (0 until files).map(stageFile(base, _))

  private def stageFile(base: String, k: Int): String = {
    val flat = Paths.get(base, "src")
    Files.createDirectories(flat)
    val staged = s"$base/staging_$k"
    events(k).coalesce(1).write.parquet(staged)
    val s = Files.list(Paths.get(staged))
    val part = try s.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally s.close()
    val to = flat.resolve(s"f$k.parquet")
    Files.move(part, to)
    Files.setLastModifiedTime(to, FileTime.fromMillis(System.currentTimeMillis() - 600000L + k * 1000L))
    to.toString
  }

  private def streamDrain(base: String, out: String, wm: DataFrame => Option[Timestamp],
      tamper: DataFrame => DataFrame = identity): StreamRunner.StreamResult = {
    val stream = spark.readStream.schema(events(0).schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
    StreamRunner.drainAvailableNow(tamper(stream), "ts", GraceMs, LagMs, wm, out, Ledger.at(out),
      "parity")
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

  // ---- the restart law ----

  /** Where a drain is killed before it is resumed on the same checkpoint
    * and ledger. */
  private sealed trait Kill
  /** (a) epoch 1's watermark throws before the epoch writes anything. */
  private case object WatermarkThrows extends Kill
  /** (b) epoch 1's batch fails in a task while its package is written. */
  private case object TaskFails extends Kill
  /** (c) the flush fails: a regular file sits where its package goes. */
  private case object FlushFails extends Kill
  /** (d) streaming only: Spark's commit of the last batch is lost after a
    * clean drain, so Spark runs that batch again. */
  private case object CommitLost extends Kill

  /** Epoch 1's rows (event ids ≡ 1 mod 31) fail in a task once read. */
  private def failing(df: DataFrame): DataFrame =
    df.withColumn("value", when(col("event_id") % 31 === 1,
      raise_error(lit("epoch 1 fails in a task"))).otherwise(col("value")))

  /** The streaming driver over the 3 staged files of `base`, into `out`. */
  private def streamRun(base: String, out: String, kill: Option[Kill]): Seq[DrainEpoch.EpochResult] = {
    val calls = new AtomicInteger
    streamDrain(base, out,
      b => if (kill.contains(WatermarkThrows) && calls.incrementAndGet() == 2)
        throw new IllegalStateException("epoch 1's watermark fails") else watermarkFor(b),
      if (kill.contains(TaskFails)) failing else identity).epochs
  }

  /** The drain driver over the same 3 files. Its watermarks are values,
    * so for (a) epoch 1's watermark throws when the epoch reads it. */
  private def drainRun(base: String, out: String, kill: Option[Kill]): Seq[DrainEpoch.EpochResult] = {
    val batches = (0 until 3).map(k => spark.read.schema(events(0).schema).parquet(s"$base/src/f$k.parquet"))
    val wms = batches.map(b => watermarkFor(b).get)
    DrainEpoch.drain(spark, DrainEpoch.Config("parity", "ts", GraceMs, LagMs, maxEpochs = 10),
      if (kill.contains(TaskFails)) batches.updated(1, failing(batches(1))) else batches,
      if (kill.contains(WatermarkThrows)) wms.updated(1, new Timestamp(wms(1).getTime) {
        override def getTime: Long = throw new IllegalStateException("epoch 1's watermark fails")
      }) else wms,
      out, Ledger.at(out))
  }

  private lazy val fixture: String = { val base = tmpDir(); stage(base, 3); base }

  private val drivers = Map[String, (String, String, Option[Kill]) => Seq[DrainEpoch.EpochResult]](
    "drainAvailableNow" -> streamRun, "DrainEpoch.drain" -> drainRun)

  /** Each driver's uninterrupted drain of the fixture: its out dir and results. */
  private lazy val uninterrupted: Map[String, (String, Seq[DrainEpoch.EpochResult])] =
    drivers.map { case (name, run) =>
      val out = s"${tmpDir()}/out"
      name -> (out, run(fixture, out, None))
    }

  private def laws(rs: Seq[DrainEpoch.EpochResult]) =
    rs.map(e => (e.epoch, e.admitted, e.recaptured, e.quarantined, e.frontierUs))

  /** The event ids delivered across every epoch package's `data/` and
    * `quarantine/`, sorted. */
  private def deliveredIds(out: String): Seq[Long] =
    spark.read.parquet(s"$out/epoch_*/data", s"$out/epoch_*/quarantine").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq

  private val allIds = (0 until 3).flatMap(k => (0 until 400).map(_ * 31L + k)).sorted

  private def committed(out: String) = Ledger.at(out).entries().filter(_.state == "committed")

  for (driver <- drivers.keys.toSeq.sorted; kill <- Seq(WatermarkThrows, TaskFails, FlushFails, CommitLost)
      if driver == "drainAvailableNow" || kill != CommitLost)
    test(s"restart law, $driver: killed by $kill, the resumed drain delivers what an uninterrupted one does") {
      val run = drivers(driver)
      val (refOut, ref) = uninterrupted(driver)
      assert(deliveredIds(refOut) == allIds)
      val out = s"${tmpDir()}/out"
      val flushDir = Paths.get(out, "epoch_3_flush")
      if (kill == FlushFails) {
        Files.createDirectories(Paths.get(out))
        Files.write(flushDir, Array.emptyByteArray)
      }
      if (kill == CommitLost) {
        run(fixture, out, None)
        Seq("2", ".2.crc").foreach(f => Files.delete(Paths.get(out, "_checkpoint", "commits", f)))
      } else intercept[Exception](run(fixture, out, Some(kill)))
      if (kill == FlushFails) Files.delete(flushDir)
      val before = committed(out)

      val resumed = run(fixture, out, None)
      // the drain driver replays its batches from epoch 0; Spark resumes
      // at the first batch it has not committed
      val first = if (driver == "DrainEpoch.drain") 0
        else kill match { case FlushFails => 3; case CommitLost => 2; case _ => 1 }
      assert(resumed.head.epoch == first)
      assert(laws(resumed) == laws(ref.dropWhile(_.epoch < first)))
      assert(deliveredIds(out) == allIds)
      assert(packageHashes(out) == packageHashes(refOut))
      if (kill == CommitLost) assert(committed(out) == before) // the re-run batch replays
    }

  test("restart law, drainAvailableNow: a carryover that lost a part file fails the resume loudly") {
    val out = s"${tmpDir()}/out"
    intercept[Exception](streamRun(fixture, out, Some(WatermarkThrows)))
    val s = Files.list(Paths.get(out, "_carryover", "epoch_0"))
    val parts = try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
      finally s.close()
    Files.delete(parts.maxBy(Files.size(_)))
    val before = Ledger.at(out).entries()
    val e = intercept[Exception](streamRun(fixture, out, None))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[GraftError.State]))
    assert(Ledger.at(out).entries() == before)
  }

  for (driver <- drivers.keys.toSeq.sorted)
    test(s"$driver: a later drain over an older file commits no lower frontier") {
      val base = tmpDir()
      val out = s"$base/out"
      def drainFile(k: Int) =
        if (driver == "drainAvailableNow") { stageFile(base, k); streamDrain(base, out, watermarkFor).epochs }
        else DrainEpoch.drain(spark, DrainEpoch.Config("parity", "ts", GraceMs, LagMs, maxEpochs = 10),
          Seq(events(k)), Seq(watermarkFor(events(k)).get), out, Ledger.at(out))
      val first = drainFile(3)
      val second = drainFile(0)
      assert(first.size == 2 && second.size == 2) // an epoch and its carryover flush each
      val frontiers = committed(out).flatMap(_.position).map(Position.fromJson)
        .collect { case Position.Cursor(_, us) => us }
      assert(frontiers.size == 4)
      assert(frontiers == frontiers.sorted)
      assert(second.flatMap(_.frontierUs) == Seq(first.last.frontierUs.get, first.last.frontierUs.get))
    }
}
