package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.contract.{ContractPolicy, RowRule}
import graft.core.{Descriptor, Ledger}
import graft.run.Runner
import graft.streaming.{DrainEpoch, StreamRunner}

/** Guards on how often the load path reads its own packages, and on
  * what it leaves cached. The package write observes its evidence, so
  * each package is read back at most once: by the destination write in
  * `Runner`, by the receipt read-back in the drain runners. Package
  * reads pass the written schema, so none launches a Parquet
  * schema-inference job. */
class PackageReadSpec extends SparkSpec {

  /** Counts, per package directory under `root`, the SQL executions
    * whose plan reads its `data/` or `quarantine/`, and counts
    * schema-inference jobs: RDD-API jobs (`parallelize` outside any
    * SQL operator) such as Parquet's footer-merging job. */
  private final class Recorder(root: String) extends SparkListener with QueryExecutionListener {
    val reads = new ConcurrentHashMap[String, Integer]()
    val inferenceJobs = new AtomicInteger

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.optimizedPlan.collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath) }
        .flatten
        .filter(p => p.startsWith(root) && (p.endsWith("/data") || p.endsWith("/quarantine")))
        .map(p => p.substring(0, p.lastIndexOf('/')))
        .distinct
        .foreach(dir => reads.merge(dir, 1, (a, b) => a + b))

    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.stageInfos.exists(_.rddInfos.exists(_.scope.exists(s =>
          s.getClass.getMethod("name").invoke(s) == "parallelize"))))
        inferenceJobs.incrementAndGet()

    def readCounts: Map[String, Int] = reads.asScala.map { case (k, v) => k -> v.intValue }.toMap
  }

  /** Run `body` with a [[Recorder]] attached; listener events are
    * asynchronous, so the bus is drained before the recorder is read. */
  private def recorded[A](root: String)(body: => A): (A, Recorder) = {
    val rec = new Recorder(root)
    spark.listenerManager.register(rec)
    spark.sparkContext.addSparkListener(rec)
    try {
      val out = body
      val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (out, rec)
    } finally {
      spark.listenerManager.unregister(rec)
      spark.sparkContext.removeSparkListener(rec)
    }
  }

  private def events(n: Int, fromSec: Long, salt: Int): DataFrame =
    spark.range(n).select(
      (col("id") * 31 + salt).as("event_id"),
      timestamp_seconds(col("id") * 600 / n + fromSec).as("ts"),
      (col("id") % 7).as("user_id"),
      (col("id") * 1.5).as("value"))

  private def appendConfig(id: String, cursor: Option[Descriptor.CursorSpec]) = Runner.RunConfig(
    descriptor = Descriptor.ResourceDescriptor(
      id = id, schemaSource = Descriptor.SchemaSource.Discover,
      primaryKey = Seq("event_id"), cursor = cursor,
      disposition = Descriptor.Disposition.Append),
    policy = ContractPolicy(Seq(RowRule.Range("value_range", "value", 0, 600))))

  private def runAppend(base: String, cursor: Option[Descriptor.CursorSpec]) =
    Runner.run(spark, appendConfig("reads_" + cursor.isDefined, cursor),
      events(500, 1700000000L, 0), s"$base/pkg", s"$base/dest", Ledger.at(base))

  /** A file-source stream of `files` parquet files (one per epoch under
    * maxFilesPerTrigger), each spanning 10 minutes of event time. */
  private def drainStream(base: String, files: Int) = {
    val flat = s"$base/src"
    Files.createDirectories(Paths.get(flat))
    (0 until files).foreach { k =>
      val staged = s"$base/staging_$k"
      events(400, 1700000000L + k * 300L, k).coalesce(1).write.parquet(staged)
      val s = Files.list(Paths.get(staged))
      val part = try s.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally s.close()
      Files.move(part, Paths.get(flat, s"f$k.parquet"))
    }
    val stream = spark.readStream.schema(events(1, 0L, 0).schema)
      .option("maxFilesPerTrigger", "1").parquet(flat)
    val out = s"$base/out"
    val res = StreamRunner.drainAvailableNow(stream, "ts", graceMs = 180000L, lagMs = 1000L,
      watermarkFor = b => {
        val r = b.agg(max(col("ts"))).head()
        if (r.isNullAt(0)) None else Some(new Timestamp(r.getTimestamp(0).getTime - 300000L))
      },
      outDir = out, ledger = Ledger.at(base), resource = "reads_stream")
    (res, out)
  }

  private def drainEpochs(base: String) = {
    val batches = (0 until 3).map(k => events(300, 1700000000L + k * 300L, k))
    val watermarks = (0 until 3).map(k => new Timestamp((1700000000L + k * 300L + 300L) * 1000L))
    val out = s"$base/out"
    val res = DrainEpoch.drain(spark,
      DrainEpoch.Config("reads_drain", "ts", graceMs = 180000L, lagMs = 1000L, maxEpochs = 10),
      batches, watermarks, out, Ledger.at(base))
    (res, out)
  }

  private def epochDirs(out: String): Set[String] = {
    val s = Files.list(Paths.get(out))
    try s.iterator().asScala.map(_.toString).filter(_.contains("/epoch_")).toSet
    finally s.close()
  }

  test("Runner.run(Append) reads its package once (the destination write), with no schema inference") {
    val base = tmpDir()
    val (r, rec) = recorded(base)(runAppend(base, cursor = None))
    assert(r.committed && !r.duplicate)
    assert(rec.readCounts == Map(s"$base/pkg" -> 1))
    // the one inference job is the receipt probe's read of the
    // destination, which is not a package
    assert(rec.inferenceJobs.get == 1)
  }

  test("Runner.run with a cursor takes the cursor max from the package write, not a package scan") {
    val base = tmpDir()
    val cursor = Descriptor.CursorSpec("ts", lagMs = 1000L, Descriptor.OrderingClaim.Inexact)
    val (r, rec) = recorded(base)(runAppend(base, Some(cursor)))
    val maxUs = events(500, 1700000000L, 0).filter(col("value") <= 600)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    assert(r.position.contains(graft.core.Position.Cursor("ts", maxUs - 1000L * 1000L)))
    assert(rec.readCounts == Map(s"$base/pkg" -> 1))
    assert(rec.inferenceJobs.get == 1)
  }

  test("StreamRunner reads each epoch package once, with no schema inference") {
    val base = tmpDir()
    val ((res, out), rec) = recorded(base)(drainStream(base, files = 3))
    assert(res.epochs.size >= 3)
    val pkgs = epochDirs(out)
    assert(pkgs.size == res.epochs.size)
    assert(rec.readCounts == pkgs.map(_ -> 1).toMap)
    assert(rec.inferenceJobs.get == 0)
  }

  test("DrainEpoch reads each epoch package once, with no schema inference") {
    val base = tmpDir()
    val ((res, out), rec) = recorded(base)(drainEpochs(base))
    assert(res.size >= 3)
    val pkgs = epochDirs(out)
    assert(pkgs.size == res.size)
    assert(rec.readCounts == pkgs.map(_ -> 1).toMap)
    assert(rec.inferenceJobs.get == 0)
  }

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("cache hygiene: Runner.run leaves nothing cached") {
    spark.catalog.clearCache()
    runAppend(tmpDir(), cursor = None)
    assert(cacheEmpty)
  }

  test("cache hygiene: StreamRunner.drainAvailableNow leaves nothing cached") {
    spark.catalog.clearCache()
    val (res, _) = drainStream(tmpDir(), files = 2)
    assert(res.epochs.exists(_.recaptured > 0)) // carryover was cached and released
    assert(cacheEmpty)
  }

  test("cache hygiene: DrainEpoch.drain leaves nothing cached") {
    spark.catalog.clearCache()
    val (res, _) = drainEpochs(tmpDir())
    assert(res.exists(_.recaptured > 0))
    assert(cacheEmpty)
  }
}
