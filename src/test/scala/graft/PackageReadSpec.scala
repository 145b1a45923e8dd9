package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InsertIntoHadoopFsRelationCommand, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.contract.{ContractPolicy, RowRule}
import graft.core.{Descriptor, Ledger}
import graft.pkg.PackageWriter
import graft.run.Runner
import graft.streaming.{DrainEpoch, StreamRunner}

/** Guards on how often the load path reads its own packages, and on
  * what it leaves cached. The package write observes its evidence, so
  * each package is read back at most once: never by an Append or
  * Replace `Runner.run`, which lands the package's files by file; once
  * by the receipt read-back in the drain runners. Package and receipt
  * probe reads pass the written schema, so none launches a Parquet
  * schema-inference job. */
class PackageReadSpec extends SparkSpec {

  /** Counts the SQL executions, and per package directory under `root`
    * the ones whose plan reads its `data/` or `quarantine/`, records the
    * root path of every file read under `root` and the output path of
    * every file write, and counts schema-inference jobs: RDD-API jobs
    * (`parallelize` outside any SQL operator) such as Parquet's
    * footer-merging job. */
  private final class Recorder(root: String) extends SparkListener with QueryExecutionListener {
    val reads = new ConcurrentHashMap[String, Integer]()
    val executions = new AtomicInteger
    val roots = new ConcurrentLinkedQueue[String]()
    val writes = new ConcurrentLinkedQueue[String]()
    val inferenceJobs = new AtomicInteger

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      executions.incrementAndGet()
      qe.analyzed.collect { case w: InsertIntoHadoopFsRelationCommand => w.outputPath.toUri.getPath }
        .foreach(writes.add)
      val read = qe.optimizedPlan.collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath) }
        .flatten
        .filter(_.startsWith(root))
      read.foreach(roots.add)
      read
        .filter(p => p.endsWith("/data") || p.endsWith("/quarantine"))
        .map(p => p.substring(0, p.lastIndexOf('/')))
        .distinct
        .foreach(dir => reads.merge(dir, 1, (a, b) => a + b))
    }

    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      executions.incrementAndGet()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.stageInfos.exists(_.rddInfos.exists(_.scope.exists(s =>
          s.getClass.getMethod("name").invoke(s) == "parallelize"))))
        inferenceJobs.incrementAndGet()

    def readCounts: Map[String, Int] = reads.asScala.map { case (k, v) => k -> v.intValue }.toMap
  }

  /** Wait until every listener event posted so far is delivered. */
  private def drainListenerBus(): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Run `body` with a [[Recorder]] attached; listener events are
    * asynchronous, so the bus is drained before the recorder is
    * registered (an earlier execution's event cannot reach it) and again
    * before it is read. */
  private def recorded[A](root: String)(body: => A): (A, Recorder) = {
    drainListenerBus()
    val rec = new Recorder(root)
    spark.listenerManager.register(rec)
    spark.sparkContext.addSparkListener(rec)
    try {
      val out = body
      drainListenerBus()
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

  test("Runner.run(Append) never reads its package (it lands by file), with no schema inference") {
    val base = tmpDir()
    val (r, rec) = recorded(base)(runAppend(base, cursor = None))
    assert(r.committed && !r.duplicate)
    assert(rec.readCounts.isEmpty)
    // the receipt probe reads the destination with the package's schema
    assert(rec.inferenceJobs.get == 0)
  }

  test("Runner.run(Append) runs exactly 3 SQL executions") {
    val base = tmpDir()
    val (r, rec) = recorded(base)(runAppend(base, cursor = None))
    assert(r.committed)
    // the package data write, the quarantine write and the receipt
    // probe; `stats/` is written on the driver and landing the package
    // is a file-level step, neither a SQL execution
    assert(rec.executions.get == 3)
  }

  test("Runner.run(Append) onto a destination a Replace committed runs 3 SQL executions") {
    val base = tmpDir(); val ledger = Ledger.at(base)
    def config(disposition: Descriptor.Disposition) = {
      val cfg = appendConfig("reads_replaced", cursor = None)
      cfg.copy(descriptor = cfg.descriptor.copy(disposition = disposition))
    }
    val r1 = Runner.run(spark, config(Descriptor.Disposition.Replace),
      events(500, 1700000000L, 0), s"$base/pkg1", s"$base/dest", ledger)
    val (r, rec) = recorded(base)(Runner.run(spark, config(Descriptor.Disposition.Append),
      events(300, 1700000000L, 1), s"$base/pkg2", s"$base/dest", ledger))
    assert(r.committed && !r.duplicate && r.receipt.rows == r1.accepted + r.accepted)
    // the Replace's receipt records a listing, which vouches for its
    // files: no full probe of the destination
    assert(rec.executions.get == 3)
  }

  test("PackageWriter.write runs 2 SQL executions with a quarantine frame, 1 without, none writing stats/") {
    val src = events(200, 1700000000L, 0)
    Seq(Some(src.filter(col("value") > 150)) -> 2, None -> 1).foreach { case (quarantine, n) =>
      val dir = tmpDir()
      val (_, rec) = recorded(dir)(PackageWriter.write(src, quarantine, dir, "writes", "p0"))
      assert(rec.executions.get == n, s"quarantine = ${quarantine.isDefined}")
      // the SQL executions write data/ and quarantine/ only; stats/ is
      // written on the driver
      assert(rec.writes.asScala.toSeq.sorted == Seq(s"$dir/data", s"$dir/quarantine").take(n))
      assert(spark.read.parquet(s"$dir/stats").count() == 1)
    }
  }

  test("Runner.run with a cursor takes the cursor max from the package write, not a package scan") {
    val base = tmpDir()
    val cursor = Descriptor.CursorSpec("ts", lagMs = 1000L, Descriptor.OrderingClaim.Inexact)
    val (r, rec) = recorded(base)(runAppend(base, Some(cursor)))
    val maxUs = events(500, 1700000000L, 0).filter(col("value") <= 600)
      .agg(max(unix_micros(col("ts")))).head().getLong(0)
    assert(r.position.contains(graft.core.Position.Cursor("ts", maxUs - 1000L * 1000L)))
    assert(rec.readCounts.isEmpty)
    assert(rec.inferenceJobs.get == 0)
  }

  /** Merge and CdcApply onto an existing destination: the buckets the
    * package's keys touch are observed on the package write, so the
    * package is read only by the apply (and, for CdcApply, by the
    * probe's broadcast of the deleted keys). */
  for ((disposition, pkgReads) <- Seq[(Descriptor.Disposition, Int)](
      Descriptor.Disposition.Merge(Seq("event_id")) -> 1,
      Descriptor.Disposition.CdcApply(Seq("event_id"), "op") -> 2))
    test(s"Runner.run($disposition) onto an existing destination runs 4 SQL executions, no bucket lookup") {
      val base = tmpDir(); val ledger = Ledger.at(base)
      val cfg = Runner.RunConfig(
        descriptor = Descriptor.ResourceDescriptor(
          id = s"reads_$disposition", schemaSource = Descriptor.SchemaSource.Discover,
          primaryKey = Seq("event_id"), cursor = None, disposition = disposition),
        policy = ContractPolicy(Seq(RowRule.Range("value_range", "value", 0, 600))),
        orderColumns = Seq("ts"), mergeBuckets = 8)
      def ops(n: Int, salt: Int) = events(n, 1700000000L, salt)
        .withColumn("op", when(col("user_id") === 0, "delete").otherwise("upsert"))
      Runner.run(spark, cfg, ops(500, 0), s"$base/pkg1", s"$base/dest", ledger)
      val (r, rec) = recorded(base)(Runner.run(spark, cfg, ops(300, 0).filter(col("event_id") % 2 === 0),
        s"$base/pkg2", s"$base/dest", ledger))
      assert(r.committed && !r.duplicate)
      // the package data write, the quarantine write, the bucketed apply
      // and the receipt probe
      assert(rec.executions.get == 4)
      assert(rec.readCounts == Map(s"$base/pkg2" -> pkgReads))
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
    assert(res.epochs.exists(_.recaptured > 0)) // carryover went through _carryover/, never cached
    assert(cacheEmpty)
  }

  test("cache hygiene: DrainEpoch.drain leaves nothing cached") {
    spark.catalog.clearCache()
    val (res, _) = drainEpochs(tmpDir())
    assert(res.exists(_.recaptured > 0))
    assert(cacheEmpty)
  }

  test("a drain epoch runs 3 SQL executions: its data write, one write of its quarantine and carryover, and the read-back") {
    val base = tmpDir()
    val ((res, out), rec) = recorded(base)(drainEpochs(base))
    assert(res.size == 4 && res.last.recaptured == 0) // 3 epochs + the carryover flush
    // the quarantine and the recaptured carryover are one write, routed
    // into place from `_routed`
    assert(rec.writes.asScala.toSeq.sorted == ((0 until 3).flatMap(n =>
      Seq(s"$out/epoch_$n/data", s"$out/epoch_$n/_routed")) :+ s"$out/epoch_3_flush/data").sorted)
    assert((0 until 3).forall(n => Files.isDirectory(Paths.get(out, s"epoch_$n", "quarantine"))))
    // every other execution is one package's read-back: none counts the
    // recaptured rows
    assert(rec.executions.get == rec.writes.size + res.size)
    assert(rec.readCounts == epochDirs(out).map(_ -> 1).toMap)
  }

  test("a drain reads each carryover back once, with the batches' schema: no schema-inference job") {
    val base = tmpDir()
    val ((res, out), rec) = recorded(base)(drainStream(base, files = 3))
    assert(res.epochs.size == 4)
    // epochs 1 and 2 and the flush each read the carryover before them
    assert(rec.roots.asScala.filter(_.contains("/_carryover/")).toSeq.sorted ==
      (0 until 3).map(n => s"$out/_carryover/epoch_$n"))
    assert(rec.inferenceJobs.get == 0)
  }

  test("after a 6-epoch drain, _carryover/ holds at most 2 dirs") {
    val base = tmpDir()
    val out = s"$base/out"
    val res = DrainEpoch.drain(spark,
      DrainEpoch.Config("carry_dirs", "ts", graceMs = 180000L, lagMs = 1000L, maxEpochs = 10),
      (0 until 6).map(k => events(300, 1700000000L + k * 300L, k)),
      (0 until 6).map(k => new Timestamp((1700000000L + k * 300L + 300L) * 1000L)),
      out, Ledger.at(base))
    assert(res.size == 7 && res.take(6).forall(_.recaptured > 0))
    val s = Files.list(Paths.get(out, "_carryover"))
    val dirs = try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
    assert(dirs.size <= 2)
    assert(dirs.contains("epoch_5")) // the one the flush delivered
  }
}
