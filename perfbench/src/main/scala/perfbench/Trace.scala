package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Job groups the harness runs its own Spark work under. Stages of jobs
  * in these groups never count towards the program's bytes or layers. */
object Groups {
  val Gen = "perfbench-gen"     // input generation and landing
  val Aux = "perfbench-aux"     // isolated layer calls and output checks
  val Sync = "perfbench-sync"   // listener-bus barrier jobs
  val all = Set(Gen, Aux, Sync)
  /** the job property Spark stores the job group under */
  val Property = "spark.jobGroup.id"

  def under[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }
}

/** Always-on counter: Spark input/output/shuffle bytes of the program's
  * stages, plus the barrier that makes every event posted before it
  * visible. Listener events arrive asynchronously; `sync` runs a one-task
  * job and waits for its end event, which the shared queue delivers only
  * after every earlier event. */
final class ByteCounter extends SparkListener {
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
  private val excludedStages = ConcurrentHashMap.newKeySet[Int]()
  private val seenSyncJobs = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Groups.Property)))
    if (g.exists(Groups.all)) e.stageIds.foreach(excludedStages.add)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = { seenSyncJobs.add(e.jobId); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    if (!excludedStages.contains(si.stageId) && si.taskMetrics != null) {
      inputBytes.addAndGet(si.taskMetrics.inputMetrics.bytesRead)
      outputBytes.addAndGet(si.taskMetrics.outputMetrics.bytesWritten)
    }
  }

  def sync(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(Groups.Sync).toSet
    Groups.under(spark, Groups.Sync)(sc.parallelize(Seq(1), 1).count())
    val ids = sc.statusTracker.getJobIdsForGroup(Groups.Sync).toSet -- before
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!ids.forall(seenSyncJobs.contains) && System.nanoTime() < deadline) Thread.sleep(2)
  }
}

/** One SQL execution as the trace sees it: interval, the paths its plan
  * reads and writes, and the layer those paths map it to. */
final case class Exec(id: Long, root: Long, startMs: Long, var endMs: Long,
    desc: String, reads: Seq[String], writes: Seq[String], layer: String)

final case class JobRec(startMs: Long, var endMs: Long, exec: Option[Long],
    stages: Seq[Int])

final case class StageRec(tasks: Int, outBytes: Long, gcMs: Long, spill: Long)

final case class Phase(startMs: Long, endMs: Long, name: String)

/** Attribution rule: a SQL execution belongs to the layer named by the
  * paths its plan writes, else by the paths it reads. Paths are taken
  * relative to the workload's directory (`setup_<r>/...`):
  *   writes dest, dest.__mergegen, dest.__swap          -> run.dest_write
  *   writes a package's data/, quarantine/ or stats/    -> pkg.write
  *   reads dest (the receipt probe after the write)     -> run.receipt_probe
  *   reads a package's data/ or quarantine/             -> pkg.readback
  *   reads the generated inputs only                    -> sources.read
  *   anything else                                      -> unattributed
  * Packages live in pkg/<unit>/ (Runner) and drain/epoch_<n>/ (stream). */
object Attribution {
  private val PathRe = "file:(/[^\\s,\\]\\)]+)".r

  private def segs(root: String, p: String): Seq[String] =
    if (!p.startsWith(root)) Nil else p.stripPrefix(root).split("/").filter(_.nonEmpty).toSeq.drop(1)

  def isDest(root: String, p: String): Boolean =
    segs(root, p).headOption.exists(s => s == "dest" || s.startsWith("dest.__"))
  def isPkg(root: String, p: String): Boolean = segs(root, p) match {
    case Seq("pkg", _, leaf, _*) => Set("data", "quarantine", "stats")(leaf)
    case Seq("drain", e, leaf, _*) => e.startsWith("epoch_") && Set("data", "quarantine", "stats")(leaf)
    case _ => false
  }
  def isInput(root: String, p: String): Boolean = segs(root, p).headOption.contains("input")

  /** (read paths, write paths) named in a formatted physical plan: the
    * node-detail sections of write commands name the write path, the
    * `Location:` lines of scans name the read paths. */
  def paths(plan: String): (Seq[String], Seq[String]) = {
    def grab(text: String) = PathRe.findAllMatchIn(text).map(_.group(1)).toSeq
    val sections = plan.split("\n\n").toSeq
    val writes = sections.filter(_.linesIterator.nextOption().exists(h =>
      h.startsWith("(") && h.contains("InsertIntoHadoopFsRelationCommand"))).flatMap(grab).distinct
    val reads = plan.linesIterator.filter(_.startsWith("Location:")).flatMap(grab).toSeq.distinct
      .filterNot(writes.contains)
    (reads, writes)
  }

  def layer(root: String, reads: Seq[String], writes: Seq[String]): String =
    if (writes.exists(isDest(root, _))) "run.dest_write"
    else if (writes.exists(isPkg(root, _))) "pkg.write"
    else if (reads.exists(isDest(root, _))) "run.receipt_probe"
    else if (reads.exists(isPkg(root, _))) "pkg.readback"
    else if (reads.exists(isInput(root, _))) "sources.read"
    else "unattributed"
}

/** Detailed recorder, attached only around traced units: jobs, stages
  * with task metrics, SQL executions with plan paths, planning phases. */
final class Tracer(root: String) extends SparkListener with QueryExecutionListener {
  val execs = new ConcurrentHashMap[Long, Exec]().asScala
  val jobs = new ConcurrentHashMap[Int, JobRec]().asScala
  val stages = new ConcurrentHashMap[Int, StageRec]().asScala
  val phases = java.util.Collections.synchronizedList(new java.util.ArrayList[Phase]())
  private val auxStages = ConcurrentHashMap.newKeySet[Int]()
  /** shuffle bytes written by isolated layer calls (job group Aux) */
  val auxShuffleBytes = new AtomicLong
  /** attribution records of every traced step, written next to the spans */
  val dumped = mutable.ArrayBuffer.empty[Json.Obj]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty(Groups.Property)))
    if (g.contains(Groups.Aux)) e.stageIds.foreach(auxStages.add)
    if (!g.exists(Groups.all)) jobs(e.jobId) = JobRec(e.time, e.time,
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
      e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null && auxStages.contains(si.stageId))
      auxShuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    if (m != null) stages(si.stageId) = StageRec(si.numTasks, m.outputMetrics.bytesWritten,
      m.jvmGCTime, m.diskBytesSpilled)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val (r, w) = Attribution.paths(s.physicalPlanDescription)
      execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
        s.time, s.time, Option(s.description).getOrElse("").take(120), r, w,
        Attribution.layer(root, r, w))
    case x: SparkListenerSQLExecutionEnd => execs.get(x.executionId).foreach(_.endMs = x.time)
    case _ =>
  }

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (n, p) => phases.add(Phase(p.startTimeMs, p.endTimeMs, n)) }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Layer view of one unit [startMs, endMs]. */
  def unitView(startMs: Long, endMs: Long, wallS: Double): UnitView = {
    def in(t: Long) = t >= startMs && t <= endMs
    // the unit's queries: executions that no other execution nests under
    // (a streaming micro-batch is itself an execution; the foreachBatch
    // queries of an epoch nest under it)
    val inUnit = execs.values.filter(x => in(x.startMs)).toSeq
    val nesting = inUnit.filter(x => x.root != x.id).map(_.root).toSet
    val roots = inUnit.filterNot(x => nesting(x.id)).sortBy(_.startMs)
    val js = jobs.values.filter(j => in(j.startMs)).toSeq
    val layerTime = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    roots.foreach(x => layerTime(x.layer) += (x.endMs - x.startMs) / 1000.0)
    // bytes scanned: size of the files under each execution's read paths
    // (Spark's input metrics miss parquet's vectored reads on local disk)
    val layerIn = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    roots.foreach(x => layerIn(x.layer) += x.reads.map(p => Util.dirBytes(java.nio.file.Paths.get(p))).sum)
    val layerOut = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val layerById = roots.map(x => x.id -> x.layer).toMap
    var tasks, gcMs, spill = 0L
    js.foreach { j =>
      val l = j.exec.flatMap(layerById.get).getOrElse("unattributed")
      j.stages.flatMap(stages.get).foreach { s =>
        tasks += s.tasks; gcMs += s.gcMs; spill += s.spill
        layerOut(l) += s.outBytes
      }
    }
    // attributed time: union of root-execution and job intervals
    val iv = (roots.map(x => (x.startMs, x.endMs)) ++ js.map(j => (j.startMs, j.endMs))).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    val attributed = math.min(covered / 1000.0, wallS)
    val planning = phases.asScala.synchronized(phases.asScala.toList)
      .filter(p => in(p.startMs) && p.name != "parsing").map(p => (p.endMs - p.startMs) / 1000.0).sum
    UnitView(roots, js.size, tasks, gcMs / 1000.0, spill, planning, attributed,
      layerTime.toMap, layerIn.toMap, layerOut.toMap)
  }

  def clear(): Unit = { execs.clear(); jobs.clear(); stages.clear(); phases.clear() }

  /** Keep the step's execution -> layer mapping for the trace file. */
  def dump(step: Int): Unit = execs.values.toSeq.sortBy(_.id).foreach { x =>
    dumped += Json.obj("step" -> step, "execution" -> x.id, "root" -> x.root, "layer" -> x.layer,
      "start_ms" -> x.startMs, "end_ms" -> x.endMs, "description" -> x.desc,
      "reads" -> x.reads.map(_.stripPrefix(root)), "writes" -> x.writes.map(_.stripPrefix(root)))
  }
}

final case class UnitView(execs: Seq[Exec], jobs: Int, tasks: Long, gcS: Double,
    spillBytes: Long, planningS: Double, attributedS: Double,
    layerS: Map[String, Double], layerScanBytes: Map[String, Double],
    layerOutBytes: Map[String, Double])

/** Streaming progress of drain queries: epoch walls and addBatch time. */
final class ProgressLog extends StreamingQueryListener {
  final case class P(batchId: Long, startMs: Long, durationMs: Long, addBatchMs: Long, rows: Long)
  val events = java.util.Collections.synchronizedList(new java.util.ArrayList[P]())
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val add = Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(0L)
    events.add(P(p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli, p.batchDuration, add, p.numInputRows))
    ()
  }
  def all: Seq[P] = events.synchronized(events.asScala.toList)
}
