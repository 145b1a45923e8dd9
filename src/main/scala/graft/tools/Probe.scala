package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.core.CanonicalJson.esc
import graft.core.QueryDef

/** Local measurement of named catalog queries: the per-query slice of
  * `graft.Bench` without its derived cells, for plan-shape and conf
  * work between bench runs.
  *
  *   runMain graft.tools.Probe --sf <dir> --query q_a,q_b [--reps N]
  *     [--conf k=v]... [--plan <dir>] [--jobs] [--out <json> --tier <label>]
  *
  * Every timed run is [[graft.Bench.timedRep]], the rep Bench's sweep
  * times. Each cell gets one untimed warmup; then round r of `--reps`
  * (default 3) times every cell once, so one noise window cannot take
  * every rep of one cell. With `--conf`, each query is two cells: side A
  * (the session as built, named `<query>`) and side B (the confs set,
  * then restored, named `<query>:B`), and the side that runs first
  * alternates between rounds. `--reps 0` writes plans only: no warmup
  * and no timed run.
  *
  * Prints one `[probe]` line per cell: min, median and max seconds.
  * `--plan` writes `<dir>/<query>.txt` in `explain("formatted")` form
  * (side A). `--jobs` prints the job and stage walls of each cell's last
  * timed rep. `--out` writes
  * `{"tier","dir","cpus","reps","cells":{cell:[min,med,max]},"failed":[query]}`.
  * A query that throws in its plan, its warmup or any rep is listed in
  * `failed` and left out of `cells`, and [[run]] returns 1.
  */
object Probe {
  private val Usage = "usage: Probe --sf <dir> --query q_a,q_b [--reps N] [--conf k=v]... " +
    "[--plan <dir>] [--jobs] [--out <json> --tier <label>]"
  private val SideB = ":B"
  private val FlushLabel = "probe-listener-flush"

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus, cpus)
    val code = try run(spark, args) finally spark.stop()
    sys.exit(code)
  }

  /** Runs the probe on `spark`, which it leaves running and as it found
    * it; returns the exit code. */
  def run(spark: SparkSession, args: Array[String]): Int = {
    val opts = mutable.Map.empty[String, String]
    val confs = mutable.ArrayBuffer.empty[(String, String)]
    var jobs = false
    def parse(rest: List[String]): Unit = rest match {
      case Nil =>
      case "--jobs" :: t => jobs = true; parse(t)
      case "--conf" :: kv :: t if kv.contains('=') =>
        val Array(k, v) = kv.split("=", 2); confs += k -> v; parse(t)
      case flag :: v :: t if Set("--sf", "--query", "--reps", "--plan", "--out", "--tier")(flag) =>
        opts(flag) = v; parse(t)
      case other :: _ => throw new IllegalArgumentException(s"$Usage (at '$other')")
    }
    parse(args.toList)
    def need(flag: String) = opts.getOrElse(flag, throw new IllegalArgumentException(Usage))
    val sfDir = need("--sf")
    val names = need("--query").split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val reps = opts.get("--reps").fold(3)(_.toInt)
    val out = opts.get("--out").map(o => o -> need("--tier"))
    require(reps >= 0, Usage)

    val failed = mutable.LinkedHashSet.empty[String]
    def fail(name: String, why: String): Unit = {
      System.err.println(s"[probe] $name failed: $why"); failed += name
    }
    val catalog = graft.catalog.Catalog.byName
    val queries = names.flatMap { n =>
      val q = catalog.get(n)
      if (q.isEmpty) fail(n, "no such catalog query")
      q
    }
    val sides = if (confs.isEmpty) Seq("") else Seq("", SideB)
    if (confs.nonEmpty) println(s"[probe] side B: ${confs.map { case (k, v) => s"$k=$v" }.mkString(" ")}")

    for (dir <- opts.get("--plan"); q <- queries) try graft.core.CacheScope {
      Files.createDirectories(Paths.get(dir))
      val plan = q.run(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(dir, s"${q.name}.txt"), plan)
    } catch { case NonFatal(e) => fail(q.name, e.toString) }
    finally graft.core.Scratch.reclaim()

    val log = new JobLog
    if (jobs) spark.sparkContext.addSparkListener(log)
    val walls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val lastRep = mutable.LinkedHashMap.empty[String, (Long, Long)]
    // one rep of one cell; a failed rep fails the query (timedRep reports why)
    def rep(q: QueryDef, side: String): Option[Double] = {
      val w = graft.core.Sessions.withConfs(spark, if (side == SideB) confs.toSeq else Nil)(
        graft.Bench.timedRep(spark, sfDir, q))
      if (w < 0) failed += q.name
      Some(w).filter(_ >= 0)
    }
    try {
      if (reps > 0) for (q <- queries; side <- sides if !failed(q.name)) rep(q, side)
      for (r <- 1 to reps; q <- queries; side <- (if (r % 2 == 1) sides else sides.reverse)
           if !failed(q.name)) {
        val t0 = System.currentTimeMillis()
        rep(q, side).foreach { w =>
          walls.getOrElseUpdate(q.name + side, mutable.ArrayBuffer.empty) += w
          lastRep(q.name + side) = (t0, System.currentTimeMillis())
        }
      }
      if (jobs) log.report(spark, lastRep)
    } finally if (jobs) spark.sparkContext.removeSparkListener(log)

    def f(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))
    val cells = for {
      q <- queries if !failed(q.name)
      side <- sides
      w <- walls.get(q.name + side).map(_.sorted)
    } yield (q.name + side, Seq(w.head, w(w.length / 2), w.last).map(f))
    cells.foreach { case (c, Seq(lo, med, hi)) => println(s"[probe] $c min=$lo med=$med max=$hi") }
    failed.foreach(n => println(s"[probe] $n failed"))
    out.foreach { case (path, tier) =>
      val cellJson = cells.map { case (c, m) => esc(c) + m.mkString(":[", ",", "]") }
      val json = s"""{"tier":${esc(tier)},"dir":${esc(sfDir)},""" +
        s""""cpus":${spark.sparkContext.defaultParallelism},"reps":$reps,""" +
        s""""cells":${cellJson.mkString("{", ",", "}")},"failed":${failed.map(esc).mkString("[", ",", "]")}}"""
      Files.writeString(Paths.get(path), json + "\n")
      println(s"[probe] wrote $path")
    }
    if (failed.isEmpty) 0 else 1
  }

  /** Job and stage walls in the order the listener bus delivers them. */
  private final class JobLog extends SparkListener {
    private val starts = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
    private val ends = new ConcurrentHashMap[Int, Long]()
    private val stages = new ConcurrentHashMap[Int, StageInfo]()
    @volatile private var flushJob = -1
    private val flushed = new CountDownLatch(1)

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      starts.put(j.jobId, (j.time, j.stageIds))
      if (Option(j.properties).exists(_.getProperty("spark.job.description") == FlushLabel))
        flushJob = j.jobId
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      ends.put(j.jobId, j.time)
      if (j.jobId == flushJob) flushed.countDown()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.put(s.stageInfo.stageId, s.stageInfo)

    /** Prints the jobs that started inside each cell's window. The bus
      * delivers events in order, so once a job run after the last rep
      * has ended here, every earlier event has too. */
    def report(spark: SparkSession, windows: collection.Map[String, (Long, Long)]): Unit = {
      spark.sparkContext.setJobDescription(FlushLabel)
      try spark.sparkContext.parallelize(Seq(0), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      require(flushed.await(60, TimeUnit.SECONDS), "listener events did not arrive within 60 s")
      for ((cell, (t0, t1)) <- windows) {
        val inWindow = starts.asScala.toSeq.filter { case (_, (t, _)) => t >= t0 && t <= t1 }
        for ((id, (t, stageIds)) <- inWindow.sortBy(_._1)) {
          println(f"[probe] $cell job $id ${(ends.getOrDefault(id, t) - t) / 1000.0}%.2fs")
          for (i <- stageIds.sorted.flatMap(s => Option(stages.get(s)))
               if i.submissionTime.exists(_ >= t)) {
            val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(0L)
            println(f"[probe] $cell   stage ${i.stageId} ${i.numTasks} tasks ${ms / 1000.0}%.2fs " +
              i.name.takeWhile(_ != '\n').take(60))
          }
        }
      }
    }
  }
}
