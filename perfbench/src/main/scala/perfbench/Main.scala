package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import graft.core.Sessions

/** Load-spine benchmark entry point. One invocation runs one workload:
  * set-up (repeated, median reported), three warm-up steps, then timed
  * steps until `--seconds` of program time, then the output checks.
  *
  *   --workload bulk_merge|file_landing|stream_drain  --seed N
  *   --seconds S  --trace 0|1  [--size full|tiny] [--fault receipt,corrupt]
  *
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1`
  * it alternates untraced and traced steps and prints the per-layer
  * metrics of the traced ones. The last stdout line is the result JSON. */
object Main {
  val Cores = 4
  val SetupReps = 3
  val IsolatedSamples = 3
  /** untimed steps after set-up; the first one still compiles the
    * unit's code paths, the others let the JIT settle */
  val WarmupSteps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      tiny: Boolean, faults: Set[String], root: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("size").contains("tiny"),
      m.get("fault").map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty),
      Paths.get(m.getOrElse("root", ".")).toAbsolutePath.normalize)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.names.contains(a.workload), s"unknown workload ${a.workload}")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Sessions.local(Cores.toString, Cores.toString)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val code = try run(a, spark, sessionS) finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Highest nearest-rank percentile with at least ten units beyond it
    * (never below the median). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (50, 0.0) else {
      val p = math.max(50, (100L * (n - 10) / n).toInt)
      (p, s(math.max(0, math.ceil(p * n / 100.0).toInt - 1)))
    }
  }

  def run(a: Args, spark: org.apache.spark.sql.SparkSession, sessionS: Double): Int = {
    val work = a.root.resolve(".bench_build").resolve("work")
      .resolve(s"${a.workload}-s${a.seed}-${ProcessHandle.current().pid()}")
    Util.deleteTree(work)
    val ctx = new Ctx(spark, new Gen(spark, a.seed), work, a.faults, a.tiny, a.trace)
    val bytes = new ByteCounter
    spark.sparkContext.addSparkListener(bytes)
    val tracer = new Tracer(work.toString)
    val failures = mutable.ArrayBuffer.empty[String]

    // ---- set-up: one tiny set-up pays the JVM's one-time class loading
    // and code generation, then the full set-up runs SetupReps times
    // (median reported); the last one is measured
    val coldS = {
      val t0 = System.nanoTime()
      val cold = Workload(a.workload, new Ctx(spark, ctx.gen, work, Set.empty, tiny = true, a.trace),
        work.resolve("cold"))
      cold.setup(); cold.close()
      Util.deleteTree(work.resolve("cold"))
      (System.nanoTime() - t0) / 1e9
    }
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var wl: Workload = null
    // a traced run reports no set-up time, so it sets up once
    for (r <- 0 until (if (a.trace) 1 else SetupReps)) {
      if (wl != null) wl.close()
      Util.deleteTree(work.resolve(s"setup_${r - 1}"))
      ctx.inputEntries.clear(); ctx.genRows = 0L
      val t0 = System.nanoTime()
      wl = Workload(a.workload, ctx, work.resolve(s"setup_$r"))
      wl.setup()
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    val setupFingerprint = Host.fingerprint(ctx.inputEntries.toSeq, ctx.fingerprintError)

    def runStep(step: Int): StepOut = {
      val out = wl.step(step)
      failures ++= out.failures
      out
    }

    // ---- warm-up steps (checked, not timed)
    val warm = (0 until WarmupSteps).flatMap { s => wl.prepare(s); runStep(s).units }

    // ---- timed window
    val hostBefore = Host.marks()
    bytes.sync(spark)
    val in0 = bytes.inputBytes.get; val out0 = bytes.outputBytes.get
    val timed = mutable.ArrayBuffer.empty[(StepOut, Boolean)]
    val perUnit = mutable.ArrayBuffer.empty[(UnitRec, Map[String, Double])]
    val isolated = mutable.ArrayBuffer.empty[Map[String, Double]]
    var programS = 0.0
    var readBytes, writtenBytes = 0L
    var prepareS = 0.0
    var step = WarmupSteps
    val windowStart = System.nanoTime()
    val maxWindowS = 3 * a.seconds + 60
    while (programS < a.seconds && (System.nanoTime() - windowStart) / 1e9 < maxWindowS) {
      val p0 = System.nanoTime()
      wl.prepare(step)
      prepareS += (System.nanoTime() - p0) / 1e9
      val traced = a.trace && step % 2 == 0
      if (traced) { tracer.clear(); tracer.attach(spark); ctx.tracing = true }
      val (r0, w0) = Host.procIo()
      val out = runStep(step)
      val (r1, w1) = Host.procIo()
      programS += out.callWallS
      readBytes += r1 - r0; writtenBytes += w1 - w0
      timed += out -> traced
      if (traced) {
        bytes.sync(spark)
        if (isolated.size < IsolatedSamples) {
          val sh0 = tracer.auxShuffleBytes.get
          val iso = Groups.under(spark, Groups.Aux)(wl.isolated(step))
          bytes.sync(spark)
          isolated += iso + ("operators.dedup_shuffle_bytes" -> (tracer.auxShuffleBytes.get - sh0).toDouble)
        }
        tracer.detach(spark); ctx.tracing = false
        val ledgerM = Host.ledgerCost(wl.ledger, wl.ledgerPath, wl.ledgerOpsPerUnit)
        out.units.foreach { u =>
          val v = tracer.unitView(u.startMs, u.endMs, u.wallS)
          perUnit += u -> (u.facts ++ ledgerM ++ Layers.ofView(v, u.wallS))
        }
        tracer.dump(step)
      }
      step += 1
    }
    bytes.sync(spark)
    val in1 = bytes.inputBytes.get; val out1 = bytes.outputBytes.get
    val hostAfter = Host.marks()

    // ---- output checks
    val checks = Groups.under(spark, Groups.Aux)(wl.checks()).map { case (n, r) =>
      r.foreach(e => failures += s"check '$n': $e")
      n -> r
    }

    val allUnits = warm ++ timed.flatMap(_._1.units)
    val attempted = allUnits.size
    val failedUnits = allUnits.count(!_.ok)
    val correct = failedUnits == 0 && failures.isEmpty && timed.nonEmpty
    val untracedUnits = timed.filterNot(_._2).flatMap(_._1.units)
    val walls = untracedUnits.map(_.wallS).toSeq
    val (tailP, tailV) = tail(walls)
    // history_slope compares whole steps (a drain's epochs stay together,
    // so both ends carry the same share of query start-ups)
    val stepWalls = untracedUnits.groupBy(_.step).toSeq.sortBy(_._1).map(_._2.map(_.wallS).toSeq)
    val third = (stepWalls.size + 2) / 3 // ceil: at least one step per end
    val srcBytes = untracedUnits.map(_.srcBytes).sum.toDouble
    val setupS = sessionS + coldS + median(setupTimes.toSeq)

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("rows_per_s", untracedUnits.filter(_.ok).map(_.srcRows).sum / programS, "1/s"),
        ("commit_s_p50", median(walls), "s"),
        ("commit_s_tail", tailV, "s"),
        ("history_slope", if (stepWalls.size < 2) 1.0
          else median(stepWalls.takeRight(third).flatten) / median(stepWalls.take(third).flatten), "ratio"),
        ("read_amp", readBytes / math.max(1.0, srcBytes), "ratio"),
        ("write_amp", writtenBytes / math.max(1.0, srcBytes), "ratio"),
        ("setup_s", setupS, "s"))
      else {
        val tracedWalls = perUnit.map(_._1.wallS).toSeq
        val overhead = median(tracedWalls) - median(walls)
        val streamEpochs = if (a.workload == "stream_drain") tracedWalls else Nil
        val derived = Map(
          "streaming.epoch_s" -> median(streamEpochs),
          "streaming.epochs" -> streamEpochs.size.toDouble,
          "trace.unit_wall_s" -> median(tracedWalls),
          "trace.overhead_s" -> overhead,
          "trace.overhead_ratio" -> overhead / math.max(1e-9, median(walls)))
        Layers.perLayer.map { case (n, unit) =>
          val v = derived.getOrElse(n, {
            val fromIso = isolated.flatMap(_.get(n))
            if (fromIso.nonEmpty) median(fromIso.toSeq)
            else median(perUnit.flatMap(_._2.get(n)).toSeq)
          })
          (n, v, unit)
        }
      }

    val detail = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "size" -> (if (a.tiny) "tiny" else "full"),
      "correct" -> correct, "attempted" -> attempted, "failed" -> failedUnits,
      "failed_ratio" -> failedUnits.toDouble / math.max(1, attempted),
      "failures" -> failures.take(20).toSeq,
      "checks" -> checks.map { case (n, r) => Json.obj("check" -> n, "ok" -> r.isEmpty, "note" -> r.getOrElse("")) },
      "metrics" -> metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) },
      "units" -> Json.obj("timed" -> walls.size, "traced" -> perUnit.size, "warmup" -> warm.size,
        "tail_percentile" -> tailP, "tail_samples" -> walls.size, "walls_s" -> walls, "program_s" -> programS, "prepare_s" -> prepareS,
        "window_s" -> (System.nanoTime() - windowStart) / 1e9, "source_bytes" -> srcBytes,
        "io_read_bytes" -> readBytes, "io_written_bytes" -> writtenBytes,
        "spark_input_bytes" -> (in1 - in0), "spark_output_bytes" -> (out1 - out0)),
      "setup" -> Json.obj("jvm_session_s" -> sessionS, "cold_tiny_setup_s" -> coldS,
        "reps_s" -> setupTimes.toSeq),
      "provenance" -> Json.obj("seed" -> a.seed, "generated_rows" -> ctx.genRows,
        "generated_bytes" -> ctx.inputEntries.map(_.split(":").last.toLong).sum,
        "setup_inputs_fingerprint" -> setupFingerprint,
        "inputs_fingerprint" -> Host.fingerprint(ctx.inputEntries.toSeq, ctx.fingerprintError),
        "input_files" -> ctx.inputEntries.size),
      "spark" -> Json.obj("master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "version" -> spark.version),
      "host" -> Json.obj("before" -> hostBefore, "after" -> hostAfter,
        "steal_share" -> Host.stealShare(hostBefore, hostAfter),
        "noisy" -> Host.noisy(hostBefore, hostAfter), "noisy_rule" -> Host.NoisyRule))
    println(Json.render(Json.obj("perfbench_detail" -> detail)))
    val traceDir = Files.createDirectories(work.getParent.getParent.resolve("trace"))
    if (a.trace) Files.write(traceDir.resolve(s"${a.workload}-s${a.seed}.json"), Json.render(Json.obj(
        "detail" -> detail,
        "spans" -> ctx.spans.map(s => Json.obj("step" -> s.step, "name" -> s.name,
          "start_ms" -> s.startMs, "dur_s" -> s.durS)).toSeq,
        "units" -> perUnit.map { case (u, m) => Json.obj("step" -> u.step, "start_ms" -> u.startMs,
          "end_ms" -> u.endMs, "wall_s" -> u.wallS, "layers" -> m.toSeq.sortBy(_._1)) }.toSeq,
        "attribution" -> tracer.dumped.toSeq)).getBytes(StandardCharsets.UTF_8))

    wl.close()
    graft.run.Runner.ChaosHooks.beforeReceiptProbe = None
    Util.deleteTree(work)
    println(Json.render(Json.obj("correct" -> correct, "attempted" -> attempted, "failed" -> failedUnits,
      "metrics" -> metrics.map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) })))
    if (correct) 0 else 1
  }
}
