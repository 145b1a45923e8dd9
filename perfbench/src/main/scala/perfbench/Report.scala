package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import graft.core.Ledger

/** The per-layer metrics the traced run prints, with their units. */
object Layers {
  val perLayer: Seq[(String, String)] = Seq(
    "contract.validate_s" -> "s", "contract.accept_ratio" -> "ratio",
    "operators.dedup_s" -> "s", "operators.dedup_shuffle_bytes" -> "bytes",
    "operators.late_recapture_rows" -> "count", "operators.late_quarantine_rows" -> "count",
    "pkg.write_s" -> "s", "pkg.readback_s" -> "s", "pkg.bytes_written" -> "bytes",
    "pkg.bytes_read" -> "bytes", "pkg.segments" -> "count",
    "run.dest_write_s" -> "s", "run.touched_buckets" -> "count", "run.receipt_probe_s" -> "s",
    "run.probe_rows_per_package_row" -> "ratio",
    "run.jobs" -> "count", "run.queries" -> "count", "run.tasks" -> "count",
    "run.planning_s" -> "s", "run.driver_s" -> "s", "run.gc_s" -> "s", "run.spill_bytes" -> "bytes",
    "run.unattributed_share" -> "ratio",
    "sources.discover_s" -> "s", "sources.files_listed" -> "count", "sources.files_new" -> "count",
    "core.ledger_s" -> "s", "core.ledger_entries" -> "count", "core.ledger_bytes" -> "bytes",
    "streaming.epoch_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.epochs" -> "count",
    "streaming.carryover_rows" -> "count",
    "trace.unit_wall_s" -> "s", "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio")

  /** Layer metrics of one unit from its trace view. `run.driver_s` is the
    * unit wall minus the time covered by its SQL executions and jobs, so
    * attributed time plus `run.driver_s` equals the wall by construction. */
  def ofView(v: UnitView, wallS: Double): Map[String, Double] = Map(
    "pkg.write_s" -> v.layerS.getOrElse("pkg.write", 0.0),
    "pkg.readback_s" -> v.layerS.getOrElse("pkg.readback", 0.0),
    "pkg.bytes_written" -> v.layerOutBytes.getOrElse("pkg.write", 0.0),
    "pkg.bytes_read" -> v.layerScanBytes.getOrElse("pkg.readback", 0.0),
    "run.dest_write_s" -> v.layerS.getOrElse("run.dest_write", 0.0),
    "run.receipt_probe_s" -> v.layerS.getOrElse("run.receipt_probe", 0.0),
    "run.jobs" -> v.jobs.toDouble, "run.queries" -> v.execs.size.toDouble,
    "run.tasks" -> v.tasks.toDouble, "run.planning_s" -> v.planningS, "run.gc_s" -> v.gcS,
    "run.spill_bytes" -> v.spillBytes.toDouble,
    "run.driver_s" -> (wallS - v.attributedS),
    "run.unattributed_share" -> (wallS - v.attributedS) / math.max(1e-9, wallS))
}

/** Host state, input fingerprint and ledger cost probes. */
object Host {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(java.nio.file.Paths.get(p)), StandardCharsets.UTF_8))
    catch { case _: Exception => None }

  /** Cumulative (steal, total) jiffies over all CPUs from /proc/stat. On a
    * virtual machine steal is the time the host ran someone else. */
  private def cpuTicks(): (Long, Long) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val v = l.trim.split("\\s+").drop(1).take(8).map(_.toLong) // user .. steal
      (if (v.length == 8) v(7) else 0L, v.sum)
    }.getOrElse((0L, 0L))

  /** 1-minute loadavg, PSI cpu "some avg10" (percent; -1 when absent) and
    * the cumulative CPU steal and total ticks. */
  def marks(): Json.Obj = {
    val (steal, total) = cpuTicks()
    val la = read("/proc/loadavg").flatMap(_.split(" ").headOption).flatMap(_.toDoubleOption)
    val psi = read("/proc/pressure/cpu").flatMap(_.linesIterator.find(_.startsWith("some")))
      .flatMap(_.split(" ").find(_.startsWith("avg10=")).flatMap(_.stripPrefix("avg10=").toDoubleOption))
    Json.obj("loadavg1" -> la.getOrElse(-1.0), "psi_cpu_some_avg10" -> psi.getOrElse(-1.0),
      "cpu_steal_ticks" -> steal, "cpu_ticks" -> total, "epoch_ms" -> System.currentTimeMillis())
  }

  /** Share of CPU time stolen by the host between two marks. */
  def stealShare(before: Json.Obj, after: Json.Obj): Double = {
    def d(k: String) = after(k).asInstanceOf[Long] - before(k).asInstanceOf[Long]
    d("cpu_steal_ticks").toDouble / math.max(1L, d("cpu_ticks"))
  }

  /** Bytes this process moved through read/write system calls so far
    * (`rchar`, `wchar` of /proc/self/io), page-cache hits included. */
  def procIo(): (Long, Long) = {
    val f = read("/proc/self/io").map(_.linesIterator.map(_.split(":\\s*")).collect {
      case Array(k, v) => k -> v.trim.toLong }.toMap).getOrElse(Map.empty)
    (f.getOrElse("rchar", 0L), f.getOrElse("wchar", 0L))
  }

  val NoisyRule = "PSI cpu some avg10 > 20% before or after the window, or CPU steal > 5% during it"
  def noisy(before: Json.Obj, after: Json.Obj): Boolean =
    Seq(before, after).exists(m => m("psi_cpu_some_avg10").asInstanceOf[Double] > 20.0) ||
      stealShare(before, after) > 0.05

  /** sha256 over sorted `path:size` entries of the generated inputs, or an
    * explicit `empty` / `error: ...` marker. */
  def fingerprint(entries: Seq[String], error: Option[String]): String =
    error.map(e => s"error: $e").getOrElse {
      if (entries.isEmpty) "empty"
      else java.security.MessageDigest.getInstance("SHA-256")
        .digest(entries.sorted.mkString("\n").getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }

  /** `core.ledger_s`: one timed `entries()` at the ledger's current size
    * times the reads the program makes per unit. */
  def ledgerCost(ledger: Ledger, path: Path, opsPerUnit: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    val n = ledger.entries().size
    val s = (System.nanoTime() - t0) / 1e9
    Map("core.ledger_s" -> s * opsPerUnit, "core.ledger_entries" -> n.toDouble,
      "core.ledger_bytes" -> (if (Files.exists(path)) Files.size(path).toDouble else 0.0))
  }
}

/** Minimal JSON rendering for the result lines and the trace file. */
object Json {
  type Obj = ListMap[String, Any]
  def obj(kv: (String, Any)*): Obj = ListMap(kv: _*)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => "\"" + esc(k.toString) + "\":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] =>
      if (xs.forall(_.isInstanceOf[(_, _)]) && xs.nonEmpty)
        render(ListMap(xs.map(_.asInstanceOf[(Any, Any)]).map { case (k, x) => k.toString -> x }.toSeq: _*))
      else xs.map(render).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
}
