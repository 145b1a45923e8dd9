package graft

import java.nio.file.{Files, Paths}

import graft.core.CanonicalJson._
import graft.tools.Probe

/** `tools.Probe` on the shared session: the artifact's shape, failing
  * loudly, plan-only runs, and a conf A/B and cached data that leave
  * the session as it found it. */
class ProbeSpec extends SparkSpec {

  /** Runs the probe, returning its exit code and what it printed. */
  private def probe(args: String*): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream
    val code = Console.withOut(buf)(Probe.run(spark, args.toArray))
    assert(!spark.sparkContext.isStopped, "the probe must not stop the caller's session")
    (code, buf.toString("UTF-8"))
  }

  private def artifact(path: String): Map[String, J] =
    objFields(parse(Files.readString(Paths.get(path))))

  private def cells(a: Map[String, J]): Map[String, Seq[Double]] =
    objFields(a("cells")).map {
      case (k, JArr(v)) => k -> v.map { case JNum(d) => d; case o => fail(s"$k: $o") }
      case (k, o) => fail(s"$k: $o")
    }

  test("two queries, two rounds: the scale_x*.json keys plus failed, one ordered cell per query") {
    val out = s"${tmpDir()}/x.json"
    val (code, printed) = probe("--sf", sf(), "--query", "q1_agg,q3_join", "--reps", "2",
      "--jobs", "--out", out, "--tier", "t")
    assert(code == 0, printed)
    val a = artifact(out)
    assert(a.keySet == Set("tier", "dir", "cpus", "reps", "cells", "failed"))
    assert(a("tier") == JStr("t") && a("dir") == JStr(sf()) && a("reps") == JInt(2))
    assert(a("failed") == JArr(Nil))
    val c = cells(a)
    assert(c.keySet == Set("q1_agg", "q3_join"))
    c.values.foreach { case Seq(lo, med, hi) => assert(lo <= med && med <= hi, c) }
    // --jobs: the last timed rep of each cell ran at least one job
    Seq("q1_agg", "q3_join").foreach(q => assert(printed.contains(s"[probe] $q job "), printed))
  }

  test("a query that throws is listed in failed, left out of cells, and the run returns 1") {
    val out = s"${tmpDir()}/x.json"
    val (code, _) = probe("--sf", tmpDir(), "--query", "q1_agg", "--out", out, "--tier", "t")
    assert(code == 1)
    val a = artifact(out)
    assert(a("failed") == JArr(Seq(JStr("q1_agg"))))
    assert(cells(a).isEmpty)
  }

  test("--reps 0 writes the formatted plan and times nothing") {
    val dir = tmpDir()
    val (code, printed) = probe("--sf", sf(), "--query", "q1_agg", "--reps", "0", "--plan", dir)
    assert(code == 0)
    assert(Files.readString(Paths.get(dir, "q1_agg.txt")).contains("== Physical Plan =="))
    assert(!printed.contains("min="), printed)
  }

  test("--conf times both sides and leaves the session's value as it found it") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.getOption(key)
    val out = s"${tmpDir()}/x.json"
    val (code, printed) = probe("--sf", sf(), "--query", "q1_agg", "--reps", "1",
      "--conf", s"$key=3", "--out", out, "--tier", "t")
    assert(code == 0, printed)
    assert(cells(artifact(out)).keySet == Set("q1_agg", "q1_agg:B"))
    Seq("[probe] q1_agg min=", "[probe] q1_agg:B min=").foreach(l => assert(printed.contains(l), printed))
    assert(spark.conf.getOption(key) == before)
  }

  test("queries that keep data leave nothing cached once the probe returns") {
    dropCached()
    val (code, printed) = probe("--sf", sf(), "--query", "q_mad_outliers,q_dup_clusters",
      "--reps", "1", "--plan", tmpDir())
    assert(code == 0, printed)
    assert(nothingCached)
  }
}
