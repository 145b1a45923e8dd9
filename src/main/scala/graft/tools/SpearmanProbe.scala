package graft.tools

import java.util.Locale

/** A/B every q_spearman knob combination (r15 VERDICT item 6: the
  * probe-claimed 2.65s win was not in the shipped artifact; decide the
  * shipped configuration from measurement, not belief).
  *
  * runMain graft.tools.SpearmanProbe <sfDir> [reps]
  *
  * `spearmanDf` computes its one-row result eagerly, so the formatted
  * plans of the r15 and r16 shapes are kept as the committed
  * `plans/r16/q_spearman_{before,after}.txt` rather than re-dumped.
  */
object SpearmanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus, cpus)
    def f(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))
    val gate = 4L << 20
    val variants: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("spread+persist+x+ygate (shipped)", () =>
        graft.catalog.RankStatsQueries.spearmanDf(spark, sfDir, true, true, true, gate)),
      ("spread+persist+x+y-nohint", () =>
        graft.catalog.RankStatsQueries.spearmanDf(spark, sfDir, true, true, true, -1L)),
      ("nospread+persist+x+ygate", () =>
        graft.catalog.RankStatsQueries.spearmanDf(spark, sfDir, false, true, true, gate)),
      ("spread+nopersist+x+ygate", () =>
        graft.catalog.RankStatsQueries.spearmanDf(spark, sfDir, true, false, true, gate)),
      ("nospread+nopersist+x+ygate", () =>
        graft.catalog.RankStatsQueries.spearmanDf(spark, sfDir, false, false, true, gate)),
      ("nohints at all", () =>
        graft.catalog.RankStatsQueries.spearmanDf(spark, sfDir, true, true, false, -1L)))
    variants.foreach { case (name, build) =>
      build().write.format("noop").mode("overwrite").save() // warmup
      val walls = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        build().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      println(s"[spearman] ${name.padTo(34, ' ')} min=${f(walls.head)} " +
        s"med=${f(walls(walls.length / 2))} max=${f(walls.last)}")
    }
    spark.stop()
  }
}
