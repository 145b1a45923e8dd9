package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.contract.{ContractPolicy, RowRule}
import graft.core.{Descriptor, GraftError, Ledger}
import graft.pkg.PackageWriter
import graft.run.Runner

/** Every disposition stages its output in a sibling `<dest>.__*`
  * directory, probes it there, and publishes it into the destination
  * only on a verified receipt. These guard that a refused run leaves the
  * destination exactly as its committed receipt describes, and that a
  * stage directory left by a crashed run is never published and is
  * cleared by the next run. */
class StagedPublishSpec extends SparkSpec {

  private val scope = Descriptor.ScopeKey.Root.render

  private val dispositions = Seq[(String, Descriptor.Disposition)](
    "Append" -> Descriptor.Disposition.Append,
    "Replace" -> Descriptor.Disposition.Replace,
    "Merge" -> Descriptor.Disposition.Merge(Seq("event_id")),
    "CdcApply" -> Descriptor.Disposition.CdcApply(Seq("event_id"), "op"))

  /** `n` rows whose keys `id * 31 + salt` differ between salts; a
    * CdcApply source carries its `op` column. */
  private def events(n: Int, salt: Int, disposition: Descriptor.Disposition): DataFrame = {
    val rows = spark.range(n).select(
      (col("id") * 31 + salt).as("event_id"),
      (col("id") % 7).as("user_id"),
      (col("id") * 1.5).as("value"))
    disposition match {
      case _: Descriptor.Disposition.CdcApply => rows.withColumn("op", lit("insert"))
      case _ => rows
    }
  }

  private def config(id: String, disposition: Descriptor.Disposition) = Runner.RunConfig(
    descriptor = Descriptor.ResourceDescriptor(
      id = id, schemaSource = Descriptor.SchemaSource.Discover,
      primaryKey = Seq("event_id"), cursor = None, disposition = disposition),
    policy = ContractPolicy(Seq(RowRule.Range("value_range", "value", 0, 600))))

  /** the files under `dir`, at any depth */
  private def walk(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
    finally s.close()
  }

  /** the `<dest>.__*` siblings of `<base>/dest` */
  private def stageDirs(base: String): Seq[String] = {
    val s = Files.list(Paths.get(base))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("dest.__")).toList
    finally s.close()
  }

  private def headReceipt(ledger: Ledger, id: String) =
    PackageWriter.Receipt.fromJson(ledger.committedHead(id, scope).get.receipt.get)

  // Append's refusal is covered by AppendProbeSpec's failed-Append test
  for ((name, disposition) <- dispositions.drop(1))
    test(s"$name: a refused run leaves the destination as its committed receipt describes") {
      val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
      val id = s"refused_$name"
      val cfg = config(id, disposition)
      Runner.run(spark, cfg, events(400, 0, disposition), s"$base/pkg1", dest, ledger)
      // the fault: one staged part file vanishes before the receipt probe
      Runner.ChaosHooks.beforeReceiptProbe = Some { dir =>
        Files.delete(walk(dir).find(_.getFileName.toString.startsWith("part-")).get)
      }
      try {
        val e = intercept[GraftError.Destination](
          Runner.run(spark, cfg, events(300, 1, disposition), s"$base/pkg2", dest, ledger))
        assert(e.getMessage.contains("receipt verification failed"))
      } finally Runner.ChaosHooks.beforeReceiptProbe = None
      val head = headReceipt(ledger, id)
      assert(head.rows == 400)
      assert(PackageWriter.verifyReceipt(Runner.readDest(spark, dest), head))
      assert(Runner.readDest(spark, dest).count() == 400)
      assert(stageDirs(base).isEmpty)
    }

  /** The stage directory each disposition writes, and where in it a
    * crashed run's part file sits. */
  private def leftover(disposition: Descriptor.Disposition): String = disposition match {
    case Descriptor.Disposition.Append => "dest.__stage"
    case Descriptor.Disposition.Replace => "dest.__swap"
    case _ => s"dest.__mergegen/${Runner.MergeBucketCol}=0"
  }

  for ((name, disposition) <- dispositions)
    test(s"$name: a crashed run's stage directory is cleared and never published") {
      val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
      val id = s"leftover_$name"
      val cfg = config(id, disposition)
      Runner.run(spark, cfg, events(400, 0, disposition), s"$base/pkg1", dest, ledger)
      // a crash after staging: foreign rows (keys = 9 mod 31) left in the stage dir
      val planted = s"$base/planted"
      events(5, 9, disposition).drop("op").coalesce(1).write.parquet(planted)
      val part = walk(planted).find(_.getFileName.toString.startsWith("part-")).get
      val stage = Paths.get(base, leftover(disposition))
      Files.createDirectories(stage)
      Files.move(part, stage.resolve(part.getFileName))
      val r2 = Runner.run(spark, cfg, events(300, 1, disposition), s"$base/pkg2", dest, ledger)
      assert(r2.committed && !r2.duplicate)
      assert(ledger.committedHead(id, scope).map(_.packageHash).contains(r2.packageHash))
      val table = Runner.readDest(spark, dest)
      assert(table.count() == (if (disposition == Descriptor.Disposition.Replace) 300 else 700))
      assert(table.filter(col("event_id") % 31 === 9).isEmpty)
      assert(stageDirs(base).isEmpty)
    }
}
