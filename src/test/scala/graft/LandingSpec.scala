package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.contract.{ContractPolicy, RowRule}
import graft.core.{Descriptor, Ledger}
import graft.run.Runner

/** Append and Replace land the package's `data/` part files by file into
  * a stage dir (`<dest>.__stage` / `<dest>.__swap`), the receipt probe
  * reads the staged files with the package's written schema, and only a
  * verified landing is renamed into the destination. These guard what
  * the destination holds after a landing, that a stray file from a
  * crashed landing is invisible, and that a lost or foreign file never
  * commits. */
class LandingSpec extends SparkSpec {

  private val scope = Descriptor.ScopeKey.Root.render

  private def events(n: Int, salt: Int): DataFrame =
    spark.range(n).select(
      (col("id") * 31 + salt).as("event_id"),
      (col("id") % 7).as("user_id"),
      (col("id") * 1.5).as("value"))

  private def config(id: String, disposition: Descriptor.Disposition) = Runner.RunConfig(
    descriptor = Descriptor.ResourceDescriptor(
      id = id, schemaSource = Descriptor.SchemaSource.Discover,
      primaryKey = Seq("event_id"), cursor = None, disposition = disposition),
    policy = ContractPolicy(Seq(RowRule.Range("value_range", "value", 0, 600))))

  /** name -> byte size of the files in `dir` whose names satisfy `keep` */
  private def files(dir: String, keep: String => Boolean): Map[String, Long] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter(p => keep(p.getFileName.toString))
      .map((p: Path) => p.getFileName.toString -> Files.size(p)).toMap
    finally s.close()
  }
  private def parts(dir: String) = files(dir, _.startsWith("part-"))
  /** every file a reader could see: hidden (`.crc`) files aside */
  private def visible(dir: String) = files(dir, n => !n.startsWith("."))

  private def committedHash(ledger: Ledger, id: String) =
    ledger.committedHead(id, scope).map(_.packageHash)

  test("Append lands the package's part files by name and size, leaving no _landing- file") {
    val base = tmpDir(); val ledger = Ledger.at(base)
    val cfg = config("land_append", Descriptor.Disposition.Append)
    Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", s"$base/dest", ledger)
    val before = visible(s"$base/dest")
    val r2 = Runner.run(spark, cfg, events(300, 1), s"$base/pkg2", s"$base/dest", ledger)
    assert(r2.committed && !r2.duplicate)
    val pkgParts = parts(s"$base/pkg2/data")
    assert(pkgParts.size > 1)
    assert(visible(s"$base/dest") -- before.keys == pkgParts)
    assert(files(s"$base/dest", _.contains("_landing-")).isEmpty)
    assert(Runner.readDest(spark, s"$base/dest").count() == 700)
  }

  test("Replace leaves exactly the package's part files") {
    val base = tmpDir(); val ledger = Ledger.at(base)
    val cfg = config("land_replace", Descriptor.Disposition.Replace)
    Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", s"$base/dest", ledger)
    val r2 = Runner.run(spark, cfg, events(300, 1), s"$base/pkg2", s"$base/dest", ledger)
    assert(r2.committed)
    assert(visible(s"$base/dest") == parts(s"$base/pkg2/data"))
    assert(files(base, n => n.startsWith("dest.")).isEmpty) // no __swap / __old left
    assert(Runner.readDest(spark, s"$base/dest").count() == 300)
  }

  test("a stray _landing- file from a crashed landing is invisible, and the next run commits") {
    val base = tmpDir(); val ledger = Ledger.at(base)
    val cfg = config("land_stray", Descriptor.Disposition.Append)
    Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", s"$base/dest", ledger)
    // a crash mid-copy: a readable parquet file left under its landing name
    val (name, _) = parts(s"$base/pkg1/data").head
    Files.copy(Paths.get(s"$base/pkg1/data/$name"), Paths.get(s"$base/dest/_landing-x-$name"))
    assert(Runner.readDest(spark, s"$base/dest").count() == 400)
    val r2 = Runner.run(spark, cfg, events(300, 1), s"$base/pkg2", s"$base/dest", ledger)
    assert(r2.committed && r2.receipt.rows == 700)
    assert(committedHash(ledger, "land_stray").contains(r2.packageHash))
  }

  for (disposition <- Seq(Descriptor.Disposition.Append, Descriptor.Disposition.Replace))
    test(s"$disposition: a landed file lost before the probe fails the receipt and commits nothing") {
      val base = tmpDir(); val ledger = Ledger.at(base)
      val id = s"land_lost_$disposition"
      val cfg = config(id, disposition)
      val r1 = Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", s"$base/dest", ledger)
      Runner.ChaosHooks.beforeReceiptProbe = Some { destDir =>
        val landed = parts(s"$base/pkg2/data").keys.head
        Files.delete(Paths.get(destDir, landed))
      }
      try {
        val e = intercept[graft.core.GraftError.Destination](
          Runner.run(spark, cfg, events(300, 1), s"$base/pkg2", s"$base/dest", ledger))
        assert(e.getMessage.contains("receipt verification failed"))
      } finally Runner.ChaosHooks.beforeReceiptProbe = None
      assert(committedHash(ledger, id).contains(r1.packageHash))
      assert(ledger.danglingProposals().nonEmpty)
    }

  test("an empty package lands and verifies, also as the first load onto a missing destination") {
    val base = tmpDir(); val ledger = Ledger.at(base)
    // every row breaks the range rule: 0 accepted, all quarantined
    val rejected = events(50, 0).withColumn("value", col("value") + 1000)
    val append = config("land_empty", Descriptor.Disposition.Append)
    val r1 = Runner.run(spark, append, rejected, s"$base/pkg1", s"$base/dest", ledger)
    assert(r1.committed && r1.accepted == 0 && r1.quarantined == 50 && r1.receipt.rows == 0)
    assert(visible(s"$base/dest").keySet == parts(s"$base/pkg1/data").keySet)
    val r2 = Runner.run(spark, append, events(300, 1), s"$base/pkg2", s"$base/dest", ledger)
    assert(r2.committed && r2.receipt.rows == 300)

    val replace = config("land_empty_replace", Descriptor.Disposition.Replace)
    val r3 = Runner.run(spark, replace, rejected, s"$base/pkg3", s"$base/dest_r", ledger)
    assert(r3.committed && r3.receipt.rows == 0)
    Runner.run(spark, replace, events(300, 1), s"$base/pkg4", s"$base/dest_r", ledger)
    // a different quarantine count: a new package, not a replay of pkg3
    val r5 = Runner.run(spark, replace, rejected.limit(40), s"$base/pkg5", s"$base/dest_r", ledger)
    assert(r5.committed && r5.receipt.rows == 0)
    assert(visible(s"$base/dest_r") == parts(s"$base/pkg5/data"))
  }

  /** The probe reads with the package's schema: a destination file whose
    * columns differ must not pass as the table's rows. The planted file
    * holds the same rows as the landed files it replaces, so only the
    * schema (not the row count) can catch it. */
  for ((what, alter) <- Seq[(String, DataFrame => DataFrame)](
      "lacks a column" -> (_.drop("value")),
      "has a column of another type" -> (_.withColumn("user_id", col("user_id").cast("string")))))
    test(s"Append probe: a destination file that $what fails the next run, which never commits") {
      val base = tmpDir(); val ledger = Ledger.at(base)
      val cfg = config("probe_schema", Descriptor.Disposition.Append)
      val r1 = Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", s"$base/dest", ledger)
      alter(Runner.readDest(spark, s"$base/dest")).coalesce(1).write.parquet(s"$base/planted")
      parts(s"$base/dest").keys.foreach(n => Files.delete(Paths.get(s"$base/dest/$n")))
      parts(s"$base/planted").keys.foreach(n =>
        Files.move(Paths.get(s"$base/planted/$n"), Paths.get(s"$base/dest/$n")))
      val e = intercept[Exception](
        Runner.run(spark, cfg, events(300, 1), s"$base/pkg2", s"$base/dest", ledger))
      assert(e.isInstanceOf[graft.core.GraftError.Destination] || e.isInstanceOf[org.apache.spark.SparkException],
        s"expected a receipt mismatch or a read error, got $e")
      if (e.isInstanceOf[graft.core.GraftError.Destination])
        assert(e.getMessage.contains("receipt verification failed"))
      assert(committedHash(ledger, "probe_schema").contains(r1.packageHash))
      assert(ledger.danglingProposals().nonEmpty)
    }
}
