package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.contract.{ContractPolicy, RowRule}
import graft.core.{Descriptor, GraftError, Ledger}
import graft.pkg.PackageWriter
import graft.run.Runner

/** Every committed receipt describes the whole destination table, for
  * every disposition: the prior receipt, less what the run displaced,
  * plus what it staged, with the destination's listing. These guard that
  * a full audit ([[PackageWriter.verifyReceipt]] over the logical table)
  * holds after every Merge and CdcApply, that a file changed in a bucket
  * a Merge does not touch still fails it, and that a replay returns the
  * committed head's receipt. */
class ReceiptSpec extends SparkSpec {

  private val scope = Descriptor.ScopeKey.Root.render

  /** Rows keyed `event_id` in `[from, from + n)`; `salt` changes the values. */
  private def events(n: Int, salt: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n).select(
      col("id").as("event_id"),
      (col("id") % 7).as("user_id"),
      ((col("id") * 1.5 + salt) % 600).as("value"))

  private def ops(n: Int, salt: Int, from: Long, op: String): DataFrame =
    events(n, salt, from).withColumn("op", lit(op))

  private def config(id: String, disposition: Descriptor.Disposition, buckets: Int = 64) =
    Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = id, schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("event_id"), cursor = None, disposition = disposition),
      policy = ContractPolicy(Seq(RowRule.Range("value_range", "value", 0, 600))),
      mergeBuckets = buckets)

  private def head(ledger: Ledger, id: String) =
    PackageWriter.Receipt.fromJson(ledger.committedHead(id, scope).get.receipt.get)

  /** The committed head audits the whole destination and counts its rows. */
  private def assertWhole(ledger: Ledger, id: String, dest: String, rows: Long): Unit = {
    val h = head(ledger, id)
    val table = Runner.readDest(spark, dest)
    assert(h.rows == rows && table.count() == rows)
    assert(h.listing.isDefined)
    assert(PackageWriter.verifyReceipt(table, h))
  }

  test("after a first load and 3 Merges, every head audits the whole destination") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val id = "whole_merge"
    val cfg = config(id, Descriptor.Disposition.Merge(Seq("event_id")))
    Runner.run(spark, cfg, events(400, 0), s"$base/pkg0", dest, ledger)
    assertWhole(ledger, id, dest, 400)
    // 50 upserts; 50 upserts + 30 new keys; 30 upserts of keys the 2nd added
    Seq(events(50, 1, 100) -> 400L, events(80, 2, 350) -> 430L, events(30, 3, 400) -> 430L)
      .zipWithIndex.foreach { case ((df, rows), i) =>
        val r = Runner.run(spark, cfg, df, s"$base/pkg${i + 1}", dest, ledger)
        assert(r.committed && !r.duplicate && r.receipt.destination.contains("#buckets="))
        assertWhole(ledger, id, dest, rows)
      }
  }

  test("after 3 CdcApply units with terminal deletes, every head audits the whole destination") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val id = "whole_cdc"
    val cfg = config(id, Descriptor.Disposition.CdcApply(Seq("event_id"), "op"))
    Runner.run(spark, cfg, ops(400, 0, 0, "insert"), s"$base/pkg0", dest, ledger)
    assertWhole(ledger, id, dest, 400)
    val units = Seq(
      // 50 updates, 30 deletes, 20 inserts
      ops(50, 1, 0, "update").unionByName(ops(30, 0, 50, "delete"))
        .unionByName(ops(20, 1, 400, "insert")) -> 390L,
      // deletes of 10 keys the last unit inserted and of 20 older ones
      ops(10, 1, 400, "delete").unionByName(ops(20, 0, 100, "delete"))
        .unionByName(ops(10, 2, 0, "update")) -> 360L,
      // 40 deletes, and 5 deletes of keys never loaded
      ops(40, 0, 200, "delete").unionByName(ops(5, 0, 900, "delete")) -> 320L)
    units.zipWithIndex.foreach { case ((df, rows), i) =>
      val r = Runner.run(spark, cfg, df, s"$base/pkg${i + 1}", dest, ledger)
      assert(r.committed && !r.duplicate)
      assertWhole(ledger, id, dest, rows)
    }
  }

  test("a 50-key upsert onto a 400-row Merge destination commits a 400-row head") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val cfg = config("upsert_head", Descriptor.Disposition.Merge(Seq("event_id")))
    Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", dest, ledger)
    val r = Runner.run(spark, cfg, events(50, 1, 100), s"$base/pkg2", dest, ledger)
    assert(r.receipt.rows == 400)
    assert(PackageWriter.verifyReceipt(Runner.readDest(spark, dest), r.receipt))
  }

  test("a Merge whose every row is quarantined commits the prior head's table") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val id = "empty_merge"
    val cfg = config(id, Descriptor.Disposition.Merge(Seq("event_id")))
    Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", dest, ledger)
    val r = Runner.run(spark, cfg, events(50, 0, 100).withColumn("value", lit(1000.0)),
      s"$base/pkg2", dest, ledger)
    assert(r.committed && !r.duplicate && r.accepted == 0)
    assertWhole(ledger, id, dest, 400)
  }

  /** the files under `dir`, at any depth, with their size and mtime */
  private def files(dir: String): Map[Path, (Long, Long)] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  test("a file rewritten in a bucket the next Merge does not touch fails it, which commits nothing") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val id = "untouched_tamper"
    val cfg = config(id, Descriptor.Disposition.Merge(Seq("event_id")), buckets = 8)
    val r1 = Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", dest, ledger)
    // the next package upserts keys of one bucket only
    val layout = spark.read.parquet(dest)
    val Seq(touched, other) = layout.select(Runner.MergeBucketCol).distinct()
      .orderBy(Runner.MergeBucketCol).limit(2).collect().map(_.getInt(0)).toSeq
    val keys = layout.filter(col(Runner.MergeBucketCol) === touched).select("event_id")
      .limit(10).collect().map(_.getLong(0)).toSeq
    // the fault: a part file of the other bucket rewritten with other rows
    val victim = files(s"$dest/${Runner.MergeBucketCol}=$other").keys
      .find(_.getFileName.toString.startsWith("part-")).get
    events(5, 9, 1000).coalesce(1).write.parquet(s"$base/planted")
    val planted = files(s"$base/planted").keys.find(_.getFileName.toString.startsWith("part-")).get
    Files.deleteIfExists(victim.resolveSibling(s".${victim.getFileName}.crc"))
    Files.move(planted, victim, StandardCopyOption.REPLACE_EXISTING)
    val tampered = files(dest)

    val e = intercept[GraftError.Destination](Runner.run(spark, cfg,
      events(400, 1).filter(col("event_id").isin(keys: _*)), s"$base/pkg2", dest, ledger))
    assert(e.getMessage.contains("receipt verification failed"))
    assert(ledger.committedHead(id, scope).map(_.packageHash).contains(r1.packageHash))
    assert(ledger.danglingProposals().nonEmpty)
    assert(files(dest) == tampered)
    assert(!Files.exists(Paths.get(s"$dest.__mergegen")))
  }

  test("replaying the second of two Appends returns the committed head's receipt") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val cfg = config("replay_head", Descriptor.Disposition.Append)
    Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", dest, ledger)
    val r2 = Runner.run(spark, cfg, events(300, 1, 1000), s"$base/pkg2", dest, ledger)
    val replay = Runner.run(spark, cfg, events(300, 1, 1000), s"$base/pkg2", dest, ledger)
    assert(replay.duplicate && replay.receipt == r2.receipt)
    assert(replay.receipt.rows == 700)
    assert(Runner.readDest(spark, dest).count() == 700)
  }
}
