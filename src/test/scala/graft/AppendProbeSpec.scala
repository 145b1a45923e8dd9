package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.contract.{ContractPolicy, RowRule}
import graft.core.{Descriptor, GraftError, Ledger}
import graft.pkg.PackageWriter
import graft.run.Runner

/** The Append receipt probe scans only the part files the run landed;
  * the older files are vouched for by the listing digest the prior
  * receipt recorded. These guard what the probe reads, the one full
  * probe after a receipt without a listing, that a committed file lost,
  * rewritten or added still fails the next Append, and that a failed
  * Append leaves the destination as its committed receipt describes. */
class AppendProbeSpec extends SparkSpec {

  private val scope = Descriptor.ScopeKey.Root.render

  /** Counts the SQL executions and records, per execution that scans
    * `dest` or its stage directory `<dest>.__stage`, the paths (files
    * or directories) its scans are rooted at. */
  private final class Recorder(dest: String) extends QueryExecutionListener {
    val executions = new AtomicInteger
    val destReads = new ConcurrentLinkedQueue[Set[String]]()

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      executions.incrementAndGet()
      val roots = qe.optimizedPlan.collect { case l: LogicalRelation => l.relation }
        .collect { case h: HadoopFsRelation => h.location.rootPaths.map(_.toUri.getPath) }
        .flatten.filter(p => p == dest || p.startsWith(s"$dest/") || p == s"$dest.__stage").toSet
      if (roots.nonEmpty) destReads.add(roots)
    }

    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      executions.incrementAndGet()
  }

  private def drainListenerBus(): Unit = {
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Run `body` with a [[Recorder]] attached, the listener bus drained
    * before (no earlier execution reaches it) and after. */
  private def recorded[A](dest: String)(body: => A): (A, Recorder) = {
    drainListenerBus()
    val rec = new Recorder(dest)
    spark.listenerManager.register(rec)
    try {
      val out = body
      drainListenerBus()
      (out, rec)
    } finally spark.listenerManager.unregister(rec)
  }

  private def events(n: Int, salt: Int): DataFrame =
    spark.range(n).select(
      (col("id") * 31 + salt).as("event_id"),
      (col("id") % 7).as("user_id"),
      (col("id") * 1.5).as("value"))

  private def config(id: String) = Runner.RunConfig(
    descriptor = Descriptor.ResourceDescriptor(
      id = id, schemaSource = Descriptor.SchemaSource.Discover,
      primaryKey = Seq("event_id"), cursor = None, disposition = Descriptor.Disposition.Append),
    policy = ContractPolicy(Seq(RowRule.Range("value_range", "value", 0, 600))))

  /** names of the `part-*` files in `dir` */
  private def parts(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("part-")).toSet
    finally s.close()
  }

  private def committedHash(ledger: Ledger, id: String) =
    ledger.committedHead(id, scope).map(_.packageHash)

  /** Loads of 400 and 300 rows into `<base>/dest`: a destination with
    * committed files of two generations. */
  private def twoLoads(base: String, ledger: Ledger, cfg: Runner.RunConfig) = {
    Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", s"$base/dest", ledger)
    Runner.run(spark, cfg, events(300, 1), s"$base/pkg2", s"$base/dest", ledger)
  }

  test("the 3rd Append's probe scans exactly the files it landed, in 3 SQL executions") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val cfg = config("probe_landed")
    twoLoads(base, ledger, cfg)
    val (r3, rec) = recorded(dest)(Runner.run(spark, cfg, events(200, 2), s"$base/pkg3", dest, ledger))
    assert(r3.committed && !r3.duplicate)
    assert(rec.executions.get == 3)
    val landed = parts(s"$base/pkg3/data")
    assert(landed.size > 1)
    assert(rec.destReads.asScala.toSeq == Seq(Set(s"$dest.__stage")))
    // the receipt still describes the whole table: a full audit verifies it
    assert(r3.receipt.rows == 900 && r3.receipt.listing.isDefined)
    assert(PackageWriter.verifyReceipt(Runner.readDest(spark, dest), r3.receipt))
  }

  test("after a receipt without a listing, one Append probes the whole destination, the next only its files") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val id = "probe_legacy"
    val cfg = config(id)
    val r1 = Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", dest, ledger)
    // a head committed by a ledger from before listings were recorded
    ledger.propose(id, scope, "legacy", None)
    ledger.commit(id, scope, "legacy", r1.receipt.copy(listing = None).toJsonString)
    val (r2, full) = recorded(dest)(Runner.run(spark, cfg, events(300, 1), s"$base/pkg2", dest, ledger))
    assert(r2.committed && r2.receipt.rows == 700 && r2.receipt.listing.isDefined)
    assert(full.destReads.asScala.toSeq == Seq(Set(s"$dest.__stage"), Set(dest)))
    val (r3, incr) = recorded(dest)(Runner.run(spark, cfg, events(200, 2), s"$base/pkg3", dest, ledger))
    assert(r3.committed && r3.receipt.rows == 900)
    assert(incr.destReads.asScala.toSeq == Seq(Set(s"$dest.__stage")))
    assert(PackageWriter.verifyReceipt(Runner.readDest(spark, dest), r3.receipt))
  }

  /** Each tampers with the committed files of a two-generation
    * destination between runs (`base`, `dest`). */
  private val tampers = Seq[(String, (String, String) => Unit)](
    "a committed file rewritten with other rows" -> { (base, dest) =>
      val victim = parts(s"$base/pkg1/data").head
      events(5, 9).coalesce(1).write.parquet(s"$base/planted")
      Files.deleteIfExists(Paths.get(s"$dest/.$victim.crc"))
      Files.move(Paths.get(s"$base/planted/${parts(s"$base/planted").head}"),
        Paths.get(s"$dest/$victim"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    },
    "a committed file deleted" -> { (base, dest) =>
      Files.delete(Paths.get(s"$dest/${parts(s"$base/pkg2/data").head}"))
    },
    "a foreign part- file added" -> { (_, dest) =>
      events(5, 9).coalesce(1).write.mode("append").parquet(dest)
    })

  for ((what, tamper) <- tampers)
    test(s"$what fails the next Append, which commits nothing") {
      val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
      val id = "probe_tamper"
      val cfg = config(id)
      val r2 = twoLoads(base, ledger, cfg)
      tamper(base, dest)
      val e = intercept[GraftError.Destination](
        Runner.run(spark, cfg, events(200, 2), s"$base/pkg3", dest, ledger))
      assert(e.getMessage.contains("receipt verification failed"))
      assert(committedHash(ledger, id).contains(r2.packageHash))
      assert(ledger.danglingProposals().nonEmpty)
    }

  test("a _landing- stray from a crashed landing is still ignored") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val cfg = config("probe_stray")
    twoLoads(base, ledger, cfg)
    val name = parts(s"$base/pkg1/data").head
    Files.copy(Paths.get(s"$base/pkg1/data/$name"), Paths.get(s"$dest/_landing-x-$name"))
    val r3 = Runner.run(spark, cfg, events(200, 2), s"$base/pkg3", dest, ledger)
    assert(r3.committed && r3.receipt.rows == 900)
    val r4 = Runner.run(spark, cfg, events(100, 3), s"$base/pkg4", dest, ledger)
    assert(r4.committed && r4.receipt.rows == 1000)
    assert(Runner.readDest(spark, dest).count() == 1000)
  }

  test("a failed Append removes the files it landed, and the next Append commits") {
    val base = tmpDir(); val ledger = Ledger.at(base); val dest = s"$base/dest"
    val id = "probe_unland"
    val cfg = config(id)
    val r1 = Runner.run(spark, cfg, events(400, 0), s"$base/pkg1", dest, ledger)
    Runner.ChaosHooks.beforeReceiptProbe = Some { d =>
      Files.delete(Paths.get(d, parts(s"$base/pkg2/data").head))
    }
    try {
      val e = intercept[GraftError.Destination](
        Runner.run(spark, cfg, events(300, 1), s"$base/pkg2", dest, ledger))
      assert(e.getMessage.contains("receipt verification failed"))
    } finally Runner.ChaosHooks.beforeReceiptProbe = None
    assert(committedHash(ledger, id).contains(r1.packageHash))
    assert(parts(dest) == parts(s"$base/pkg1/data"))
    val r3 = Runner.run(spark, cfg, events(200, 2), s"$base/pkg3", dest, ledger)
    assert(r3.committed && r3.receipt.rows == 600)
    assert(Runner.readDest(spark, dest).count() == 600)
  }
}
