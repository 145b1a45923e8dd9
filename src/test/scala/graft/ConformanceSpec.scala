package graft

import graft.contract.{ContractPolicy, DepthController, RowRule}
import graft.core.{Descriptor, Ledger, SystemTables}
import graft.run.Runner

/** The reference's conformance spine re-expressed (SURVEY §5): chaos
  * kill-points, golden-manifest determinism, depth rings,
  * reconciliation, drift report. */
class ConformanceSpec extends SparkSpec {

  private def ordersCfg(disposition: Descriptor.Disposition) = Runner.RunConfig(
    descriptor = Descriptor.ResourceDescriptor(
      id = "orders_r", schemaSource = Descriptor.SchemaSource.Discover,
      primaryKey = Seq("o_orderkey"), cursor = None, disposition = disposition),
    policy = ContractPolicy(Seq(RowRule.Nullability("nn", "o_orderkey"))),
    orderColumns = Seq("o_orderkey"))

  test("golden determinism: repeated runs produce an identical package hash") {
    val source = graft.core.Tables(spark, sf(), "orders")
    val cfg = ordersCfg(Descriptor.Disposition.Append)
    val (d1, d2) = (tmpDir(), tmpDir())
    val r1 = Runner.run(spark, cfg, source, s"$d1/pkg", s"$d1/dest", Ledger.at(d1))
    val r2 = Runner.run(spark, cfg, source.repartition(7), s"$d2/pkg", s"$d2/dest", Ledger.at(d2))
    assert(r1.packageHash == r2.packageHash) // across runs AND partition counts
  }

  test("golden fixture: pinned package hash (identity must never drift silently)") {
    // the golden-package discipline (cdf conformance golden/ fixtures):
    // a fixed input must produce THIS hash, across runs, partition
    // counts and refactors; changing manifest format/hashing is only
    // legal with a deliberate update of this constant.
    import spark.implicits._
    val df = Seq(
      (1L, "alpha", 10.5), (2L, "beta", 20.25), (3L, "gamma", 30.75)
    ).toDF("id", "name", "value")
    val r = graft.pkg.PackageWriter.write(df.repartition(3), None, tmpDir(), "golden_r", "plan0")
    assert(r.packageHash ==
      "e43a446ba5411ea2fac72a1831c9c0b43d79077718e9713f610f326634161303")
  }

  test("chaos: crash between propose and commit leaves a dangling proposal; resume settles it") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    // simulate the crash window: proposal recorded, commit never happened
    ledger.propose("orders_r", "root", "pkg_hash_x", None)
    assert(ledger.danglingProposals().map(_.packageHash) == Seq("pkg_hash_x"))
    assert(ledger.committedHead("orders_r", "root").isEmpty)
    // recovery: a full re-run of the same source settles the scope
    val source = graft.core.Tables(spark, sf(), "orders")
    val r = Runner.run(spark, ordersCfg(Descriptor.Disposition.Append),
      source, s"$base/pkg", s"$base/dest", ledger)
    assert(r.committed)
    assert(ledger.committedHead("orders_r", "root").map(_.packageHash) == Some(r.packageHash))
    // the abandoned proposal remains visible history, never a head
    assert(ledger.entries().exists(e => e.packageHash == "pkg_hash_x" && e.state == "proposed"))
  }

  test("validation depth rings: discovery → full → sampled, demote on anomaly") {
    import DepthController._
    val cfg = Config(promoteAfterCleanRuns = 2, sampleFraction = 0.5)
    var s = State(Discovery, 0)
    val (s1, t1) = advance(s, 0, cfg); s = s1
    assert(s.ring == Full && t1.exists(_.reason.contains("first clean")))
    val (s2, t2) = advance(s, 0, cfg); s = s2
    assert(s.ring == Sampled(0.5) && t2.isDefined) // promoted
    val (s3, _) = advance(s, 0, cfg); s = s3
    assert(s.ring == Sampled(0.5))
    val (s4, t4) = advance(s, 5, cfg)
    assert(s4.ring == Full && t4.exists(_.reason.contains("demote")))
    // seeded sample is deterministic (replay validates identical rows)
    val df = graft.core.Tables(spark, sf(), "orders")
    val a = validationInput(df, Sampled(0.3), cfg).count()
    val b = validationInput(df, Sampled(0.3), cfg).count()
    assert(a == b && a > 0 && a < df.count())
  }

  test("system tables: checkpoints + packages mount; drift report is clean after a run") {
    val baseDir = tmpDir()
    val ledger = Ledger.at(baseDir)
    val source = graft.core.Tables(spark, sf(), "region")
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "region_r", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("r_regionkey"), cursor = None,
        disposition = Descriptor.Disposition.Append),
      policy = ContractPolicy(Nil))
    Runner.run(spark, cfg, source, s"$baseDir/pkg", s"$baseDir/dest", ledger)

    SystemTables.mount(spark, ledger, Seq(s"$baseDir/pkg"))
    val states = spark.sql(
      "SELECT state, count(*) AS n FROM graft_checkpoints GROUP BY state")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(states.get("committed").contains(1L) && states.get("proposed").contains(1L))
    assert(spark.sql("SELECT * FROM graft_packages").count() == 1)
    val drift = SystemTables.driftReport(spark).collect()
    assert(drift.length == 1 && !drift(0).getAs[Boolean]("missing_package"))
  }
}
