package graft

import graft.contract.{ContractPolicy, RowRule}
import graft.core.{Descriptor, Ledger, Position}
import graft.pkg.PackageWriter
import graft.run.Runner

class LedgerRunnerSpec extends SparkSpec {

  test("ledger: commit requires proposal; head tracks; duplicate commit is idempotent") {
    val dir = tmpDir()
    val l = Ledger.at(dir)
    intercept[IllegalArgumentException](l.commit("r", "root", "h1", "{}"))
    l.propose("r", "root", "h1", Some(Position.Cursor("ts", 100)))
    assert(l.danglingProposals().map(_.packageHash) == Seq("h1"))
    l.commit("r", "root", "h1", """{"rows":1}""")
    assert(l.danglingProposals().isEmpty)
    assert(l.committedHead("r", "root").map(_.packageHash) == Some("h1"))
    assert(l.resumePosition("r", "root") == Some(Position.Cursor("ts", 100)))
    // replay: same hash committed again → acknowledged, not duplicated
    val before = l.entries().size
    l.commit("r", "root", "h1", """{"rows":1}""")
    assert(l.entries().size == before)
    // a new package advances the head
    l.propose("r", "root", "h2", Some(Position.Cursor("ts", 200)))
    l.commit("r", "root", "h2", """{"rows":2}""")
    assert(l.committedHead("r", "root").map(_.packageHash) == Some("h2"))
    assert(l.resumePosition("r", "root") == Some(Position.Cursor("ts", 200)))
    // rewind: head and resume position return to h1; history intact
    l.rewind("r", "root", "h1")
    assert(l.committedHead("r", "root").map(_.packageHash) == Some("h1"))
    assert(l.resumePosition("r", "root") == Some(Position.Cursor("ts", 100)))
    assert(l.entries().count(_.state == "committed") == 2) // append-only
    intercept[IllegalArgumentException](l.rewind("r", "root", "never_committed"))
  }

  test("package content hash is invariant to partitioning (jobs invariance)") {
    val df = graft.core.Tables(spark, sf(), "orders")
    val h1 = PackageWriter.contentHash(df.repartition(1))
    val h7 = PackageWriter.contentHash(df.repartition(7))
    val h32 = PackageWriter.contentHash(df.repartition(32))
    assert(h1 == h7 && h7 == h32)
  }

  test("receipt verification fails on tampered destination") {
    val df = graft.core.Tables(spark, sf(), "region")
    val r = PackageWriter.Receipt("t", df.count(), PackageWriter.contentHash(df))
    assert(PackageWriter.verifyReceipt(df, r))
    assert(!PackageWriter.verifyReceipt(df.limit(3), r)) // shorter
    val tampered = df.withColumn("r_name",
      org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.col("r_name"),
        org.apache.spark.sql.functions.lit("x")))
    assert(!PackageWriter.verifyReceipt(tampered, r)) // same count, altered content
  }

  test("runner end-to-end: validate → package → merge dest → receipt → ledger; replay is duplicate") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val source = graft.core.Tables(spark, sf(), "orders")
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "orders_r", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("o_orderkey"),
        cursor = None,
        disposition = Descriptor.Disposition.Merge(Seq("o_orderkey"))),
      policy = ContractPolicy(Seq(
        RowRule.Nullability("nn_key", "o_orderkey"),
        RowRule.Range("range_price", "o_totalprice", 0, 300000))),
      orderColumns = Seq("o_orderkey"))

    val r1 = Runner.run(spark, cfg, source, s"$base/pkg1", s"$base/dest", ledger)
    assert(r1.committed && !r1.duplicate)
    assert(r1.accepted + r1.quarantined == source.count())
    assert(r1.schemaFingerprint == graft.contract.SchemaOps.fingerprint(source.schema))
    assert(r1.segments >= 1)
    assert(graft.core.Segmentation.readRecording(s"$base/pkg1").contains(r1.segments))
    assert(ledger.committedHead("orders_r", "root").map(_.packageHash) == Some(r1.packageHash))
    val destRows = spark.read.parquet(s"$base/dest").count()
    assert(destRows == r1.accepted)

    // replay the same package: duplicate=true, ledger unchanged
    val entriesBefore = ledger.entries().size
    val r2 = Runner.run(spark, cfg, source, s"$base/pkg1", s"$base/dest", ledger)
    assert(r2.duplicate && r2.packageHash == r1.packageHash)
    assert(ledger.entries().size == entriesBefore)
  }

  test("position json round-trips every kind, including nested composite and file_manifest") {
    val manifest = Position.FileManifest(Seq(
      Position.FileEntry("/data/a.parquet", 123L, 1700000000000L),
      Position.FileEntry("/data/b with space\n.parquet", 456L, 1700000001000L)))
    val composite: Position = Position.Composite(Map(
      "p0" -> Position.Cursor("ts", 42L),
      "p1" -> manifest,
      "p2" -> Position.Composite(Map("inner" -> Position.Cursor("ts", 7L)))))
    for (p <- Seq[Position](Position.Cursor("ts", 1), manifest, composite,
        Position.PostgresCommit(10, 20, 30), Position.MySqlCommit("bin.0001", 99, "gtid:1-5"),
        Position.PageToken("tok\"en"), Position.ForeignState("singer", "{\"a\":1}"))) {
      val json = graft.core.CanonicalJson.render(p.toJson)
      assert(Position.fromJson(json) == p, s"round-trip failed for ${p.kind}")
    }
    // the old flat-regex bug: a composite must NOT decode as its first nested cursor
    val decoded = Position.fromJson(graft.core.CanonicalJson.render(composite.toJson))
    assert(decoded.isInstanceOf[Position.Composite])
  }

  test("ledger round-trips receipts and positions containing control characters") {
    val dir = tmpDir()
    val l = Ledger.at(dir)
    val receipt = "{\"note\":\"line1\\nline2\\ttab \\u0001ctl\"}"
    l.propose("r", "root", "h1", Some(Position.PageToken("tok\nwith\nnewlines\t!")))
    l.commit("r", "root", "h1", receipt)
    val head = l.committedHead("r", "root").get
    assert(head.receipt.contains(receipt)) // exact, not backslash-n mangled
    assert(l.resumePosition("r", "root") == Some(Position.PageToken("tok\nwith\nnewlines\t!")))
    // a FileManifest position survives the ledger (resume works for glob sources)
    val mf = Position.FileManifest(Seq(Position.FileEntry("/x/y.parquet", 1, 2)))
    l.propose("r2", "root", "h2", Some(mf))
    l.commit("r2", "root", "h2", "{}")
    assert(l.resumePosition("r2", "root") == Some(mf))
  }

  test("replay of an EARLIER committed package (not head) is duplicate — no double append") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val all = graft.core.Tables(spark, sf(), "region")
    val first = all.filter(org.apache.spark.sql.functions.col("r_regionkey") < 2)
    val second = all.filter(org.apache.spark.sql.functions.col("r_regionkey") >= 2)
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "region_r", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("r_regionkey"), cursor = None,
        disposition = Descriptor.Disposition.Append),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "r_regionkey"))))

    val r1 = Runner.run(spark, cfg, first, s"$base/pkg1", s"$base/dest", ledger)
    val r2 = Runner.run(spark, cfg, second, s"$base/pkg2", s"$base/dest", ledger)
    assert(!r1.duplicate && !r2.duplicate && r1.packageHash != r2.packageHash)
    val afterTwo = spark.read.parquet(s"$base/dest").count()
    assert(afterTwo == r1.accepted + r2.accepted)

    // r1's package is no longer the committed head — replaying it must
    // still be recognized and must NOT append its rows again
    val r1b = Runner.run(spark, cfg, first, s"$base/pkg1", s"$base/dest", ledger)
    assert(r1b.duplicate && r1b.packageHash == r1.packageHash)
    assert(spark.read.parquet(s"$base/dest").count() == afterTwo)
  }

  test("incremental merge rewrites ONLY touched buckets; untouched bucket files are not rewritten") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val source = graft.core.Tables(spark, sf(), "orders")
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "orders_bm", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("o_orderkey"), cursor = None,
        disposition = Descriptor.Disposition.Merge(Seq("o_orderkey"))),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "o_orderkey"))),
      orderColumns = Seq("o_orderkey"), mergeBuckets = 16)

    // first load: full table, bucketed layout
    Runner.run(spark, cfg, source, s"$base/pkg1", s"$base/dest", ledger)
    val before = listParquet(s"$base/dest")
    val bucketsBefore = before.keys.map(bucketOf).toSet
    assert(bucketsBefore.size > 1, "first load should spread across buckets")

    // incremental: a stage touching ONE key → exactly one bucket rewritten
    val oneKey = source.filter(org.apache.spark.sql.functions.col("o_orderkey") === 1)
    assert(oneKey.count() == 1)
    Runner.run(spark, cfg, oneKey, s"$base/pkg2", s"$base/dest", ledger)
    val after = listParquet(s"$base/dest")
    val changed = after.keySet.diff(before.keySet) ++ before.keySet.diff(after.keySet)
    val touchedBuckets = changed.map(bucketOf)
    assert(touchedBuckets.size == 1,
      s"one staged key must rewrite exactly one bucket, got $touchedBuckets")
    // untouched bucket files survive byte-identical (same physical files)
    val untouched = before.filter { case (p, _) => !touchedBuckets.contains(bucketOf(p)) }
    untouched.foreach { case (p, mtime) =>
      assert(after.get(p).contains(mtime), s"untouched file rewritten: $p") }
    // logical table still correct: merge of one existing key changes no count
    assert(spark.read.parquet(s"$base/dest").count() == source.count())
  }

  private def listParquet(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    val s = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    } finally s.close()
  }
  private def bucketOf(path: String): String =
    path.split('/').find(_.startsWith(s"${Runner.MergeBucketCol}=")).getOrElse("?")

  test("incremental cdc_apply: prior keys survive, deletes evict, only touched buckets rewrite") {
    import spark.implicits._
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "cdc_inc", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("k"), cursor = None,
        disposition = Descriptor.Disposition.CdcApply(Seq("k"), "op")),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "k"))),
      orderColumns = Seq("seq"), mergeBuckets = 16)

    // run 1: three inserts
    val ops1 = Seq((1L, "a", "insert", 1L), (2L, "b", "insert", 2L), (3L, "c", "insert", 3L))
      .toDF("k", "v", "op", "seq")
    val r1 = Runner.run(spark, cfg, ops1, s"$base/pkg1", s"$base/dest", ledger)
    assert(r1.committed)
    val before = listParquet(s"$base/dest")

    // run 2: update k2, DELETE k3, insert k4 — k1 must be untouched
    val ops2 = Seq((2L, "b2", "update", 4L), (3L, "c", "delete", 5L), (4L, "d", "insert", 6L))
      .toDF("k", "v", "op", "seq")
    val r2 = Runner.run(spark, cfg, ops2, s"$base/pkg2", s"$base/dest", ledger)
    assert(r2.committed)

    val dest = Runner.readDest(spark, s"$base/dest")
      .select("k", "v").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(dest == Seq((1L, "a"), (2L, "b2"), (4L, "d")),
      s"incremental cdc_apply produced $dest")

    // scale law: run 2 rewrote only the buckets of {2,3,4}; k1's bucket
    // files (if disjoint) survive physically identical
    val after = listParquet(s"$base/dest")
    val changed = (after.keySet.diff(before.keySet) ++ before.keySet.diff(after.keySet))
      .map(bucketOf)
    val untouched = before.filter { case (p, _) => !changed.contains(bucketOf(p)) }
    assert(untouched.nonEmpty, "expected at least one untouched bucket")
    untouched.foreach { case (p, m) =>
      assert(after.get(p).contains(m), s"untouched file rewritten: $p") }
  }

  test("chaos: a merge destination that drops survivor rows fails exact receipt verification") {
    import spark.implicits._
    val base = tmpDir()
    val ledger = Ledger.at(base)
    // mergeBuckets = 1: survivors and the staged key share the single
    // touched bucket, so dropping a file provably drops survivors from
    // the probe scope
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "chaos_merge", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("k"), cursor = None,
        disposition = Descriptor.Disposition.Merge(Seq("k"))),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "k"))),
      orderColumns = Seq("k"), mergeBuckets = 1)
    val full = (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
    assert(Runner.run(spark, cfg, full, s"$base/pkg1", s"$base/dest", ledger).committed)

    // the fault: between the destination write and the receipt probe,
    // a parquet file vanishes from the touched bucket (survivor loss)
    Runner.ChaosHooks.beforeReceiptProbe = Some { destDir =>
      val f = listParquet(destDir).keys.head
      java.nio.file.Files.delete(java.nio.file.Paths.get(f))
    }
    try {
      val stage = Seq((1L, "v1b")).toDF("k", "v")
      val e = intercept[graft.core.GraftError.Destination](
        Runner.run(spark, cfg, stage, s"$base/pkg2", s"$base/dest", ledger))
      assert(e.getMessage.contains("receipt verification failed"))
      // the failed run must NOT have committed
      assert(ledger.danglingProposals().nonEmpty)
    } finally Runner.ChaosHooks.beforeReceiptProbe = None
  }

  test("chaos: a cdc_apply destination that drops staged upserts fails exact receipt verification") {
    import spark.implicits._
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "chaos_cdc", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("k"), cursor = None,
        disposition = Descriptor.Disposition.CdcApply(Seq("k"), "op")),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "k"))),
      orderColumns = Seq("seq"), mergeBuckets = 1)
    val ops1 = (1L to 50L).map(k => (k, s"v$k", "insert", k)).toDF("k", "v", "op", "seq")
    assert(Runner.run(spark, cfg, ops1, s"$base/pkg1", s"$base/dest", ledger).committed)

    // pre-r7 verification only checked deleted-survivors == 0; a write
    // that silently dropped NON-delete rows would still have committed
    Runner.ChaosHooks.beforeReceiptProbe = Some { destDir =>
      val f = listParquet(destDir).keys.head
      java.nio.file.Files.delete(java.nio.file.Paths.get(f))
    }
    try {
      val ops2 = Seq((2L, "v2b", "update", 51L), (3L, "c", "delete", 52L))
        .toDF("k", "v", "op", "seq")
      val e = intercept[graft.core.GraftError.Destination](
        Runner.run(spark, cfg, ops2, s"$base/pkg2", s"$base/dest", ledger))
      assert(e.getMessage.contains("receipt verification failed"))
    } finally Runner.ChaosHooks.beforeReceiptProbe = None
  }

  test("receipt probe is ONE destination scan (count+hash fused, no verify re-read)") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val source = graft.core.Tables(spark, sf(), "nation")
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "nation_probe", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("n_nationkey"), cursor = None,
        disposition = Descriptor.Disposition.Append),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "n_nationkey"))))
    val destScans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        // line-based: a "FileScan" line naming the dest dir is a dest
        // READ; the write job's InsertIntoHadoopFsRelationCommand line
        // names dest too but is not a FileScan (robust under AQE, whose
        // wrapper hides scan nodes from plan.collect)
        val readsDest = qe.executedPlan.toString.linesIterator
          .exists(l => l.contains("FileScan") && l.contains("/dest"))
        if (readsDest) destScans.incrementAndGet()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = Runner.run(spark, cfg, source, s"$base/pkg", s"$base/dest", ledger)
      assert(r.committed)
      val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      assert(destScans.get() == 1,
        s"expected exactly 1 post-write destination scan (the fused probe), saw ${destScans.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("append receipt verifies additively against the prior receipt (tamper between runs fails)") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val all = graft.core.Tables(spark, sf(), "region")
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "region_add", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("r_regionkey"), cursor = None,
        disposition = Descriptor.Disposition.Append),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "r_regionkey"))))
    val first = all.filter(org.apache.spark.sql.functions.col("r_regionkey") < 2)
    Runner.run(spark, cfg, first, s"$base/pkg1", s"$base/dest", ledger)
    // tamper: sneak an extra file into the destination between runs
    first.limit(1).write.mode("append").parquet(s"$base/dest")
    val second = all.filter(org.apache.spark.sql.functions.col("r_regionkey") >= 2)
    val e = intercept[graft.core.GraftError.Destination](
      Runner.run(spark, cfg, second, s"$base/pkg2", s"$base/dest", ledger))
    assert(e.getMessage.contains("receipt verification failed"))
  }

  test("merge swap never leaves a missing destination and cleans up the old generation") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val source = graft.core.Tables(spark, sf(), "nation")
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "nation_r", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("n_nationkey"), cursor = None,
        disposition = Descriptor.Disposition.Merge(Seq("n_nationkey"))),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "n_nationkey"))),
      orderColumns = Seq("n_nationkey"))
    Runner.run(spark, cfg, source.limit(10), s"$base/pkg1", s"$base/dest", ledger)
    Runner.run(spark, cfg, source, s"$base/pkg2", s"$base/dest", ledger)
    assert(spark.read.parquet(s"$base/dest").count() == source.count())
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/dest.__old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/dest.__swap")))
  }

  test("replace disposition swaps atomically: reader sees old-or-new, never absent; crash leftovers recovered") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val source = graft.core.Tables(spark, sf(), "nation")
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "nation_rep", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("n_nationkey"), cursor = None,
        disposition = Descriptor.Disposition.Replace),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "n_nationkey"))))
    Runner.run(spark, cfg, source.limit(5), s"$base/pkg1", s"$base/dest", ledger)
    assert(spark.read.parquet(s"$base/dest").count() == 5)
    // simulate a crash that left a stale dest.__old from a prior swap
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/dest.__old"))
    Runner.run(spark, cfg, source, s"$base/pkg2", s"$base/dest", ledger)
    assert(spark.read.parquet(s"$base/dest").count() == source.count()) // replaced, not appended
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/dest.__old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/dest.__swap")))
    // the swap path itself: at no point is the rename sequence able to
    // produce an absent destination — dest is moved aside only after the
    // replacement exists, and the aside copy is deleted only after the
    // replacement is in place (see Destinations.swap ordering).
  }

  test("runner scans the source exactly twice per run (accepted + quarantine writes; no pre-count/re-count)") {
    val base = tmpDir()
    graft.core.Tables(spark, sf(), "orders").write.parquet(s"$base/srctbl")
    val source = spark.read.parquet(s"$base/srctbl")
    val ledger = Ledger.at(base)
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "orders_scan", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("o_orderkey"), cursor = None,
        disposition = Descriptor.Disposition.Append),
      policy = ContractPolicy(Seq(
        RowRule.Nullability("nn_key", "o_orderkey"),
        RowRule.Range("range_price", "o_totalprice", 0, 300000))))
    val scans = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("srctbl")) scans.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Runner.run(spark, cfg, source, s"$base/pkg", s"$base/dest", ledger)
      // the execution-listener bus is async: flush it before asserting
      val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      assert(scans.get() == 2,
        s"expected exactly 2 source scans (accepted write + quarantine write), saw ${scans.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("runner cursor disposition records window-close position (max - lag)") {
    val base = tmpDir()
    val ledger = Ledger.at(base)
    val source = graft.core.Tables.eventsUs(spark, sf())
    val cfg = Runner.RunConfig(
      descriptor = Descriptor.ResourceDescriptor(
        id = "events_r", schemaSource = Descriptor.SchemaSource.Discover,
        primaryKey = Seq("event_id"),
        cursor = Some(Descriptor.CursorSpec("ts_us", lagMs = 1000, Descriptor.OrderingClaim.Inexact)),
        disposition = Descriptor.Disposition.Append),
      policy = ContractPolicy(Seq(RowRule.Nullability("nn", "event_id"))))
    val r = Runner.run(spark, cfg, source, s"$base/pkg", s"$base/dest", ledger)
    val maxTs = source.agg(org.apache.spark.sql.functions.max("ts_us")).head().getLong(0)
    assert(r.position == Some(Position.Cursor("ts_us", maxTs - 1000)))
    assert(ledger.resumePosition("events_r", "root") == r.position)
  }
}
