package graft

import org.apache.spark.sql.functions._

/** Focused guards for the r16 optimization internals: every rewritten
  * path must compute exactly what the original computed. */
class R16OptimizationSpec extends SparkSpec {

  test("spearman: the shipped path matches rank-window Pearson, leaves no cache") {
    import org.apache.spark.sql.expressions.Window
    val d = sf()
    spark.catalog.clearCache()
    val rho = graft.catalog.RankStatsQueries.spearmanDf(spark, d).head().getDouble(0)
    // the persisted projection and histogram are released by the call
    assert(spark.sharedState.cacheManager.isEmpty)
    // reference: Pearson over 2·midrank from two global rank windows
    val pts = graft.core.Tables(spark, d, "lineitem").select(
      (col("l_quantity").cast("decimal(12,2)") * 100).cast("long").as("x"),
      (col("l_extendedprice").cast("decimal(12,2)") * 100).cast("long").as("y"))
    def twoMid(v: String) = lit(2) * rank().over(Window.orderBy(v)) +
      count(lit(1)).over(Window.partitionBy(v)) - 1
    val ref = pts.select(twoMid("x").as("rx"), twoMid("y").as("ry"))
      .agg(corr("rx", "ry")).head().getDouble(0)
    assert(math.abs(rho - ref) < 1e-6, s"rho $rho vs rank-window reference $ref")
  }

  test("spearman: building the frame starts no Spark job") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val (build, flush) = ("spearman-spec-build", "spearman-spec-flush")
    val built = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some(`build`) => built.incrementAndGet()
          case Some(`flush`) => flushed.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription(build)
      graft.catalog.RankStatsQueries.spearmanDf(spark, sf())
      // listener events arrive in order: once the marker job is seen,
      // every job the build started has been counted
      sc.setJobDescription(flush)
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener events did not arrive")
      assert(built.get == 0, s"${built.get} Spark jobs started while building")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
  }

  test("Par.awaitAll: results keep submission order and jobs inherit the label") {
    spark.sparkContext.setJobDescription("awaitall-spec")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val out = graft.core.Par.awaitAll((1 to 4).map { i => () =>
      seen.add(spark.sparkContext.getLocalProperty("spark.job.description"))
      // run a real job from the pool thread so inheritance is exercised
      spark.range(i * 100L).count() + i
    })
    spark.sparkContext.setJobDescription(null)
    assert(out == Seq(101L, 202L, 303L, 404L))
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.forall(_ == "awaitall-spec"),
      s"pool threads lost the driver's job label: ${seen.asScala.toSeq}")
  }

  test("Par.awaitAll: a failure is rethrown only after every job ends, on at most defaultParallelism threads") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val slots = spark.sparkContext.defaultParallelism
    val running = new AtomicInteger
    val peak = new AtomicInteger
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
    val slowEnded = new AtomicBoolean(false)
    def tracked(body: => Long): () => Long = () => {
      threads.add(Thread.currentThread)
      peak.accumulateAndGet(running.incrementAndGet(), math.max)
      try body finally running.decrementAndGet()
    }
    val work = Seq(
      tracked(throw new IllegalStateException("planted failure")),
      tracked { Thread.sleep(500); slowEnded.set(true); 0L }) ++
      (1 to 3 * slots).map(i => tracked { Thread.sleep(20); i.toLong })
    val e = intercept[IllegalStateException](graft.core.Par.awaitAll(work))
    assert(e.getMessage == "planted failure")
    assert(slowEnded.get, "awaitAll rethrew while the slow job was still running")
    assert(peak.get <= slots, s"${peak.get} jobs ran at once on $slots slots")
    assert(threads.size <= slots, s"${threads.size} pool threads for $slots slots")
  }

  test("Scratch: reclaim deletes registered dirs and is re-entrant") {
    val d1 = graft.core.Scratch.dir("graft_spec_reclaim")
    val f = java.nio.file.Paths.get(d1, "x")
    java.nio.file.Files.writeString(f, "y")
    assert(java.nio.file.Files.exists(f))
    graft.core.Scratch.reclaim()
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(d1)))
    graft.core.Scratch.reclaim() // second call: no-op, no throw
    val d2 = graft.core.Scratch.dir("graft_spec_reclaim")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(d2)))
    graft.core.Scratch.reclaim()
  }

  test("withStreamingShuffle restores every conf it sets") {
    val s = spark
    val before = Seq(
      "spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.minBatchesToRetain")
      .map(k => k -> s.conf.getOption(k))
    graft.core.Sessions.withStreamingShuffle(s) {
      assert(s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "false")
      assert(s.conf.get("spark.sql.streaming.minBatchesToRetain") == "2")
    }
    before.foreach { case (k, v) => assert(s.conf.getOption(k) == v, k) }
  }

  test("shortest_paths: BFS matches the recursive-CTE result shape") {
    // the oracle gate proves value equality; this guards the loop's
    // counting rewrite (count()-driven termination vs isEmpty)
    val rows = graft.catalog.GraphQueries.shortestPaths
      .run(spark, sf()).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getInt(0)).toSeq == rows.map(_.getInt(0)).toSeq.sorted)
    assert(rows.forall(_.getLong(1) > 0L))
  }

  test("CacheScope releases what it persisted, newest first, also when the block throws") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    import graft.core.{CacheScope, Par}
    dropCached()
    val outside = CacheScope.persisted(spark.range(10).toDF("id"))
    var inside = Seq.empty[DataFrame]
    intercept[IllegalStateException](CacheScope {
      val a = CacheScope.persisted(spark.range(100).toDF("id"))
      val b = CacheScope.persisted(a.filter("id > 5"))
      inside = Seq(a, b)
      assert(b.count() == 94L && inside.forall(_.storageLevel != StorageLevel.NONE))
      // local checkpoints, and what Par.awaitAll's workers keep, are the scope's too
      assert(CacheScope.localCheckpointed(b.filter("id % 2 = 0")).count() == 47L)
      assert(Par.awaitAll(Seq(
        () => CacheScope.persisted(spark.range(7).toDF("w")).count(),
        () => CacheScope.localCheckpointed(spark.range(9).toDF("w")).count())) == Seq(7L, 9L))
      throw new IllegalStateException("planted")
    })
    assert(inside.size == 2 && inside.forall(_.storageLevel == StorageLevel.NONE))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // the persist made outside any scope is left to its caller
    assert(outside.storageLevel != StorageLevel.NONE)
    outside.unpersist()
    assert(nothingCached)
  }

  test("Bench testdata fingerprint walks the tree and marks an empty or unreadable one") {
    val root = java.nio.file.Files.createTempDirectory("graft_fp")
    assert(graft.Bench.testdataFingerprint(root.toString) == ("empty", 0L))
    val missing = root.resolve("missing").toString
    assert(graft.Bench.testdataFingerprint(missing)._1 == "error:java.nio.file.NoSuchFileException")
    val table = java.nio.file.Files.createDirectories(root.resolve("orders"))
    java.nio.file.Files.write(table.resolve("part-0.parquet"), Array.fill[Byte](7)(1))
    val (fp, bytes) = graft.Bench.testdataFingerprint(root.toString)
    assert(fp.length == 16 && fp.forall(Character.digit(_, 16) >= 0) && bytes == 7L)
    // a file in a nested table directory changes the fingerprint
    java.nio.file.Files.write(table.resolve("part-1.parquet"), Array.fill[Byte](3)(2))
    val (fp2, bytes2) = graft.Bench.testdataFingerprint(root.toString)
    assert(fp2 != fp && bytes2 == 10L)
  }
}
