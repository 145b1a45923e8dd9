package graft

import org.apache.spark.sql.functions._

import graft.core.Segmentation
import graft.pkg.PackageWriter
import graft.run.Replay

class ReplaySpec extends SparkSpec {

  test("package replay prunes by stats manifest, conservatively retains missing stats") {
    val base = tmpDir()
    val li = graft.core.Tables(spark, sf(), "lineitem")
    // three packages segmented by quantity range + one with no usable stats col
    PackageWriter.write(li.filter(col("l_quantity") <= 15), None, s"$base/p_low", "r", "h1")
    PackageWriter.write(li.filter(col("l_quantity") > 15 && col("l_quantity") <= 35), None, s"$base/p_mid", "r", "h2")
    PackageWriter.write(li.filter(col("l_quantity") > 35), None, s"$base/p_high", "r", "h3")
    PackageWriter.write(li.select("l_orderkey", "l_returnflag"), None, s"$base/p_nostat", "r", "h4")

    val dirs = Seq(s"$base/p_low", s"$base/p_mid", s"$base/p_high", s"$base/p_nostat")
    val (df, decisions) = Replay.replay(spark, dirs, "l_quantity", 40, 50)
    val byDir = decisions.map(d => d.dir.split('/').last -> d.outcome).toMap
    assert(byDir("p_low") == "pruned")
    assert(byDir("p_mid") == "pruned")
    assert(byDir("p_high") == "retained_may_match")
    assert(byDir("p_nostat") == "retained_conservatively")
    // correctness independent of pruning: equals direct filter on source
    val truth = li.filter(col("l_quantity").between(40, 50)).count()
    assert(df.count() == truth)
  }

  test("segmentation: planned from targets, recorded beside the package, outside identity") {
    import Segmentation._
    assert(maxRecordsPerFile(10) == 4L * 1024 * 1024) // rows-bound: 256MiB/10 B > 4Mi rows
    assert(maxRecordsPerFile(1024) == 256L * 1024) // bytes-bound: 256MiB/1KiB
    assert(maxRecordsPerFile(1L << 40) == 1) // never below one row
    val targets = Targets(maxRowsPerSegment = 500, maxBytesPerSegment = 1L << 40)
    val cap = maxRecordsPerFile(64, targets)
    assert(cap == 500)
    val dir = tmpDir()
    val orders = graft.core.Tables(spark, sf(), "orders")
    val capped = PackageWriter.write(orders, None, s"$dir/b", "r", "p", maxRecordsPerFile = cap)
    val parts = new java.io.File(s"$dir/b/data").listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length > 1)
    parts.foreach(f => assert(spark.read.parquet(f.getPath).count() <= 500, f.getName))
    assert(capped.segments == parts.length)
    val rec = Recording(capped.segments, capped.rows, capped.rows * 64, targets)
    writeRecording(dir, rec)
    assert(readRecording(dir).contains(parts.length))
    // identity invariance: package hash same with and without the cap
    assert(PackageWriter.write(orders, None, s"$dir/a", "r", "p").packageHash == capped.packageHash)
  }
}
