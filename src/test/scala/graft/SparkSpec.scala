package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (same config as the driver mains). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_test").toString

  /** Nothing cached on the shared session: no cached plan and no
    * persistent RDD (what a `localCheckpoint` keeps). */
  def nothingCached: Boolean =
    spark.sharedState.cacheManager.isEmpty && spark.sparkContext.getPersistentRDDs.isEmpty

  /** Drops what earlier specs left cached on the shared session, so a
    * spec asserting [[nothingCached]] sees only its own leftovers. */
  def dropCached(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.core.Sessions.local("4", "4")
}
