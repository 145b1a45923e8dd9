package graft.pkg

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.core.GraftError

/** Destination abstraction implementing the commit protocol shape
  * `plan_commit → begin → write → finalize(→Receipt) | abort`
  * (cdf: VISION.md:901-915; destination crates cdf-dest-*).
  *
  * Local formats (Parquet/CSV/NDJSON/ORC) are implemented here. The
  * JDBC destination (Postgres/SQLite/ClickHouse in the reference) is
  * [[graft.sources.Jdbc.mergeInto]]: a stage-table write plus one SQL
  * MERGE, run against embedded Derby (SURVEY §2.2 mapping column).
  *
  * Every change to a destination is stage → verify → publish
  * ([[staged]]): the output is written to a sibling stage directory,
  * probed there, and moved into the destination only on a verified
  * receipt. Replace is ALWAYS write-temp + atomic-swap, never delete-
  * then-insert (cdf VISION.md:927): a reader either sees the old table
  * or the new one, and a crash or a refused receipt leaves the old
  * table intact.
  */
object Destinations {

  sealed trait Format { def write(df: DataFrame, path: String): Unit
    def read(spark: SparkSession, path: String): DataFrame }
  object Format {
    case object Parquet extends Format {
      def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)
      def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)
    }
    case object Csv extends Format {
      def write(df: DataFrame, path: String): Unit =
        df.write.mode("overwrite").option("header", "true").csv(path)
      def read(spark: SparkSession, path: String): DataFrame =
        spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    }
    case object Ndjson extends Format {
      def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").json(path)
      def read(spark: SparkSession, path: String): DataFrame = spark.read.json(path)
    }
    case object Orc extends Format {
      def write(df: DataFrame, path: String): Unit = df.write.mode("overwrite").orc(path)
      def read(spark: SparkSession, path: String): DataFrame = spark.read.orc(path)
    }
  }

  /** Stage → verify → publish, the one way a run changes a
    * destination: `stage` writes into `stageDir` (a sibling `<dest>.__*`
    * dir, first cleared of a crashed run's leftover) and probes it there;
    * only a true verdict `publish`es it. The stage dir is cleared again
    * afterwards, also on a throw, so a refused run changes nothing. */
  def staged[A](spark: SparkSession, stageDir: String)(stage: String => (A, Boolean))(
      publish: Path => Unit): (A, Boolean) = {
    val tmp = new Path(stageDir)
    val fs = tmp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmp, true)
    try {
      val (out, verified) = stage(stageDir)
      if (verified) publish(tmp)
      (out, verified)
    } finally fs.delete(tmp, true)
  }

  /** Replace-by-swap with no missing-table window, through [[staged]]:
    * `stage` writes and verifies the new generation in `<path>.__swap`;
    * only a verified one is swapped in. The current table is moved ASIDE
    * to `<path>.__old` (rename, atomic on HDFS/posix), the new generation
    * is moved into place, then the old one is deleted — a reader sees the
    * old table or the new one, never an absent one (cdf VISION.md:927). */
  def swap[A](spark: SparkSession, path: String)(stage: String => (A, Boolean)): (A, Boolean) =
    staged(spark, s"$path.__swap")(stage) { tmp =>
      val dest = new Path(path)
      val old = new Path(s"$path.__old")
      val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(old, true)
      val hadPrior = fs.exists(dest)
      if (hadPrior) require(fs.rename(dest, old), s"swap failed: could not move $dest aside")
      require(fs.rename(tmp, dest), s"swap failed: could not move $tmp into place")
      if (hadPrior) fs.delete(old, true)
    }

  /** Replace the table at `path` with `df` through [[swap]] and return
    * its receipt: ONE count + content-hash probe of the staged output
    * must count the rows the write observed, or the table is left as it
    * was and [[GraftError.Destination]] is thrown. */
  def commitWithReceipt(df: DataFrame, path: String, fmt: Format): PackageWriter.Receipt = {
    val spark = df.sparkSession
    val written = Observation()
    val (receipt, verified) = swap(spark, path) { tmp =>
      fmt.write(df.observe(written, count(lit(1)).as("rows")), tmp)
      val (rows, hash) = PackageWriter.countAndHash(fmt.read(spark, tmp))
      (PackageWriter.Receipt(s"${fmt.getClass.getSimpleName.stripSuffix("$")}:$path", rows, hash),
        rows == written.get("rows").asInstanceOf[Long])
    }
    if (!verified) throw GraftError.Destination(
      s"receipt verification failed for $path — table left unchanged", transient = false)
    receipt
  }
}
