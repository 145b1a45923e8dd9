package graft.pkg

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.core.CanonicalJson._
import graft.core.GraftError
import graft.operators.StatsOps

/** Hash-addressed run package: the evidence directory that makes a
  * load replayable and verifiable (cdf: VISION.md:762-790; builder
  * crates/cdf-package/).
  *
  * Layout (decision recorded in SURVEY §7.1 — Parquet, not Arrow IPC):
  *   <dir>/data/        accepted rows (Parquet)
  *   <dir>/quarantine/  quarantined rows + verdicts (Parquet)
  *   <dir>/stats/       per-column stats (Parquet, 1 row)
  *   <dir>/manifest.json  canonical manifest; its sha256 IS the
  *                        package identity
  *
  * Identity discipline: Parquet bytes are NOT stable across writers,
  * so the manifest hashes canonical LOGICAL content — a partition-
  * order-independent content hash (sum of per-row xxhash64 mod 2^63)
  * plus row/column counts — making package identity invariant to
  * partitioning ("jobs invariance", cdf docs/performance-envelope.md:103).
  *
  * Evidence is observed, not re-read: the data write carries one
  * `Dataset.observe` that yields row count, content hash and the stats
  * profile; the quarantine write observes its own count. The package is
  * read back at most once, by its consumer: the destination write in
  * `Runner`, or [[readBack]] (count + hash vs the observed receipt) in
  * the streaming and CDC runners.
  */
object PackageWriter {

  /** `schema` is the schema the package's `data/` was written with (empty
    * for manifest-only packages); `observed` holds the values of the
    * caller's extra aggregates, observed during the data write. */
  final case class PackageResult(dir: String, packageHash: String, rows: Long,
      quarantined: Long, manifest: String, segments: Int = 1,
      contentHash: String = "", schema: StructType = new StructType(),
      observed: Map[String, Any] = Map.empty)

  /** Per-row content hash over `cols`, widened to DECIMAL(38,0) so its
    * sum is exact: the one definition every content hash is summed from. */
  def rowHash(cols: Seq[String]): Column =
    xxhash64(cols.map(col): _*).cast(DecimalType(38, 0))

  /** The content hash from a `sum(rowHash(..))` field (null on no rows). */
  def hashAt(r: Row, i: Int): String =
    if (r.isNullAt(i)) "0" else r.getDecimal(i).toBigInteger.toString

  /** Row count + content hash in ONE aggregation job (one pass over
    * the data instead of two). */
  def countAndHash(df: DataFrame): (Long, String) = {
    if (df.columns.isEmpty) (df.count(), "0")
    else {
      val r = df.agg(count(lit(1)), sum(rowHash(df.columns.toSeq))).head()
      (r.getLong(0), hashAt(r, 1))
    }
  }

  /** Partition-order-independent logical content hash: exact decimal
    * sum of per-row xxhash64 over all columns — commutative,
    * overflow-free (ANSI-safe), invariant to partitioning. */
  def contentHash(df: DataFrame): String = countAndHash(df)._2

  /** Column types the `stats/` profile covers. */
  private val StatTypes = Set("integer", "long", "double", "float", "string", "timestamp")

  /** Observed metrics reach an [[Observation]] on the listener bus
    * shortly after the action returns. The wait is bounded, so a lost
    * event fails the package instead of hanging the load. */
  private val ObservationWait = 5.minutes

  private def awaitMetrics(o: Observation, what: String): Row =
    try Await.result(o.future, ObservationWait)
    catch { case _: TimeoutException =>
      throw GraftError.State(s"package $what: write metrics not observed within $ObservationWait")
    }

  /** Write the package in ONE pass over `df`. An [[Observation]] on the
    * data write collects the row count, the content hash and the
    * `stats/` profile (plus `extraAggs`, returned in `observed`) from
    * the rows as they are written; `stats/` is written from that
    * observed row and the quarantine count is observed on the
    * quarantine write. Nothing is read back here: the caller's one
    * read of `data/` (a destination write or [[readBack]]) checks the
    * written bytes against these observed values.
    *
    * `maxRecordsPerFile = 0` leaves the writer's file sizing alone;
    * a positive value caps rows per written file (segmentation with no
    * pre-count and no shuffle — see Segmentation.maxRecordsPerFile). */
  def write(df: DataFrame, quarantine: Option[DataFrame], dir: String,
      resource: String, planHash: String,
      maxRecordsPerFile: Long = 0L, extraAggs: Seq[Column] = Nil): PackageResult = {
    val dataDir = s"$dir/data"
    val spark = df.sparkSession

    val statCols = df.schema.fields.filter(f => StatTypes(f.dataType.typeName)).map(_.name).toSeq
    // row_count first, the hash sum second, then the per-column profile
    // and the caller's aggregates
    val statAggs = StatsOps.statsAggs(statCols)
    val evidence = Observation()
    val w = df.observe(evidence, statAggs.head,
      (sum(rowHash(df.columns.toSeq)).as("__hash_sum") +: statAggs.tail) ++ extraAggs: _*)
      .write.mode("overwrite")
    (if (maxRecordsPerFile > 0L) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(dataDir)

    val qRows = quarantine.fold(0L) { q =>
      val qObs = Observation()
      q.observe(qObs, count(lit(1)).as("rows")).write.mode("overwrite").parquet(s"$dir/quarantine")
      awaitMetrics(qObs, s"$dir quarantine").getLong(0)
    }

    val r = awaitMetrics(evidence, dir)
    val statIdx = 0 +: (2 to statAggs.length)
    spark.createDataFrame(java.util.List.of(Row.fromSeq(statIdx.map(r.get))),
        StructType(statIdx.map(r.schema(_))))
      .write.mode("overwrite").parquet(s"$dir/stats")
    val extras = (statAggs.length + 1 until r.length).map(i => r.schema(i).name -> r.get(i)).toMap

    val segments = {
      val d = new java.io.File(dataDir)
      val n = Option(d.list()).map(_.count(_.startsWith("part-"))).getOrElse(0)
      math.max(1, n)
    }

    writeManifest(dir, resource, planHash, r.getLong(0), qRows, df.columns.toSeq, hashAt(r, 1),
      segments).copy(schema = df.schema, observed = extras)
  }

  /** A written package's `data/`, read with the schema it was written
    * with: no Parquet schema-inference job. */
  def readData(spark: SparkSession, pkg: PackageResult): DataFrame =
    spark.read.schema(pkg.schema).parquet(s"${pkg.dir}/data")

  /** Outcome of [[readBack]]: the package's receipt (what the write
    * observed), whether the written bytes match it, and the values of
    * the caller's extra aggregates over the written rows. */
  final case class ReadBack(receipt: Receipt, matches: Boolean, extras: Row)

  /** The one read-back of a written package: ONE aggregate over `data/`
    * computes count + content hash, compared with what the write
    * observed, plus `extraAggs` (e.g. an event-time max for a frontier)
    * from the same scan. A part file lost or rewritten after the write
    * does not match. */
  def readBack(spark: SparkSession, pkg: PackageResult,
      extraAggs: Seq[Column] = Nil): ReadBack = {
    val data = readData(spark, pkg)
    val r = data.agg(count(lit(1)), sum(rowHash(data.columns.toSeq)) +: extraAggs: _*).head()
    val receipt = Receipt(s"parquet:${pkg.dir}/data", pkg.rows, pkg.contentHash)
    ReadBack(receipt, r.getLong(0) == pkg.rows && hashAt(r, 1) == pkg.contentHash,
      Row.fromSeq(r.toSeq.drop(2)))
  }

  /** Render + persist the canonical package manifest; shared by the
    * per-package writer and bulk (partitioned) writers. */
  def writeManifest(dir: String, resource: String, planHash: String, rows: Long,
      qRows: Long, columns: Seq[String], hash: String, segments: Int): PackageResult = {
    val manifest = JObj.of(
      "manifest_version" -> JInt(1),
      "resource" -> JStr(resource),
      "plan_hash" -> JStr(planHash),
      "row_count" -> JInt(rows),
      "quarantine_count" -> JInt(qRows),
      "columns" -> JArr(columns.sorted.map(JStr(_))),
      "content_hash" -> JStr(hash),
      "layout" -> JArr(Seq("data/", "quarantine/", "stats/", "manifest.json").map(JStr)))
    val rendered = render(manifest)
    val pkgHash = sha256Hex(rendered)
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "manifest.json"), rendered.getBytes(StandardCharsets.UTF_8))
    PackageResult(dir, pkgHash, rows, qRows, rendered, segments, hash)
  }

  /** Destination receipt: durable, independently verifiable ack
    * (cdf VISION.md:935-954). `verify` re-probes the destination. */
  final case class Receipt(destination: String, rows: Long, contentHash: String) {
    def toJsonString: String = render(JObj.of(
      "destination" -> JStr(destination), "rows" -> JInt(rows),
      "content_hash" -> JStr(contentHash)))
  }

  /** Post-commit verification probe: recount + rehash the destination
    * table (one combined pass) and compare to the receipt. Tampered
    * loads must fail. */
  def verifyReceipt(dest: DataFrame, r: Receipt): Boolean = {
    val (c, h) = countAndHash(dest)
    c == r.rows && h == r.contentHash
  }
}
