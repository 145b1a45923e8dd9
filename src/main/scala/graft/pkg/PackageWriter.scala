package graft.pkg

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, StructType}

import graft.core.CanonicalJson._
import graft.core.{GraftError, Par}
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
  * order-independent content hash (the exact DECIMAL(38,0) sum of
  * per-row xxhash64, see [[rowHash]]) plus row/column counts — making
  * package identity invariant to partitioning ("jobs invariance", cdf
  * docs/performance-envelope.md:103).
  *
  * Evidence is observed, not re-read: the data write carries one
  * `Dataset.observe` that yields row count, content hash and the stats
  * profile, plus any caller aggregates (the `Runner` cursor max, the
  * drain frontier's event-time max); the quarantine write observes its
  * own count. The package is read back at most once, by its consumer:
  * the bucketed Merge/CdcApply apply in `Runner`, or [[readBack]]
  * (count + hash vs the observed receipt) as the receipt the streaming
  * and CDC runners settle. An Append or Replace `Runner` never reads it:
  * it lands the `data/` part files by file and probes the landed files.
  */
object PackageWriter {

  /** `schema` is the schema the package's `data/` was written with (empty
    * for manifest-only packages); `observed` holds the values of the
    * caller's extra aggregates, observed during the data write;
    * `carried` the row count and content hash of the `carryover` rows
    * [[write]] routed out of the package, observed on their write. */
  final case class PackageResult(dir: String, packageHash: String, rows: Long,
      quarantined: Long, manifest: String, segments: Int = 1,
      contentHash: String = "", schema: StructType = new StructType(),
      observed: Map[String, Any] = Map.empty, carried: Option[(Long, String)] = None)

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

  /** `df` with its row count and content hash (the values of
    * [[countAndHash]]) observed by whichever action runs it, and the wait
    * for them once that action has run: no job of its own. */
  def observingCountAndHash(df: DataFrame, what: String): (DataFrame, () => (Long, String)) = {
    val o = Observation()
    (df.observe(o, count(lit(1)).as("rows"), sum(rowHash(df.columns.toSeq)).as("hash")),
      () => { val r = awaitMetrics(o, what); (r.getLong(0), hashAt(r, 1)) })
  }

  /** Write the package in ONE pass over `df`. An [[Observation]] on the
    * data write collects the row count, the content hash and the
    * `stats/` profile (plus `extraAggs`, returned in `observed`) from
    * the rows as they are written; the quarantine write observes its
    * own count. Nothing is read back here: the caller checks the
    * written bytes against these observed values, through [[readBack]]
    * or through the receipt probe of a destination the `data/` files
    * were landed in.
    *
    * The data write and the quarantine write are independent scans of
    * the same source and run concurrently ([[Par.awaitAll]]): each
    * job is mostly fixed per-job floor, which the other's tasks hide.
    * Both end before `write` returns or throws. `stats/` is written
    * after them, on the driver, from the data write's observed row: one
    * row through Spark's own Parquet writer ([[writeStats]]), with no
    * Spark job. The manifest is written last, so a failed write leaves
    * neither `stats/` nor `manifest.json`.
    *
    * `maxRecordsPerFile = 0` leaves the writer's file sizing alone;
    * a positive value caps rows per written file (segmentation with no
    * pre-count and no shuffle — see Segmentation.maxRecordsPerFile).
    *
    * `carryover` (rows with the quarantine's columns, and a directory
    * outside the package) routes more rows out in the quarantine's job,
    * the drain's recaptured carryover: one write partitioned by
    * destination into `<dir>/_routed`, whose two partition directories
    * are then renamed to `<dir>/quarantine` and the carryover's
    * directory. A write job has a fixed cost in the directories and
    * files it creates and sets modes on (through java.nio on a local
    * path, see [[graft.core.NioLocalFileSystem]], so none forks); one
    * job for both outputs pays it once. Its count and content hash are
    * observed on that write and returned in `carried`. */
  def write(df: DataFrame, quarantine: Option[DataFrame], dir: String,
      resource: String, planHash: String,
      maxRecordsPerFile: Long = 0L, extraAggs: Seq[Column] = Nil,
      carryover: Option[(DataFrame, String)] = None): PackageResult = {
    require(carryover.isEmpty || quarantine.isDefined, "a carryover is routed with the quarantine")
    val dataDir = s"$dir/data"

    val statCols = df.schema.fields.filter(f => StatTypes(f.dataType.typeName)).map(_.name).toSeq
    // row_count first, the hash sum second, then the per-column profile
    // and the caller's aggregates
    val statAggs = StatsOps.statsAggs(statCols)
    val evidence = Observation()
    val writeData = () => {
      val w = df.observe(evidence, statAggs.head,
        (sum(rowHash(df.columns.toSeq)).as("__hash_sum") +: statAggs.tail) ++ extraAggs: _*)
        .write.mode("overwrite")
      (if (maxRecordsPerFile > 0L) w.option("maxRecordsPerFile", maxRecordsPerFile)
       else w).parquet(dataDir)
      0L
    }
    val qObs = Observation()
    val writeQuarantine = () => quarantine.fold(0L) { q =>
      carryover.fold(q.observe(qObs, count(lit(1)).as("rows"))
          .write.mode("overwrite").parquet(s"$dir/quarantine")) { case (rows, to) =>
        val isCarried = col(Routed)
        q.withColumn(Routed, lit(false)).unionByName(rows.withColumn(Routed, lit(true)))
          .observe(qObs, count_if(!isCarried).as("rows"), count_if(isCarried).as("carried"),
            sum(when(isCarried, rowHash(rows.columns.toSeq))).as("hash"))
          // no `_SUCCESS` marker: `_routed` is removed once its partitions moved
          .write.mode("overwrite").option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
          .partitionBy(Routed).parquet(s"$dir/_routed")
        val routed = new Path(s"$dir/_routed")
        val fs = routed.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        Seq(false -> new Path(s"$dir/quarantine"), true -> new Path(to)).foreach { case (v, dest) =>
          val from = new Path(routed, s"$Routed=$v")
          fs.delete(dest, true)
          fs.mkdirs(dest.getParent)
          // an output with no rows has no partition: it becomes an empty directory
          val moved = if (fs.exists(from)) fs.rename(from, dest) else fs.mkdirs(dest)
          if (!moved) throw GraftError.State(s"package $dir: could not move $from to $dest")
        }
        fs.delete(routed, true)
      }
      awaitMetrics(qObs, s"$dir quarantine").getLong(0)
    }
    val Seq(_, qRows) = Par.awaitAll(Seq(writeData, writeQuarantine))
    val carried = carryover.map { _ =>
      val c = awaitMetrics(qObs, s"$dir carryover")
      (c.getLong(1), hashAt(c, 2))
    }

    val r = awaitMetrics(evidence, dir)
    val statIdx = 0 +: (2 to statAggs.length)
    writeStats(df.sparkSession, s"$dir/stats", Row.fromSeq(statIdx.map(r.get)),
      StructType(statIdx.map(r.schema(_))))
    val extras = (statAggs.length + 1 until r.length).map(i => r.schema(i).name -> r.get(i)).toMap

    val segments = {
      val d = new java.io.File(dataDir)
      val n = Option(d.list()).map(_.count(_.startsWith("part-"))).getOrElse(0)
      math.max(1, n)
    }

    writeManifest(dir, resource, planHash, r.getLong(0), qRows, df.columns.toSeq, hashAt(r, 1),
      segments).copy(schema = df.schema, observed = extras, carried = carried)
  }

  /** The partition column routing [[write]]'s quarantine and carryover rows. */
  private val Routed = "__carried"

  /** Overwrite `statsDir` with one Parquet file holding `row`, written
    * on the driver through the writer a DataFrame write uses (same
    * schema conversion, Spark metadata, timestamp type and codec), with
    * no Spark job. The file is written under a `_`-prefixed name, which
    * Spark's file listing skips, then renamed to `part-00000<ext>`. */
  private def writeStats(spark: SparkSession, statsDir: String, row: Row,
      schema: StructType): Unit = {
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(sqlConf, job, schema,
      new ParquetOptions(Map.empty[String, String], sqlConf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val ext = factory.getFileExtension(ctx)
    val out = new Path(statsDir)
    val fs = out.getFileSystem(job.getConfiguration)
    fs.delete(out, true)
    val staged = new Path(out, s"_part-00000$ext")
    val writer = factory.newInstance(staged.toString, schema, ctx)
    try writer.write(CatalystTypeConverters.createToCatalystConverter(schema)(row)
      .asInstanceOf[InternalRow])
    finally writer.close()
    if (!fs.rename(staged, new Path(out, s"part-00000$ext")))
      throw GraftError.State(s"package stats: could not rename $staged into place")
  }

  /** A written package's `data/`, read with the schema it was written
    * with: no Parquet schema-inference job. */
  def readData(spark: SparkSession, pkg: PackageResult): DataFrame =
    spark.read.schema(pkg.schema).parquet(s"${pkg.dir}/data")

  /** Outcome of [[readBack]]: the package's receipt (what the write
    * observed) and whether the written bytes match it. */
  final case class ReadBack(receipt: Receipt, matches: Boolean)

  /** The one read-back of a written package: ONE aggregate over `data/`
    * computes count + content hash, compared with what the write
    * observed. A part file lost or rewritten after the write does not
    * match. Everything else the caller needs from the rows (a frontier's
    * event-time max) is observed on the write, not read back here. */
  def readBack(spark: SparkSession, pkg: PackageResult): ReadBack = {
    val (rows, hash) = countAndHash(readData(spark, pkg))
    ReadBack(Receipt(s"parquet:${pkg.dir}/data", pkg.rows, pkg.contentHash),
      rows == pkg.rows && hash == pkg.contentHash)
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
    * (cdf VISION.md:935-954). `rows` and `content_hash` always describe
    * the whole destination table (the prior receipt, less the rows the
    * run displaced, plus the rows it staged), so [[verifyReceipt]] over
    * the destination audits a committed receipt in full at any time.
    *
    * `listing`, recorded by every `Runner.run`, is the sha256 of the
    * destination's sorted `part-*` entries (in Merge bucket dirs too) as
    * `path:size:mtime`, paths relative to the destination, taken from
    * one listing per directory (metadata, no rows read) after the run's
    * files are published. The next run checks the destination's listing
    * against it before publishing anything, and its receipt probe scans
    * only its own staged files (read with the written schema), like the
    * `(key, etag, sha256)` file manifests of cdf's Parquet/object-store
    * receipts (SURVEY §2.2). It covers a committed part file lost, added,
    * renamed, resized or touched. It does not cover a committed file
    * rewritten in place under the same name, size and mtime: that file is
    * checked by metadata, not by content, until a full [[verifyReceipt]].
    * A receipt without `listing` (written before listings were recorded)
    * makes the next run probe the whole destination against it once. */
  final case class Receipt(destination: String, rows: Long, contentHash: String,
      listing: Option[String] = None) {
    def toJson: JObj = JObj(Vector(
      "destination" -> JStr(destination), "rows" -> JInt(rows),
      "content_hash" -> JStr(contentHash)) ++ listing.map("listing" -> JStr(_)))
    def toJsonString: String = render(toJson)
  }

  object Receipt {
    /** A committed receipt back from its JSON. One lacking `rows` or
      * `content_hash` cannot anchor a verification: a State error. */
    def fromJson(json: String): Receipt = {
      val f = objFields(parse(json))
      (f.get("rows"), f.get("content_hash")) match {
        case (Some(JInt(rows)), Some(JStr(hash))) =>
          Receipt(f.get("destination").collect { case JStr(d) => d }.getOrElse(""), rows, hash,
            f.get("listing").collect { case JStr(l) => l })
        case _ => throw GraftError.State(s"receipt lacks rows or content_hash: $json")
      }
    }
  }

  /** Post-commit verification probe: recount + rehash the destination
    * table (one combined pass) and compare to the receipt. Tampered
    * loads must fail. */
  def verifyReceipt(dest: DataFrame, r: Receipt): Boolean = {
    val (c, h) = countAndHash(dest)
    c == r.rows && h == r.contentHash
  }
}
