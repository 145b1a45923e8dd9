package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.contract.{ContractPolicy, RowRule, Transform, ValidationProgram}
import graft.core.{Descriptor, Ledger, Position}
import graft.operators.Dedup
import graft.run.Runner
import graft.sources.FileSource
import graft.streaming.StreamRunner

/** One measured unit: a `Runner.run`, a landing tick or a drain epoch. */
final case class UnitRec(step: Int, startMs: Long, endMs: Long, wallS: Double,
    srcRows: Long, srcBytes: Long, ok: Boolean, facts: Map[String, Double] = Map.empty)

/** One call into the program: its wall, the units it produced, and the
  * failures it raised (exceptions or per-unit truth mismatches). */
final case class StepOut(callWallS: Double, units: Seq[UnitRec], failures: Seq[String])

final case class Span(step: Int, name: String, startMs: Long, durS: Double)

/** What every workload shares: the session, the seeded generator, the
  * work directory, the spans of traced steps and the generated-input
  * provenance. */
final class Ctx(val spark: SparkSession, val gen: Gen, val root: Path,
    val faults: Set[String], val tiny: Boolean, val traceRun: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var tracing = false
  var genRows = 0L
  val inputEntries = mutable.ArrayBuffer.empty[String]
  var fingerprintError: Option[String] = None

  /** Time `body`; record a span when the step is traced. */
  def span[T](step: Int, name: String)(body: => T): (T, Double) = {
    val ms = System.currentTimeMillis(); val t0 = System.nanoTime()
    val r = body
    val d = (System.nanoTime() - t0) / 1e9
    if (tracing) spans += Span(step, name, ms, d)
    (r, d)
  }

  /** Run harness Spark work under the generation job group. */
  def generating[T](body: => T): T = Groups.under(spark, Groups.Gen)(body)

  /** Record generated files under `dir` (recursive walk) for the input
    * fingerprint. */
  def walkInputs(dir: Path): Unit = try {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(f => inputEntries += s"${root.relativize(f)}:${Files.size(f)}")
    finally s.close()
  } catch { case e: Exception => fingerprintError = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Write `df` with one output file per partition, then rename the part
    * files in partition order to `<dir>/<prefix><index><ext>`. */
  def writeFiles(df: DataFrame, fmt: String, tmp: Path, dir: Path, prefix: String,
      firstIndex: Int, ext: String): Seq[Path] = {
    generating(df.write.mode("overwrite").format(fmt).save(tmp.toString))
    Files.createDirectories(dir)
    val parts = Files.list(tmp).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector.sortBy(_.getFileName.toString)
    val out = parts.zipWithIndex.map { case (p, i) =>
      Files.move(p, dir.resolve(f"$prefix${firstIndex + i}%06d$ext"))
    }
    Util.deleteTree(tmp)
    out
  }

  def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}

object Util {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists) finally s.close()
  }
  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }
  /** Multiset comparison by column name: row count plus two order-free
    * row-hash sums (murmur3 and crc32, neither of them the program's
    * xxhash64 content hash); on a mismatch the differing rows are listed. */
  def sameRows(actual: DataFrame, expected: DataFrame): Option[String] = {
    val cols = expected.columns.toSeq
    if (actual.columns.toSet != cols.toSet)
      return Some(s"columns ${actual.columns.sorted.mkString(",")} != ${cols.sorted.mkString(",")}")
    val a = actual.select(cols.map(col): _*)
    def print(df: DataFrame): Row = df.agg(count(lit(1)),
      sum(hash(cols.map(col): _*).cast("long")),
      sum(crc32(concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit("<null>"))): _*)))).head()
    if (print(a) == print(expected)) return None
    val extra = a.exceptAll(expected).limit(3).collect()
    val missing = expected.exceptAll(a).limit(3).collect()
    if (extra.isEmpty && missing.isEmpty) None
    else Some(s"unexpected rows ${extra.mkString(";")} missing rows ${missing.mkString(";")}")
  }
  def bucketsOf(receiptDest: String): Double =
    receiptDest.split("#buckets=", 2) match {
      case Array(_, b) => b.split(",").count(_.nonEmpty).toDouble
      case _ => 0.0
    }
}

/** A load-path workload. `setup` is the timed set-up (generation plus
  * seeded history); `prepare` lands the next step's inputs outside the
  * timer; `step` is the timed call into the program. */
trait Workload {
  def name: String
  /** ledger reads (`Ledger.entries()` calls) the program makes per unit */
  def ledgerOpsPerUnit: Int
  def setup(): Unit
  def prepare(step: Int): Unit
  def step(step: Int): StepOut
  /** trace-only: isolated calls of single layers on the step's input */
  def isolated(step: Int): Map[String, Double]
  def checks(): Seq[(String, Option[String])]
  def ledger: Ledger
  def ledgerPath: Path
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, ctx: Ctx, dir: Path): Workload = name match {
    case "bulk_merge" => new BulkMerge(ctx, dir)
    case "file_landing" => new FileLanding(ctx, dir)
    case "stream_drain" => new StreamDrain(ctx, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names = Seq("bulk_merge", "file_landing", "stream_drain")
}

/** Re-delivery of a lineitem-shaped batch with Merge(l_id) onto a
  * bucketed destination. Contract: 2% of keys carry an extra violating
  * row; 1% carry a losing duplicate; 10% of rows change per delivery. */
final class BulkMerge(ctx: Ctx, dir: Path) extends Workload {
  import ctx.{gen => g, spark}
  val name = "bulk_merge"
  val ledgerOpsPerUnit = 4 // prior-commit scan, propose, commit (scan + next seq)
  private val keys: Long = if (ctx.tiny) 2000L else 20000L
  private val files = 4
  private val dest = dir.resolve("dest")
  val ledgerPath: Path = dir.resolve("ledger").resolve("ledger.jsonl")
  val ledger: Ledger = Ledger.at(dir.resolve("ledger").toString)
  private var lastDelivery = 0
  private val counts = mutable.Map.empty[Int, (Long, Long, Long)]

  val policy = ContractPolicy(Seq(
    RowRule.Nullability("id_present", "l_id"),
    RowRule.Range("quantity", "l_quantity", 1, 50),
    RowRule.Range("discount", "l_discount", 0, 0.1),
    RowRule.Domain("returnflag", "l_returnflag", Seq("A", "N", "R")),
    RowRule.Domain("shipmode", "l_shipmode", g.ShipModes),
    RowRule.Regex("comment", "l_comment", "^c")))
  private val cfg = Runner.RunConfig(
    Descriptor.ResourceDescriptor("lineitem", Descriptor.SchemaSource.Discover, Seq("l_id"),
      None, Descriptor.Disposition.Merge(Seq("l_id"))),
    policy,
    transforms = Seq(Transform.Derive("l_net", "l_extendedprice * (1 - l_discount)")),
    orderColumns = Seq("l_seq"),
    // bucket count sized to the table, as it would be at table creation
    mergeBuckets = 8)

  private def input(d: Int) = dir.resolve("input").resolve(s"delivery_$d")

  private def generate(d: Int): Unit = {
    ctx.writeFiles(g.delivery(keys, d, files), "parquet", dir.resolve("input").resolve(s"tmp_$d"), input(d), "f_", 0, ".parquet")
    counts(d) = ctx.generating(g.deliveryCounts(keys, d))
    ctx.genRows += counts(d)._1
    ctx.walkInputs(input(d))
  }

  private def runDelivery(step: Int, d: Int): StepOut = {
    val src = spark.read.parquet(input(d).toString)
    val srcBytes = Util.dirBytes(input(d))
    val pkg = dir.resolve("pkg").resolve(s"u$d").toString
    val startMs = System.currentTimeMillis()
    val (res, wall) = try {
      val (r, w) = ctx.span(step, "run.Runner.run")(
        Runner.run(spark, cfg, src, pkg, dest.toString, ledger))
      (Right(r), w)
    } catch { case e: Exception => (Left(s"delivery $d: ${e.getClass.getSimpleName}: ${e.getMessage}"), 0.0) }
    val endMs = System.currentTimeMillis()
    val (rows, _, viol) = counts(d)
    res match {
      case Left(err) =>
        StepOut(wall, Seq(UnitRec(step, startMs, endMs, wall, rows, srcBytes, ok = false)), Seq(err))
      case Right(r) =>
        val bad = Seq(
          Option.when(r.accepted != keys)(s"delivery $d: packaged ${r.accepted} rows, truth $keys keys"),
          Option.when(r.quarantined != viol)(s"delivery $d: quarantined ${r.quarantined}, truth $viol"),
          Option.when(r.duplicate)(s"delivery $d: acknowledged as a replay")).flatten
        lastDelivery = d
        StepOut(wall, Seq(UnitRec(step, startMs, endMs, wall, rows, srcBytes, bad.isEmpty, Map(
          "contract.accept_ratio" -> (rows - r.quarantined).toDouble / rows,
          "run.touched_buckets" -> Util.bucketsOf(r.receipt.destination),
          "run.probe_rows_per_package_row" -> r.receipt.rows.toDouble / math.max(1L, r.accepted),
          "pkg.segments" -> r.segments.toDouble))), bad)
    }
  }

  def setup(): Unit = {
    generate(0)
    val out = runDelivery(-1, 0)
    require(out.failures.isEmpty, s"seeding the destination failed: ${out.failures.mkString("; ")}")
  }

  def prepare(step: Int): Unit = {
    val d = step + 1
    Util.deleteTree(input(d - 2)); Util.deleteTree(dir.resolve("pkg").resolve(s"u${d - 2}"))
    generate(d)
  }

  def step(step: Int): StepOut = runDelivery(step, step + 1)

  def isolated(step: Int): Map[String, Double] = {
    val src = spark.read.parquet(input(step + 1).toString)
    val program = ValidationProgram.compile(policy)
    val validate = ctx.noop(Transform(program.accepted(src), cfg.transforms)) +
      ctx.noop(program.quarantined(src))
    val dedup = ctx.noop(Dedup.keyed(src, Seq("l_id"), Seq("l_seq"), Dedup.Keep.Last))
    Map("contract.validate_s" -> validate, "operators.dedup_s" -> dedup)
  }

  def checks(): Seq[(String, Option[String])] = Seq(
    "destination equals the last delivery's accepted rows deduped by key" ->
      Util.sameRows(Runner.readDest(spark, dest.toString), g.mergeTruth(keys, lastDelivery)))
}

/** Scheduled small loads: each tick lands a few NDJSON files and runs
  * discover -> newFiles -> read -> Runner.run(Append) with the advanced
  * file manifest as the position. Contract: ~1% of landed rows carry an
  * out-of-range quantity. */
final class FileLanding(ctx: Ctx, dir: Path) extends Workload {
  import ctx.{gen => g, spark}
  val name = "file_landing"
  // resume position, prior-commit scan, propose, committed head, commit (scan + next seq)
  val ledgerOpsPerUnit = 6
  private val historyRows: Long = if (ctx.tiny) 5000L else 100000L
  private val filesPerTick = 4
  private val rowsPerFile = if (ctx.tiny) 200 else 2500
  private val ticksPerChunk = 4
  private val dest = dir.resolve("dest")
  private val staging = dir.resolve("input").resolve("staging")
  private val landing = dir.resolve("input").resolve("landing")
  val ledgerPath: Path = dir.resolve("ledger").resolve("ledger.jsonl")
  val ledger: Ledger = Ledger.at(dir.resolve("ledger").toString)
  private val res = "landing"
  private var staged = 0   // files generated so far
  private val landed = mutable.ArrayBuffer.empty[String]
  private val acceptedPerFile = mutable.Map.empty[Int, Long]
  private var tickFiles: Seq[Int] = Nil
  private var committedAccepted = 0L

  val policy = ContractPolicy(Seq(
    RowRule.Nullability("id_present", "l_id"),
    RowRule.Range("quantity", "l_quantity", 1, 50),
    RowRule.Domain("returnflag", "l_returnflag", Seq("A", "N", "R"))))
  private val cfg = Runner.RunConfig(
    Descriptor.ResourceDescriptor(res, Descriptor.SchemaSource.Discover, Seq("l_id"),
      None, Descriptor.Disposition.Append),
    policy, transforms = Seq(Transform.Derive("l_net", "l_extendedprice * (1 - l_discount)")))


  private def stageChunk(): Unit = {
    val n = ticksPerChunk * filesPerTick
    val df0 = g.landingFiles(staged, n, rowsPerFile)
    // corrupted generated row: the file holds a price the truth does not
    val df = if (ctx.faults("corrupt") && staged == 0)
      df0.withColumn("l_extendedprice", when(col("src_file") === filesPerTick && col("l_line") === 0,
        col("l_extendedprice") + 1).otherwise(col("l_extendedprice")))
    else df0
    val paths = ctx.writeFiles(df, "json", dir.resolve("input").resolve("tmp"), staging, "f_", staged, ".json")
    ctx.generating(df0.groupBy("src_file").agg(sum(when(g.landingViolates(col("l_id")), 0L).otherwise(1L)))
      .collect()).foreach(r => acceptedPerFile(r.getInt(0)) = r.getLong(1))
    ctx.genRows += n.toLong * rowsPerFile
    paths.foreach(p => ctx.inputEntries += s"${ctx.root.relativize(p)}:${Files.size(p)}")
    staged += n
  }

  def setup(): Unit = {
    val hist = dir.resolve("input").resolve("history")
    ctx.writeFiles(g.landingHistory(historyRows, 4), "parquet", dir.resolve("input").resolve("tmp"),
      hist, "h_", 0, ".parquet")
    ctx.genRows += historyRows
    ctx.walkInputs(hist)
    val r = Runner.run(spark, cfg, spark.read.parquet(hist.toString),
      dir.resolve("pkg").resolve("history").toString, dest.toString, ledger)
    require(r.accepted == historyRows, s"seeding history: ${r.accepted} of $historyRows rows")
  }

  def prepare(step: Int): Unit = {
    val first = (step + 1) * filesPerTick // step -1 is never landed; warm-up is step 0
    val fs = (step * filesPerTick until first).toSeq
    while (staged < first) stageChunk()
    Files.createDirectories(landing)
    fs.foreach { f =>
      val to = landing.resolve(f"f_$f%06d.json")
      Files.move(staging.resolve(f"f_$f%06d.json"), to, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime.fromMillis(1700000000000L + f * 1000L))
    }
    tickFiles = fs
    Util.deleteTree(dir.resolve("pkg").resolve(s"u${step - 2}"))
    // planted receipt fault: delete one destination data file right before
    // the receipt probe of the first timed tick
    if (ctx.faults("receipt")) Runner.ChaosHooks.beforeReceiptProbe = Some { dest =>
      if (step == Main.WarmupSteps) {
        val s = Files.walk(Paths.get(dest))
        try s.iterator().asScala.find(_.getFileName.toString.startsWith("part-")).foreach(Files.delete)
        finally s.close()
      }
    }
  }

  def step(step: Int): StepOut = {
    val srcBytes = tickFiles.map(f => Files.size(landing.resolve(f"f_$f%06d.json"))).sum
    val srcRows = tickFiles.size.toLong * rowsPerFile
    val truthAccepted = tickFiles.map(acceptedPerFile).sum
    val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
    var discoverS = 0.0; var listed = 0; var fresh: Seq[Position.FileEntry] = Nil
    val res0 = try {
      val ((d, nf), ds) = ctx.span(step, "sources.discover")({
        val d = FileSource.discover(landing.toString, "*.json")
        (d, d.files.size)
      })
      val (committed, _) = ctx.span(step, "core.resume_position")(ledger.resumePosition(res, "root"))
      val (nw, ns) = ctx.span(step, "sources.new_files")(FileSource.newFiles(d, committed))
      discoverS = ds + ns; listed = nf; fresh = nw
      val (df, _) = ctx.span(step, "sources.read")(
        FileSource.read(spark, FileSource.Format.Ndjson, fresh.map(_.path), Some(g.landingSchema)))
      val (r, _) = ctx.span(step, "run.Runner.run")(Runner.run(spark,
        cfg.copy(positionOverride = Some(FileSource.advance(committed, fresh))), df,
        dir.resolve("pkg").resolve(s"u$step").toString, dest.toString, ledger))
      Right(r)
    } catch { case e: Exception => Left(s"tick $step: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    res0 match {
      case Left(err) => StepOut(wall, Seq(UnitRec(step, startMs, endMs, wall, srcRows, srcBytes, ok = false)), Seq(err))
      case Right(r) =>
        val expectFresh = tickFiles.map(f => landing.resolve(f"f_$f%06d.json").toString).toSet
        val bad = Seq(
          Option.when(fresh.map(_.path).toSet != expectFresh)(
            s"tick $step: new files ${fresh.map(_.path).mkString(",")} != landed ${expectFresh.mkString(",")}"),
          Option.when(r.accepted != truthAccepted)(s"tick $step: packaged ${r.accepted} rows, truth $truthAccepted"),
          Option.when(r.duplicate)(s"tick $step: acknowledged as a replay")).flatten
        if (bad.isEmpty) { landed ++= expectFresh; committedAccepted += r.accepted }
        StepOut(wall, Seq(UnitRec(step, startMs, endMs, wall, srcRows, srcBytes, bad.isEmpty, Map(
          "contract.accept_ratio" -> r.accepted.toDouble / srcRows,
          "run.touched_buckets" -> Util.bucketsOf(r.receipt.destination),
          "run.probe_rows_per_package_row" -> r.receipt.rows.toDouble / math.max(1L, r.accepted),
          "pkg.segments" -> r.segments.toDouble,
          "sources.discover_s" -> discoverS,
          "sources.files_listed" -> listed.toDouble,
          "sources.files_new" -> fresh.size.toDouble))), bad)
    }
  }

  def isolated(step: Int): Map[String, Double] = {
    val src = FileSource.read(spark, FileSource.Format.Ndjson,
      tickFiles.map(f => landing.resolve(f"f_$f%06d.json").toString), Some(g.landingSchema))
    val program = ValidationProgram.compile(policy)
    // Append does not dedup; the isolated call prices Dedup on the tick's rows
    Map("contract.validate_s" -> (ctx.noop(Transform(program.accepted(src), cfg.transforms)) +
      ctx.noop(program.quarantined(src))),
      "operators.dedup_s" -> ctx.noop(Dedup.keyed(src, Seq("l_id"), Seq("l_line"), Dedup.Keep.Last)))
  }

  def checks(): Seq[(String, Option[String])] = {
    val destDf = Runner.readDest(spark, dest.toString)
    val landedIdx = landed.map(p => Paths.get(p).getFileName.toString.stripPrefix("f_").stripSuffix(".json").toInt)
    val perFile = destDf.filter(col("src_file") >= 0).groupBy("src_file").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val twice = perFile.collect { case (f, n) if n != acceptedPerFile.getOrElse(f, -1L) => s"file $f: $n rows" }
    val nFiles = if (landedIdx.isEmpty) 0 else landedIdx.max + 1
    val head = ledger.resumePosition(res, "root") match {
      case Some(Position.FileManifest(fs)) => fs.map(_.path).toSet
      case _ => Set.empty[String]
    }
    Seq(
      "no file is loaded twice" -> Option.when(twice.nonEmpty)(twice.take(5).mkString(", ")),
      "rows equal history plus accepted rows" -> {
        val n = destDf.count(); val want = historyRows + landedIdx.map(acceptedPerFile).sum
        Option.when(n != want)(s"destination has $n rows, truth $want")
      },
      "destination equals history plus accepted landed rows" ->
        (if (landedIdx.sorted != (0 until nFiles)) Some("landed files are not a prefix")
         else Util.sameRows(destDf, g.landingTruth(historyRows, nFiles, rowsPerFile))),
      "head manifest lists every landed file" ->
        Option.when(head != landed.toSet)(s"manifest has ${head.size} files, landed ${landed.size}"))
  }
}

/** Drain of a time-ordered Parquet file stream, one file per trigger.
  * ~5% of rows are late within grace (recaptured into the next epoch),
  * ~1% late beyond it (quarantined). Every timed drain takes the same
  * number of files, so each run amortizes the query start-up and the
  * end-of-drain flush over the same number of epochs. */
final class StreamDrain(ctx: Ctx, dir: Path) extends Workload {
  import ctx.{gen => g, spark}
  val name = "stream_drain"
  val ledgerOpsPerUnit = 3 // propose, commit (scan + next seq)
  private val rowsPerFile = if (ctx.tiny) 300 else 2500
  private val minChunk = 8
  private val staging = dir.resolve("input").resolve("staging")
  private val stream = dir.resolve("input").resolve("stream")
  private val out = dir.resolve("drain")
  val ledgerPath: Path = dir.resolve("ledger").resolve("ledger.jsonl")
  val ledger: Ledger = Ledger.at(dir.resolve("ledger").toString)
  private var staged = 0
  private var landedFiles = 0
  private val truth = mutable.Map.empty[Int, (Long, Long, Long)]
  private var callFiles: Seq[Int] = Nil
  private val frontiers = mutable.ArrayBuffer.empty[Long]
  private val schema = g.streamFiles(0, 1, 2).schema
  val progress = new ProgressLog
  spark.streams.addListener(progress)

  override def close(): Unit = spark.streams.removeListener(progress)

  private def stageChunk(n: Int): Unit = {
    val df = g.streamFiles(staged, n, rowsPerFile)
    val paths = ctx.writeFiles(df, "parquet", dir.resolve("input").resolve("tmp"), staging, "f_", staged, ".parquet")
    truth ++= ctx.generating(g.streamClassCounts(staged, n, rowsPerFile))
    ctx.genRows += n.toLong * rowsPerFile
    paths.foreach(p => ctx.inputEntries += s"${ctx.root.relativize(p)}:${Files.size(p)}")
    staged += n
  }

  def setup(): Unit = stageChunk(minChunk)

  /** Warm-up drains take two files, timed drains `filesPerDrain`: about
    * two drains per 12 s window, fewer files in a traced run, which
    * alternates traced and untraced drains. */
  private val filesPerDrain = if (ctx.traceRun) 3 else 5
  def prepare(step: Int): Unit = {
    val n = if (step < Main.WarmupSteps) 2 else filesPerDrain
    val fs = landedFiles until landedFiles + n
    if (staged < fs.last + 1) stageChunk(math.max(minChunk, fs.last + 1 - staged))
    Files.createDirectories(stream)
    fs.foreach { f =>
      val to = stream.resolve(f"f_$f%06d.parquet")
      Files.move(staging.resolve(f"f_$f%06d.parquet"), to, StandardCopyOption.ATOMIC_MOVE)
      Files.setLastModifiedTime(to, java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 600000L + f * 10L))
    }
    landedFiles += n
    callFiles = fs
  }

  private def watermarkFor(step: Int)(batch: DataFrame): Option[Timestamp] = {
    val (r, _) = ctx.span(step, "streaming.watermark_for")(batch.agg(max(col("ts"))).head())
    if (r.isNullAt(0)) None else Some(new Timestamp(g.watermarkOf(r.getTimestamp(0).getTime)))
  }

  def step(step: Int): StepOut = {
    val bytes = callFiles.map(f => f -> Files.size(stream.resolve(f"f_$f%06d.parquet"))).toMap
    val src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stream.toString)
    val startMs = System.currentTimeMillis(); val t0 = System.nanoTime()
    val res = try {
      val (r, _) = ctx.span(step, "streaming.drainAvailableNow")(StreamRunner.drainAvailableNow(
        src, "ts", g.GraceMs, g.LagMs, watermarkFor(step), out.toString, ledger, "stream"))
      Right(r)
    } catch { case e: Exception => Left(s"drain $step: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    res match {
      case Left(err) =>
        StepOut(wall, callFiles.map(f => UnitRec(step, startMs, endMs, wall / callFiles.size,
          rowsPerFile.toLong, bytes(f), ok = false)), Seq(err))
      case Right(r) =>
        // epoch walls come from the streaming progress events of this call
        val deadline = System.nanoTime() + 10L * 1000000000L
        def ps = progress.all.filter(p => p.startMs >= startMs - 5 && p.startMs <= endMs && p.rows > 0)
        while (ps.size < callFiles.size && System.nanoTime() < deadline) Thread.sleep(5)
        val prog = ps.sortBy(_.batchId)
        val epochs = r.epochs.filter(e => prog.exists(_.batchId == e.epoch.toLong)).sortBy(_.epoch)
        val flush = r.epochs.filterNot(e => prog.exists(_.batchId == e.epoch.toLong))
        val bad = mutable.ArrayBuffer.empty[String]
        if (epochs.size != callFiles.size || prog.size != callFiles.size)
          bad += s"drain $step: ${epochs.size} epochs / ${prog.size} progress events for ${callFiles.size} files"
        var prevRecap = 0L
        val units = epochs.zip(callFiles).zip(prog).map { case ((e, f), p) =>
          val (onTime, recap, quar) = truth(f)
          val want = (onTime + prevRecap, recap, quar)
          val got = (e.admitted, e.recaptured, e.quarantined)
          if (got != want) bad += s"epoch ${e.epoch} (file $f): admitted/recaptured/quarantined $got, truth $want"
          val wantFrontier = (g.fileMaxTs(f) - g.LagMs) * 1000L
          if (!e.frontierUs.contains(wantFrontier))
            bad += s"epoch ${e.epoch}: frontier ${e.frontierUs}, truth $wantFrontier"
          e.frontierUs.foreach(frontiers += _)
          prevRecap = recap
          UnitRec(step, p.startMs, p.startMs + p.durationMs, p.durationMs / 1000.0,
            rowsPerFile.toLong, bytes(f), got == want, Map(
              "streaming.add_batch_s" -> p.addBatchMs / 1000.0,
              "operators.late_recapture_rows" -> e.recaptured.toDouble,
              "operators.late_quarantine_rows" -> e.quarantined.toDouble,
              "streaming.carryover_rows" -> flush.map(_.admitted).sum.toDouble))
        }
        if (flush.map(_.admitted).sum != prevRecap)
          bad += s"drain $step: flushed ${flush.map(_.admitted).sum} carryover rows, truth $prevRecap"
        StepOut(wall, units, bad.toSeq)
    }
  }

  def isolated(step: Int): Map[String, Double] = Map("contract.validate_s" -> 0.0, "operators.dedup_s" -> 0.0)

  def checks(): Seq[(String, Option[String])] = Seq(
    "frontier is monotone" -> Option.when(frontiers.zip(frontiers.drop(1)).exists { case (a, b) => b < a })(
      s"frontier regressed: ${frontiers.mkString(",")}"),
    "every epoch settled in the ledger" -> {
      val committed = ledger.entries().count(_.state == "committed")
      val epochs = frontiers.size
      Option.when(committed < epochs)(s"$committed committed entries for $epochs epochs")
    })
}
