package graft.run

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.contract.{ContractPolicy, Transform, ValidationProgram}
import graft.core.CanonicalJson.sha256Hex
import graft.core.{Descriptor, Ledger, Position}
import graft.operators.Dedup
import graft.pkg.{Destinations, PackageWriter}
import graft.pkg.PackageWriter.Receipt

/** The run spine — `cdf run <resource>` re-expressed Spark-first
  * (cdf: SURVEY §3.1; graph node chain VISION.md:713-721
  * SchemaFingerprint → Contract → Normalize → Profile → PackageSink;
  * settle path VISION.md:854-856).
  *
  * Stages: scan → validate (split accept/quarantine) → normalize →
  * dedup (disposition precondition) → package write (data + quarantine
  * + stats + manifest) → settle. Steps 1–3 are narrow map stages; the
  * only shuffle is the dedup/merge key when the disposition needs one.
  * Planning does no data I/O (cdf VISION.md:439).
  *
  * Settle is [[Ledger.settle]], the step every runner shares: replay
  * check + committed head + proposal in one ledger read, then this
  * run's delivery, then the commit; the ledger is parsed twice per run.
  * Delivery is stage → verify → publish ([[Destinations.staged]]) for
  * every disposition: the output is written to a sibling stage dir
  * (`<dest>.__stage`, `.__swap` or `.__mergegen`), the receipt probe
  * reads THAT dir with the written schema, and only a verified output
  * is renamed into the destination. A refused run leaves the
  * destination as its committed receipt describes; a crashed one
  * leaves at most a stage dir, which the next run clears.
  *
  * SQL executions of an Append or Replace run, three in all: the
  * package data write (observing count, content hash, stats and the
  * cursor max) and the quarantine write (observing its count), which
  * run concurrently; and the receipt probe. The one-row `stats/` file
  * is written on the driver. Landing is a file-level step: the
  * package's `data/` part files are copied into the stage dir
  * ([[land]]), never decoded or re-encoded.
  *
  * One receipt rule for every disposition ([[PackageWriter.Receipt]]):
  * the prior receipt, less the rows the run displaced (none for Append,
  * all for Replace, the touched buckets' base rows for Merge/CdcApply),
  * plus the rows it staged, with the destination's listing after
  * publish. A run verifies when the staged probe's count + hash is what
  * the write put there and (but for Replace) the destination's listing
  * equals the prior receipt's; a receipt without one gets one full probe
  * instead. The probe is O(package), not O(destination history). Merge
  * and CdcApply read the package once, for the bucketed apply.
  */
object Runner {

  /** Internal partition column of the hash-bucketed Merge destination
    * layout. Readers of the logical table drop it (the receipt probe
    * does); it exists so merges prune to touched buckets. */
  val MergeBucketCol = "__mbucket"

  /** Names of the aggregates observed by the package write: the cursor
    * max, and the Merge/CdcApply buckets the package's keys fall in. */
  private val CursorMax = "__cursor_max"
  private val TouchedBuckets = "__touched_buckets"

  /** Test-only chaos kill-points (cdf: crates/cdf-conformance/src/
    * runtime_chaos/ injects faults between pipeline stages).
    * `beforeReceiptProbe` receives the run's stage dir between the
    * staged write and the receipt probe, so a spec can prove a staged
    * output that lost rows is refused and never published;
    * `CdcLogRunner.drainBulk` passes its `units/` root at the same point.
    * Never set in production paths. */
  object ChaosHooks {
    @volatile var beforeReceiptProbe: Option[String => Unit] = None
  }

  final case class RunConfig(
      descriptor: Descriptor.ResourceDescriptor,
      policy: ContractPolicy,
      transforms: Seq[Transform] = Nil,
      redactColumns: Set[String] = Set.empty,
      orderColumns: Seq[String] = Nil,
      /** schema authority; when set, the observed schema is admitted
        * against it per batch (cdf schema_authority.rs). */
      authority: Option[org.apache.spark.sql.types.StructType] = None,
      /** validation depth ring for this run (DepthController drives
        * transitions across runs). */
      depthRing: graft.contract.DepthController.Ring = graft.contract.DepthController.Full,
      /** estimated bytes/row for segmentation planning. */
      approxRowBytes: Long = 64,
      /** source-authoritative position: snapshot/token-positioned
        * sources (Iceberg snapshot ids, Mongo resume tokens, page
        * tokens) know their own frontier — the run records it verbatim
        * instead of deriving a column cursor (cdf: positions come from
        * the source driver, position.rs). */
      positionOverride: Option[Position] = None,
      /** hash-bucket count for the Merge destination layout. Fixed at
        * table creation (like bucketBy): an incremental merge rewrites
        * ONLY the buckets its stage keys hash into, never the whole
        * destination. Size for the target scale (e.g. 4096 ≈ 25 GB/
        * bucket at 100 TB). */
      mergeBuckets: Int = 64)

  final case class RunResult(
      packageHash: String,
      accepted: Long,
      quarantined: Long,
      receipt: PackageWriter.Receipt,
      committed: Boolean,
      duplicate: Boolean,
      position: Option[Position],
      schemaFingerprint: String = "",
      segments: Int = 1)

  /** Partition-scoped runs: one package + ledger scope per partition
    * (cdf ScopeKey `partition:` — the single-writer unit, VISION.md:
    * 873-875), with the combined resume position as a typed Composite
    * merged across scopes (position_aggregation.rs). Scopes are
    * independent: a failed partition leaves the others committed and
    * resumable. */
  def runPartitioned(spark: SparkSession, cfg: RunConfig,
      partitions: Seq[(String, DataFrame)], baseDir: String,
      ledger: Ledger): (Seq[(String, RunResult)], Option[Position]) = {
    val results = partitions.map { case (pid, df) =>
      val pkgDir = s"$baseDir/pkg_$pid"
      val destDir = s"$baseDir/dest_$pid"
      // reuse the scope machinery by running under a partition-suffixed
      // resource id `<id>/partition:<pid>`; the ledger scope stays `root`
      val r = run(spark, cfg.copy(descriptor =
        cfg.descriptor.copy(id = s"${cfg.descriptor.id}/partition:$pid")),
        df, pkgDir, destDir, ledger)
      pid -> r
    }
    val combined = results.flatMap { case (pid, r) =>
      r.position.map(pid -> _)
    } match {
      case Nil => None
      case ps => Some(Position.Composite(ps.toMap): Position)
    }
    (results, combined)
  }

  /** `cdf preview`: run the validate → normalize pipeline over a
    * bounded slice, writing NOTHING (cdf: orchestration.rs:244-420 —
    * bounded read, no artifacts, no ledger effects). */
  def preview(cfg: RunConfig, source: DataFrame, limit: Int): DataFrame = {
    val program = ValidationProgram.compile(cfg.policy)
    Transform(program.annotate(source), cfg.transforms).limit(limit)
  }

  /** Read a destination directory as its logical table — internal
    * layout columns (the Merge bucket partition) stripped. */
  def readDest(spark: SparkSession, destDir: String): DataFrame =
    spark.read.parquet(destDir).drop(MergeBucketCol)

  /** Land a package's rows into `targetDir` by file: each `data/part-*`
    * file is copied in under its own name. The target is a run's stage
    * directory, never the destination itself: the staged files are
    * probed there and renamed into the destination only on a verified
    * receipt. The destination receives exactly the bytes the package's
    * evidence describes, with no Spark job. On a local path the copies'
    * file modes are set through java.nio ([[graft.core.NioLocalFileSystem]]),
    * so landing starts no process. */
  def land(spark: SparkSession, pkg: PackageWriter.PackageResult, targetDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = new Path(s"${pkg.dir}/data")
    val target = new Path(targetDir)
    val srcFs = data.getFileSystem(conf)
    val fs = target.getFileSystem(conf)
    fs.mkdirs(target)
    srcFs.listStatus(data).map(_.getPath).filter(_.getName.startsWith("part-")).foreach { src =>
      require(FileUtil.copy(srcFs, src, fs, new Path(target, src.getName), false, true, conf),
        s"landing failed: could not copy $src")
    }
  }

  /** The `part-*` files of `dir` and of its Merge bucket dirs (none if
    * `dir` does not exist), by path relative to `dir`, from one
    * `listStatus` per directory: metadata calls that read no rows. */
  private def listing(spark: SparkSession, dir: String): Map[String, FileStatus] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def under(d: Path, prefix: String): Seq[(String, FileStatus)] = fs.listStatus(d).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(s"$MergeBucketCol=")) under(st.getPath, s"$prefix$name/")
      else if (name.startsWith("part-")) Seq(s"$prefix$name" -> st)
      else Nil
    }
    if (fs.exists(root)) under(root, "").toMap else Map.empty
  }

  /** sha256 of the sorted `path:size:mtime` entries of a [[listing]]:
    * the listing a receipt records. */
  private def listingDigest(files: Map[String, FileStatus]): String =
    sha256Hex(files.map { case (n, f) => s"$n:${f.getLen}:${f.getModificationTime}" }
      .toSeq.sorted.mkString("\n"))

  /** Execute one bounded run: `source` → package at `pkgDir` →
    * destination parquet at `destDir` → ledger commit. Idempotent on
    * package hash (replay → duplicate=true, nothing rewritten). */
  def run(spark: SparkSession, cfg: RunConfig, source: DataFrame,
      pkgDir: String, destDir: String, ledger: Ledger): RunResult = {

    // 0. schema fingerprint + admission against the authority — drift
    //    is caught at the batch where it occurs (cdf VISION.md:681).
    //    New columns admitted-as-variant are MOVED into the _cdf_variant
    //    JSON column so the authority schema stays stable downstream.
    val fingerprint = graft.contract.SchemaOps.fingerprint(source.schema)
    val admitted = cfg.authority match {
      case None => source
      case Some(auth) =>
        graft.contract.SchemaOps.admit(auth, source.schema) match {
          case graft.contract.SchemaOps.AdmissionVerdict.RejectBatch(reason) =>
            throw graft.core.GraftError.Data(s"schema admission rejected batch: $reason")
          case graft.contract.SchemaOps.AdmissionVerdict.Quarantine(reason) =>
            throw graft.core.GraftError.Data(s"schema admission quarantined batch: $reason")
          case graft.contract.SchemaOps.AdmissionVerdict.AdmitAsVariant(newCols) =>
            source.withColumn(graft.contract.NestedActions.VariantColumn,
              to_json(struct(newCols.map(col): _*)))
              .drop(newCols: _*)
          case graft.contract.SchemaOps.AdmissionVerdict.Admit => source
        }
    }

    // 1. validate: one classifying projection, then two filters; the
    //    depth ring decides full-frame vs seeded-sample validation
    val program = ValidationProgram.compile(cfg.policy)
    val validationInput = graft.contract.DepthController.validationInput(admitted, cfg.depthRing)
    val accepted0 =
      if (validationInput eq admitted) program.accepted(admitted)
      else admitted // sampled ring: checks ran on the sample; full frame flows
    val quarantined = program.quarantined(validationInput, cfg.redactColumns)

    // 2. normalize (rename/cast/derive/filter/redact pipeline)
    val normalized = Transform(accepted0, cfg.transforms)

    // 3. disposition precondition: keyed dedup (pure function of the
    //    batch — cdf VISION.md:929 "dedup first")
    val deduped = cfg.descriptor.disposition match {
      case Descriptor.Disposition.Merge(keys) if keys.nonEmpty =>
        Dedup.keyed(normalized, keys,
          if (cfg.orderColumns.nonEmpty) cfg.orderColumns else keys, Dedup.Keep.Last)
      case _ => normalized
    }

    // 3b+4. package evidence (hash-addressed, partition-invariant).
    //    Segmentation is enforced by the writer's per-file row cap —
    //    derived from the byte/row targets alone, so planning needs NO
    //    pre-count (a second full source scan) and NO repartition
    //    shuffle; the recording is written AFTER the write from actual
    //    counters (outside identity — jobs invariance). The write also
    //    observes the cursor max for step 5, typed by the cursor
    //    column's domain: timestamps/dates become epoch micros (lag in
    //    ms → µs); numeric cursors stay in their own units with the lag
    //    subtracted raw (non-timestamp watermark domains, SURVEY §7.4.3).
    val cursorAgg = cfg.descriptor.cursor.filter(_ => cfg.positionOverride.isEmpty).map { c =>
      import org.apache.spark.sql.types._
      val (maxExpr, lagUnits) = deduped.schema(c.field).dataType match {
        case TimestampType | TimestampNTZType | DateType =>
          (unix_micros(max(col(c.field)).cast(TimestampType)), c.lagMs * 1000L)
        case _ => (max(col(c.field)).cast(LongType), c.lagMs)
      }
      (c.field, maxExpr.as(CursorMax), lagUnits)
    }
    //    Merge and CdcApply also observe the buckets the package's keys
    //    fall in (at most mergeBuckets ids): the apply's touched scope.
    def bucketOf(keys: Seq[String]): Column =
      pmod(xxhash64(keys.map(col): _*), lit(cfg.mergeBuckets)).cast("int")
    val bucketAgg = cfg.descriptor.disposition match {
      case Descriptor.Disposition.Merge(keys) => Some(collect_set(bucketOf(keys)).as(TouchedBuckets))
      case Descriptor.Disposition.CdcApply(keys, _) => Some(collect_set(bucketOf(keys)).as(TouchedBuckets))
      case _ => None
    }
    val mrpf = graft.core.Segmentation.maxRecordsPerFile(cfg.approxRowBytes)
    val pkg = PackageWriter.write(deduped, Some(quarantined), pkgDir,
      cfg.descriptor.id, planHash = fingerprint, maxRecordsPerFile = mrpf,
      extraAggs = cursorAgg.map(_._2).toSeq ++ bucketAgg)
    val segRecording = graft.core.Segmentation.Recording(
      pkg.segments, pkg.rows, pkg.rows * cfg.approxRowBytes,
      graft.core.Segmentation.Targets())
    graft.core.Segmentation.writeRecording(pkgDir, segRecording)

    // 5. cursor position: window-close = max(observed) − lag.
    val position = cfg.positionOverride.orElse(cursorAgg.flatMap { case (field, _, lagUnits) =>
      Option(pkg.observed(CursorMax)).map(m =>
        Position.Cursor(field, m.asInstanceOf[Long] - lagUnits): Position)
    })

    // Merge and CdcApply read the package (with its written schema);
    // Append and Replace land its files and never read it
    lazy val packaged = PackageWriter.readData(spark, pkg)
    val conf = spark.sparkContext.hadoopConfiguration
    val NoRows = (0L, "0")

    /** The receipt probe's input: `stageDir` read with the written
      * `schema`, after the chaos kill-point. A staged file lost before
      * the probe makes a false verdict, not a read error. */
    def probe(stageDir: String, schema: StructType): DataFrame = {
      ChaosHooks.beforeReceiptProbe.foreach(_(stageDir))
      spark.read.schema(schema).parquet(stageDir)
    }
    /** Land the package's files into `stageDir` and probe them: their
      * count + content hash, and whether that is exactly the package's. */
    def landVerified(stageDir: String): ((Long, String), Boolean) = {
      land(spark, pkg, stageDir)
      val probed = PackageWriter.countAndHash(probe(stageDir, pkg.schema))
      (probed, probed == (pkg.rows, pkg.contentHash))
    }

    /** bucket-pruned upsert/apply: read only the package's buckets
      * (observed on its write) from the base, replace keys present in
      * `stageKeys`, add `replacement` rows, staged as a GENERATION dir
      * `<dest>.__mergegen` that `check` and `priorIntact` verify. The
      * write observes the count + hash (in `readDest`'s column order) of
      * the base rows it displaces and of the rows it stages. A verified
      * generation is published by swapping each touched bucket dir (a
      * first load: as the destination); a crash mid-swap's aside bucket
      * is restored. */
    def bucketedApply(keys: Seq[String], stageKeys: DataFrame, replacement: DataFrame,
        priorIntact: StructType => Boolean)(check: DataFrame => ((Long, String), Boolean)) = {
      val fs = org.apache.hadoop.fs.FileSystem.get(conf)
      val dest = new Path(destDir)
      val aside = new Path(s"$destDir.__mergeold") // prior generation, aside mid-swap
      // recovery: a crash mid-swap can leave a bucket moved aside but not
      // yet replaced — restore any aside bucket the dest lacks, then clear
      if (fs.exists(aside)) {
        fs.listStatus(aside).foreach { st =>
          val destB = new Path(dest, st.getPath.getName)
          if (!fs.exists(destB))
            require(fs.rename(st.getPath, destB), s"merge recovery failed: $destB")
        }
        fs.delete(aside, true)
      }
      // touched buckets of the stage keys, as the package write observed
      // them (bounded: <= mergeBuckets ids, no package scan)
      val touched = pkg.observed(TouchedBuckets).asInstanceOf[scala.collection.Seq[Int]].toSeq.sorted
      val firstLoad = !fs.exists(dest)
      val (merged, displaced) = if (firstLoad) (replacement, () => NoRows) else {
        // partition pruning: only touched bucket dirs are read
        val (base, displaced) = PackageWriter.observingCountAndHash(spark.read.parquet(destDir)
          .filter(col(MergeBucketCol).isin(touched.map(Int.box): _*)).drop(MergeBucketCol), "merge base")
        val survivors = base.join(stageKeys, keys, "left_anti")
        (replacement.select(base.columns.map(col): _*)
          .unionByName(survivors.select(base.columns.map(col): _*)), displaced)
      }
      val (observed, written) = PackageWriter.observingCountAndHash(merged, "merge")
      val out = observed.withColumn(MergeBucketCol, bucketOf(keys))
      val staged = Destinations.staged(spark, s"$destDir.__mergegen") { gen =>
        out.write.partitionBy(MergeBucketCol).parquet(gen)
        val (probed, ok) = check(probe(gen, out.schema).drop(MergeBucketCol))
        (probed, ok && probed == written() && priorIntact(out.schema))
      } { gen =>
        if (firstLoad) require(fs.rename(gen, dest), s"merge publish failed: could not move $gen into place")
        else {
          // for each touched bucket, move the old dir aside, move the new
          // generation in. A bucket whose every row was evicted (terminal
          // deletes) has no generation dir — its old dir stays aside and
          // is dropped with the cleanup.
          fs.mkdirs(aside)
          touched.foreach { b =>
            val destB = new Path(dest, s"$MergeBucketCol=$b")
            val genB = new Path(gen, s"$MergeBucketCol=$b")
            if (fs.exists(destB))
              require(fs.rename(destB, new Path(aside, destB.getName)),
                s"merge swap failed: could not move $destB aside")
            if (fs.exists(genB))
              require(fs.rename(genB, destB), s"merge swap failed: could not move $genB into place")
          }
          fs.delete(aside, true)
        }
      }
      (displaced(), staged, if (firstLoad) "" else s"#buckets=${touched.mkString(",")}")
    }

    // 6–8. settle (Ledger.settle): a package hash committed ANYWHERE in
    //    this scope's history is a duplicate and nothing is re-executed
    //    (head-only would re-append a package delivered before the
    //    head). Otherwise the package is proposed, delivered, and
    //    committed only on a verified receipt (cdf VISION.md:854-856).
    //    Delivery is stage → verify → publish: Append and Replace land
    //    the package's files in the stage dir, Merge and CdcApply stage
    //    ONLY the hash buckets their keys fall in — a 1% package pays ~1%
    //    of the destination. Each delivery returns what it displaced, what
    //    it staged and its verdict; one rule below makes the receipt.
    val settled = ledger.settle(cfg.descriptor.id, Descriptor.ScopeKey.Root.render,
        pkg.packageHash, position) { head =>
      val prior = head.flatMap(_.receipt).map(Receipt.fromJson)
        .getOrElse(Receipt("", 0L, "0", Some(listingDigest(Map.empty))))
      /** The verdict's second check: the destination still holds the
        * files `prior` describes — by the listing it recorded, or (a
        * receipt without one) by one full probe, read with `schema`. */
      def priorIntact(schema: StructType): Boolean = prior.listing.fold(
        PackageWriter.countAndHash(spark.read.schema(schema).parquet(destDir).drop(MergeBucketCol)) ==
          (prior.rows, prior.contentHash))(_ == listingDigest(listing(spark, destDir)))

      val (displaced, (staged, verified), scope) = cfg.descriptor.disposition match {
        case Descriptor.Disposition.Append =>
          (NoRows, Destinations.staged(spark, s"$destDir.__stage") { stage =>
            val (probed, landedOk) = landVerified(stage)
            (probed, landedOk && priorIntact(pkg.schema))
          } { stage =>
            val fs = stage.getFileSystem(conf)
            fs.mkdirs(new Path(destDir))
            listing(spark, stage.toString).keys.foreach { n =>
              require(fs.rename(new Path(stage, n), new Path(destDir, n)),
                s"publish failed: could not move $n into $destDir")
            }
          }, "")
        case Descriptor.Disposition.Replace =>
          ((prior.rows, prior.contentHash), Destinations.swap(spark, destDir)(landVerified), "")
        case Descriptor.Disposition.Merge(keys) =>
          bucketedApply(keys, packaged.select(keys.map(col): _*), packaged, priorIntact)(
            scope => (PackageWriter.countAndHash(scope), true))
        case Descriptor.Disposition.CdcApply(keys, opCol) =>
          // ordered net effect of the package per key; a terminal delete
          // REMOVES the key from the destination (anti-join on ALL staged
          // keys evicts both updated and deleted keys; only non-deletes
          // re-enter). Incremental: keys absent from this package are
          // untouched — prior runs' rows survive (cdf VISION.md:931).
          val last = Dedup.keyed(packaged, keys,
            if (cfg.orderColumns.nonEmpty) cfg.orderColumns else keys, Dedup.Keep.Last)
          val deleted = last.filter(col(opCol) === "delete").select(keys.map(col): _*)
          bucketedApply(keys, last.select(keys.map(col): _*),
              last.filter(col(opCol) =!= "delete").drop(opCol), priorIntact) { scope =>
            // the probe's SAME scan also counts surviving rows whose key
            // this package deleted — must be zero
            val r = scope.join(deleted.withColumn("__gdel", lit(1L)), keys, "left")
              .agg(count(lit(1)), sum(PackageWriter.rowHash(scope.columns.toSeq)),
                sum(coalesce(col("__gdel"), lit(0L)))).head()
            ((r.getLong(0), PackageWriter.hashAt(r, 1)), r.isNullAt(2) || r.getLong(2) == 0L)
          }
      }
      // the one receipt rule: the whole table is the prior receipt, less
      // what this delivery displaced, plus what it staged (exact sums of
      // per-row hashes), and the destination's listing after publish
      (Receipt(s"parquet:$destDir$scope", prior.rows - displaced._1 + staged._1,
        (BigInt(prior.contentHash) - BigInt(displaced._2) + BigInt(staged._2)).toString,
        Some(listingDigest(listing(spark, destDir)))).toJsonString, verified)
    }

    // the committed entry's receipt and position, on a replay as on a commit
    RunResult(pkg.packageHash, pkg.rows, pkg.quarantined, Receipt.fromJson(settled.entry.receipt.get),
      committed = true, duplicate = settled.duplicate, settled.entry.position.map(Position.fromJson),
      schemaFingerprint = fingerprint, segments = segRecording.segments)
  }
}
