package graft.run

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * run's delivery — one match on the disposition whose branch writes
  * the destination, probes it and returns its receipt and verdict —
  * then the commit. The ledger is parsed twice per run.
  *
  * SQL executions of an Append or Replace run, three in all: the
  * package data write (observing count, content hash, stats and the
  * cursor max) and the quarantine write (observing its count), which
  * run concurrently; and the receipt probe, which reads with the
  * package's written schema (no schema-inference job). The one-row
  * `stats/` file is written on the driver, not by a SQL execution.
  * Landing the package into the destination is a file-level step, not
  * a SQL execution either: the package's `data/` part files are copied
  * in ([[land]]), so the package is never decoded or re-encoded.
  *
  * The Append probe is O(package), not O(destination history): it
  * scans only the part files this run landed, and vouches for the
  * older ones by metadata — one listing of the destination, whose
  * digest without the landed files must equal the listing recorded in
  * the prior receipt ([[PackageWriter.Receipt]]). A prior receipt
  * without a listing gets one full-destination probe instead. Replace
  * probes the whole destination, which is exactly the landed files.
  * Merge and CdcApply read the package once, for the bucketed apply:
  * the buckets their keys touch are observed on the package write.
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
    * runtime_chaos/ injects faults between pipeline stages). The spec
    * plants an intervention between the destination write and the
    * receipt probe to prove verification actually catches a
    * destination that lost rows. Never set in production paths. */
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
    * file is copied in under a `_landing-<name>` name, which readers
    * skip like any `_`-prefixed file, then renamed into place. The
    * destination receives exactly the bytes the package's evidence
    * describes, with no Spark job, and never shows a partial file.
    * Returns the landed part files, name → byte size in the package:
    * the Append receipt probe scans exactly these, and a failed Append
    * removes them. */
  def land(spark: SparkSession, pkg: PackageWriter.PackageResult, targetDir: String): Map[String, Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val data = new Path(s"${pkg.dir}/data")
    val target = new Path(targetDir)
    val srcFs = data.getFileSystem(conf)
    val fs = target.getFileSystem(conf)
    fs.mkdirs(target)
    srcFs.listStatus(data).filter(_.getPath.getName.startsWith("part-")).map { st =>
      val src = st.getPath
      val tmp = new Path(target, s"_landing-${src.getName}")
      require(FileUtil.copy(srcFs, src, fs, tmp, false, true, conf), s"landing failed: could not copy $src")
      require(fs.rename(tmp, new Path(target, src.getName)),
        s"landing failed: could not move $tmp into place")
      src.getName -> st.getLen
    }.toMap
  }

  /** The `part-*` files of `dir`, by name, from one `listStatus`: a
    * metadata call that reads no rows. */
  private def partFiles(spark: SparkSession, dir: String): Map[String, FileStatus] = {
    val path = new Path(dir)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(path)
      .filter(_.getPath.getName.startsWith("part-")).map(st => st.getPath.getName -> st).toMap
  }

  /** sha256 of the sorted `name:size:mtime` entries of `files`: the
    * listing an Append receipt records. */
  private def listingDigest(files: Iterable[FileStatus]): String =
    sha256Hex(files.map(f => s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
      .toSeq.sorted.mkString("\n"))

  /** Replace-by-swap: land the package in a temp dir, then swap it in
    * through [[Destinations.swap]], which never leaves the destination
    * absent (cdf VISION.md:927 "never delete-then-insert"). */
  def swapLand(spark: SparkSession, pkg: PackageWriter.PackageResult, destDir: String): Unit =
    Destinations.swap(spark, destDir)(land(spark, pkg, _))

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

    /** bucket-pruned upsert/apply: read only the package's buckets
      * (observed on its write) from the base, replace keys present in
      * `stageKeys`, add `replacement` rows. The merged touched scope is
      * written to a fresh GENERATION
      * dir and the touched bucket dirs are then swapped into place by
      * rename — the destination is NEVER read and overwritten in the
      * same job (the previous dynamic-overwrite shape was only legal
      * because a persist() hid the self-read from Spark's overwrite
      * check, with cache eviction recomputing against half-overwritten
      * data). A bucket moved aside but not yet replaced at crash time
      * is restored from the aside dir on the next run. Returns the
      * touched buckets (None on a first load, which writes them all) and
      * the exact row count the write observed itself writing (staged +
      * survivors): the receipt probe of that scope must equal it (cdf
      * reconciles exact written/updated counts,
      * cdf-dest-postgres/src/commit.rs:916-943). */
    def bucketedApply(keys: Seq[String], stageKeys: DataFrame,
        replacement: DataFrame): (Option[Seq[Int]], Long) = {
      val staged = replacement.withColumn(MergeBucketCol, bucketOf(keys))
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      def path(s: String) = new org.apache.hadoop.fs.Path(s)
      val gen = s"$destDir.__mergegen"   // new generation of touched buckets
      val aside = s"$destDir.__mergeold" // prior generation, aside mid-swap
      // recovery: a crash mid-swap can leave a bucket moved aside but not
      // yet replaced — restore any aside bucket the dest lacks, then clear
      if (fs.exists(path(aside))) {
        fs.listStatus(path(aside)).foreach { st =>
          val destB = path(s"$destDir/${st.getPath.getName}")
          if (!fs.exists(destB))
            require(fs.rename(st.getPath, destB), s"merge recovery failed: $destB")
        }
        fs.delete(path(aside), true)
      }
      fs.delete(path(gen), true) // leftover generation from a prior crash
      val obs = org.apache.spark.sql.Observation()
      def written = obs.get("rows").asInstanceOf[Long]
      if (!fs.exists(path(destDir))) {
        // first load: every staged bucket is new — plain bucketed write
        staged.observe(obs, count(lit(1)).as("rows"))
          .write.partitionBy(MergeBucketCol).parquet(destDir)
        (None, written)
      } else {
        // touched buckets of the stage keys, as the package write
        // observed them (bounded: <= mergeBuckets ids, no package scan)
        val touched = pkg.observed(TouchedBuckets).asInstanceOf[scala.collection.Seq[Int]]
          .toSeq.sorted
        // partition pruning: only touched bucket dirs are read
        val base = spark.read.parquet(destDir)
          .filter(col(MergeBucketCol).isin(touched.map(Int.box): _*))
        val survivors = base.join(stageKeys, keys, "left_anti")
        val merged = staged.select(base.columns.map(col): _*)
          .unionByName(survivors.select(base.columns.map(col): _*))
        merged.observe(obs, count(lit(1)).as("rows"))
          .write.partitionBy(MergeBucketCol).parquet(gen)
        // swap: for each touched bucket, move the old dir aside, move the
        // new generation in. A bucket whose every row was evicted
        // (terminal deletes) has no generation dir — its old dir stays
        // aside and is dropped with the cleanup. No commit happens until
        // the receipt verifies, so any crash window re-runs idempotently.
        fs.mkdirs(path(aside))
        touched.foreach { b =>
          val destB = path(s"$destDir/$MergeBucketCol=$b")
          val genB = path(s"$gen/$MergeBucketCol=$b")
          if (fs.exists(destB))
            require(fs.rename(destB, path(s"$aside/$MergeBucketCol=$b")),
              s"merge swap failed: could not move $destB aside")
          if (fs.exists(genB))
            require(fs.rename(genB, destB),
              s"merge swap failed: could not move $genB into place")
        }
        fs.delete(path(aside), true)
        fs.delete(path(gen), true)
        (Some(touched), written)
      }
    }

    /** The receipt probe's input, read after the chaos kill-point. */
    def probe[A](read: => A): A = {
      ChaosHooks.beforeReceiptProbe.foreach(_(destDir))
      read
    }
    /** Count + content hash of `paths` under the destination, read with
      * the package's written schema. */
    def probeLanded(paths: String*): (Long, String) =
      PackageWriter.countAndHash(spark.read.schema(pkg.schema).parquet(paths: _*))
    /** `check`'s verdict on an Append's landed files; a false verdict,
      * or a check that throws, first removes the landed files still
      * present, so the destination is again what the committed receipt
      * describes and the next Append can verify. */
    def verifyLanded(landed: Map[String, Long])(check: => Boolean): Boolean = {
      def unland(): Unit = {
        val dest = new Path(destDir)
        val fs = dest.getFileSystem(spark.sparkContext.hadoopConfiguration)
        landed.keys.foreach(n => fs.delete(new Path(dest, n), false))
      }
      val ok = try check catch { case e: Throwable => unland(); throw e }
      if (!ok) unland()
      ok
    }
    /** A bucketed apply's probe scope: the touched buckets only (a
      * pruned scan — the point is not re-reading 100 TB post-write), or
      * the whole destination after a first load. */
    def bucketScope(touched: Option[Seq[Int]]): DataFrame = touched.fold(readDest(spark, destDir))(t =>
      spark.read.parquet(destDir).filter(col(MergeBucketCol).isin(t.map(Int.box): _*))
        .drop(MergeBucketCol))
    def bucketDest(touched: Option[Seq[Int]]): String =
      s"parquet:$destDir" + touched.fold("")(t => s"#buckets=${t.mkString(",")}")

    // 6–8. settle (Ledger.settle): a package hash committed ANYWHERE in
    //    this scope's history is a duplicate and nothing is re-executed
    //    (head-only would re-append a package delivered before the
    //    head). Otherwise the package is proposed, delivered, and
    //    committed only on a verified receipt (cdf VISION.md:854-856).
    //    Append and Replace land the package's files, Replace through the
    //    atomic swap. Merge and CdcApply rewrite ONLY the hash buckets
    //    their stage keys fall in — a 1% package pays ~1% of the
    //    destination (cdf-dest-postgres/src/commit.rs:916-943). The
    //    receipt is ONE probe scan of the written scope (count + content
    //    hash in one aggregation job: an Append's landed files, the
    //    touched buckets, or the whole table), checked against
    //    write-side expectations that cost no extra read.
    val settled = ledger.settle(cfg.descriptor.id, Descriptor.ScopeKey.Root.render,
        pkg.packageHash, position) { head =>
      val (receipt, verified) = cfg.descriptor.disposition match {
        case Descriptor.Disposition.Append =>
          // the content hash is an exact decimal SUM of per-row hashes,
          // so the destination must hold the prior receipt + the package
          val prior = head.flatMap(_.receipt).map(Receipt.fromJson)
            .getOrElse(Receipt("", 0L, "0", Some(listingDigest(Nil))))
          val rows = prior.rows + pkg.rows
          val hash = BigInt(prior.contentHash) + BigInt(pkg.contentHash)
          val landed = land(spark, pkg, destDir)
          val parts = probe(partFiles(spark, destDir))
          val verified = verifyLanded(landed)(prior.listing match {
            case Some(before) =>
              // the landed files by name, size and content; the older
              // generations by the listing the prior receipt recorded
              landed.forall { case (n, size) => parts.get(n).exists(_.getLen == size) } &&
                listingDigest((parts -- landed.keys).values) == before && {
                  val (r, h) = probeLanded(landed.keys.toSeq.map(n => s"$destDir/$n"): _*)
                  r == pkg.rows && BigInt(h) == BigInt(pkg.contentHash)
                }
            case None => // a receipt without a listing: one full probe
              val (r, h) = probeLanded(destDir)
              r == rows && BigInt(h) == hash
          })
          (Receipt(s"parquet:$destDir", rows, hash.toString, Some(listingDigest(parts.values))), verified)
        case Descriptor.Disposition.Replace =>
          swapLand(spark, pkg, destDir)
          val (rows, hash) = probe(probeLanded(destDir))
          (Receipt(s"parquet:$destDir", rows, hash), rows == pkg.rows && hash == pkg.contentHash)
        case Descriptor.Disposition.Merge(keys) =>
          val (touched, written) = bucketedApply(keys, packaged.select(keys.map(col): _*), packaged)
          val (rows, hash) = PackageWriter.countAndHash(probe(bucketScope(touched)))
          // EXACT reconciliation: `>=` alone would miss a bucket that
          // dropped survivor rows while the staged rows landed; every
          // staged row survives an upsert
          (Receipt(bucketDest(touched), rows, hash), rows == written && rows >= pkg.rows)
        case Descriptor.Disposition.CdcApply(keys, opCol) =>
          // ordered net effect of the package per key; a terminal delete
          // REMOVES the key from the destination (anti-join on ALL staged
          // keys evicts both updated and deleted keys; only non-deletes
          // re-enter). Incremental: keys absent from this package are
          // untouched — prior runs' rows survive (cdf VISION.md:931).
          val last = Dedup.keyed(packaged, keys,
            if (cfg.orderColumns.nonEmpty) cfg.orderColumns else keys, Dedup.Keep.Last)
          val (touched, written) = bucketedApply(keys, last.select(keys.map(col): _*),
            last.filter(col(opCol) =!= "delete").drop(opCol))
          // the probe's SAME scan also counts surviving rows whose key
          // this package deleted (broadcast mark of the stage-sized
          // delete set) — must be zero
          val scope = probe(bucketScope(touched))
          val deleted = last.filter(col(opCol) === "delete").select(keys.map(col): _*)
          val r = scope.join(broadcast(deleted.withColumn("__gdel", lit(1L))), keys, "left")
            .agg(count(lit(1)), sum(PackageWriter.rowHash(scope.columns.toSeq)),
              sum(coalesce(col("__gdel"), lit(0L)))).head()
          (Receipt(bucketDest(touched), r.getLong(0), PackageWriter.hashAt(r, 1)),
            (r.isNullAt(2) || r.getLong(2) == 0L) && r.getLong(0) == written)
      }
      (receipt.toJsonString, verified)
    }

    val (receipt, at) =
      if (settled.duplicate) (Receipt(s"parquet:$destDir", pkg.rows, pkg.contentHash),
        settled.entry.position.map(Position.fromJson))
      else (Receipt.fromJson(settled.entry.receipt.get), position)
    RunResult(pkg.packageHash, pkg.rows, pkg.quarantined, receipt,
      committed = true, duplicate = settled.duplicate, at,
      schemaFingerprint = fingerprint, segments = segRecording.segments)
  }
}
