package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.contract.{ContractPolicy, Transform, ValidationProgram}
import graft.core.{Descriptor, Ledger, Position}
import graft.operators.{Dedup, MergeOps}
import graft.pkg.PackageWriter

/** The run spine — `cdf run <resource>` re-expressed Spark-first
  * (cdf: SURVEY §3.1; graph node chain VISION.md:713-721
  * SchemaFingerprint → Contract → Normalize → Profile → PackageSink;
  * settle path VISION.md:854-856).
  *
  * Stages: scan → validate (split accept/quarantine) → normalize →
  * dedup (disposition precondition) → package write (data + quarantine
  * + stats + manifest) → destination write → receipt verify → ledger
  * commit. Steps 1–3 are narrow map stages; the only shuffle is the
  * dedup/merge key when the disposition needs one. Planning does no
  * data I/O (cdf VISION.md:439).
  *
  * SQL executions of an Append or Replace run: the package data write
  * (observing count, content hash, stats and the cursor max), the
  * quarantine write (observing its count), the one-row stats write,
  * the destination write (the run's only read of the package), and the
  * receipt probe of the destination. Merge and CdcApply add the
  * touched-bucket lookup over the package and read it again in the
  * bucketed apply.
  */
object Runner {

  /** Internal partition column of the hash-bucketed Merge destination
    * layout. Readers of the logical table drop it (the receipt probe
    * does); it exists so merges prune to touched buckets. */
  val MergeBucketCol = "__mbucket"

  /** Name of the cursor-max aggregate observed by the package write. */
  private val CursorMax = "__cursor_max"

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
      val scopedCfg = cfg.copy(descriptor = cfg.descriptor.copy(
        id = cfg.descriptor.id))
      val pkgDir = s"$baseDir/pkg_$pid"
      val destDir = s"$baseDir/dest_$pid"
      // reuse the scope machinery by running under a partition-suffixed
      // resource id; the ledger scope is the partition key
      val r = run(spark, scopedCfg.copy(descriptor =
        scopedCfg.descriptor.copy(id = s"${cfg.descriptor.id}/partition:$pid")),
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

  /** Replace-by-swap with no missing-table window: write temp, move
    * the current dest ASIDE (rename, atomic on HDFS/posix), move temp
    * into place, then delete the old generation. A crash between the
    * two renames leaves dest.__old intact for recovery — a reader sees
    * the old table or the new one, never an absent one
    * (cdf VISION.md:927 "never delete-then-insert"). */
  def swapWrite(spark: SparkSession, df: DataFrame, destDir: String): Unit = {
    val tmp = s"$destDir.__swap"
    df.write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val destPath = new org.apache.hadoop.fs.Path(destDir)
    val oldPath = new org.apache.hadoop.fs.Path(s"$destDir.__old")
    fs.delete(oldPath, true) // clear any leftover from a prior crash
    val hadPrior = fs.exists(destPath)
    if (hadPrior) require(fs.rename(destPath, oldPath),
      s"swap failed: could not move $destPath aside")
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp), destPath),
      s"swap failed: could not move $tmp into place")
    if (hadPrior) fs.delete(oldPath, true)
  }

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
    val mrpf = graft.core.Segmentation.maxRecordsPerFile(cfg.approxRowBytes)
    val pkg = PackageWriter.write(deduped, Some(quarantined), pkgDir,
      cfg.descriptor.id, planHash = fingerprint, maxRecordsPerFile = mrpf,
      extraAggs = cursorAgg.map(_._2).toSeq)
    val segRecording = graft.core.Segmentation.Recording(
      pkg.segments, pkg.rows, pkg.rows * cfg.approxRowBytes,
      graft.core.Segmentation.Targets())
    graft.core.Segmentation.writeRecording(pkgDir, segRecording)

    val scope = Descriptor.ScopeKey.Root.render

    // replay identity: same package hash committed ANYWHERE in this
    // scope's history → duplicate, nothing re-executed. Head-only would
    // re-run the destination write (duplicating rows under Append) for
    // a package that is no longer the head but was already delivered.
    val priorCommit = ledger.entries().reverse.find(e =>
      e.resource == cfg.descriptor.id && e.scope == scope &&
        e.state == "committed" && e.packageHash == pkg.packageHash)
    priorCommit.foreach { prior =>
      return RunResult(pkg.packageHash, pkg.rows, pkg.quarantined,
        PackageWriter.Receipt("parquet:" + destDir, pkg.rows, pkg.contentHash),
        committed = true, duplicate = true,
        prior.position.map(Position.fromJson),
        schemaFingerprint = fingerprint, segments = segRecording.segments)
    }

    // 5. cursor position: window-close = max(observed) − lag.
    val position = cfg.positionOverride.orElse(cursorAgg.flatMap { case (field, _, lagUnits) =>
      Option(pkg.observed(CursorMax)).map(m =>
        Position.Cursor(field, m.asInstanceOf[Long] - lagUnits): Position)
    })

    ledger.propose(cfg.descriptor.id, scope, pkg.packageHash, position)

    // the run's one read of the package: the destination write's input
    val packaged = PackageWriter.readData(spark, pkg)

    // 6. destination write per disposition. Replace goes through the
    //    atomic swap — never delete-then-insert (cdf VISION.md:927).
    //    Merge and CdcApply do NOT full-rewrite: their destination is
    //    laid out hash-bucketed by the key (pmod(xxhash64(keys),
    //    mergeBuckets) as a partition column), so an incremental run
    //    rewrites ONLY the buckets its stage keys hash into — a 1%
    //    package pays ~1% of the destination (cdf law: a staged merge
    //    touches only staged keys, cdf-dest-postgres/src/commit.rs:
    //    916-943). Dynamic partition overwrite replaces exactly the
    //    partitions present in the write; untouched bucket directories
    //    are never opened.
    var mergeTouched: Option[Seq[Int]] = None
    var cdcDeletedKeys: Option[DataFrame] = None
    // exact row count the merge job actually wrote (staged + survivors),
    // observed inside the write job — the receipt probe must equal it
    // (cdf reconciles exact written/updated counts,
    // cdf-dest-postgres/src/commit.rs:916-943).
    var mergeExpectedRows: Option[Long] = None

    /** bucket-pruned upsert/apply: read only the stage's buckets from
      * the base, replace keys present in `stageKeys`, add `replacement`
      * rows. The merged touched scope is written to a fresh GENERATION
      * dir and the touched bucket dirs are then swapped into place by
      * rename — the destination is NEVER read and overwritten in the
      * same job (the previous dynamic-overwrite shape was only legal
      * because a persist() hid the self-read from Spark's overwrite
      * check, with cache eviction recomputing against half-overwritten
      * data). A bucket moved aside but not yet replaced at crash time
      * is restored from the aside dir on the next run. */
    def bucketedApply(keys: Seq[String], stageKeys: DataFrame,
        replacement: DataFrame): Unit = {
      def withBucket(df: DataFrame) = df.withColumn(MergeBucketCol,
        pmod(xxhash64(keys.map(col): _*), lit(cfg.mergeBuckets)).cast("int"))
      val staged = withBucket(replacement)
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
      if (!fs.exists(path(destDir))) {
        // first load: every staged bucket is new — plain bucketed write
        staged.observe(obs, count(lit(1)).as("rows"))
          .write.partitionBy(MergeBucketCol).parquet(destDir)
        mergeExpectedRows = Some(obs.get("rows").asInstanceOf[Long])
      } else {
        // touched buckets from the STAGE KEYS (bounded: <= mergeBuckets
        // ids, scans the incremental package, never the destination)
        val touched = withBucket(stageKeys).select(MergeBucketCol).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
        // partition pruning: only touched bucket dirs are read
        val base = spark.read.parquet(destDir)
          .filter(col(MergeBucketCol).isin(touched.map(Int.box): _*))
        val survivors = base.join(stageKeys, keys, "left_anti")
        val merged = staged.select(base.columns.map(col): _*)
          .unionByName(survivors.select(base.columns.map(col): _*))
        merged.observe(obs, count(lit(1)).as("rows"))
          .write.partitionBy(MergeBucketCol).parquet(gen)
        mergeExpectedRows = Some(obs.get("rows").asInstanceOf[Long])
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
        mergeTouched = Some(touched)
      }
    }

    cfg.descriptor.disposition match {
      case Descriptor.Disposition.Append =>
        packaged.write.mode("append").parquet(destDir)
      case Descriptor.Disposition.Replace =>
        swapWrite(spark, packaged, destDir)
      case Descriptor.Disposition.Merge(keys) =>
        bucketedApply(keys, packaged.select(keys.map(col): _*), packaged)
      case Descriptor.Disposition.CdcApply(keys, opCol) =>
        // ordered net effect of the package per key; a terminal delete
        // REMOVES the key from the destination (anti-join on ALL staged
        // keys evicts both updated and deleted keys; only non-deletes
        // re-enter). Incremental: keys absent from this package are
        // untouched — prior runs' rows survive (cdf VISION.md:931).
        val last = Dedup.keyed(packaged, keys,
          if (cfg.orderColumns.nonEmpty) cfg.orderColumns else keys, Dedup.Keep.Last)
        cdcDeletedKeys = Some(
          last.filter(col(opCol) === "delete").select(keys.map(col): _*))
        bucketedApply(keys, last.select(keys.map(col): _*),
          last.filter(col(opCol) =!= "delete").drop(opCol))
    }

    // 7. receipt: durable, independently verifiable ack. ONE probe scan
    //    — count + content hash come from a single aggregation job, and
    //    verification compares that probe against write-side
    //    expectations that cost no extra read:
    //    - Replace: dest must equal the package exactly (rows + hash).
    //    - Append: the content hash is an exact decimal SUM of per-row
    //      hashes, so expected = prior receipt + package, additively.
    //    - Merge: probe scope is the touched buckets only (pruned scan —
    //      the whole point is not re-reading 100 TB post-write); every
    //      staged row survives an upsert, so probe rows >= package rows.
    //    - CdcApply: the probe's SAME scan additionally counts surviving
    //      rows whose key this package deleted (broadcast mark of the
    //      stage-sized delete set) — must be zero.
    //    (The previous shape scanned the destination twice — countAndHash
    //    then a verifyReceipt re-read recomputing the identical pair.)
    ChaosHooks.beforeReceiptProbe.foreach(_(destDir))
    val probeDf = mergeTouched match {
      case Some(touched) => spark.read.parquet(destDir)
        .filter(col(MergeBucketCol).isin(touched.map(Int.box): _*))
      case None => spark.read.parquet(destDir)
    }
    val probeData = probeDf.drop(MergeBucketCol)
    val (destRows, destHash, deletedSurvivors) = cdcDeletedKeys match {
      case Some(del) =>
        val keys = del.columns.toSeq
        val dataCols = probeData.columns.toSeq
        val marked = probeData.join(
          broadcast(del.withColumn("__gdel", lit(1L))), keys, "left")
        val r = marked
          .agg(count(lit(1)), sum(PackageWriter.rowHash(dataCols)),
            sum(coalesce(col("__gdel"), lit(0L)))).head()
        (r.getLong(0), PackageWriter.hashAt(r, 1), if (r.isNullAt(2)) 0L else r.getLong(2))
      case None =>
        val (c, h) = PackageWriter.countAndHash(probeData)
        (c, h, 0L)
    }
    val receiptDest = mergeTouched match {
      case Some(touched) => s"parquet:$destDir#buckets=${touched.mkString(",")}"
      case None => "parquet:" + destDir
    }
    val receipt = PackageWriter.Receipt(receiptDest, destRows, destHash)
    val verified = cfg.descriptor.disposition match {
      case Descriptor.Disposition.Replace =>
        destRows == pkg.rows && destHash == pkg.contentHash
      case Descriptor.Disposition.Append =>
        ledger.committedHead(cfg.descriptor.id, scope).flatMap(_.receipt) match {
          case Some(priorJson) =>
            val pf = graft.core.CanonicalJson.objFields(
              graft.core.CanonicalJson.parse(priorJson))
            (pf.get("rows"), pf.get("content_hash")) match {
              case (Some(graft.core.CanonicalJson.JInt(priorRows)),
                    Some(graft.core.CanonicalJson.JStr(priorHash))) =>
                destRows == priorRows + pkg.rows &&
                  BigInt(destHash) == BigInt(priorHash) + BigInt(pkg.contentHash)
              case _ => destRows >= pkg.rows
            }
          case None => // first load: dest IS the package
            destRows == pkg.rows && destHash == pkg.contentHash
        }
      // Merge/CdcApply: EXACT reconciliation — the probe of the touched
      // scope must count precisely what the merge job observed itself
      // writing (staged + survivors). `>=` would miss a bucket that
      // dropped survivor rows while the staged rows landed; a missing
      // staged upsert is equally caught (cdf-dest-postgres/src/commit.rs:
      // 916-943 reconciles exact written/updated counts).
      case _: Descriptor.Disposition.Merge =>
        mergeExpectedRows.contains(destRows) && destRows >= pkg.rows
      case _: Descriptor.Disposition.CdcApply =>
        deletedSurvivors == 0L && mergeExpectedRows.contains(destRows)
    }
    if (!verified)
      throw graft.core.GraftError.Destination(
        "receipt verification failed — refusing to commit", transient = false)

    // 8. the ONLY path to committed: verified receipt (cdf VISION.md:854-856)
    ledger.commit(cfg.descriptor.id, scope, pkg.packageHash, receipt.toJsonString)

    RunResult(pkg.packageHash, pkg.rows, pkg.quarantined, receipt,
      committed = true, duplicate = false, position,
      schemaFingerprint = fingerprint, segments = segRecording.segments)
  }
}
