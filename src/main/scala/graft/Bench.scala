package graft

import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every catalog query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric","value","unit","derived","sf"}.
  *
  * Each query is forced through the `noop` sink so the full plan
  * materializes (a bare count() would let Catalyst prune the very
  * work being measured). One untimed warmup of a small query pays the
  * JIT/codegen cost once.
  *
  * PHASE ORDER (r11): the query sweep runs FIRST, the sustained
  * derived cells run AFTER it. r10 ran the derived cells first and
  * kept a multi-hundred-MB decoded on-heap fixture live through the
  * sweep; the head of the sweep regressed 4–14× at quiet host load.
  * Sweep-first makes derived-cell heap/page-cache pressure structurally
  * unable to pollute query cells, and every fixture is now freed the
  * moment its cell is measured. The derived cells self-certify via
  * their own in-run stability ratios, so they do not need to go first.
  */
object Bench {
  /** Fingerprint of the testdata under `dir`: every regular file in the
    * tree, as `relative/path:size:mtime`, sorted and MD5-hashed (first
    * 16 hex digits), with the files' total bytes. A tree with no file
    * reads `"empty"` and an unreadable one `"error:<exception class>"`,
    * so neither can pass for the fingerprint of real data. */
  def testdataFingerprint(dir: String): (String, Long) = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    try {
      val root = Paths.get(dir)
      val st = Files.walk(root)
      val files: Vector[(String, Path)] =
        try st.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => root.relativize(p).toString -> p).toVector.sortBy(_._1)
        finally st.close()
      if (files.isEmpty) ("empty", 0L)
      else {
        val desc = files.map { case (rel, p) =>
          s"$rel:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}"
        }.mkString(",")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(desc.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        (md.map("%02x".format(_)).mkString.take(16), files.map(f => Files.size(f._2)).sum)
      }
    } catch { case e: Exception => (s"error:${e.getClass.getName}", 0L) }
  }

  /** One timed rep of a catalog cell, shared by the sweep below and
    * `graft.tools.Probe`: the query runs under its job label into the
    * noop sink, and the cleanup runs outside the timer. A rep that
    * throws returns -1, never a time. */
  def timedRep(spark: SparkSession, sfDir: String, q: graft.core.QueryDef): Double = {
    spark.sparkContext.setJobDescription(q.name) // guide §1.5: label cells
    // the query's scope releases everything it kept when the block
    // ends, after the timer has stopped
    val sec = graft.core.CacheScope {
      val t0 = System.nanoTime()
      try {
        q.run(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: ${e.getMessage}"); -1.0 }
    }
    // reclaim the cell's scratch fixtures NOW (outside the timed
    // region): a full sweep otherwise accumulates every fixture dir
    // in the tmpdir, competing for the page cache later cells run on
    graft.core.Scratch.reclaim()
    spark.sparkContext.setJobDescription(null)
    sec
  }

  def main(args: Array[String]): Unit = {
    // env is the driver contract; args are a local-iteration override
    // (runMain graft.Bench [sfDir] [q_a,q_b] from the sbt shell)
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val argOnly = args.drop(1).headOption
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus, cpus)

    // warmup: session + codegen + parquet footer caches + JVM-wide C2.
    // The sweep now runs FIRST (see PHASE ORDER above), so unlike r9/r10
    // its head no longer rides minutes of derived-cell execution; these
    // untimed passes re-establish the same steady-state baseline the old
    // order provided implicitly — scan/agg/join/shuffle paths JIT-ed
    // before the first timed cell, not during it.
    Seq("q1_agg", "q3_join", "q_scalar_transform", "q_batch_stats").foreach { w =>
      (1 to 2).foreach { _ =>
        SparkEntry.queries(w)(spark, sfDir).write
          .format("noop").mode("overwrite").save()
      }
    }

    // COMPACT cells: seconds at 2 decimals, rows/s as integers,
    // GB/s at 3 decimals, host-load as ints ×100.
    def f(d: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(d))
    def fRate(d: Double): String = math.round(d).toString
    def fGb(d: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(d))

    // Host-load markers: 1-min loadavg + cgroup CPU pressure (PSI
    // some/avg10) captured BEFORE and AFTER every cell and emitted in
    // the artifact — a collapsed measurement window (co-tenant load,
    // the r7 driver bench) is then machine-detectable by any reader
    // instead of masquerading as an engine regression.
    def hostLoad(): (Double, Double) = {
      def read(path: String): String =
        try { val s = scala.io.Source.fromFile(path); try s.mkString finally s.close() }
        catch { case _: Throwable => "" }
      val la = read("/proc/loadavg").split(" ").headOption
        .flatMap(_.toDoubleOption).getOrElse(-1.0)
      val psi = read("/proc/pressure/cpu").linesIterator
        .find(_.startsWith("some")).flatMap(_.split(" ")
          .find(_.startsWith("avg10=")).map(_.stripPrefix("avg10=")))
        .flatMap(_.toDoubleOption).getOrElse(-1.0)
      (la, psi)
    }
    // ×100 ints in the artifact (loadavg 7.73 → 773, PSI 2.18 → 218)
    val loadMarks = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Double, Double)]
    def marked[A](name: String)(work: => A): A = {
      val (la0, psi0) = hostLoad()
      val r = work
      val (la1, psi1) = hostLoad()
      loadMarks(name) = (la0, psi0, la1, psi1)
      r
    }

    // ------------------------------------------------------ query sweep
    // arg 2 (q_a,q_b) restricts the run (local iteration aid)
    val only = argOnly.map(_.split(",").map(_.trim).toSet)
    val selected = graft.catalog.Catalog.all.filter(q => only.forall(_.contains(q.name)))
    // Three timed runs per cell, headline = min (the engine's steady-state
    // cost; this shared host lands random multi-second co-tenant/GC spikes
    // one-sidedly, so min-of-3 is the reproducible estimator — a zero-diff
    // A/B across rounds showed single measurements swing 3-5x on sub-2.5s
    // cells). Run 1 additionally pays per-plan codegen, which min discards.
    // Spread [min, median, max] is emitted per cell so no reading hides.
    // A cell with a throwing rep is listed in "failed" (and the run exits
    // non-zero): it must never pass as a faster cell.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = selected.map { q =>
      val all = marked(q.name)((1 to 3).map(_ => timedRep(spark, sfDir, q)))
      val runs = all.filter(_ >= 0).sorted
      if (runs.length < all.length) failed += q.name
      val cell =
        if (runs.isEmpty) (-1.0, -1.0, -1.0)
        else (runs.head, runs(runs.length / 2), runs.last)
      q.name -> cell
    }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v._1) }
      .mkString("{", ",", "}")
    val qSpread = results.map { case (k, v) =>
      "\"" + k + s"""\":[${f(v._1)},${f(v._2)},${f(v._3)}]""" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v._1 >= 0 => v._1 }.sum

    // phase barrier: the sweep leaves GC-able garbage (88 plans × 3
    // reps of codegen classes, broadcast blocks, temp rows); collect
    // it before the sustained cells so their steady-state isn't paying
    // the sweep's debt
    System.gc()

    // ------------------------------------------------- derived cells
    // BASELINE-comparable sustained-rate cells (rows/s shapes from
    // BASELINE.md: validation throughput, columnar-sink load rate,
    // end-to-end pipeline rate). Six timed runs after one warmup,
    // split into two BACK-TO-BACK HALVES inside this one process, and
    // each cell emits its own stability ratio
    // (min-wall-of-half-1 vs min-wall-of-half-2, whichever larger on
    // top) — a cell is adjudicable when its ratio stays within 1.3,
    // and self-flags otherwise.
    // Every derived cell reports (min, median, max) so a reader can see
    // the spread instead of trusting one number; the HEADLINE is the
    // best rate (min wall) — co-tenant noise on this host is strictly
    // one-sided, so min-time is the estimator that survives it.
    final case class Cell(min: Double, med: Double, max: Double, stability: Double)
    def timed(iters: Int)(work: Int => Long): Cell = {
      work(0) // warmup
      val walls = (1 to iters).map { i =>
        val t0 = System.nanoTime(); val rows = work(i)
        (((System.nanoTime() - t0) / 1e9), rows)
      }
      val rates = walls.map { case (w, rows) => rows / w }.sorted
      val (h1, h2) = walls.map(_._1).splitAt(walls.length / 2)
      val (a, b) = (h1.min, h2.min)
      Cell(rates.head, rates(rates.length / 2), rates.last, math.max(a, b) / math.min(a, b))
    }
    // fresh dir per iteration: mode(overwrite) over a previous iteration's
    // output would spend timed wall-clock deleting thousands of files.
    // Root policy RE-MEASURED r15 (core/Scratch): bulk parquet writes on
    // THIS host run ~40% faster on the disk tmpdir's write-back path
    // than on tmpfs (OPTIMIZATION_r15.md batch 3: sink med 7.2M vs
    // 5.1M rows/s) — the r9 shm choice was measured on a different
    // host and is reversed here, explicitly, as a measurement-
    // environment fix (same timed work, same methodology).
    val sinkDir = java.nio.file.Files.createTempDirectory(
      graft.core.Scratch.root, "graft_bench").toString

    // Stage the 8x-replicated input as a 32-split parquet table OUTSIDE
    // the timed region. The shipped sf0.1 lineitem is ONE 10.8 MB row
    // group, so scanning it directly caps every derived cell at 8 tasks
    // on 32 cores — nothing like the thousands-of-row-groups layout of
    // the 1 TiB table the baseline cell measures. The staged table has
    // the layout any real large table has; the cells then measure the
    // engine (scan + validate + transform + encode + write) at full
    // parallelism, not a fixture artifact.
    val li1 = graft.core.Tables(spark, sfDir, "lineitem")
    val liRows = li1.count() * 8
    val stagedDir = s"$sinkDir/staged_li"
    (1 to 8).map(_ => li1).reduce(_ unionAll _)
      .repartition(32).write.parquet(stagedDir)
    val li = spark.read.parquet(stagedDir)
    val program = graft.contract.ValidationProgram.compile(graft.catalog.CoreQueries.lineitemPolicy)
    val validateRps = marked("validate_rows_per_sec")(timed(6) { _ =>
      val d = program.annotate(li)
      d.write.format("noop").mode("overwrite").save(); liRows
    })
    // COLUMNAR counts path (contract.ColumnarValidation): rule kernels
    // run against the scan's ColumnVectors, the scan decodes ONLY the
    // gated columns, and no row is ever materialized — the shape the
    // reference's validation-throughput cells measure when the consumer
    // wants quality counts rather than annotated rows.
    val liPolicy = graft.catalog.CoreQueries.lineitemPolicy
    val columnarRps = marked("validate_columnar_rows_per_sec")(timed(6) { _ =>
      val r = graft.contract.ColumnarValidation.counts(li, liPolicy)
      require(r.columnar, s"columnar cell fell back: ${r.fallbackReason}")
      liRows
    })
    val sinkRps = marked("parquet_sink_rows_per_sec")(timed(6) { i =>
      li.write.parquet(s"$sinkDir/li_$i"); liRows
    })
    val e2eRps = marked("e2e_pipeline_rows_per_sec")(timed(6) { i =>
      val accepted = program.accepted(li)
      graft.contract.Transform(accepted,
          Seq(graft.contract.Transform.Derive("charge",
            "l_extendedprice * (1 - l_discount) * (1 + l_tax)")))
        .write.parquet(s"$sinkDir/e2e_$i")
      liRows
    })
    // BPE tokenizer APPLY throughput — the cell an LLM-pipeline owner
    // actually benchmarks (tokens/s over raw documents). Learning (3
    // induction rounds) happens OUTSIDE the timed region; the timed
    // pass is the corpus-scale map: codegen'd BpeCountExpr per
    // document, one map-combined global sum, no shuffle of text. The
    // 8×-replicated staged corpus mirrors the lineitem cells' layout
    // so the map runs at full parallelism. work() returns TOKENS, so
    // the cell's rate unit is tokens/s.
    val bpeRate = {
      val docs1 = graft.core.Tables(spark, sfDir, "documents").select("text")
      val docsStaged = s"$sinkDir/staged_docs"
      (1 to 8).map(_ => docs1).reduce(_ unionAll _)
        .repartition(32).write.parquet(docsStaged)
      val docsRep = spark.read.parquet(docsStaged)
      val bpeTable = graft.catalog.TokenizerQueries.learnedTable(spark, sfDir)
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        "graft_bpe_count",
        exprs => graft.functions.BpeCountExpr(exprs.head, bpeTable), "scala_udf")
      import org.apache.spark.sql.functions.{call_function, col, sum => fsum}
      marked("bpe_encode_tokens_per_sec")(timed(6) { _ =>
        docsRep.select(fsum(call_function("graft_bpe_count", col("text"))).as("t"))
          .head().getLong(0)
      })
    }
    // Per-CORE validation cell, DIRECT-pair methodology (no more
    // scan-minus-scan delta — subtracting two noisy full runs gave a
    // sub-noise difference whose spread confessed it wasn't a
    // measurement). The input is the VECTORIZED parquet scan, not a
    // row cache: r8 ran this cell over a MEMORY_AND_DISK
    // single-partition cache and its 0.41 GB/s/core "floor" was
    // dominated by the cache's own CachedBatch decode — a harness
    // artifact, not the engine. One parquet file (shm-backed, under
    // maxPartitionBytes → ONE split, ONE task = one core) drives the
    // vectorized reader through codegen'd ColumnarToRow + projection:
    // the exact per-core shape of a wide cluster scan, minus
    // scheduling. THREE passes interleave per iteration so the wall
    // decomposes without subtraction: (s) raw scan→sink, the pipeline
    // floor; (n) scan + SAME-WIDTH no-op projection (constant
    // verdict/disposition columns); (v) scan + full validation.
    // GB = bytes the validation program actually INSPECTS (the rules'
    // columns only — the reference's per-core cells count gated bytes
    // the same way); the full-row logical GB/s is emitted beside it
    // for the pipeline reading.
    // Stability: the 8 interleaved iterations split into two
    // back-to-back halves; headline = min over ALL, and the
    // min-of-half-1 / min-of-half-2 ratio is emitted — a cell is
    // adjudicable only when that ratio stays within 1.3.
    // WHERE THE FLOOR IS (SCALE.md round-9 notes): the scan→sink
    // pass alone runs ~0.46 row-GB/s/core — that is Spark's
    // vectorized-decode → ColumnarToRow/UnsafeRow boundary, ~160ns
    // per 16-column row, and no projection above it can beat it. The
    // validation increment over the same-width noop is ~1.2× wall and
    // is GENUINE work: kernel cells show rank evaluation costs
    // exactly as much as touching the five gated columns
    // (k_rank_cache 0.65s vs k_5cols_cache 0.68s on 4.8M rows), i.e.
    // the rules are free and the cost is UTF8String byte compares +
    // the two contract string materializations. Rewriting rank as
    // boolean-ORs, or the strings as when-chains vs element_at, is
    // wall-identical (±noise). The reference's 3–7 GB/s/core cells
    // are columnar kernels that never materialize rows; matching them
    // inside a row-pipeline sink shape is a JVM/Spark-architecture
    // bound, recorded here rather than papered over. The 32-core
    // cells (validate_rows_per_sec, e2e) are the numbers that scale.
    val coreDir = s"$sinkDir/core_li"
    li.coalesce(1).write.parquet(coreDir)
    // ONE split: without these, FilePartition packing targets
    // totalBytes/defaultParallelism (≈8 MB here) and the single file
    // fans out to ~21 tasks — a 32-core cell wearing a per-core label
    val prevMpb = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    val prevMpn = spark.conf.getOption("spark.sql.files.minPartitionNum")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (4L << 30).toString)
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    val li1p = spark.read.parquet(coreDir)
    require(li1p.rdd.getNumPartitions == 1,
      s"per-core cell needs ONE split, got ${li1p.rdd.getNumPartitions}")
    def logicalBytesOf(cols: Set[String]): Long = {
      import org.apache.spark.sql.functions.{col, octet_length, sum => fsum}
      val picked = li1p.schema.fields.filter(f => cols.isEmpty || cols.contains(f.name))
      val fixedPerRow = picked.map(_.dataType match {
        case org.apache.spark.sql.types.StringType => 0L
        case org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.IntegerType => 4L
        case _ => 8L
      }).sum
      val strCols = picked
        .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
      val strBytes =
        if (strCols.isEmpty) 0L
        else li1p.select(strCols.map(c => fsum(octet_length(col(c)))): _*)
          .head().toSeq.map { case l: Long => l; case _ => 0L }.sum
      fixedPerRow * liRows + strBytes
    }
    val rowBytes = logicalBytesOf(Set.empty)
    val inspectedBytes = logicalBytesOf(
      graft.catalog.CoreQueries.lineitemPolicy.rules.map(_.column).toSet)
    val scanPass = () => li1p // raw vectorized scan → sink: the floor
    val validatePass = () => program.annotate(li1p)
    val noopPass = () => li1p // the same 16-column row pipeline, zero rules
      .withColumn(graft.contract.ValidationProgram.VerdictCol, org.apache.spark.sql.functions.lit("pass"))
      .withColumn(graft.contract.ValidationProgram.DispositionCol, org.apache.spark.sql.functions.lit("accept"))
    scanPass().write.format("noop").mode("overwrite").save() // warmup codegen
    validatePass().write.format("noop").mode("overwrite").save()
    noopPass().write.format("noop").mode("overwrite").save()
    val pairWalls = marked("validate_gb_per_sec_core")((1 to 8).map { _ =>
      val t0 = System.nanoTime()
      scanPass().write.format("noop").mode("overwrite").save()
      val ts = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      noopPass().write.format("noop").mode("overwrite").save()
      val tn = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      validatePass().write.format("noop").mode("overwrite").save()
      val tv = (System.nanoTime() - t2) / 1e9
      (ts, tn, tv)
    })
    // headline: inspected-bytes over the min wall. Each cell's
    // stability comes from ITS OWN walls (min-of-half-1 vs
    // min-of-half-2) — stamping the scan/noop cells with the validate
    // ratio would let a burst confined to their sub-windows ride a
    // passing certification.
    def cellOf(bytes: Long, walls: Seq[Double]): Cell = {
      val (w1, w2) = walls.splitAt(walls.length / 2)
      val stab = {
        val a = w1.min; val b = w2.min
        math.max(a, b) / math.min(a, b)
      }
      // sort the RATES ascending (walls ascending maps to rates
      // descending) so the med index means the same thing here as in
      // timed()'s rows/s cells
      val g = walls.map(w => bytes / 1e9 / w).sorted
      Cell(g.min, g(g.length / 2), g.max, stab)
    }
    val validateGbCore = cellOf(inspectedBytes, pairWalls.map(_._3))
    val validateRowGbCore = cellOf(rowBytes, pairWalls.map(_._3))
    val noopRowGbCore = cellOf(rowBytes, pairWalls.map(_._2))
    val scanRowGbCore = cellOf(rowBytes, pairWalls.map(_._1))
    // per-core COLUMNAR kernel cell: same one-split file, same
    // inspected-bytes accounting as validate_gb_per_sec_core, but the
    // counts path — the row cells above pay vectorized-decode of all
    // 16 columns + ColumnarToRow + sink iteration; this one pays
    // decode of the 5 gated columns + the kernels. The delta IS the
    // row-pipeline tax the r9 analysis recorded.
    val colKernelOnce = () => {
      val r = graft.contract.ColumnarValidation.counts(li1p, liPolicy)
      require(r.columnar, s"per-core columnar cell fell back: ${r.fallbackReason}")
    }
    colKernelOnce() // warmup (plan + JIT)
    val colWalls = marked("validate_columnar_gb_per_sec_core")((1 to 8).map { _ =>
      val t0 = System.nanoTime(); colKernelOnce(); (System.nanoTime() - t0) / 1e9
    })
    val columnarGbCore = cellOf(inspectedBytes, colWalls)
    // KERNEL-ONLY cell: the same kernels over already-DECODED on-heap
    // vectors (built outside the timed region) — the exact shape of
    // the reference's 3–7 GB/s/core cells, which never pay a decode
    // either. validate_columnar minus this = the parquet-decode share.
    // The fixture (a multi-hundred-MB on-heap batch built via a 4.8M-row
    // collect) is CLOSED and dropped the moment the cell is measured —
    // r10 held it live to the end of the run and the heap pressure
    // polluted everything that ran after it.
    val gatedCols = liPolicy.rules.map(_.column).distinct
    val kernelGbCore = {
      val (kBatch, kSchema) = graft.tools.KernelFixture.onHeapBatch(li1p, gatedCols)
      val (kIdxs, kKerns, kRanks) = graft.contract.ColumnarValidation
        .bindKernels(kSchema, liPolicy).fold(r => sys.error(s"kernel bind: $r"), identity)
      def kernelOnce(): Unit = {
        val c = graft.contract.ColumnarValidation
          .evalBatches(Iterator.single(kBatch), kIdxs, kKerns, kRanks)
        require(c.totalRows == liRows, s"kernel cell rows ${c.totalRows} != $liRows")
      }
      kernelOnce() // warmup
      val kernelWalls = marked("validate_kernel_only_gb_per_sec_core")((1 to 8).map { _ =>
        val t0 = System.nanoTime(); kernelOnce(); (System.nanoTime() - t0) / 1e9
      })
      kBatch.close() // free the decoded vectors NOW, not at process exit
      cellOf(inspectedBytes, kernelWalls)
    }
    System.gc() // return the fixture + staged droppings before anything else runs
    // restore the split policy
    prevMpb.fold(spark.conf.unset("spark.sql.files.maxPartitionBytes"))(
      spark.conf.set("spark.sql.files.maxPartitionBytes", _))
    prevMpn.fold(spark.conf.unset("spark.sql.files.minPartitionNum"))(
      spark.conf.set("spark.sql.files.minPartitionNum", _))
    // free the ram-backed sink output
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sinkDir))

    val derivedCells: Seq[(String, Cell, Double => String)] = Seq(
      ("validate_rows_per_sec", validateRps, fRate),
      ("validate_columnar_rows_per_sec", columnarRps, fRate),
      ("validate_columnar_gb_per_sec_core", columnarGbCore, fGb),
      ("validate_kernel_only_gb_per_sec_core", kernelGbCore, fGb),
      ("validate_gb_per_sec_core", validateGbCore, fGb),
      ("validate_row_gb_per_sec_core", validateRowGbCore, fGb),
      ("validate_noop_row_gb_per_sec_core", noopRowGbCore, fGb),
      ("scan_row_gb_per_sec_core", scanRowGbCore, fGb),
      ("parquet_sink_rows_per_sec", sinkRps, fRate),
      ("e2e_pipeline_rows_per_sec", e2eRps, fRate),
      ("bpe_encode_tokens_per_sec", bpeRate, fRate))
    // headline = BEST rate (= min wall): steady-state cost is one-sided
    // under co-tenant noise, so min-time is the reproducible estimator
    // (the r7 driver-vs-local 5-100x collapse was medians eating noise)
    val derived = derivedCells
      .map { case (k, v, fm) => "\"" + k + "\":" + fm(v.max) }.mkString("{", ",", "}")
    // per-cell in-run stability (two back-to-back halves of the SAME
    // run): ≤1.3 certifies the cell without a second run; each
    // per-core cell carries the ratio of ITS OWN pass's walls
    val derivedSpread = (derivedCells
      .map { case (k, v, fm) => "\"" + k + s"""\":[${fm(v.min)},${fm(v.med)},${fm(v.max)}]""" } ++ Seq(
      "\"validate_stability\":" + f(validateRps.stability),
      "\"sink_stability\":" + f(sinkRps.stability),
      "\"e2e_stability\":" + f(e2eRps.stability),
      "\"columnar_stability\":" + f(columnarRps.stability),
      "\"bpe_stability\":" + f(bpeRate.stability),
      "\"columnar_core_pair_stability\":" + f(columnarGbCore.stability),
      "\"kernel_core_pair_stability\":" + f(kernelGbCore.stability),
      "\"validate_core_pair_stability\":" + f(validateGbCore.stability),
      "\"scan_core_pair_stability\":" + f(scanRowGbCore.stability),
      "\"noop_core_pair_stability\":" + f(noopRowGbCore.stability),
      // byte accounting for the per-core cells: GB/s comparisons across
      // rounds are only meaningful at the same logical payload, and the
      // driver regenerates testdata between rounds — record the
      // denominator so a floor shift is attributable to data vs engine
      "\"row_gb\":" + fGb(rowBytes / 1e9),
      "\"inspected_gb\":" + fGb(inspectedBytes / 1e9)))
      .mkString("{", ",", "}")

    def l100(d: Double): String = math.round(d * 100).toString
    val loadJson = loadMarks.map { case (k, (a, b, c2, d)) =>
      "\"" + k + s"""":[${l100(a)},${l100(b)},${l100(c2)},${l100(d)}]"""
    }.mkString("{", ",", "}")

    // testdata fingerprint: marks cross-round totals as comparable or
    // not — the r15 177.55→248.19 "regression" was regenerated
    // testdata, and nothing in the artifact said so.
    val fingerprint = testdataFingerprint(sfDir)
    val fpJson = s""""testdata_fingerprint":"${fingerprint._1}","testdata_bytes":${fingerprint._2}"""

    // kernel-lane provenance: which fast lanes ran (vector api on, or
    // the recorded fallback reason) — GB/s cells are only comparable
    // across rounds at the same lane configuration
    val laneJson = "\"" + graft.contract.FastLanes.describe.replace("\"", "'") + "\""
    // THE DRIVER CONTRACT LINE (r16 fix for 15 rounds of "parsed":
    // null / PERF per_query empty — VERDICT r15 item 1): stdout carries
    // the full per-query map + spreads on the one line, exactly the
    // maps BENCH_LOCAL.json ships. The two historical parse killers are
    // both removed at the source: (a) sbt's logger decorated every
    // forked-stdout line with "[info] " — build.sbt now sets
    // run/outputStrategy := StdoutOutput so this line reaches stdout
    // verbatim; (b) trailing output after the line ([success], Spark
    // shutdown noise) — the line is printed AFTER spark.stop() with the
    // log level forced off, and build.sbt suppresses sbt's [success]
    // epilogue, so this is the LAST stdout line of the run. It is
    // printed in a `finally`, so a throwing stop cannot lose it. A run
    // with a failed cell exits non-zero after the line is printed.
    val line = s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs,"queries_spread":$qSpread,"failed":$failedJson,"derived":$derived,$fpJson,"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":${f(total)},"unit":"sec","order":"sweep_then_derived","queries":$qs,"queries_spread":$qSpread,"failed":$failedJson,"derived":$derived,"derived_spread":$derivedSpread,"host_load":$loadJson,"kernel_lanes":$laneJson,$fpJson,"sf":"$sfDir"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop()
    finally {
      println(line)
      System.out.flush()
    }
    if (failed.nonEmpty) sys.exit(1)
  }
}
