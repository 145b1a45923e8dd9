package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CacheScope

/** Document deduplication at corpus scale: exact (content-hash),
  * exact-Jaccard n-gram near-dup, MinHash+LSH, and SimHash.
  *
  * Scale design (the 100 TB story):
  *  - exact dedup: one hash-partition shuffle on the 16-byte content
  *    key, not the document text.
  *  - n-gram Jaccard: candidate generation joins on a shared-gram (or
  *    LSH band) key so the pair space is the join fan-out, never the
  *    O(n²) cross product.
  *  - MinHash/LSH: signature computation is a narrow map stage using
  *    only array HOFs over each row's shingle set (no explode of the
  *    corpus); only (band_key, doc_id) pairs — a few dozen bytes/doc —
  *    are shuffled. Exact-Jaccard verification touches candidates only.
  *  - SimHash: 64-bit signature per doc, banded into 16-bit chunks for
  *    candidate joins; Hamming check via xor+bit_count.
  */
object TextDedup {

  /** Exact dedup groups: canonical (min) doc id per content key. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("content_key", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("content_key")
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("canonical_id"))

  /** Exact whole-corpus dedup: keep the canonical row per content key. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.withColumn("content_key", TextAnalysis.fingerprint(col(textCol)))
    graft.operators.Dedup.keyed(keyed, Seq("content_key"), Seq(idCol),
      graft.operators.Dedup.Keep.First)
  }

  /** Exact n-gram Jaccard near-dup pairs. Candidates = pairs sharing
    * ≥1 distinct n-gram (selective for n≥5); verification = exact
    * |A∩B| / |A∪B| from the shared-gram counts alone (no second pass
    * over the arrays). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double): DataFrame = {
    // repartition: corpus files are often few/large parquet splits; the
    // gram pipeline is CPU-bound and must fan out across all cores.
    // persist: the gram table feeds sizes + both join sides — without a
    // barrier the split/shingle pipeline is recomputed per consumer.
    // n=5 takes the native one-pass shingle kernel (codegen'd) over the
    // interpreted HOF reference path.
    val gramCol =
      if (n == 5) {
        graft.functions.TextHashFunctions.register(df.sparkSession)
        call_function("graft_ngrams5", col(textCol))
      } else TextAnalysis.wordNgrams(col(textCol), n)
    val grams = CacheScope.persisted(df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as("doc_id"), gramCol.as("ngrams")))
    val sizes = grams.select(col("doc_id"), size(col("ngrams")).as("sz"))
    // join on the 64-bit gram hash, not the gram text: candidate
    // generation shuffles 8-byte keys instead of ~n-word strings (the
    // distinct-gram set sizes are unchanged; a cross-doc xxhash64
    // collision would need two distinct grams at the same 64-bit value
    // in the same pair — negligible and caught by the oracle gate).
    val exploded = grams.select(col("doc_id"),
      explode(col("ngrams")).as("ng0")).select(col("doc_id"), xxhash64(col("ng0")).as("ng"))
    val a = exploded.as("a")
    val b = exploded.as("b")
    val inter = a.join(b, col("a.ng") === col("b.ng") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("sz_a") + col("sz_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** MinHash signature: element i = min over shingles of
    * xxhash64(shingle, i). Pure array HOF — no explode, no shuffle. */
  def minhashSignature(ngrams: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(ngrams, g => xxhash64(g, i))))

  /** LSH band keys: signature split into bands of `rowsPerBand`,
    * each band hashed to one bucket key. */
  def lshBandKeys(sig: Column, numHashes: Int, rowsPerBand: Int): Column = {
    val numBands = numHashes / rowsPerBand
    transform(sequence(lit(0), lit(numBands - 1)),
      b => xxhash64(concat_ws(",",
        transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), x => x.cast("string"))), b))
  }

  /** MinHash+LSH near-dup pairs, verified with exact Jaccard on the
    * distinct n-gram sets of candidate pairs only. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, rowsPerBand: Int, threshold: Double): DataFrame = {
    // repartition + persist: see ngramJaccardPairs — the signature
    // pipeline is the expensive narrow stage and feeds three consumers.
    // n=5 takes the native one-pass shingle kernel.
    val gramCol =
      if (n == 5) {
        graft.functions.TextHashFunctions.register(df.sparkSession)
        call_function("graft_ngrams5", col(textCol))
      } else TextAnalysis.wordNgrams(col(textCol), n)
    val grams = CacheScope.persisted(df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as("doc_id"), gramCol.as("ngrams"))
      .filter(size(col("ngrams")) > 0))
    // native one-pass signature kernel when available for k, else the
    // HOF reference implementation (k passes, interpreted)
    val sigCol =
      if (numHashes == 16) {
        graft.functions.TextHashFunctions.register(df.sparkSession)
        call_function("graft_minhash16", col("ngrams"))
      } else minhashSignature(col("ngrams"), numHashes)
    val banded = CacheScope.persisted(grams
      .withColumn("sig", sigCol)
      .withColumn("band", explode(lshBandKeys(col("sig"), numHashes, rowsPerBand)))
      .select("doc_id", "band"))
    val cand = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val withSets = cand
      .join(grams.select(col("doc_id").as("doc_a"), col("ngrams").as("ng_a")), "doc_a")
      .join(grams.select(col("doc_id").as("doc_b"), col("ngrams").as("ng_b")), "doc_b")
    withSets
      .withColumn("jaccard",
        size(array_intersect(col("ng_a"), col("ng_b"))).cast("double") /
          size(array_union(col("ng_a"), col("ng_b"))))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** 64-bit SimHash over whitespace tokens: bit b is the sign of the
    * sum over tokens of ±1 according to bit b of xxhash64(token). */
  private def shr(c: Column, bits: Column): Column = call_function("shiftright", c, bits)
  private def shl(c: Column, bits: Column): Column = call_function("shiftleft", c, bits)

  /** simhash over a PRE-HASHED token array (one xxhash64 per token;
    * the 64 bit-sums then only do shifts/adds over cached longs). */
  def simhashOfHashes(hashes: Column): Column = {
    val bits = transform(sequence(lit(0), lit(63)), b =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shr(h, b).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)
      ) > 0, 1L).otherwise(0L))
    aggregate(zip_with(bits, sequence(lit(0), lit(63)), (bit, b) => shl(bit, b)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  def tokenHashes(textCol: Column): Column =
    transform(TextAnalysis.wsTokens(textCol), t => xxhash64(t))

  def simhash64(textCol: Column): Column = simhashOfHashes(tokenHashes(textCol))

  /** Portable per-token 64-bit hash BOTH engines recompute exactly:
    * the first 16 hex chars of md5(token) parsed as two 32-bit halves,
    * hash = (hi << 32) | lo. md5 is byte-identical across engines
    * (UTF-8 in, lowercase hex out), so a SQL oracle can replay the
    * entire simhash pipeline — hash → bit-majority → bands → hamming.
    * Production stays on the xxhash64 kernel (faster, one pass); this
    * exists to make the emission hash-verifiable end to end. */
  def portableTokenHashes(textCol: Column): Column =
    transform(TextAnalysis.wsTokens(textCol), { t =>
      val h = md5(t)
      shl(conv(substring(h, 1, 8), 16, 10).cast("long"), lit(32))
        .bitwiseOR(conv(substring(h, 9, 8), 16, 10).cast("long"))
    })

  /** SimHash near-dup pairs: candidates share at least one of four
    * 16-bit bands (any pair within Hamming distance 3 must collide on
    * ≥1 band); verified by exact Hamming distance. */
  /** `verifyJaccard = Some((n, θ))` additionally joins candidate pairs
    * back to their texts and emits the EXACT word-n-gram Jaccard,
    * keeping only pairs ≥ θ — verification cost is proportional to the
    * band-bounded candidate set, never the corpus. Emitted pairs are
    * then provably true near-dups; what stays engine-specific is only
    * RECALL (which jaccard-θ pairs the 16-bit bands surface —
    * measured and pinned in LlmSpec; at sf0.01, 34 of 36 true pairs). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int, verifyJaccard: Option[(Int, Double)] = None,
      portableHash: Boolean = false): DataFrame = {
    // native codegen'd one-pass simhash (bit-identical to the HOF
    // reference implementation — LlmSpec asserts it);
    // repartition as in the other pair generators.
    // portableHash swaps the signature's token hash for the md5-derived
    // one so a SQL oracle can replay the pipeline; band/hamming/verify
    // stages are IDENTICAL in both modes.
    graft.functions.TextHashFunctions.register(df.sparkSession)
    val sigExpr =
      if (portableHash) call_function("graft_portable_simhash64", col(textCol))
      else call_function("graft_simhash64", col(textCol))
    val sigs = df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as("doc_id"), sigExpr.as("sig"))
    val banded = sigs.withColumn("band_idx", explode(sequence(lit(0), lit(3))))
      .withColumn("band",
        concat_ws(":", col("band_idx").cast("string"),
          shr(col("sig"), col("band_idx") * 16).bitwiseAND(65535L).cast("string")))
      .select("doc_id", "sig", "band")
    val pairs = banded.as("a")
      .join(banded.as("b"), col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
    verifyJaccard match {
      case None => pairs
      case Some((n, theta)) =>
        val gramCol =
          if (n == 5) call_function("graft_ngrams5", col(textCol))
          else TextAnalysis.wordNgrams(col(textCol), n)
        val grams = df.select(col(idCol).as("gdoc"), gramCol.as("gset"))
        val withA = pairs.join(
          grams.select(col("gdoc").as("doc_a"), col("gset").as("gs_a")), "doc_a")
        val both = withA.join(
          grams.select(col("gdoc").as("doc_b"), col("gset").as("gs_b")), "doc_b")
        both
          .withColumn("n_inter", size(array_intersect(col("gs_a"), col("gs_b"))))
          .withColumn("jaccard", col("n_inter").cast("double") /
            (size(col("gs_a")) + size(col("gs_b")) - col("n_inter")))
          .filter(col("jaccard") >= theta)
          .select("doc_a", "doc_b", "hamming", "jaccard")
    }
  }

  /** Connected components over a near-dup pair list — the transitive-
    * closure step every dedup pipeline runs after pair generation: two
    * docs in the same component are (possibly indirect) near-dups, the
    * component's minimum doc id is its canonical representative.
    *
    * Algorithm: iterative min-label propagation (the "hash-to-min"
    * family — Rastogi et al., "Finding Connected Components in
    * Map-Reduce in Logarithmic Rounds", ICDE 2013). Each round joins
    * labels to the symmetric edge list and keeps the per-node minimum,
    * so a component's minimum id floods it in O(diameter) rounds; dup
    * clusters are near-cliques (diameter 1-3) so 3-4 rounds settle
    * real corpora. 100 TB shape: every round shuffles only (id, id)
    * longs — never text; `localCheckpoint` truncates the growing
    * lineage each round so the plan does not deepen with iteration
    * count; convergence is an aggregate (count of shrunk labels), no
    * driver-side row materialization. Reference computes dedup groups
    * single-node (crates/cdf-engine dedup); transitive grouping is the
    * distributed generalization.
    *
    * Returns (node, component) for every node incident to ≥1 edge —
    * singletons are their own trivial component and are omitted (the
    * caller's corpus minus this result). Deterministic: fixpoint of a
    * monotone map, independent of partitioning or iteration order. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame = {
    // barrier first: the union scans `e` twice, and pair generators are
    // typically the expensive stage (LSH + verification) — without it
    // the whole pair pipeline runs twice inside one job
    val e = CacheScope.persisted(
      pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
    // symmetric closure; distinct so parallel edges don't multiply the
    // propagation join (pair generators can emit dup pairs); every
    // round reads it
    val sym = CacheScope.persisted(e.union(e.select(col("v").as("u"), col("u").as("v"))).distinct())
    var labels = CacheScope.localCheckpointed(sym.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node")))
    // convergence via monotonicity: each round takes a per-node MIN
    // over a set containing the old label, so labels never increase —
    // the label SUM (exact decimal: long sums overflow) is strictly
    // decreasing until the fixpoint, and one cheap aggregate over the
    // just-checkpointed round replaces a full old-vs-new anti-join
    def lblSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO) // empty graph: converges round 1
    var prevSum = lblSum(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIters) {
      val prop = sym.join(labels, sym("u") === labels("node"))
        .select(col("v").as("node"), col("lbl"))
      val next = CacheScope.localCheckpointed(labels.union(prop)
        .groupBy("node").agg(min("lbl").as("lbl")))
      val s = lblSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      it += 1
    }
    if (!converged)
      throw graft.core.GraftError.Plan(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "component diameter exceeds the bound; raise maxIters")
    labels.select(col("node"), col("lbl").as("component"))
  }

  /** Winnowed document fingerprints (Schleimer, Wilkerson, Aiken —
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): hash every word k-gram, slide a `window`-hash
    * window, keep each window's minimum. The winnowing coverage
    * guarantee: any shared passage of ≥ k+window-1 words between two
    * documents shares at least one fingerprint, while only ~2/(window+1)
    * of gram hashes are retained — PASSAGE-level duplication (shared
    * boilerplate, quoted paragraphs) that whole-document MinHash/SimHash
    * miss. Hash is the portable md5-prefix (first 15 hex digits → 60
    * bits) so an external SQL engine reproduces the identical window
    * minima; swap in xxhash64 where oracle parity is not needed.
    * 100 TB shape: a pure map stage (array HOFs per row, no shuffle);
    * emits (doc_id, fp) longs — ~12 bytes/fingerprint downstream. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, window: Int = 4): DataFrame = {
    // hash pipeline is CPU-bound: fan out across cores (corpus often
    // arrives as few large splits; at scale the reader supplies real
    // splits and this is a no-op repartition decision like docsFanout)
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("w"))
      // below k+window-1 words there is no full window; the guard also
      // keeps both `sequence` calls ascending (Spark counts DOWN when
      // stop < start — an unguarded short doc would emit phantom grams)
      .filter(size(col("w")) >= k + window - 1)
    val grams = transform(sequence(lit(1), size(col("w")) - (k - 1)),
      i => concat_ws(" ", slice(col("w"), i, lit(k))))
    val hashes = transform(grams, g =>
      conv(substring(md5(g.cast("binary")), 1, 15), 16, 10).cast("long"))
    base.select(col("doc_id"), hashes.as("h"))
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(1), size(col("h")) - (window - 1)),
          i => array_min(slice(col("h"), i, lit(window)))))).as("fp"))
  }

  /** Passage-sharing pairs: documents whose winnowed fingerprint sets
    * intersect in ≥ `minShared` values. The join key is the 8-byte
    * fingerprint — candidate generation shuffles fingerprints, never
    * text, and the pair space is the fingerprint-collision fan-out. */
  def winnowPassagePairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, window: Int = 4, minShared: Int = 2): DataFrame = {
    // the fingerprint table feeds BOTH sides of the self-join — without
    // a barrier the split/md5/winnow pipeline runs twice
    val fps = CacheScope.persisted(winnowFingerprints(df, idCol, textCol, k, window))
    fps.as("a").join(fps.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
