package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Baseline: brute-force cosine top-k — one narrow map stage (the dot
  * product is an array fold inside codegen'd HOFs) + TakeOrderedAndProject,
  * so even the brute-force path is shuffle-free and streams at scan
  * speed. Scale path: LSH bucketing by random-hyperplane signs (planes
  * derived deterministically from xxhash64, no stored model) restricts
  * the exact re-rank to one bucket — the IVF idea with a hash-derived
  * codebook.
  *
  * Floats are widened to double before arithmetic: f32×f32 products are
  * exact in f64, so the fold's value is engine-reproducible to ~1 ulp
  * and results are rounded to 4 decimals with id tie-breaks.
  */
object Similarity {

  private def toDouble(arr: Column): Column = transform(arr, x => x.cast("double"))

  /** Σ aᵢ·bᵢ as an in-order fold — HOF reference semantics. */
  def hofDot(a: Column, b: Column): Column =
    aggregate(zip_with(toDouble(a), toDouble(b), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** Σ aᵢ·bᵢ. Kernel-backed when a session is active (the normal
    * case): `DotProductExpr` runs the same in-order f64 fold in one
    * tight JVM loop — bit-identical to [[hofDot]] (differential-tested
    * in LlmSpec), ~an order of magnitude cheaper per pair in the
    * broadcast nested-loop shapes (decontaminate, near-dup verify).
    * Falls back to the HOF only when no session exists to register
    * the function against. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => graft.functions.VectorKernels.dot(s, a, b)
      case None => hofDot(a, b)
    }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k of `df.embCol` against the embedding of
    * `queryId` (excluded from results). */
  def cosineTopK(df: DataFrame, idCol: String, embCol: String,
      queryId: Long, k: Int): DataFrame = {
    val q = df.filter(col(idCol) === queryId).select(col(embCol)).head()
      .getSeq[Float](0)
    val qLit = array(q.map(f => lit(f.toDouble)): _*)
    df.filter(col(idCol) =!= queryId)
      .select(col(idCol),
        round(dot(col(embCol), qLit) / (norm(col(embCol)) * sqrt(lit(q.map(f => f.toDouble * f.toDouble).sum))), 4)
          .as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** k-NN LABEL PREDICTION: each query vector votes its k nearest
    * labeled neighbors (cosine rounded to 4 dp, ties to the lower ref
    * id); the majority label wins, ties to the smaller label — fully
    * deterministic, so the prediction is oracle-replayable.
    *
    * Scale shape: the QUERY side is the small one (a probe batch), so
    * it BROADCASTS against the labeled corpus — per-partition
    * kernel-dot scoring + a per-query window rank, no corpus self-join
    * and no shuffle of embeddings (only (qid, rid, label, cos) rows
    * reach the rank exchange). When the probe batch is itself huge,
    * the ANN indexes ([[annLshTopK]]/[[ivfTopK]]/[[ivfPqTopK]]) feed
    * the same vote with candidate lists instead of the full corpus. */
  def knnClassify(df: DataFrame, idCol: String, embCol: String,
      labelCol: String, isQuery: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = df.filter(isQuery)
      .select(col(idCol).as("qid"), col(embCol).as("q_emb"))
    val r = df.filter(!isQuery)
      .select(col(idCol).as("rid"), col(embCol).as("r_emb"),
        col(labelCol).as("label"))
    val scored = r.crossJoin(q)
      .select(col("qid"), col("rid"), col("label"),
        round(dot(col("q_emb"), col("r_emb")) /
          (norm(col("q_emb")) * norm(col("r_emb"))), 4).as("cos"))
    val nn = Window.partitionBy("qid").orderBy(col("cos").desc, col("rid").asc)
    val votes = scored.withColumn("rn", row_number().over(nn))
      .filter(col("rn") <= k)
      .groupBy("qid", "label").agg(count(lit(1)).as("c"))
    val vw = Window.partitionBy("qid").orderBy(col("c").desc, col("label").asc)
    votes.withColumn("vr", row_number().over(vw)).filter(col("vr") === 1)
      .select(col("qid").as(idCol), col("label").as("predicted"),
        col("c").cast("long").as("votes"))
  }

  /** Random-hyperplane LSH bucket id: bit j = sign of ⟨v, Hⱼ₊ₒ⟩ where
    * plane component Hⱼ[i] is a deterministic pseudo-random value in
    * (−0.5, 0.5) derived from xxhash64(j, i). No stored codebook.
    * `planeOffset` selects a disjoint plane family per band.
    * HOF reference semantics — production calls route through the
    * kernel in [[lshBucket]]. */
  def hofLshBucket(emb: Column, numPlanes: Int, planeOffset: Column = lit(0)): Column = {
    val dims = size(emb)
    val bits = transform(sequence(lit(0), lit(numPlanes - 1)), j => {
      val proj = aggregate(
        zip_with(toDouble(emb), sequence(lit(0), dims - 1),
          (x, i) => x * ((xxhash64(j + planeOffset, i).bitwiseAND(1048575L)).cast("double") / 1048576.0 - 0.5)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, 1L).otherwise(0L)
    })
    aggregate(zip_with(bits, sequence(lit(0), lit(numPlanes - 1)),
        (bit, j) => call_function("shiftleft", bit, j)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** [[hofLshBucket]], kernel-backed when a session is active: the
    * signature is planes × dims interpreted lambda evals per row in the
    * HOF form; `LshBucketExpr` runs the same math (chained xxhash64
    * ints, same fold order, same null-plane law) in one loop —
    * bit-identical, differential-tested in LlmSpec. */
  def lshBucket(emb: Column, numPlanes: Int, planeOffset: Column = lit(0)): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        graft.functions.VectorKernels.lshBucketXxh(s, emb, numPlanes, planeOffset)
      case None => hofLshBucket(emb, numPlanes, planeOffset)
    }

  /** Banded hyperplane keys — OR-composition across `numBands` disjoint
    * plane families of `planesPerBand` planes each (same shape as
    * minhash LSH banding): a pair is a candidate iff it shares the FULL
    * bucket of at least one band. With b bands of r planes, a pair at
    * angle θ survives with 1 − (1 − (1−θ/π)ʳ)ᵇ — near-1 for near-dups,
    * vanishing for unrelated vectors — while each band still has 2ʳ
    * buckets, so candidate sets stay ≪ n² at corpus scale (the 4-plane
    * single-band variant collapsed to 16 buckets → ~n²/16 pairs). */
  def lshBandKeys(emb: Column, numBands: Int, planesPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)), b =>
      concat_ws(":", b.cast("string"),
        lshBucket(emb, planesPerBand, b * lit(planesPerBand)).cast("string")))

  /** Hyperplane component from a Weyl/LCG recurrence on (plane j,
    * dim i): h = (j·D + i + 1) · 2654435761 mod 2³¹, value h/2³¹ − 0.5
    * ∈ [−0.5, 0.5). Unlike the xxhash64 derivation, every step is
    * exact 64-bit integer arithmetic + one exact double division — any
    * engine (the DuckDB oracle included) reproduces the planes
    * bit-identically, which makes the bucketed ANN fully
    * oracle-checkable end to end. */
  def lcgPlane(j: Column, i: Column, dims: Column): Column =
    (((j * dims + i + lit(1L)) * lit(2654435761L)) % lit(2147483648L))
      .cast("double") / 2147483648.0 - 0.5

  /** LSH bucket with LCG-derived planes (engine-reproducible — see
    * [[lcgPlane]]); same banding math as [[lshBucket]]. HOF reference
    * semantics — production calls route through [[lshBucketLcg]]. */
  def hofLshBucketLcg(emb: Column, numPlanes: Int): Column = {
    val dims = size(emb).cast("long")
    val bits = transform(sequence(lit(0L), lit(numPlanes - 1L)), j => {
      val proj = aggregate(
        zip_with(toDouble(emb), sequence(lit(0L), dims - 1),
          (x, i) => x * lcgPlane(j, i, dims)),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, 1L).otherwise(0L)
    })
    aggregate(zip_with(bits, sequence(lit(0L), lit(numPlanes - 1L)),
        (bit, j) => call_function("shiftleft", bit, j.cast("int"))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** [[hofLshBucketLcg]], kernel-backed when a session is active —
    * bit-identical (the DuckDB oracles replay the same LCG plane
    * recurrence, so the kernel is hash-gated by q_ann_lsh itself). */
  def lshBucketLcg(emb: Column, numPlanes: Int): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) => graft.functions.VectorKernels.lshBucketLcg(s, emb, numPlanes)
      case None => hofLshBucketLcg(emb, numPlanes)
    }

  /** Bucketed ANN: exact cosine re-rank restricted to the query's LSH
    * bucket. Recall < 1 by construction; bucket width (numPlanes)
    * trades recall vs candidate count. Planes are LCG-derived so the
    * whole operator — bucket membership AND re-rank — reproduces in
    * the DuckDB oracle. */
  def annLshTopK(df: DataFrame, idCol: String, embCol: String,
      queryId: Long, numPlanes: Int, k: Int): DataFrame = {
    val bucketed = df.withColumn("_bucket", lshBucketLcg(col(embCol), numPlanes))
    // ONE probe for the query row fetches bucket AND embedding together
    // (the id filter pushes below the bucket projection, so the bucket
    // expression evaluates for just this row); the corpus-wide bucket
    // evaluation then happens exactly once, in the re-rank scan below.
    val qRow = bucketed.filter(col(idCol) === queryId)
      .select(col("_bucket"), col(embCol)).head()
    val qBucket = qRow.getLong(0)
    val qEmb = qRow.getSeq[Float](1)
    val qLit = array(qEmb.map(f => lit(f.toDouble)): _*)
    val qNorm = math.sqrt(qEmb.map(f => f.toDouble * f.toDouble).sum)
    bucketed
      .filter(col("_bucket") === qBucket && col(idCol) =!= queryId)
      .select(col(idCol),
        round(dot(col(embCol), qLit) / (norm(col(embCol)) * qNorm), 4).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  // ---------------------------------------------------------------- IVF

  /** Deterministic Lloyd's k-means over a bounded sample — the IVF
    * coarse quantizer (how FAISS-style IVF indexes train: a sample is
    * statistically sufficient for coarse centroids; the full corpus
    * never moves). Init = evenly-spaced sample rows (deterministic, no
    * RNG — replay identity), `iters` damped Lloyd rounds in the driver
    * (k·d·n ops on ≤4096 rows — microseconds). */
  def trainCentroids(df: DataFrame, idCol: String, embCol: String,
      k: Int, iters: Int = 10): Array[Array[Double]] = {
    val sample = codebookSample(df, idCol, embCol, k)
    lloyd(sample, k, iters)
  }

  /** The deterministic training sample every codebook shares: the
    * `min(4096, max(16k, 256))` lowest-id vectors (no RNG — replay
    * identity, and at `iters = 0` the evenly-spaced init rows are
    * exactly reproducible in portable SQL). */
  private def codebookSample(df: DataFrame, idCol: String, embCol: String,
      k: Int): Array[Array[Double]] = {
    val sampleN = math.min(4096, math.max(16 * k, 256))
    val sample = df.orderBy(col(idCol)).limit(sampleN)
      .select(col(embCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= k, s"need at least $k vectors to train $k centroids")
    sample
  }

  /** Damped Lloyd rounds over an in-driver sample; init = evenly-spaced
    * sample rows; empty clusters keep their previous centroid. */
  private def lloyd(sample: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val d = sample.head.length
    var centroids = Array.tabulate(k)(i => sample((i * sample.length) / k).clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestDist = Double.MaxValue; var c = 0
        while (c < k) {
          var dist = 0.0; var i = 0
          while (i < d) { val diff = v(i) - centroids(c)(i); dist += diff * diff; i += 1 }
          if (dist < bestDist) { bestDist = dist; best = c }
          c += 1
        }
        var i = 0
        while (i < d) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(k)(c =>
        if (counts(c) == 0) centroids(c) // empty cluster: keep (deterministic)
        else Array.tabulate(d)(i => sums(c)(i) / counts(c)))
    }
    centroids
  }

  /** PRODUCT-QUANTIZATION codebooks (the PQ half of faiss-style
    * IVF-PQ): the vector splits into `m` contiguous subspaces of
    * d/m dims, each trained independently over the shared sample —
    * `codebooks(sub)(code)(dim)`. At `iters = 0` every per-subspace
    * codebook is the evenly-spaced sample rows' subvectors, fully
    * SQL-replayable (the catalog oracle's parameterization). */
  def pqCodebooks(df: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, iters: Int = 10): Array[Array[Array[Double]]] = {
    val sample = codebookSample(df, idCol, embCol, k)
    val d = sample.head.length
    require(d % m == 0, s"embedding dims $d not divisible into $m subspaces")
    val dSub = d / m
    Array.tabulate(m) { sub =>
      val subSample = sample.map(v =>
        java.util.Arrays.copyOfRange(v, sub * dSub, (sub + 1) * dSub))
      lloyd(subSample, k, iters)
    }
  }

  /** Corpus + its PQ codes (array<int> of length m) — one kernel pass
    * per row over the plan-time-constant codebook. 100 TB shape: the
    * codes column is m bytes-ish per vector versus 4·d for the raw
    * floats — the ANN storage-compression path; encode is a narrow
    * map stage, no shuffle. */
  def pqEncode(df: DataFrame, embCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    df.withColumn("_pq_codes",
      graft.functions.VectorKernels.pqEncode(df.sparkSession, col(embCol), codebooks))

  /** Corpus + its IVF cluster assignment — a narrow map stage (the
    * native kernel runs one tight loop per row). Persist or bucket the
    * result by `_ivf_cluster` for repeated queries: probes then prune
    * whole partitions. */
  def ivfAssign(df: DataFrame, embCol: String,
      centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("_ivf_cluster",
      graft.functions.VectorKernels.nearestCentroid(df.sparkSession, col(embCol), centroids))

  /** IVF ANN top-k: probe the `nProbe` clusters nearest the query,
    * exact cosine re-rank inside them. Scale shape: the filter on
    * `_ivf_cluster` prunes (corpus/k)·nProbe rows into the re-rank;
    * everything else is TakeOrderedAndProject.
    *
    * `iters` parameterizes the coarse-quantizer training (default: 10
    * Lloyd rounds). At `iters = 0` the centroids are exactly the
    * evenly-spaced sample rows — structurally the same IVF (codebook,
    * assignment, probes, re-rank) with a weaker codebook, but every
    * step is replayable in portable SQL, which is what lets the
    * catalog query carry a FULL oracle (the same
    * operator-default-vs-oracle-parameterization as seq packing's
    * shard assignment). */
  def ivfTopK(df: DataFrame, idCol: String, embCol: String, queryId: Long,
      kClusters: Int, nProbe: Int, k: Int, iters: Int = 10): DataFrame = {
    val centroids = trainCentroids(df, idCol, embCol, kClusters, iters)
    val qEmb = df.filter(col(idCol) === queryId).select(col(embCol)).head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val probed = centroids.zipWithIndex.map { case (c, i) =>
      var dist = 0.0; var j = 0
      while (j < qEmb.length) { val diff = qEmb(j) - c(j); dist += diff * diff; j += 1 }
      (dist, i)
    }.sortBy(x => (x._1, x._2)).take(nProbe).map(_._2)
    val qLit = array(qEmb.map(lit): _*)
    val qNorm = math.sqrt(qEmb.map(x => x * x).sum)
    ivfAssign(df, embCol, centroids)
      .filter(col("_ivf_cluster").isin(probed.map(Int.box): _*) && col(idCol) =!= queryId)
      .select(col(idCol),
        round(dot(col(embCol), qLit) / (norm(col(embCol)) * qNorm), 4).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** IVF-PQ ANN top-k (the faiss structure end-to-end): coarse IVF
    * probes restrict candidates to `nProbe` clusters, then candidates
    * rank by ASYMMETRIC DISTANCE (ADC) — the query precomputes one
    * m×kCodes table of exact subspace distances to every PQ code, and
    * each candidate's distance is the sum of m table lookups at its
    * codes. No candidate embedding is touched after encode: the scan
    * reads (id, cluster, codes) — m ints per vector instead of d
    * floats, the bandwidth shape that makes billion-vector ANN work.
    *
    * `iters = 0` keeps both codebooks at the deterministic
    * evenly-spaced sample rows (the catalog oracle's fully
    * SQL-replayable parameterization); the trained default keeps its
    * spec pins. The ADC sum folds subspaces in ascending order (a
    * left-associated 8-term add — engine-reproducible), rounded to 4. */
  def ivfPqTopK(df: DataFrame, idCol: String, embCol: String, queryId: Long,
      kClusters: Int, nProbe: Int, m: Int, kCodes: Int, k: Int,
      iters: Int = 10): DataFrame = {
    val centroids = trainCentroids(df, idCol, embCol, kClusters, iters)
    val books = pqCodebooks(df, idCol, embCol, m, kCodes, iters)
    val qEmb = df.filter(col(idCol) === queryId).select(col(embCol)).head()
      .getSeq[Float](0).map(_.toDouble).toArray
    val probed = centroids.zipWithIndex.map { case (c, i) =>
      var dist = 0.0; var j = 0
      while (j < qEmb.length) { val diff = qEmb(j) - c(j); dist += diff * diff; j += 1 }
      (dist, i)
    }.sortBy(x => (x._1, x._2)).take(nProbe).map(_._2)
    val dSub = qEmb.length / m
    // the ADC table: adc(sub)(code) = ‖q_sub − code‖² exactly
    val adcFlat: Array[Double] = Array.tabulate(m * kCodes) { idx =>
      val sub = idx / kCodes; val c = idx % kCodes
      val code = books(sub)(c)
      var dist = 0.0; var i = 0
      while (i < dSub) { val diff = qEmb(sub * dSub + i) - code(i); dist += diff * diff; i += 1 }
      dist
    }
    val tableLit = array(adcFlat.map(lit): _*)
    val coded = pqEncode(
      ivfAssign(df.select(col(idCol).as("id"), col(embCol).as("emb")), "emb", centroids),
      "emb", books)
    coded
      .filter(col("_ivf_cluster").isin(probed.map(Int.box): _*) && col("id") =!= queryId)
      .select(col("id").as(idCol),
        round(aggregate(
          zip_with(col("_pq_codes"), sequence(lit(0), lit(m - 1)),
            (c, s) => element_at(tableLit, s * kCodes + c + 1)),
          lit(0.0), (acc, x) => acc + x), 4).as("adist"))
      .orderBy(col("adist"), col(idCol))
      .limit(k)
  }

  /** All-pairs near-neighbor edges above a cosine threshold, candidate
    * generation by banded hyperplane LSH (the embedding-cosine near-dup
    * path for corpus dedup).
    *
    * 100 TB shape: only (band_key, id) pairs shuffle for the candidate
    * join — never the embeddings — and each band partitions the corpus
    * into 2^planesPerBand buckets, so in-bucket joins are ~(n/2ʳ)²·2ʳ·b
    * per band, not n². Candidates are deduped across bands before the
    * single exact-cosine verification join. */
  def cosineNearDupPairs(df: DataFrame, idCol: String, embCol: String,
      numBands: Int, planesPerBand: Int, threshold: Double): DataFrame = {
    // precompute the norm once per row; the verification join then
    // evaluates one dot product per pair.
    val b = df.repartition(df.sparkSession.sparkContext.defaultParallelism,
        col(idCol))
      .select(col(idCol).as("id"), col(embCol).as("emb"))
      .withColumn("nrm", norm(col("emb")))
    val banded = b
      .select(col("id"), explode(lshBandKeys(col("emb"), numBands, planesPerBand)).as("band"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(b.select(col("id").as("id_a"), col("emb").as("emb_a"), col("nrm").as("nrm_a")), "id_a")
      .join(b.select(col("id").as("id_b"), col("emb").as("emb_b"), col("nrm").as("nrm_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 4)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    * restricted to coarse clusters. Every vector is assigned to its
    * nearest centroid; candidate pairs are generated ONLY within a
    * cluster; a vector is a duplicate when some same-cluster neighbor
    * at cosine ≥ `threshold` DOMINATES it under the paper's keep rule —
    * keep the member with the LOWEST cosine to its centroid (preserve
    * the cluster's diverse tail), ties broken to the smaller id.
    *
    * 100 TB shape: centroids are a plan-time broadcast codebook (k·d
    * doubles), assignment is one codegen-adjacent kernel pass, and the
    * pair join shuffles on `cluster` so its cost is Σ_c |c|² — bounded
    * by the largest cluster, never n² (k grows with the corpus to hold
    * cluster sizes roughly constant, exactly how the paper runs at
    * LAION scale). Comparisons use cosine ROUNDED to 4 decimals so the
    * dominance relation is stable across engines (same contract as
    * [[cosineNearDupPairs]]).
    *
    * `iters` = 0 keeps the codebook at the deterministic evenly-spaced
    * sample rows (fully SQL-replayable — the catalog entry's full
    * oracle); the operator default trains 10 Lloyd rounds.
    *
    * Returns (id, cluster, cent_cos, is_dup) — survivors are the
    * `is_dup = 0` rows. */
  def semDedup(df: DataFrame, idCol: String, embCol: String,
      kClusters: Int, threshold: Double, iters: Int = 10): DataFrame = {
    val spark = df.sparkSession
    val centroids = trainCentroids(df, idCol, embCol, kClusters, iters)
    val centRows = centroids.zipWithIndex.map { case (c, i) =>
      org.apache.spark.sql.Row(i, c.toSeq) }
    val centSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_c",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_cemb",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType), nullable = false)))
    val centDf = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(centRows: _*)), centSchema)
    // one narrow pass: cluster assignment + norm, then the tiny
    // codebook joins back in for the cosine-to-centroid
    val a = ivfAssign(df.select(col(idCol).as("id"), col(embCol).as("emb")), "emb", centroids)
      .join(centDf, col("_ivf_cluster") === col("_c"))
      .select(col("id"), col("emb"), col("_ivf_cluster").as("cluster"),
        norm(col("emb")).as("nrm"),
        round(dot(col("emb"), col("_cemb")) /
          (norm(col("emb")) * norm(col("_cemb"))), 4).as("cent_cos"))
    // within-cluster dominance pairs: shuffle on cluster, never all-pairs
    val l = a.select(col("id").as("id_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"), col("cluster"), col("cent_cos").as("cc_a"))
    val r = a.select(col("id").as("id_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"), col("cluster"), col("cent_cos").as("cc_b"))
    val dominated = l.join(r, Seq("cluster"))
      .filter(col("id_a") =!= col("id_b") &&
        (col("cc_b") < col("cc_a") ||
         (col("cc_b") === col("cc_a") && col("id_b") < col("id_a"))))
      .filter(round(dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 4)
        >= threshold)
      .select(col("id_a").as("id")).distinct()
    a.join(dominated.withColumn("_dup", lit(1)), Seq("id"), "left")
      .select(col("id"), col("cluster"), col("cent_cos"),
        coalesce(col("_dup"), lit(0)).as("is_dup"))
  }

  /** Candidate-pair count for the banded LSH near-dup path — the
    * scale-audit hook (spec asserts candidates ≪ n²/2). */
  def cosineNearDupCandidateCount(df: DataFrame, idCol: String, embCol: String,
      numBands: Int, planesPerBand: Int): Long = {
    val banded = df
      .select(col(idCol).as("id"),
        explode(lshBandKeys(col(embCol), numBands, planesPerBand)).as("band"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct().count()
  }
}
