package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Set-similarity threshold join with PREFIX FILTERING — the PPJoin
  * candidate scheme (Xiao, Wang, Lin, Yu — WWW'08): for Jaccard ≥ t,
  * two token sets must share at least one token among each set's
  * (s − ⌈t·s⌉ + 1) RAREST tokens under a global token order. Joining
  * only those prefixes shrinks candidate generation from every shared
  * token (the q_ngram_jaccard shape — fine until a stop-gram fans out)
  * to the rare-token prefix, while the exact verify keeps the result
  * identical.
  *
  * 100 TB shape: token document-frequencies come from one co-keyed
  * aggregation (the vocabulary never collects or broadcasts); per-doc
  * prefix ranking is a window over ONE document's tokens (bounded
  * group, partition-parallel); candidates join on 8-byte token hashes
  * with a size-compatibility filter (t·|B| ≤ |A| ≤ |B|/t); the verify
  * intersects the two RAW string arrays, so a hash collision can only
  * add a candidate, never a wrong pair.
  */
object SetSimJoin {

  /** Pairs (id_a < id_b) with Jaccard(tokens) ≥ t. `tokensCol` is an
    * array<string> column; duplicates inside a set are collapsed. */
  def jaccardPairs(df: DataFrame, idCol: String, tokensCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val toks = df
      .select(col(idCol).as("__id"), array_distinct(col(tokensCol)).as("__tk"))
      .filter(size(col("__tk")) > 0)
    val sizes = toks.select(col("__id"), size(col("__tk")).as("__sz"))
    val exploded = toks
      .select(col("__id"), size(col("__tk")).as("__sz"),
        explode(col("__tk")).as("__t0"))
      .select(col("__id"), col("__sz"), xxhash64(col("__t0")).as("__h"))
    // global rarity order: (document frequency, hash) — computed with
    // one partial-aggregated shuffle keyed on the hash, then stamped
    // back with the co-keyed join (no vocabulary broadcast)
    val dfreq = exploded.groupBy("__h").agg(count(lit(1)).as("__df"))
    val byDoc = Window.partitionBy("__id").orderBy(col("__df"), col("__h"))
    val prefix = exploded.join(dfreq, "__h")
      .withColumn("__rn", row_number().over(byDoc))
      .filter(col("__rn") <= col("__sz") - ceil(col("__sz") * threshold) + 1)
      .select(col("__id"), col("__sz"), col("__h"))
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id") &&
          col("a.__sz") >= col("b.__sz") * threshold &&
          col("b.__sz") >= col("a.__sz") * threshold)
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .distinct()
    val verify = cands
      .join(toks.select(col("__id").as("doc_a"), col("__tk").as("__ta")), "doc_a")
      .join(toks.select(col("__id").as("doc_b"), col("__tk").as("__tb")), "doc_b")
      .withColumn("__inter", size(array_intersect(col("__ta"), col("__tb"))))
      .withColumn("__union",
        size(col("__ta")) + size(col("__tb")) - col("__inter"))
    verify
      .filter(col("__inter").cast("double") / col("__union") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("__inter").cast("long").as("n_inter"),
        size(col("__ta")).as("__sa"), size(col("__tb")).as("__sb"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter").cast("double") /
          (col("__sa") + col("__sb") - col("n_inter"))).as("jaccard"))
  }

  /** DIRECTED containment join: pairs (a, b), a ≠ b, with
    * C(A→B) = |A∩B|/|A| ≥ t — "document a is mostly contained in b"
    * (quotes, boilerplate, sub-document duplication), which Jaccard
    * misses whenever |B| ≫ |A|. Asymmetric prefix filter: C ≥ t means
    * |A\B| ≤ (1−t)·|A|, so at least one of A's (|A| − ⌈t·|A|⌉ + 1)
    * RAREST tokens is in B (pigeonhole) — candidates join A's prefix
    * against ALL of B's token hashes (B has no prefix bound here; the
    * only size gate is |B| ≥ t·|A|, from |A∩B| ≤ |B|). Exact verify on
    * the raw arrays keeps the result identical to the cross join. */
  def containmentPairs(df: DataFrame, idCol: String, tokensCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val toks = df
      .select(col(idCol).as("__id"), array_distinct(col(tokensCol)).as("__tk"))
      .filter(size(col("__tk")) > 0)
    val exploded = toks
      .select(col("__id"), size(col("__tk")).as("__sz"),
        explode(col("__tk")).as("__t0"))
      .select(col("__id"), col("__sz"), xxhash64(col("__t0")).as("__h"))
    val dfreq = exploded.groupBy("__h").agg(count(lit(1)).as("__df"))
    val byDoc = Window.partitionBy("__id").orderBy(col("__df"), col("__h"))
    val prefixA = exploded.join(dfreq, "__h")
      .withColumn("__rn", row_number().over(byDoc))
      .filter(col("__rn") <= col("__sz") - ceil(col("__sz") * threshold) + 1)
      .select(col("__id").as("__ida"), col("__sz").as("__sza"), col("__h"))
    val allB = exploded
      .select(col("__id").as("__idb"), col("__sz").as("__szb"), col("__h"))
    val cands = prefixA.join(allB,
        prefixA("__h") === allB("__h") && col("__ida") =!= col("__idb") &&
          col("__szb") >= col("__sza") * threshold)
      .select(col("__ida").as("doc_a"), col("__idb").as("doc_b"))
      .distinct()
    cands
      .join(toks.select(col("__id").as("doc_a"), col("__tk").as("__ta")), "doc_a")
      .join(toks.select(col("__id").as("doc_b"), col("__tk").as("__tb")), "doc_b")
      .withColumn("__inter", size(array_intersect(col("__ta"), col("__tb"))))
      .filter(col("__inter").cast("double") / size(col("__ta")) >= threshold)
      .select(col("doc_a"), col("doc_b"),
        col("__inter").cast("long").as("n_inter"),
        (col("__inter").cast("double") / size(col("__ta"))).as("containment"))
  }
}
