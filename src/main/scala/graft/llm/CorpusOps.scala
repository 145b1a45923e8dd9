package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-level curation operators beyond per-document dedup: the
  * CCNet/Dolma-style boilerplate removers and the incremental-ingest
  * membership check a training-data pipeline runs on every new crawl
  * batch.
  *
  * Scale design (the 100 TB story):
  *  - paragraph dedup: chunks shuffle as 16-byte digests for the
  *    frequency count; the "frequent" (boilerplate) set is small by
  *    construction (bounded by corpus_chunks / min_docs) and ships
  *    back as a BROADCAST of hashes — document text crosses the wire
  *    zero times, and the rebuild is a per-doc sort of its own kept
  *    chunks (no corpus-wide sort).
  *  - incremental dedup: the existing-corpus membership sketch is a
  *    Bloom filter over 64-bit content hashes built once per ingest
  *    window (driver-merged, MB–GB bounded by fpp; at extreme corpus
  *    cardinality shard it by key range or raise fpp — the exact
  *    confirm join bounds correctness either way). The mostly-novel
  *    incoming majority is admitted by the broadcast sketch WITHOUT
  *    any shuffle; only bloom-positive candidates (true dups + fpp
  *    false alarms) pay the exact anti-join against corpus keys.
  */
object CorpusOps {

  /** Corpus-wide repeated-paragraph removal (CCNet `dedup paragraphs`,
    * Dolma's paragraph-level dedup): fixed-width word windows stand in
    * for paragraphs (the testdata corpus has no newlines); any chunk
    * appearing in >= `minDocs` distinct documents is boilerplate and is
    * removed from EVERY document, which then gets reassembled in chunk
    * order.
    *
    * Returns (id, n_chunks, n_dropped, clean_text) with clean_text NULL
    * when every chunk of the document was boilerplate.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
      width: Int = 6, minDocs: Int = 3): DataFrame = {
    val chunks = df
      .select(col(idCol), TextAnalysis.wsTokens(col(textCol)).as("w"))
      .select(col(idCol), col("w"),
        explode(sequence(lit(0), ((size(col("w")) - 1) / width).cast("int")))
          .as("chunk_idx"))
      .filter(col("chunk_idx") * width < size(col("w")))
      .select(col(idCol), col("chunk_idx").cast("int").as("chunk_idx"),
        concat_ws(" ", slice(col("w"), col("chunk_idx") * width + 1, lit(width)))
          .as("chunk"))
    // Frequency pass shuffles ONLY (16-byte chunk digest, doc id); the
    // resulting boilerplate set (>= minDocs occurrences each) joins
    // back as bare digests. The key is the FULL 128-bit
    // md5 — digest equality stands in for chunk identity, and at the
    // 128-bit width the birthday bound keeps the collision probability
    // negligible even at trillion-chunk scale (~10^-15 at 10^12 chunks),
    // where the previous 64-bit xxhash64 key made a collision (and thus
    // a silently dropped non-boilerplate chunk) plausible.
    val ck = unhex(md5(col("chunk")))
    val frequent = chunks
      .groupBy(ck.as("ck"))
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("ck"), lit(1).as("_rep"))
    chunks
      .join(frequent, ck === col("ck"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_chunks"),
        sum(coalesce(col("_rep"), lit(0))).cast("int").as("n_dropped"),
        array_sort(collect_list(
          when(col("_rep").isNull, struct(col("chunk_idx"), col("chunk")))))
          .as("_kept"))
      .select(col(idCol), col("n_chunks"), col("n_dropped"),
        nullif(concat_ws(" ", transform(col("_kept"), x => x.getField("chunk"))),
          lit("")).as("clean_text"))
  }

  /** Incremental-ingest dedup: admit only `incoming` rows whose
    * `textCol` content does NOT already exist in `corpus`.
    *
    * Two-tier shape: a broadcast Bloom filter over the corpus's 64-bit
    * content hashes admits the novel majority with zero shuffle; only
    * sketch-positive candidates are confirmed by an exact anti-join on
    * the TEXT ITSELF (the hash stays the shuffle/sketch key, the text
    * is the equality key), so a false positive — or even a full hash
    * collision — costs a join row, never a wrong answer. Result is
    * exact regardless of `fpp`. Candidates are the minority by
    * construction (true dups + fpp), so shipping their text through
    * the confirm join is bounded.
    */
  def incrementalDedup(corpus: DataFrame, incoming: DataFrame,
      textCol: String, expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    graft.functions.BloomFunctions.register(incoming.sparkSession)
    val bf = corpus.select(xxhash64(col(textCol)).as("_h"))
      .stat.bloomFilter("_h", math.max(expectedItems, 1L), fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos); bos.toByteArray
    }
    val flagged = incoming.withColumn("_cand",
      call_function("graft_bloom_might_contain", lit(bytes),
        xxhash64(col(textCol))))
    val novelFast = flagged.filter(!col("_cand")) // sketch-negative: proven novel
    val confirmed = flagged.filter(col("_cand"))  // candidates: exact re-check
      .join(corpus.select(col(textCol).as("_corpus_text")).distinct(),
        col(textCol) === col("_corpus_text"), "left_anti")
    novelFast.unionByName(confirmed).drop("_cand")
  }

  /** Temperature-based mixture resampling (the multilingual-corpus
    * rebalancing rule: sampling weight proportional to sqrt(count), i.e.
    * temperature alpha = 0.5, so low-resource slices are up-weighted
    * relative to their share). Keeps a deterministic id-derived coin —
    * replays select identical rows. Returns per-group
    * (group, n_docs, thr, n_sampled); `thr` is the per-10000 keep
    * threshold the coin compares against.
    *
    * Determinism discipline: weights are rounded to 6 decimals and
    * accumulated as exact DECIMAL (order-independent sum), and sqrt is
    * IEEE-correctly-rounded in every engine — so the floor'd threshold
    * is bit-identical wherever it is computed.
    */
  def temperatureMix(df: DataFrame, groupCol: String, idCol: String,
      targetFrac: Double = 0.5): DataFrame = {
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("wt",
        round(sqrt(col("n").cast("double")), 6).cast("decimal(18,6)"))
    // one rate row per group, joined back: the data pays one narrow pass
    val tot = counts.agg(sum("n").as("total"), sum("wt").as("sumw"))
    val rates = counts.crossJoin(tot)
      .withColumn("thr",
        least(lit(10000.0),
          floor(lit(10000.0)
            * (lit(targetFrac) * col("total").cast("double")
               * col("wt").cast("double") / col("sumw").cast("double"))
            / col("n").cast("double"))).cast("int"))
      .select(col(groupCol), col("n"), col("thr"))
    df.join(rates, Seq(groupCol))
      .groupBy(col(groupCol), col("n"), col("thr"))
      .agg(sum(when(pmod(col(idCol), lit(10000)) < col("thr"), 1L).otherwise(0L))
        .as("n_sampled"))
      .select(col(groupCol), col("n").as("n_docs"), col("thr"), col("n_sampled"))
  }
}
