package graft.catalog

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{CacheScope, QueryDef, Tables}

/** Tokenizer-vocabulary induction over the corpus — the step a training
  * pipeline runs between curation and tokenization (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units"). The algorithm is re-derived from the paper; the reference
  * engine has no tokenizer surface (this is builder-brief scope).
  */
object TokenizerQueries {

  /** Distributed BPE merge induction, 3 rounds.
    *
    * THE scale trick (from the paper's own implementation): merges are
    * computed over the WORD-FREQUENCY table (O(vocab) rows), never the
    * corpus. The corpus is exploded once into (word, freq); each round
    * then costs one pair-count aggregate over a few thousand rows plus
    * a 1-row argmax, so 100 TB of text and 100 MB of text pay the same
    * per-round price after the first word count.
    *
    * Determinism: symbol sequences are space-joined with sentinel
    * spaces; a merge rewrites ` a b ` → ` ab ` with the engine's
    * left-to-right non-overlapping `replace` — Spark's UTF8String
    * .replace and DuckDB's replace agree on this semantics (probed:
    * ' a a a ' → ' aa a ' in both). Argmax tie-break is (count DESC,
    * pair ASC) — total, since pairs are distinct.
    *
    * Output: one row per round — (it, pair, merged, cnt). */
  val bpeMerges: QueryDef = QueryDef.sqlBacked(
    "q_bpe_merges",
    """WITH words AS (
      |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE length(w) >= 2 GROUP BY 1),
      |w0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS sym, freq FROM words),
      |p1 AS (
      |  SELECT a[i] || ' ' || a[i+1] AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM (SELECT string_split(trim(sym), ' ') AS a, freq FROM w0),
      |       UNNEST(generate_series(1, len(a) - 1)) AS g(i)
      |  GROUP BY 1),
      |m1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
      |w1 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m1) || ' ',
      |                      ' ' || replace((SELECT pair FROM m1), ' ', '') || ' ') AS sym,
      |              freq FROM w0),
      |p2 AS (
      |  SELECT a[i] || ' ' || a[i+1] AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM (SELECT string_split(trim(sym), ' ') AS a, freq FROM w1),
      |       UNNEST(generate_series(1, len(a) - 1)) AS g(i)
      |  GROUP BY 1),
      |m2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
      |w2 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m2) || ' ',
      |                      ' ' || replace((SELECT pair FROM m2), ' ', '') || ' ') AS sym,
      |              freq FROM w1),
      |p3 AS (
      |  SELECT a[i] || ' ' || a[i+1] AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM (SELECT string_split(trim(sym), ' ') AS a, freq FROM w2),
      |       UNNEST(generate_series(1, len(a) - 1)) AS g(i)
      |  GROUP BY 1),
      |m3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1)
      |SELECT 1 AS it, pair, replace(pair, ' ', '') AS merged, cnt FROM m1
      |UNION ALL SELECT 2, pair, replace(pair, ' ', ''), cnt FROM m2
      |UNION ALL SELECT 3, pair, replace(pair, ' ', ''), cnt FROM m3
      |ORDER BY it""".stripMargin,
    doc = "BPE tokenizer-vocabulary induction (3 merge rounds) over the word-frequency " +
      "table — corpus exploded ONCE, each round is a pair-count aggregate over O(vocab) " +
      "rows + a 1-row argmax; merges applied via the engines' agreeing L2R replace.") {
    (s, d) =>
      val merges = learnMerges(s, d)
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        merges.map(m => org.apache.spark.sql.Row(m._1, m._2, m._3, m._4)).asJava,
        StructType(Seq(
          StructField("it", IntegerType), StructField("pair", StringType),
          StructField("merged", StringType), StructField("cnt", LongType))))
        .orderBy("it")
  }

  /** The 3-round induction loop (shared by q_bpe_merges and the encode
    * side): one corpus-wide word count, then per round a pair-count
    * aggregate over O(vocab) rows + a 1-row argmax to the driver. */
  private def learnMerges(s: SparkSession, d: String): Seq[(Int, String, String, Long)] = CacheScope {
    // the ONLY corpus-wide pass; every round below is O(vocab)
    val words = CacheScope.persisted(Tables(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("freq")))
    var w = words.select(
      concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")).as("sym"),
      col("freq"))
    val merges = mutable.Buffer.empty[(Int, String, String, Long)]
    for (it <- 1 to 3) {
      val top = w
        .withColumn("a", split(trim(col("sym")), " "))
        .filter(size(col("a")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(a) - 2), i -> concat(a[i], ' ', a[i + 1]))"))
          .as("pair"), col("freq"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("pair"))
        .limit(1).head() // 1 row to the driver per round, by construction
      val (pair, cnt) = (top.getString(0), top.getLong(1))
      val merged = pair.replace(" ", "")
      merges += ((it, pair, merged, cnt))
      w = w.select(
        call_function("replace", col("sym"),
          lit(s" $pair "), lit(s" $merged ")).as("sym"),
        col("freq"))
    }
    merges.toSeq
  }

  /** The learned tokenizer as an executor-shippable merge table —
    * Bench's tokens/s cell learns once outside its timed region. */
  def learnedTable(s: SparkSession, d: String): graft.functions.BpeTable =
    graft.functions.BpeTable.fromPairs(learnMerges(s, d).map(m => (m._2, m._3)))

  /** BPE APPLY at corpus scale: tokenize the corpus under the learned
    * 3-merge vocabulary and emit the exact token-frequency table.
    *
    * Scale shape (the induction's own trick, run in reverse): the
    * tokenizer is applied to the WORD-FREQUENCY table — O(vocab)
    * encode calls weighted by freq — never once per corpus word
    * occurrence. 100 TB of text and 100 MB of text pay the same
    * encode cost after the one corpus-wide word count. The encode is
    * a native Expression ([[graft.functions.BpeTokensExpr]]) whose
    * merge pass reproduces the engines' sentinel-space replace
    * semantics bit-for-bit, so the DuckDB oracle replays the FULL
    * pipeline (induction + application) as 3 sequential `replace`
    * calls. */
  val bpeEncode: QueryDef = QueryDef.sqlBacked(
    "q_bpe_encode",
    """WITH wordsAll AS (
      |  SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1),
      |words AS (SELECT word, freq FROM wordsAll WHERE length(word) >= 2),
      |w0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS sym, freq FROM words),
      |p1 AS (
      |  SELECT a[i] || ' ' || a[i+1] AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM (SELECT string_split(trim(sym), ' ') AS a, freq FROM w0),
      |       UNNEST(generate_series(1, len(a) - 1)) AS g(i)
      |  GROUP BY 1),
      |m1 AS (SELECT pair, cnt FROM p1 ORDER BY cnt DESC, pair LIMIT 1),
      |w1 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m1) || ' ',
      |                      ' ' || replace((SELECT pair FROM m1), ' ', '') || ' ') AS sym,
      |              freq FROM w0),
      |p2 AS (
      |  SELECT a[i] || ' ' || a[i+1] AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM (SELECT string_split(trim(sym), ' ') AS a, freq FROM w1),
      |       UNNEST(generate_series(1, len(a) - 1)) AS g(i)
      |  GROUP BY 1),
      |m2 AS (SELECT pair, cnt FROM p2 ORDER BY cnt DESC, pair LIMIT 1),
      |w2 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m2) || ' ',
      |                      ' ' || replace((SELECT pair FROM m2), ' ', '') || ' ') AS sym,
      |              freq FROM w1),
      |p3 AS (
      |  SELECT a[i] || ' ' || a[i+1] AS pair, CAST(SUM(freq) AS BIGINT) AS cnt
      |  FROM (SELECT string_split(trim(sym), ' ') AS a, freq FROM w2),
      |       UNNEST(generate_series(1, len(a) - 1)) AS g(i)
      |  GROUP BY 1),
      |m3 AS (SELECT pair, cnt FROM p3 ORDER BY cnt DESC, pair LIMIT 1),
      |e0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\1 ', 'g') AS sym, freq FROM wordsAll),
      |e1 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m1) || ' ',
      |                      ' ' || replace((SELECT pair FROM m1), ' ', '') || ' ') AS sym,
      |              freq FROM e0),
      |e2 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m2) || ' ',
      |                      ' ' || replace((SELECT pair FROM m2), ' ', '') || ' ') AS sym,
      |              freq FROM e1),
      |e3 AS (SELECT replace(sym, ' ' || (SELECT pair FROM m3) || ' ',
      |                      ' ' || replace((SELECT pair FROM m3), ' ', '') || ' ') AS sym,
      |              freq FROM e2),
      |tk AS (SELECT unnest(string_split(trim(sym), ' ')) AS token, freq FROM e3)
      |SELECT token, CAST(SUM(freq) AS BIGINT) AS cnt
      |FROM tk GROUP BY 1 ORDER BY token""".stripMargin,
    doc = "BPE tokenizer APPLICATION: encode the corpus under the learned 3-merge " +
      "vocabulary (q_bpe_merges' induction re-run end-to-end) and emit the exact " +
      "token-frequency table. The encode is a native Expression applied to the " +
      "O(vocab) word-frequency table — weighted by freq, never once per occurrence — " +
      "with the induction's own sentinel-space L2R merge semantics, so the oracle " +
      "replays it as 3 sequential replaces. The vocabulary-coverage readout every " +
      "tokenizer owner checks before a training run.") { (s, d) =>
    val table = learnedTable(s, d)
    s.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bpe_tokens",
      exprs => graft.functions.BpeTokensExpr(exprs.head, table), "scala_udf")
    Tables(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(explode(call_function("graft_bpe_tokens", col("word"))).as("token"),
        col("freq"))
      .groupBy("token").agg(sum("freq").cast("long").as("cnt"))
      .orderBy("token")
  }

  private val shhSink = new java.util.concurrent.atomic.AtomicInteger(0)

  /** STREAMING heavy hitters: the batch q_heavy_hitters sketch-prune-
    * confirm shape with the Misra-Gries summary maintained as KEYED
    * STREAMING STATE across micro-batches
    * (`streaming/StreamingHeavyHitters`). Terms shard by hash; each
    * shard's state is one MG buffer (≤256 counters — O(shards ×
    * capacity) total, independent of vocabulary and stream length);
    * every epoch emits the shard's current sketch under a sequence
    * number, the reader takes each shard's newest snapshot, and an
    * exact batch confirm pass removes sketch false positives — so the
    * result is exact and must hash-match the batch oracle. */
  val streamHeavyHitters: QueryDef = QueryDef.sqlBacked(
    "q_stream_heavy_hitters",
    """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |            FROM documents),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok)
      |SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM tok GROUP BY 1 HAVING COUNT(*) * 200 > (SELECT total FROM n)
      |ORDER BY term""".stripMargin,
    doc = "Streaming Misra-Gries heavy hitters: per-shard MG state folded across 3 " +
      "micro-batches (state O(shards×capacity), not O(vocab)), newest snapshots unioned, " +
      "exact confirm — hash-matches the batch heavy-hitter oracle.") { (s, d) =>
    graft.core.Sessions.withStreamingShuffle(s) {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    import graft.streaming.StreamingHeavyHitters._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val tokExpr = explode(graft.llm.TextAnalysis.wsTokens(trim(lower(col("text"))))).as("term")
    val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val snaps = input.toDF().toDF("doc_id", "text")
      .select(tokExpr)
      .select(pmod(xxhash64(col("term")), lit(8)).cast("int").as("shard"), col("term"))
      .as[Tok]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[MgState, Snapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout)(update(256) _)
    val sink = s"stream_hh_${shhSink.incrementAndGet()}"
    val ckpt = graft.core.Scratch.ckptDir("graft_stream_hh").toString
    val q = snaps.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val cands =
      try {
        docs.grouped((docs.size + 2) / 3).foreach { ep =>
          input.addData(ep); q.processAllAvailable()
        }
        latestCandidates(s.table(sink).as[Snapshot]).collect().toSeq.sorted
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    // exact confirm over candidates only (sketch-prune-confirm)
    val tok = Tables(s, d, "documents").select(tokExpr.as("w"))
    val total = tok.count()
    tok.filter(col("w").isin(cands: _*))
      .groupBy(col("w").as("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 200 > total)
      .orderBy("term")
    }
  }

  val all: Seq[QueryDef] = Seq(bpeMerges, bpeEncode, streamHeavyHitters)
}
