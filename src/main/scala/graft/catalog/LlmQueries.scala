package graft.catalog

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{QueryDef, Tables}
import graft.llm._

/** LLM training-data pipeline operators over `documents` /
  * `embeddings`: dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine), similarity search, text analysis, multimodal
  * plumbing. Engine-specific hash ops (xxhash64) are rows-only checks;
  * everything expressible in portable SQL carries a DuckDB oracle.
  */
object LlmQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Plain documents scan — cheap per-row ops (regex rewrite, sampling
    * coins, shard arithmetic) must NOT pay a full-payload shuffle just
    * to fan out; the repartition costs more than it wins (round-2
    * lesson: five queries regressed 2.4–4.7×). */
  private def docs(s: SparkSession, d: String): DataFrame = t(s, d, "documents")

  /** Fanned out across cores for CPU-BOUND token pipelines only:
    * documents ships as one tiny parquet split locally, which would
    * serialize tokenize/score work. Conditional — when the scan already
    * has enough splits (the 100 TB case: the reader supplies real
    * splits), this is the identity and no shuffle happens. */
  private def docsFanout(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents")
    val target = s.sparkContext.defaultParallelism
    if (base.rdd.getNumPartitions * 2 >= target) base
    else base.repartition(target, col("doc_id"))
  }

  /** documents ∪ exact copies of every 50th doc (ids +100000) — the
    * deterministic duplicate corpus for dedup demos (the base corpus
    * is fully distinct). */
  private def corpusWithDups(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
  }
  private val corpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0""".stripMargin

  /** ∪ TWO copies of every 50th doc (+100000, +200000) — 3-member dup
    * clusters, so transitive grouping has something to merge. */
  private def corpusWithDups3(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select("doc_id", "text")
    val every50 = docs.filter(col("doc_id") % 50 === 0)
    docs.unionByName(every50.withColumn("doc_id", col("doc_id") + 100000))
      .unionByName(every50.withColumn("doc_id", col("doc_id") + 200000))
  }
  private val corpus3Sql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
      |UNION ALL SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0""".stripMargin

  /** ∪ perturbed copies (suffix padding) — near- but not exact dups. */
  private def corpusWithNearDups(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents").select("doc_id", "text")
    docs.unionByName(
      docs.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 100000)
        .withColumn("text", concat(col("text"), lit(" graft dup tail pad"))))
  }
  private val nearCorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 100000 AS doc_id, text || ' graft dup tail pad' AS text
      |FROM documents WHERE doc_id % 50 = 0""".stripMargin

  private val wsSplitSql = "regexp_split_to_array(trim(text), '\\s+')"

  // ------------------------------------------------------- text analysis

  val textFingerprint: QueryDef = QueryDef.sqlBacked(
    "q_text_fingerprint",
    """SELECT doc_id,
      |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin,
    doc = "Content fingerprint: md5 of whitespace-normalized lowercase text — a per-document " +
      "content address (package-identity idea of cdf VISION.md:762-790).") { (s, d) =>
    t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  val dedupContentHash: QueryDef = QueryDef.sqlBacked(
    "q_dedup_content_hash",
    s"""WITH corpus AS ($corpusSql)
       |SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS content_key,
       |  CAST(COUNT(*) AS BIGINT) AS n_copies, min(doc_id) AS canonical_id
       |FROM corpus GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY content_key""".stripMargin,
    doc = "Exact dedup via content-hash groupBy: shuffles 16-byte keys, not documents.") { (s, d) =>
    TextDedup.exactGroups(corpusWithDups(s, d), "doc_id", "text")
      .withColumnRenamed("canonical_id", "canonical_id")
      .filter(col("n_copies") > 1)
      .orderBy("content_key")
  }

  val tokenStats: QueryDef = QueryDef.sqlBacked(
    "q_token_stats",
    s"""SELECT doc_id,
       |  CAST(len($wsSplitSql) AS INTEGER) AS n_ws_tokens,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS n_bpe_tokens
       |FROM documents ORDER BY doc_id""".stripMargin,
    doc = "Token counting: whitespace tokens + BPE-ish regex pre-tokens, pure codegen'd expressions.") {
    (s, d) =>
      docsFanout(s, d).select(
        col("doc_id"),
        size(TextAnalysis.wsTokens(col("text"))).as("n_ws_tokens"),
        size(TextAnalysis.bpeTokens(col("text"))).as("n_bpe_tokens")
      ).orderBy("doc_id")
  }

  val textQuality: QueryDef = QueryDef.sqlBacked(
    "q_text_quality",
    s"""SELECT doc_id, n_words, n_uniq_words,
       |  CAST(n_uniq_words AS DOUBLE) / CAST(n_words AS DOUBLE) AS uniq_ratio,
       |  sum_word_len, punct_n,
       |  round(0.4 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0)
       |      + 0.4 * (CAST(n_uniq_words AS DOUBLE) / CAST(n_words AS DOUBLE))
       |      + 0.2 * (1.0 - least(CAST(punct_n AS DOUBLE) / 20.0, 1.0)), 6) AS quality_score
       |FROM (
       |  SELECT doc_id,
       |    CAST(len($wsSplitSql) AS INTEGER) AS n_words,
       |    CAST(len(list_distinct($wsSplitSql)) AS INTEGER) AS n_uniq_words,
       |    CAST(list_sum(list_transform($wsSplitSql, x -> len(x))) AS INTEGER) AS sum_word_len,
       |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INTEGER) AS punct_n
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin,
    doc = "Quality scoring: length / lexical-diversity / punctuation-density metrics + bounded score.") {
    (s, d) =>
      val staged = docsFanout(s, d).select(col("doc_id"), col("text"),
        TextAnalysis.wsTokens(col("text")).as("_w"))
      val cols = TextAnalysis.qualityFromTokens(col("_w"), col("text"))
        .map { case (n, c) => c.as(n) }
      staged.select(col("doc_id") +: cols: _*).orderBy("doc_id")
  }

  val qualityFilter: QueryDef = QueryDef.sqlBacked(
    "q_quality_filter",
    """SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_distinct, uniq_ratio,
      |  CASE WHEN n_words < 20 OR n_words > 100000 THEN 'word_count'
      |       WHEN mean_word_len < 2.0 OR mean_word_len > 10.0 THEN 'word_length'
      |       WHEN alpha_ratio < 0.8 THEN 'alpha_ratio'
      |       WHEN stop_distinct < 2 THEN 'stopwords'
      |       WHEN uniq_ratio < 0.3 THEN 'repetition'
      |       ELSE 'keep' END AS verdict
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(ws) AS INTEGER) AS n_words,
      |    round(CAST(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE) / len(ws), 4) AS mean_word_len,
      |    round(CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(ws), 4) AS alpha_ratio,
      |    CAST(len(list_intersect(list_distinct(ws),
      |      ['the','be','to','of','and','that','have','with','a','in'])) AS INTEGER) AS stop_distinct,
      |    round(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 4) AS uniq_ratio
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents))
      |ORDER BY doc_id""".stripMargin,
    doc = "Gopher-style quality FILTER (Rae et al. 2021 §A1.1): length / mean-word-length / " +
      "alphabetic-ratio / stopword-presence / lexical-diversity rules with a first-failing-rule " +
      "verdict — the keep/drop decision a corpus pipeline actually executes, beside " +
      "q_text_quality's scalar score. One narrow codegen'd pass over the staged token array; " +
      "signals rounded to 4 decimals so the threshold comparisons replay in any engine.") {
    (s, d) =>
      val staged = docsFanout(s, d).select(col("doc_id"),
        TextAnalysis.wsTokens(col("text")).as("_w"))
      val sigs = TextAnalysis.gopherSignals(col("_w"))
      val sigDf = staged.select(col("doc_id") +: sigs.map { case (n, c) => c.as(n) }: _*)
      sigDf.withColumn("verdict", TextAnalysis.gopherVerdict(
          col("n_words"), col("mean_word_len"), col("alpha_ratio"),
          col("stop_distinct"), col("uniq_ratio")))
        .orderBy("doc_id")
  }

  val lmCoverage: QueryDef = QueryDef.sqlBacked(
    "q_lm_coverage",
    """WITH ref AS (SELECT lower(text) AS t FROM documents WHERE doc_id % 10 = 0),
      |rt AS (SELECT unnest(list_transform(generate_series(1, len(t)-2), i -> substr(t, i, 3))) AS g
      |  FROM ref WHERE len(t) >= 3),
      |model AS (SELECT g FROM rt GROUP BY g HAVING count(*) >= 5),
      |doc AS (SELECT doc_id, lower(text) AS t FROM documents),
      |dt AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2), i -> substr(t, i, 3))) AS g
      |  FROM doc WHERE len(t) >= 3),
      |sc AS (
      |  SELECT doc_id, CAST(count(*) AS INTEGER) AS n_tri,
      |    CAST(sum(CASE WHEN g IN (SELECT g FROM model) THEN 1 ELSE 0 END) AS INTEGER) AS n_known
      |  FROM dt GROUP BY doc_id)
      |SELECT doc_id, n_tri, n_known,
      |  round(CAST(n_known AS DOUBLE) / n_tri, 4) AS coverage,
      |  CAST(CASE WHEN round(CAST(n_known AS DOUBLE) / n_tri, 4) >= 0.98 THEN 1 ELSE 0 END
      |    AS INTEGER) AS keep
      |FROM sc ORDER BY doc_id""".stripMargin,
    doc = "LM-coverage quality filter (the integer-exact proxy for CCNet's reference-corpus " +
      "perplexity filter): a char-trigram model is the >= 5-count trigrams of a reference " +
      "slice; every document scores the fraction of its trigram OCCURRENCES the model " +
      "knows, and low-coverage (out-of-distribution) documents are dropped. 100 TB shape: " +
      "the model is a trigram vocabulary; scoring is explode + left " +
      "probe + per-doc partial counts — no corpus self-join, all-integer counts so " +
      "the score is bit-identical in any engine.") { (s, d) =>
    def tris(c: org.apache.spark.sql.Column) =
      when(length(c) >= 3,
        transform(sequence(lit(1), length(c) - lit(2)), i => c.substr(i, lit(3))))
        .otherwise(array().cast("array<string>"))
    val doc = docsFanout(s, d).select(col("doc_id"), lower(col("text")).as("t"))
    val dt = doc.select(col("doc_id"), explode(tris(col("t"))).as("g"))
    val model = t(s, d, "documents").filter(col("doc_id") % 10 === 0)
      .select(explode(tris(lower(col("text")))).as("g"))
      .groupBy("g").count().filter(col("count") >= 5).select("g")
    val sc = dt.join(model.withColumn("_known", lit(1)), Seq("g"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_tri"),
        sum(coalesce(col("_known"), lit(0))).cast("int").as("n_known"))
    sc.select(col("doc_id"), col("n_tri"), col("n_known"),
        round(col("n_known").cast("double") / col("n_tri"), 4).as("coverage"))
      .withColumn("keep",
        when(col("coverage") >= 0.98, 1).otherwise(0))
      .orderBy("doc_id")
  }

  val docChunks: QueryDef = QueryDef.sqlBacked(
    "q_doc_chunks",
    s"""WITH toks AS (SELECT doc_id, $wsSplitSql AS w FROM documents),
       |starts AS (
       |  SELECT doc_id, w, unnest(generate_series(0, (len(w) - 1) // 24)) AS i FROM toks),
       |chunks AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |    w[i * 24 + 1 : least(i * 24 + 32, len(w))] AS cw
       |  FROM starts WHERE i * 24 < len(w))
       |SELECT doc_id, chunk_idx,
       |  CAST(len(cw) AS INTEGER) AS n_chunk_words,
       |  array_to_string(cw, ' ') AS chunk_text
       |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,
    doc = "Document CHUNKING: sliding word windows (32-word chunks, stride 24 — 8-word " +
      "overlap), the long-document-to-training-sample splitter that runs before " +
      "tokenization/packing. One narrow generator pass per document (sequence + slice + " +
      "join-free explode), chunk boundaries deterministic in both engines.") { (s, d) =>
    val staged = docsFanout(s, d).select(col("doc_id"),
      TextAnalysis.wsTokens(col("text")).as("w"))
    val stride = 24; val width = 32
    staged
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0),
          ((size(col("w")) - 1) / stride).cast("int"))).as("chunk_idx"))
      .filter(col("chunk_idx") * stride < size(col("w")))
      .select(col("doc_id"), col("chunk_idx").cast("int").as("chunk_idx"),
        slice(col("w"), col("chunk_idx") * stride + 1, lit(width)).as("cw"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("cw")).as("n_chunk_words"),
        concat_ws(" ", col("cw")).as("chunk_text"))
      .orderBy("doc_id", "chunk_idx")
  }

  private val langFilterSql: Map[String, String] = TextAnalysis.langProfiles.toMap.map {
    case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      lang -> s"CAST(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> list_contains($list, x))) AS INTEGER)"
  }

  val langIdQ: QueryDef = QueryDef.sqlBacked(
    "q_lang_id",
    s"""SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
       |  CASE WHEN s_en = best AND s_en > 0 THEN 'en'
       |       WHEN s_de = best AND s_de > 0 THEN 'de'
       |       WHEN s_es = best AND s_es > 0 THEN 'es'
       |       WHEN s_fr = best AND s_fr > 0 THEN 'fr'
       |       WHEN s_zh = best AND s_zh > 0 THEN 'zh'
       |       ELSE 'und' END AS lang_pred
       |FROM (
       |  SELECT doc_id,
       |    ${langFilterSql("en")} AS s_en, ${langFilterSql("de")} AS s_de,
       |    ${langFilterSql("es")} AS s_es, ${langFilterSql("fr")} AS s_fr,
       |    ${langFilterSql("zh")} AS s_zh,
       |    greatest(${langFilterSql("en")}, ${langFilterSql("de")}, ${langFilterSql("es")},
       |             ${langFilterSql("fr")}, ${langFilterSql("zh")}) AS best
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin,
    doc = "Language-ID heuristic: stopword-profile voting with deterministic tie-break.") { (s, d) =>
    val staged = docsFanout(s, d).select(col("doc_id"),
      TextAnalysis.wsTokens(lower(col("text"))).as("_w"))
    val scores = TextAnalysis.langScoresFromTokens(col("_w"))
    val scored = staged.select(
      col("doc_id") +: scores.map { case (l, c) => c.as(s"s_$l") }: _*)
    scored.withColumn("lang_pred",
        TextAnalysis.langPickFromScores(
          TextAnalysis.langProfiles.map { case (l, _) => l -> col(s"s_$l") }))
      .orderBy("doc_id")
  }

  val wordFreq: QueryDef = QueryDef.sqlBacked(
    "q_word_freq",
    """SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
      |FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |      FROM documents) t
      |GROUP BY w ORDER BY n DESC, word LIMIT 20""".stripMargin,
    doc = "Corpus vocabulary frequency (the tokenizer-training precursor): explode + count.") { (s, d) =>
    docsFanout(s, d)
      .select(explode(TextAnalysis.wsTokens(lower(col("text")))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(20)
  }

  val tfidf: QueryDef = QueryDef.sqlBacked(
    "q_tfidf",
    """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |            FROM documents),
      |tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM tok GROUP BY 1, 2),
      |len AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM tok GROUP BY 1),
      |df AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1),
      |n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM tf)
      |SELECT tf.doc_id, tf.w AS term, tf.cnt, df.df,
      |  round((CAST(tf.cnt AS DOUBLE) / len.len) * ln((SELECT n FROM n) / df.df), 6) AS tfidf
      |FROM tf JOIN len USING (doc_id) JOIN df ON tf.w = df.w
      |WHERE tf.doc_id < 20
      |ORDER BY doc_id, term""".stripMargin,
    doc = "TF-IDF per (doc, term): per-row double arithmetic (no cross-row FP sums), " +
      "document-frequency join against the vocabulary (vocab ≪ corpus). One tokenize pass: " +
      "len, df AND the corpus size n all derive from the tf aggregate " +
      "(tf already holds distinct (doc, term) rows), so the explode runs exactly " +
      "once and no driver-side count job is scheduled — n joins in as a " +
      "1-row frame (the scalar-subquery shape).") { (s, d) =>
    val tok = docsFanout(s, d)
      .select(col("doc_id"), explode(TextAnalysis.wsTokens(trim(lower(col("text"))))).as("w"))
    val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val len = tf.groupBy("doc_id").agg(sum("cnt").as("len"))
    val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
    val n = tf.agg(countDistinct("doc_id").cast("double").as("__n"))
    tf.join(len, "doc_id")
      .join(dfreq, "w")
      .crossJoin(n)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"), col("w").as("term"), col("cnt"), col("df"),
        round((col("cnt").cast("double") / col("len")) * log(col("__n") / col("df")), 6).as("tfidf"))
      .orderBy("doc_id", "term")
  }

  /** Cleaning patterns shared by q_text_clean (RE2 ∩ Java-regex safe). */
  private val urlPattern = "https?://[^\\s]+"
  private val tagPattern = "<[^>]*>"

  val textClean: QueryDef = QueryDef.sqlBacked(
    "q_text_clean",
    s"""SELECT doc_id,
       |  trim(regexp_replace(regexp_replace(
       |    text || ' see https://ex.com/d' || doc_id || ' and <b>bold</b> end',
       |    '$urlPattern', '', 'g'), '$tagPattern', '', 'g')) AS cleaned
       |FROM documents ORDER BY doc_id""".stripMargin,
    doc = "Boilerplate stripping (URLs, markup) — standard pre-training cleanup; dirt is injected " +
      "deterministically so the removal path is exercised on clean corpora too.") { (s, d) =>
    docs(s, d).select(col("doc_id"),
      trim(regexp_replace(regexp_replace(
        concat(col("text"), lit(" see https://ex.com/d"), col("doc_id"),
          lit(" and <b>bold</b> end")),
        urlPattern, ""), tagPattern, "")).as("cleaned"))
      .orderBy("doc_id")
  }

  val piiRedact: QueryDef = QueryDef.sqlBacked(
    "q_pii_redact",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(dirty, '[A-Za-z0-9._]+@[A-Za-z0-9.]+')) AS INTEGER) AS n_emails,
      |  regexp_replace(dirty, '[A-Za-z0-9._]+@[A-Za-z0-9.]+', '<EMAIL>', 'g') AS masked,
      |  sha256(regexp_extract(dirty, '[A-Za-z0-9._]+@[A-Za-z0-9.]+')) AS pii_hash
      |FROM (SELECT doc_id, 'contact user' || doc_id || '@example.com or ' || text AS dirty
      |      FROM documents) t
      |ORDER BY doc_id""".stripMargin,
    doc = "PII detection + masking + hash-not-plaintext evidence (the quarantine redaction rule " +
      "applied as a corpus cleanup op — cdf VISION.md:723).") { (s, d) =>
    val emailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.]+"
    docs(s, d)
      .select(col("doc_id"),
        concat(lit("contact user"), col("doc_id"), lit("@example.com or "), col("text")).as("dirty"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("dirty"), lit(emailRe), lit(0))).as("n_emails"),
        regexp_replace(col("dirty"), emailRe, "<EMAIL>").as("masked"),
        sha2(regexp_extract(col("dirty"), emailRe, 0), 256).as("pii_hash"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------------- dedup

  val ngramJaccard: QueryDef = QueryDef.sqlBacked(
    "q_ngram_jaccard",
    s"""WITH corpus AS ($nearCorpusSql),
       |toks AS (SELECT doc_id, $wsSplitSql AS w FROM corpus),
       |ngr AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 4), i -> array_to_string(w[i:i+4], ' ')))) AS ng
       |  FROM toks WHERE len(w) >= 5),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS sz FROM ngr GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM ngr a JOIN ngr b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin,
    doc = "Exact word-5-gram Jaccard near-dup pairs; candidates = pairs sharing ≥1 gram " +
      "(selective join, never O(n²)).") { (s, d) =>
    TextDedup.ngramJaccardPairs(corpusWithNearDups(s, d), "doc_id", "text", 5, 0.5)
      .orderBy("doc_a", "doc_b")
  }

  val ppjoin: QueryDef = QueryDef.sqlBacked(
    "q_ppjoin",
    s"""WITH corpus AS ($nearCorpusSql),
       |toks AS (SELECT doc_id, $wsSplitSql AS w FROM corpus),
       |ngr AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 4), i -> array_to_string(w[i:i+4], ' ')))) AS ng
       |  FROM toks WHERE len(w) >= 5),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS sz FROM ngr GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM ngr a JOIN ngr b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin,
    doc = "PPJoin PREFIX-FILTERED set-similarity join (operators/SetSimJoin): same exact " +
      "5-gram Jaccard ≥ 0.5 pairs as q_ngram_jaccard, but candidates come only from " +
      "each set's rare-token PREFIX (s − ⌈t·s⌉ + 1 tokens under global df order) with a " +
      "size-compatibility filter — the candidate fan-out a stop-gram causes in the " +
      "share-any-gram scheme disappears. The oracle (and q_ngram_jaccard) IS the " +
      "share-any-gram formulation: this gate proves prefix filtering loses no pair.") {
    (s, d) =>
      val corpus = corpusWithNearDups(s, d)
      graft.functions.TextHashFunctions.register(s)
      val withGrams = corpus
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), call_function("graft_ngrams5", col("text")).as("ngrams"))
        .filter(size(col("ngrams")) > 0)
      graft.operators.SetSimJoin.jaccardPairs(withGrams, "doc_id", "ngrams", 0.5)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
  }

  val containmentJoin: QueryDef = QueryDef.sqlBacked(
    "q_containment_join",
    s"""WITH corpus AS ($nearCorpusSql),
       |toks AS (SELECT doc_id, $wsSplitSql AS w FROM corpus),
       |ngr AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 4), i -> array_to_string(w[i:i+4], ' ')))) AS ng
       |  FROM toks WHERE len(w) >= 5),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS sz FROM ngr GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM ngr a JOIN ngr b ON a.ng = b.ng AND a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_inter,
       |  CAST(n_inter AS DOUBLE) / sa.sz AS containment
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |WHERE CAST(n_inter AS DOUBLE) / sa.sz >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin,
    doc = "DIRECTED containment join C(A→B) = |A∩B|/|A| ≥ 0.8 over word-5-gram sets — " +
      "'document a is mostly contained in b' (quotes, boilerplate, sub-document " +
      "duplication), which symmetric Jaccard misses whenever |B| ≫ |A|. Asymmetric " +
      "prefix filter (operators/SetSimJoin.containmentPairs): C ≥ t pigeonholes one of " +
      "A's (1−t)·|A|+1 rarest grams into B, so candidates join A's rare-gram prefix " +
      "against B's full 8-byte hash stream with the |B| ≥ t·|A| gate; exact verify on " +
      "raw arrays. The oracle is the share-any-gram formulation — the gate proves the " +
      "asymmetric filter loses no directed pair.") { (s, d) =>
    val corpus = corpusWithNearDups(s, d)
    graft.functions.TextHashFunctions.register(s)
    val withGrams = corpus
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), call_function("graft_ngrams5", col("text")).as("ngrams"))
      .filter(size(col("ngrams")) > 0)
    graft.operators.SetSimJoin.containmentPairs(withGrams, "doc_id", "ngrams", 0.8)
      .orderBy("doc_a", "doc_b")
  }

  val minhashLsh: QueryDef = QueryDef.sqlBacked(
    "q_minhash_lsh",
    s"""WITH corpus AS ($corpusSql),
       |toks AS (SELECT doc_id, $wsSplitSql AS w FROM corpus),
       |ngr AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 4), i -> array_to_string(w[i:i+4], ' ')))) AS ng
       |  FROM toks WHERE len(w) >= 5),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS sz FROM ngr GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM ngr a JOIN ngr b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin,
    doc = "MinHash(32 hashes)+LSH(16 bands × 2 rows) near-dup pairs verified by exact " +
      "Jaccard. The minhash itself is xxhash64 (engine-specific) but the EMITTED set is " +
      "exact-Jaccard-verified, so the oracle is the brute-force exact-Jaccard pair " +
      "set: hash-equality holds iff LSH candidate recall is 1.0 at this threshold " +
      "on this corpus — the oracle falsifies missed candidates, not just wrong " +
      "verification. 16×2 banding (not 4×4): a j=0.97 pair has miss probability " +
      "~1e-19 (vs 2e-4 at 4×4 — which materialized once at the sf0.1 corpus size), " +
      "and the fixture's weakest organic pair (j=0.75) still sits at ~2e-6.") { (s, d) =>
    TextDedup.minhashLshPairs(corpusWithDups(s, d), "doc_id", "text",
      n = 5, numHashes = 32, rowsPerBand = 2, threshold = 0.5)
      .orderBy("doc_a", "doc_b")
  }

  val dupClusters: QueryDef = QueryDef.sqlBacked(
    "q_dup_clusters",
    s"""WITH RECURSIVE corpus AS ($corpus3Sql),
       |toks AS (SELECT doc_id, $wsSplitSql AS w FROM corpus),
       |ngr AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(w) - 4), i -> array_to_string(w[i:i+4], ' ')))) AS ng
       |  FROM toks WHERE len(w) >= 5),
       |sizes AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS sz FROM ngr GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_inter
       |  FROM ngr a JOIN ngr b ON a.ng = b.ng AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= 0.5),
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b AS u, doc_a AS v FROM pairs),
       |reach(node, lbl) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
       |  UNION
       |  SELECT e.v, r.lbl FROM reach r JOIN edges e ON r.node = e.u),
       |cc AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
       |sized AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
       |  FROM cc GROUP BY component)
       |SELECT CAST(cc.node AS BIGINT) AS doc_id,
       |  CAST(cc.component AS BIGINT) AS cluster_id,
       |  sized.cluster_size, cc.node = cc.component AS is_canonical
       |FROM cc JOIN sized ON cc.component = sized.component
       |ORDER BY doc_id""".stripMargin,
    doc = "Near-dup CLUSTER ASSIGNMENT: transitive closure of the exact-Jaccard-verified " +
      "LSH pair set via distributed min-label propagation (hash-to-min connected " +
      "components, Rastogi et al. ICDE'13) — the canonical-doc selection step every " +
      "dedup pipeline runs after pair generation. O(diameter) rounds, each shuffling " +
      "only (long, long) labels; lineage truncated per round. Oracle recomputes the " +
      "same components with a recursive CTE over the same pair set.") { (s, d) =>
    val pairs = TextDedup.minhashLshPairs(corpusWithDups3(s, d), "doc_id", "text",
      n = 5, numHashes = 32, rowsPerBand = 2, threshold = 0.5)
    val cc = TextDedup.connectedComponents(pairs, "doc_a", "doc_b")
    val sized = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    cc.join(sized, "component")
      .select(col("node").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"), (col("node") === col("component")).as("is_canonical"))
      .orderBy("doc_id")
  }

  val winnow: QueryDef = QueryDef.sqlBacked(
    "q_winnow_dedup",
    s"""WITH corpus AS ($nearCorpusSql),
       |toks AS (SELECT doc_id, $wsSplitSql AS w FROM corpus),
       |hs AS (SELECT doc_id, list_transform(generate_series(1, len(w) - 4), i ->
       |    CAST(concat('0x', substr(md5(array_to_string(w[i:i+4], ' ')), 1, 15)) AS BIGINT)) AS h
       |  FROM toks WHERE len(w) >= 8),
       |fps AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len(h) - 3), i -> list_min(h[i:i+3])))) AS fp FROM hs),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS n_shared
       |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 2
       |ORDER BY doc_a, doc_b""".stripMargin,
    doc = "PASSAGE-level near-dup pairs via winnowing fingerprints (Schleimer et al. " +
      "SIGMOD'03): k=5 word-gram hashes, window-4 minima — any shared passage of " +
      "≥8 words shares a fingerprint (coverage theorem) at ~2/(w+1) the gram volume. " +
      "Portable md5-prefix hash, so the oracle reproduces the identical window " +
      "minima; join shuffles 8-byte fingerprints, never text.") { (s, d) =>
    TextDedup.winnowPassagePairs(corpusWithNearDups(s, d), "doc_id", "text",
      k = 5, window = 4, minShared = 2)
      .orderBy("doc_a", "doc_b")
  }

  val simhash: QueryDef = QueryDef.sqlBacked(
    "q_simhash",
    s"""WITH corpus AS ($corpusSql),
       |toks AS (SELECT doc_id, unnest($wsSplitSql) AS tok FROM corpus),
       |th AS (SELECT doc_id,
       |  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
       |  CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo FROM toks),
       |bitsum AS (
       |  SELECT doc_id, gb.b AS b,
       |    SUM(CASE WHEN (CASE WHEN gb.b < 32 THEN (lo // (1::BIGINT << gb.b)) % 2
       |                        ELSE (hi // (1::BIGINT << (gb.b - 32))) % 2 END) = 1
       |             THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN generate_series(0, 63) AS gb(b)
       |  GROUP BY doc_id, gb.b),
       |sig AS (SELECT doc_id, b, CASE WHEN s > 0 THEN 1 ELSE 0 END AS bit FROM bitsum),
       |bands AS (
       |  SELECT doc_id, b // 16 AS band_idx,
       |    CAST(SUM(bit << (b % 16)) AS BIGINT) AS band_val
       |  FROM sig GROUP BY doc_id, b // 16),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bands a JOIN bands b2
       |    ON a.band_idx = b2.band_idx AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id),
       |ham AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(SUM(CASE WHEN sa.bit <> sb.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.b = sa.b
       |  GROUP BY c.doc_a, c.doc_b
       |  HAVING SUM(CASE WHEN sa.bit <> sb.bit THEN 1 ELSE 0 END) <= 3),
       |grams AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, len(w) - 4), i -> array_to_string(w[i:i+4], ' '))) AS gset
       |  FROM (SELECT doc_id, $wsSplitSql AS w FROM corpus)
       |  WHERE len(w) >= 5)
       |SELECT h.doc_a, h.doc_b, h.hamming,
       |  CAST(len(list_intersect(ga.gset, gb.gset)) AS DOUBLE) /
       |    (len(ga.gset) + len(gb.gset) - len(list_intersect(ga.gset, gb.gset))) AS jaccard
       |FROM ham h
       |JOIN grams ga ON ga.doc_id = h.doc_a
       |JOIN grams gb ON gb.doc_id = h.doc_b
       |WHERE CAST(len(list_intersect(ga.gset, gb.gset)) AS DOUBLE) /
       |    (len(ga.gset) + len(gb.gset) - len(list_intersect(ga.gset, gb.gset))) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin,
    doc = "64-bit SimHash, 16-bit band candidate generation, exact Hamming verify, then " +
      "EXACT word-5-gram Jaccard verification on the candidate set — every emitted pair " +
      "is a provably true near-dup (verification cost ∝ candidates, never corpus). " +
      "FULL oracle (the q_ann_lsh pattern): the catalog query runs the md5-derived " +
      "portable token hash, so DuckDB replays hash → per-bit majority → 16-bit bands → " +
      "candidate join → Hamming ≤ 3 → exact-Jaccard verify end to end — candidate " +
      "membership, hamming AND jaccard are all hash-checked. Production default stays " +
      "the codegen'd one-pass xxhash64 kernel behind the same interface (its emission " +
      "is Jaccard-verified and its recall pinned in LlmSpec).") { (s, d) =>
    TextDedup.simhashPairs(corpusWithDups(s, d), "doc_id", "text", maxHamming = 3,
        verifyJaccard = Some((5, 0.5)), portableHash = true)
      .orderBy("doc_a", "doc_b")
  }

  private val streamNearDupSink = new java.util.concurrent.atomic.AtomicInteger(0)

  val streamNearDup: QueryDef = QueryDef.sqlBacked(
    "q_stream_neardup",
    s"""WITH corpus AS ($corpusSql),
       |toks AS (SELECT doc_id, unnest($wsSplitSql) AS tok FROM corpus),
       |th AS (SELECT doc_id,
       |  CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi,
       |  CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo FROM toks),
       |bitsum AS (
       |  SELECT doc_id, gb.b AS b,
       |    SUM(CASE WHEN (CASE WHEN gb.b < 32 THEN (lo // (1::BIGINT << gb.b)) % 2
       |                        ELSE (hi // (1::BIGINT << (gb.b - 32))) % 2 END) = 1
       |             THEN 1 ELSE -1 END) AS s
       |  FROM th CROSS JOIN generate_series(0, 63) AS gb(b)
       |  GROUP BY doc_id, gb.b),
       |sig AS (SELECT doc_id, b, CASE WHEN s > 0 THEN 1 ELSE 0 END AS bit FROM bitsum),
       |bands AS (
       |  SELECT doc_id, b // 16 AS band_idx,
       |    CAST(SUM(bit << (b % 16)) AS BIGINT) AS band_val
       |  FROM sig GROUP BY doc_id, b // 16),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
       |  FROM bands a JOIN bands b2
       |    ON a.band_idx = b2.band_idx AND a.band_val = b2.band_val AND a.doc_id < b2.doc_id),
       |ham AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(SUM(CASE WHEN sa.bit <> sb.bit THEN 1 ELSE 0 END) AS INTEGER) AS hamming
       |  FROM cand c
       |  JOIN sig sa ON sa.doc_id = c.doc_a
       |  JOIN sig sb ON sb.doc_id = c.doc_b AND sb.b = sa.b
       |  GROUP BY c.doc_a, c.doc_b
       |  HAVING SUM(CASE WHEN sa.bit <> sb.bit THEN 1 ELSE 0 END) <= 3)
       |SELECT doc_a, doc_b, hamming FROM ham ORDER BY doc_a, doc_b""".stripMargin,
    doc = "STREAMING cross-epoch near-dup detection, oracle-gated: the dup corpus " +
      "arrives as three deterministic micro-batches (epoch = doc_id mod 3, which " +
      "separates each +100000 copy from its original) through a real Structured " +
      "Streaming query — banded simhash keyed state (flatMapGroupsWithState), " +
      "memory sink — and the emitted candidate pairs must hash-match the BATCH " +
      "band-join formulation (q_simhash's CTE chain, hamming <= 3): with an " +
      "unevictable ring the cross-epoch state is exactly as complete as a corpus-" +
      "wide batch pass, which is the operator's correctness claim. Portable md5 " +
      "token hash so DuckDB replays the signatures; production default remains " +
      "the xxhash64 kernel behind the same interface.") { (s, d) =>
    graft.core.Sessions.withStreamingShuffle(s) {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val rows = corpusWithDups(s, d).select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1)
    // 3 epochs: 100000 % 3 != 0, so every duplicate lands in a
    // DIFFERENT epoch than its original — the cross-epoch path is
    // what's under test, not within-batch pairing
    val epochs = (0 until 3).map(e => rows.filter(_._1 % 3 == e).toSeq)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val banded = graft.streaming.StreamingNearDup.bandedOf(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", portableHash = true)
    // maxPerBand far above any band's population: no eviction, so the
    // streamed pair set equals the batch band join exactly
    val pairs = graft.streaming.StreamingNearDup(banded, maxHamming = 3,
      maxPerBand = 1 << 20)
    val sink = s"stream_neardup_${streamNearDupSink.incrementAndGet()}"
    val ckpt = graft.core.Scratch.ckptDir("graft_stream_neardup").toString
    val q = pairs.writeStream.format("memory").queryName(sink)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    val collected =
      try {
        epochs.foreach { ep => input.addData(ep); q.processAllAvailable() }
        s.table(sink)
          .select(col("docA").as("doc_a"), col("docB").as("doc_b"), col("hamming"))
          .distinct().orderBy("doc_a", "doc_b").collect().toSeq
      } finally {
        q.stop()
        s.catalog.dropTempView(sink)
        // unload state-store providers AND their maintenance pool now —
        // a lingering maintenance thread would leak into whatever the
        // caller times next (bench derived cells follow this query)
        org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(
      collected.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_a", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("doc_b", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hamming", org.apache.spark.sql.types.IntegerType))))
    }
  }

  val datasetMix: QueryDef = QueryDef.sqlBacked(
    "q_dataset_mix",
    """SELECT source,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
      |  CAST(SUM(CASE WHEN keep
      |    THEN len(regexp_split_to_array(trim(text), '\s+')) ELSE 0 END) AS BIGINT) AS sampled_tokens
      |FROM (
      |  SELECT source, text,
      |    (doc_id % 100) < (CASE WHEN source IN ('src0','src1','src2') THEN 80
      |                           WHEN source IN ('src3','src4') THEN 50
      |                           ELSE 20 END) AS keep
      |  FROM documents) t
      |GROUP BY source ORDER BY source""".stripMargin,
    doc = "Training-mixture sampling: per-source keep rates applied by a DETERMINISTIC id-derived " +
      "coin (never rand() — replays select identical documents); reports doc + token budgets.") {
    (s, d) =>
      val rate = when(col("source").isin("src0", "src1", "src2"), 80)
        .when(col("source").isin("src3", "src4"), 50)
        .otherwise(20)
      docs(s, d)
        .withColumn("keep", (col("doc_id") % 100) < rate)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"),
          sum(when(col("keep"), size(TextAnalysis.wsTokens(col("text"))).cast("long"))
            .otherwise(0L)).as("sampled_tokens"))
        .orderBy("source")
  }

  val shardPlan: QueryDef = QueryDef.sqlBacked(
    "q_shard_plan",
    """SELECT doc_id % 8 AS shard,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS n_tokens,
      |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM documents GROUP BY doc_id % 8 ORDER BY shard""".stripMargin,
    doc = "Deterministic shard assignment + per-shard token budgets — the write-side plan for " +
      "tokenized training shards (id-derived, replay-stable).") { (s, d) =>
    docs(s, d)
      .groupBy((col("doc_id") % 8).as("shard"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.wsTokens(col("text"))).cast("long")).as("n_tokens"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("shard")
  }

  // ---------------------------------------------------------- similarity

  val cosineTopK: QueryDef = QueryDef.sqlBacked(
    "q_cosine_topk",
    """WITH q AS (
      |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
      |  FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), (SELECT qe FROM q))
      |    / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
      |                             list_transform(embedding, x -> CAST(x AS DOUBLE))))
      |       * (SELECT sqrt(list_dot_product(qe, qe)) FROM q)), 4) AS cosine
      |FROM embeddings WHERE vec_id <> 0
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    doc = "Brute-force cosine top-k against vec_id=0: narrow map (array fold in codegen) + " +
      "TakeOrderedAndProject — no shuffle at any scale.") { (s, d) =>
    Similarity.cosineTopK(t(s, d, "embeddings"), "vec_id", "embedding", queryId = 0L, k = 10)
  }

  val annLsh: QueryDef = QueryDef.sqlBacked(
    "q_ann_lsh",
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |b AS (
      |  SELECT vec_id, emb,
      |    list_sum(list_transform(generate_series(0, 3), j ->
      |      CASE WHEN list_sum(list_transform(generate_series(1, len(emb)), i ->
      |        emb[i] * ((((j * len(emb) + i) * 2654435761) % 2147483648) / 2147483648.0 - 0.5)
      |      )) > 0 THEN 1 << j ELSE 0 END)) AS bucket
      |  FROM e),
      |q AS (SELECT bucket AS qb, emb AS qe FROM b WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_dot_product(emb, (SELECT qe FROM q)) /
      |    (sqrt(list_dot_product(emb, emb)) * (SELECT sqrt(list_dot_product(qe, qe)) FROM q)), 4) AS cosine
      |FROM b WHERE bucket = (SELECT qb FROM q) AND vec_id <> 0
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    doc = "LSH-bucketed ANN (random-hyperplane signs, LCG-derived planes — exact integer " +
      "recurrence, engine-reproducible): exact re-rank restricted to the query's bucket. " +
      "FULL oracle: DuckDB recomputes the planes, the bucket assignment AND the re-rank, " +
      "so both candidate membership and cosine exactness are hash-verified.") { (s, d) =>
    Similarity.annLshTopK(t(s, d, "embeddings"), "vec_id", "embedding",
      queryId = 0L, numPlanes = 4, k = 10)
  }

  val annIvf: QueryDef = QueryDef.sqlBacked(
    "q_ann_ivf",
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |ranked AS (
      |  SELECT vec_id, emb, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e),
      |smp AS (SELECT rn, emb FROM ranked WHERE rn < 256),
      |n AS (SELECT count(*) AS L FROM smp),
      |cent AS (
      |  SELECT gs.c AS c, s.emb AS cemb
      |  FROM generate_series(0, 15) AS gs(c)
      |  CROSS JOIN n
      |  JOIN smp s ON s.rn = (gs.c * n.L) // 16),
      |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
      |qp AS (
      |  SELECT c FROM (
      |    SELECT cent.c,
      |      row_number() OVER (ORDER BY list_sum(list_transform(
      |        generate_series(1, len(cent.cemb)), i ->
      |        (q.qe[i] - cent.cemb[i]) * (q.qe[i] - cent.cemb[i]))), cent.c) AS rk
      |    FROM cent, q) WHERE rk <= 4),
      |assign AS (
      |  SELECT vec_id, emb, c,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rk
      |  FROM (
      |    SELECT e.vec_id, e.emb, cent.c,
      |      list_sum(list_transform(generate_series(1, len(e.emb)), i ->
      |        (e.emb[i] - cent.cemb[i]) * (e.emb[i] - cent.cemb[i]))) AS dist
      |    FROM e CROSS JOIN cent))
      |SELECT vec_id,
      |  round(list_dot_product(emb, (SELECT qe FROM q)) /
      |    (sqrt(list_dot_product(emb, emb)) * (SELECT sqrt(list_dot_product(qe, qe)) FROM q)), 4) AS cosine
      |FROM assign
      |WHERE rk = 1 AND c IN (SELECT c FROM qp) AND vec_id <> 0
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    doc = "IVF ANN: coarse codebook, native nearest-centroid assignment kernel, nProbe-cluster " +
      "exact cosine re-rank — the codebook-based scale path beside LSH. FULL oracle via " +
      "training parameterization: the catalog query runs iters=0, where centroids are exactly " +
      "the evenly-spaced deterministic sample rows, so DuckDB replays codebook selection, " +
      "assignment (ties to lower index), the 4-probe choice AND the re-rank end to end. The " +
      "operator default (10 Lloyd rounds) keeps its LlmSpec pins: re-rank exactness + measured " +
      "recall@10 vs brute force.") { (s, d) =>
    Similarity.ivfTopK(t(s, d, "embeddings"), "vec_id", "embedding",
      queryId = 0L, kClusters = 16, nProbe = 4, k = 10, iters = 0)
  }

  val semDedup: QueryDef = QueryDef.sqlBacked(
    "q_semdedup",
    """WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |e AS (
      |  SELECT * FROM e0
      |  UNION ALL SELECT vec_id + 100000, emb FROM e0 WHERE vec_id % 50 = 0),
      |ranked AS (
      |  SELECT vec_id, emb, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e),
      |smp AS (SELECT rn, emb FROM ranked WHERE rn < 256),
      |n AS (SELECT count(*) AS L FROM smp),
      |cent AS (
      |  SELECT gs.c AS c, s.emb AS cemb
      |  FROM generate_series(0, 15) AS gs(c)
      |  CROSS JOIN n
      |  JOIN smp s ON s.rn = (gs.c * n.L) // 16),
      |assign AS (
      |  SELECT vec_id, emb, c, cemb,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rk
      |  FROM (
      |    SELECT e.vec_id, e.emb, cent.c, cent.cemb,
      |      list_sum(list_transform(generate_series(1, len(e.emb)), i ->
      |        (e.emb[i] - cent.cemb[i]) * (e.emb[i] - cent.cemb[i]))) AS dist
      |    FROM e CROSS JOIN cent)),
      |a AS (
      |  SELECT vec_id, emb, CAST(c AS INTEGER) AS cluster,
      |    round(list_dot_product(emb, cemb) /
      |      (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(cemb, cemb))), 4) AS cent_cos
      |  FROM assign WHERE rk = 1),
      |dup AS (
      |  SELECT DISTINCT x.vec_id
      |  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id <> y.vec_id
      |  WHERE (y.cent_cos < x.cent_cos
      |         OR (y.cent_cos = x.cent_cos AND y.vec_id < x.vec_id))
      |    AND round(list_dot_product(x.emb, y.emb) /
      |      (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))), 4) >= 0.99)
      |SELECT a.vec_id, a.cluster, a.cent_cos,
      |  CAST(CASE WHEN a.vec_id IN (SELECT vec_id FROM dup) THEN 1 ELSE 0 END AS INTEGER) AS is_dup
      |FROM a ORDER BY a.vec_id""".stripMargin,
    doc = "SemDeDup (Abbas et al. 2023): cluster-restricted semantic dedup over corpus ∪ exact " +
      "copies — broadcast codebook assignment, within-cluster cosine ≥ 0.99 pairs only " +
      "(Σ|cluster|², never n²), keep-lowest-centroid-cosine dominance with id tie-break. FULL " +
      "oracle via the iters=0 codebook parameterization (evenly-spaced deterministic sample " +
      "rows), same contract as q_ann_ivf; the operator default (10 Lloyd rounds) keeps its " +
      "LlmSpec pins.") { (s, d) =>
    val e = t(s, d, "embeddings").select("vec_id", "embedding")
    val withDups = e.unionByName(
      e.filter(col("vec_id") % 50 === 0).withColumn("vec_id", col("vec_id") + 100000))
    Similarity.semDedup(withDups, "vec_id", "embedding",
        kClusters = 16, threshold = 0.99, iters = 0)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")
  }

  val embedDecontaminate: QueryDef = QueryDef.sqlBacked(
    "q_embed_decontaminate",
    """WITH e0 AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |ev AS (SELECT vec_id, emb FROM e0 WHERE vec_id % 20 = 0),
      |train AS (
      |  SELECT vec_id, emb FROM e0 WHERE vec_id % 20 <> 0
      |  UNION ALL SELECT vec_id + 100000, emb FROM ev),
      |scored AS (
      |  SELECT t.vec_id,
      |    max(round(list_dot_product(t.emb, ev.emb) /
      |      (sqrt(list_dot_product(t.emb, t.emb)) * sqrt(list_dot_product(ev.emb, ev.emb))), 4))
      |      AS max_eval_cos
      |  FROM train t CROSS JOIN ev GROUP BY t.vec_id)
      |SELECT vec_id, max_eval_cos,
      |  CAST(CASE WHEN max_eval_cos >= 0.99 THEN 1 ELSE 0 END AS INTEGER) AS contaminated
      |FROM scored ORDER BY vec_id""".stripMargin,
    doc = "SEMANTIC decontamination (the embedding-space complement of q_decontaminate's " +
      "n-gram overlap): every training vector scores its max cosine against the eval " +
      "suite (train = corpus-minus-eval ∪ planted eval copies, so contamination " +
      "provably exists and exactness is hash-checked); >= 0.99 flags the leak. 100 TB " +
      "shape: eval suites are small by construction, so the whole suite ships as a " +
      "plan-time-constant kernel (MaxCosineExpr, the broadcast-codebook pattern) and " +
      "the score is ONE narrow map pass — no crossJoin row explosion, no groupBy " +
      "shuffle, never a corpus x corpus join. The kernel is bit-identical to the " +
      "crossJoin + round + max formulation (differential-tested in LlmSpec).") { (s, d) =>
    val e = t(s, d, "embeddings").select("vec_id", "embedding")
    val ev = e.filter(col("vec_id") % 20 === 0)
    val train = e.filter(col("vec_id") % 20 =!= 0).unionByName(
      ev.withColumn("vec_id", col("vec_id") + 100000))
    // the eval suite is collected ONCE (bounded by construction — an
    // eval benchmark is KBs of vectors) and rides the plan as an
    // expression constant, exactly like the IVF codebook
    val evalVecs = ev.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    train.select(col("vec_id"),
        graft.functions.VectorKernels.maxCosine(s, col("embedding"), evalVecs)
          .as("max_eval_cos"))
      .select(col("vec_id"), col("max_eval_cos"),
        when(col("max_eval_cos") >= 0.99, 1).otherwise(0).as("contaminated"))
      .orderBy("vec_id")
  }

  val annIvfPq: QueryDef = QueryDef.sqlBacked(
    "q_ann_ivfpq",
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |ranked AS (
      |  SELECT vec_id, emb, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e),
      |smp AS (SELECT rn, emb FROM ranked WHERE rn < 256),
      |n AS (SELECT count(*) AS L FROM smp),
      |cent AS (
      |  SELECT gs.c AS c, s.emb AS cemb
      |  FROM generate_series(0, 15) AS gs(c)
      |  CROSS JOIN n
      |  JOIN smp s ON s.rn = (gs.c * n.L) // 16),
      |q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
      |qp AS (
      |  SELECT c FROM (
      |    SELECT cent.c,
      |      row_number() OVER (ORDER BY list_sum(list_transform(
      |        generate_series(1, len(cent.cemb)), i ->
      |        (q.qe[i] - cent.cemb[i]) * (q.qe[i] - cent.cemb[i]))), cent.c) AS rk
      |    FROM cent, q) WHERE rk <= 4),
      |assign AS (
      |  SELECT vec_id, emb, c,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) AS rk
      |  FROM (
      |    SELECT e.vec_id, e.emb, cent.c,
      |      list_sum(list_transform(generate_series(1, len(e.emb)), i ->
      |        (e.emb[i] - cent.cemb[i]) * (e.emb[i] - cent.cemb[i]))) AS dist
      |    FROM e CROSS JOIN cent)),
      |pqa AS (
      |  SELECT e.vec_id, sub.m AS sub, cent.c,
      |    row_number() OVER (PARTITION BY e.vec_id, sub.m ORDER BY
      |      list_sum(list_transform(generate_series(1, 8), i ->
      |        (e.emb[sub.m * 8 + i] - cent.cemb[sub.m * 8 + i])
      |        * (e.emb[sub.m * 8 + i] - cent.cemb[sub.m * 8 + i]))), cent.c) AS rk
      |  FROM e CROSS JOIN generate_series(0, 7) AS sub(m) CROSS JOIN cent),
      |pvt AS (
      |  SELECT vec_id,
      |    max(CASE WHEN sub = 0 THEN c END) AS c0, max(CASE WHEN sub = 1 THEN c END) AS c1,
      |    max(CASE WHEN sub = 2 THEN c END) AS c2, max(CASE WHEN sub = 3 THEN c END) AS c3,
      |    max(CASE WHEN sub = 4 THEN c END) AS c4, max(CASE WHEN sub = 5 THEN c END) AS c5,
      |    max(CASE WHEN sub = 6 THEN c END) AS c6, max(CASE WHEN sub = 7 THEN c END) AS c7
      |  FROM pqa WHERE rk = 1 GROUP BY vec_id),
      |adctab AS (
      |  SELECT sub.m AS sub, cent.c AS c,
      |    list_sum(list_transform(generate_series(1, 8), i ->
      |      (q.qe[sub.m * 8 + i] - cent.cemb[sub.m * 8 + i])
      |      * (q.qe[sub.m * 8 + i] - cent.cemb[sub.m * 8 + i]))) AS dd
      |  FROM generate_series(0, 7) AS sub(m) CROSS JOIN cent CROSS JOIN q)
      |SELECT a.vec_id,
      |  round(t0.dd + t1.dd + t2.dd + t3.dd + t4.dd + t5.dd + t6.dd + t7.dd, 4) AS adist
      |FROM assign a
      |JOIN pvt p ON p.vec_id = a.vec_id
      |JOIN adctab t0 ON t0.sub = 0 AND t0.c = p.c0
      |JOIN adctab t1 ON t1.sub = 1 AND t1.c = p.c1
      |JOIN adctab t2 ON t2.sub = 2 AND t2.c = p.c2
      |JOIN adctab t3 ON t3.sub = 3 AND t3.c = p.c3
      |JOIN adctab t4 ON t4.sub = 4 AND t4.c = p.c4
      |JOIN adctab t5 ON t5.sub = 5 AND t5.c = p.c5
      |JOIN adctab t6 ON t6.sub = 6 AND t6.c = p.c6
      |JOIN adctab t7 ON t7.sub = 7 AND t7.c = p.c7
      |WHERE a.rk = 1 AND a.c IN (SELECT c FROM qp) AND a.vec_id <> 0
      |ORDER BY adist, a.vec_id LIMIT 10""".stripMargin,
    doc = "IVF-PQ ANN end-to-end (the faiss index structure): 4-probe coarse IVF restricts " +
      "candidates, ASYMMETRIC DISTANCE ranks them — the query precomputes an 8x16 table of " +
      "exact subspace distances to every PQ code and each candidate costs 8 table lookups; " +
      "no candidate embedding is touched after encode (m ints/vector scan, the " +
      "billion-vector bandwidth shape). FULL oracle at iters=0 (both codebooks are the " +
      "evenly-spaced sample rows): DuckDB replays coarse codebook, probes, PQ argmins, the " +
      "ADC table AND the left-associated 8-term distance sum. Trained default pinned in " +
      "LlmSpec.") { (s, d) =>
    Similarity.ivfPqTopK(t(s, d, "embeddings"), "vec_id", "embedding",
      queryId = 0L, kClusters = 16, nProbe = 4, m = 8, kCodes = 16, k = 10, iters = 0)
  }

  val embedNearDup: QueryDef = QueryDef.sqlBacked(
    "q_embed_neardup",
    """WITH v AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, list_transform(embedding, x -> CAST(x AS DOUBLE))
      |  FROM embeddings WHERE vec_id % 50 = 0)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_dot_product(a.e, b.e) /
      |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) AS cosine
      |FROM v a JOIN v b ON a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.e, b.e) /
      |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 4) >= 0.99
      |ORDER BY id_a, id_b""".stripMargin,
    doc = "Embedding-cosine near-dup edges (threshold 0.99) over corpus ∪ exact copies, " +
      "banded hyperplane-LSH candidate generation (8 bands × 12 planes, OR-composed: " +
      "0.2% candidate density). Oracle is the brute-force all-pairs scan — a hash match " +
      "proves recall 1.0 on this corpus, not just plausible pairs (exact copies share " +
      "every band key, so copy-recall is 1.0 by construction at any scale).") { (s, d) =>
    val e = t(s, d, "embeddings").select("vec_id", "embedding")
    val withDups = e.unionByName(
      e.filter(col("vec_id") % 50 === 0).withColumn("vec_id", col("vec_id") + 100000))
    Similarity.cosineNearDupPairs(withDups, "vec_id", "embedding",
        numBands = 8, planesPerBand = 12, threshold = 0.99)
      .orderBy("id_a", "id_b")
  }

  val pqQuantize: QueryDef = QueryDef.sqlBacked(
    "q_pq_quantize",
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |ranked AS (
      |  SELECT vec_id, emb, row_number() OVER (ORDER BY vec_id) - 1 AS rn FROM e),
      |smp AS (SELECT rn, emb FROM ranked WHERE rn < 256),
      |n AS (SELECT count(*) AS L FROM smp),
      |cent AS (
      |  SELECT gs.c AS c, s.emb AS cemb
      |  FROM generate_series(0, 15) AS gs(c)
      |  CROSS JOIN n
      |  JOIN smp s ON s.rn = (gs.c * n.L) // 16),
      |assign AS (
      |  SELECT e.vec_id, sub.m AS sub, cent.c,
      |    list_sum(list_transform(generate_series(1, 8), i ->
      |      (e.emb[sub.m * 8 + i] - cent.cemb[sub.m * 8 + i])
      |      * (e.emb[sub.m * 8 + i] - cent.cemb[sub.m * 8 + i]))) AS dist
      |  FROM e CROSS JOIN generate_series(0, 7) AS sub(m) CROSS JOIN cent),
      |best AS (
      |  SELECT vec_id, sub, c,
      |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, c) AS rk
      |  FROM assign)
      |SELECT vec_id,
      |  CAST(max(CASE WHEN sub = 0 THEN c END) AS INTEGER) AS c0,
      |  CAST(max(CASE WHEN sub = 1 THEN c END) AS INTEGER) AS c1,
      |  CAST(max(CASE WHEN sub = 2 THEN c END) AS INTEGER) AS c2,
      |  CAST(max(CASE WHEN sub = 3 THEN c END) AS INTEGER) AS c3,
      |  CAST(max(CASE WHEN sub = 4 THEN c END) AS INTEGER) AS c4,
      |  CAST(max(CASE WHEN sub = 5 THEN c END) AS INTEGER) AS c5,
      |  CAST(max(CASE WHEN sub = 6 THEN c END) AS INTEGER) AS c6,
      |  CAST(max(CASE WHEN sub = 7 THEN c END) AS INTEGER) AS c7
      |FROM best WHERE rk = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    doc = "PRODUCT QUANTIZATION encode (the PQ half of faiss-style IVF-PQ): 8 subspaces x " +
      "16 codes per subspace, codes assigned by a single plan-time-constant-codebook kernel " +
      "pass (PqEncodeExpr — one tight loop per row, no HOF interpretation). FULL oracle via " +
      "the iters=0 parameterization (per-subspace codebooks are the evenly-spaced sample " +
      "rows' subvectors — DuckDB replays codebook selection and every argmin, ties to the " +
      "lower code); the trained default keeps its LlmSpec pins. 8 int codes replace 256 " +
      "float bytes per vector — the ANN storage-compression path.") { (s, d) =>
    val e = t(s, d, "embeddings").select("vec_id", "embedding")
    val books = Similarity.pqCodebooks(e, "vec_id", "embedding", m = 8, k = 16, iters = 0)
    Similarity.pqEncode(e, "embedding", books)
      .select(col("vec_id") +: (0 until 8).map(i =>
        col("_pq_codes").getItem(i).as(s"c$i")): _*)
      .orderBy("vec_id")
  }

  val embedQuantize: QueryDef = QueryDef.sqlBacked(
    "q_embed_quantize",
    """SELECT vec_id,
      |  round(mn, 6) AS mn_r, round(mx, 6) AS mx_r,
      |  codes[1] AS c0, codes[2] AS c1, codes[32] AS c31, codes[64] AS c63,
      |  CAST(list_sum(codes) AS BIGINT) AS code_sum
      |FROM (
      |  SELECT vec_id,
      |    list_min(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mn,
      |    list_max(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS mx,
      |    list_transform(embedding, x -> CAST(floor(
      |      (CAST(x AS DOUBLE) - list_min(list_transform(embedding, y -> CAST(y AS DOUBLE))))
      |      * 255.0 /
      |      (list_max(list_transform(embedding, y -> CAST(y AS DOUBLE)))
      |       - list_min(list_transform(embedding, y -> CAST(y AS DOUBLE))))) AS INTEGER)) AS codes
      |  FROM embeddings) t
      |ORDER BY vec_id""".stripMargin,
    doc = "Int8 scalar quantization of embeddings (the ANN storage-compression path): per-vector " +
      "min/max affine codes via floor — identical double arithmetic both engines, so even the " +
      "codes are bit-exact. Sampled code positions + code_sum oracle-checked.") { (s, d) =>
    // Stage emb_d/mn/mx as real columns BEFORE the codes lambda:
    // interpreted HOF lambdas re-evaluate embedded subtrees per element,
    // so an inline array_min(transform(...)) inside transform() is
    // O(d²) per row. Staged, each pass is O(d).
    val embD = transform(col("embedding"), x => x.cast("double"))
    t(s, d, "embeddings")
      .select(col("vec_id"), embD.as("emb_d"))
      .select(col("vec_id"), col("emb_d"),
        array_min(col("emb_d")).as("mn"), array_max(col("emb_d")).as("mx"))
      .select(col("vec_id"), col("mn"), col("mx"),
        transform(col("emb_d"),
          x => floor((x - col("mn")) * 255.0 / (col("mx") - col("mn"))).cast("int")).as("codes"))
      .select(col("vec_id"),
        round(col("mn"), 6).as("mn_r"), round(col("mx"), 6).as("mx_r"),
        element_at(col("codes"), 1).as("c0"), element_at(col("codes"), 2).as("c1"),
        element_at(col("codes"), 32).as("c31"), element_at(col("codes"), 64).as("c63"),
        aggregate(col("codes"), lit(0L), (acc, x) => acc + x).as("code_sum"))
      .orderBy("vec_id")
  }

  // ----------------------------------------------------------- multimodal

  val multimodalMeta: QueryDef = QueryDef.sqlBacked(
    "q_multimodal_meta",
    """SELECT doc_id AS media_id, 'text' AS media_type,
      |  CAST(octet_length(CAST(text AS BLOB)) AS INTEGER) AS byte_len,
      |  sha256(text) AS payload_sha256
      |FROM documents ORDER BY media_id""".stripMargin,
    doc = "Multimodal metadata projection over opaque binary payloads (schema contract + " +
      "byte-length + content hash).") { (s, d) =>
    Multimodal.metadata(Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text", "text"))
      .orderBy("media_id")
  }

  private val mmFeatureOracle: String = {
    val residues = (0 until Multimodal.FeatureDim).map { j =>
      s"CAST(coalesce(list_sum(list_transform(range(1, len(bs) + 1), " +
        s"i -> CASE WHEN (i - 1) % ${Multimodal.FeatureDim} = $j THEN bs[i] ELSE 0 END)), 0) AS BIGINT) AS r$j"
    }.mkString(",\n  ")
    val sumExpr = (0 until Multimodal.FeatureDim).map(j => s"r$j / 255.0").mkString(" + ")
    s"""WITH b AS (SELECT doc_id AS media_id,
       |  list_transform(range(1, strlen(text) + 1),
       |    i -> ascii(substring(text, CAST(i AS INT), 1))) AS bs FROM documents),
       |r AS (SELECT media_id,
       |  $residues
       |FROM b)
       |SELECT media_id, round(r0 / 255.0, 6) AS f0,
       |  round(r${Multimodal.FeatureDim - 1} / 255.0, 6) AS f_last,
       |  round($sumExpr, 6) AS f_sum
       |FROM r ORDER BY media_id""".stripMargin
  }

  val multimodalFeatures: QueryDef = QueryDef.sqlBacked(
    "q_multimodal_features", mmFeatureOracle,
    doc = "Partition-parallel feature extraction over binary payloads (decode step STUBBED — " +
      "deterministic byte-fold; plumbing/batch shape real). The oracle recomputes the fold " +
      "from the text bytes (ASCII corpus), with integer-exact residue sums and one " +
      "normalizing division — a hash match proves the binary column delivered every payload " +
      "byte faithfully through the batched mapPartitions path.") { (s, d) =>
    Multimodal.extractFeatures(
        Multimodal.asMedia(t(s, d, "documents"), "doc_id", "text", "text"))
      .select(col("media_id"),
        round(element_at(col("features"), 1), 6).as("f0"),
        round(element_at(col("features"), Multimodal.FeatureDim), 6).as("f_last"),
        round(aggregate(col("features"), lit(0.0d), (acc, x) => acc + x), 6).as("f_sum"))
      .orderBy("media_id")
  }

  val imageFeaturesQ: QueryDef = QueryDef.sqlBacked(
    "q_image_features",
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  16 AS width, 12 AS height, 3 AS channels,
      |  CAST(SUM((doc_id * 7 + 3 * x.x + 5 * y.y) % 256) AS BIGINT) AS sum_r,
      |  CAST(SUM((doc_id * 11 + x.x + 2 * y.y) % 256) AS BIGINT) AS sum_g,
      |  CAST(SUM((doc_id * 13 + 4 * x.x + y.y) % 256) AS BIGINT) AS sum_b
      |FROM documents, generate_series(0, 15) AS x(x), generate_series(0, 11) AS y(y)
      |GROUP BY doc_id ORDER BY media_id""".stripMargin,
    doc = "REAL image decode over binary payloads (JDK ImageIO, no external jars): " +
      "each document id becomes a deterministic 16x12 RGB PNG (encoded via ImageIO's " +
      "writer in the same narrow map stage), then Multimodal.imageFeatures DECODES the " +
      "PNG back to pixels and reports width/height/channels + exact per-channel sums. " +
      "The oracle replays the closed-form pixel rule with generate_series, so a hash " +
      "match proves the full encode->PNG->decode->pixel-stats round trip, not a fold " +
      "over the raw bytes. Payloads never shuffle; only (id, stats) leave the stage.") { (s, d) =>
    val ids = t(s, d, "documents").select(col("doc_id").cast("long").as("media_id"))
    val rdd = ids.rdd.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      org.apache.spark.sql.Row(id, Multimodal.syntheticPng(id, 16, 12), "image")
    })
    Multimodal.imageFeatures(s.createDataFrame(rdd, Multimodal.mediaSchema))
      .orderBy("media_id")
  }

  val imagePhashQ: QueryDef = QueryDef.sqlBacked(
    "q_image_phash",
    """WITH ids AS (
      |  SELECT doc_id AS media_id, doc_id AS base, FALSE AS pert
      |  FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000, doc_id, TRUE FROM documents WHERE doc_id % 50 = 0),
      |px AS (
      |  SELECT i.media_id, x.x AS x, y.y AS y,
      |    CASE WHEN i.pert AND x.x = 0 AND y.y = 0
      |      THEN ((i.base*11 + x.x + 2*y.y) % 256 + 1) % 256
      |      ELSE (i.base*11 + x.x + 2*y.y) % 256 END AS g
      |  FROM ids i, generate_series(0, 7) x(x), generate_series(0, 7) y(y)),
      |dh AS (
      |  SELECT a.media_id,
      |    CAST(SUM(CASE WHEN b.g > a.g
      |      THEN (CAST(1 AS BIGINT) << (a.y*7 + a.x)) ELSE 0 END) AS BIGINT) AS dhash
      |  FROM px a JOIN px b
      |    ON b.media_id = a.media_id AND b.y = a.y AND b.x = a.x + 1
      |  WHERE a.x < 7
      |  GROUP BY 1)
      |SELECT a.media_id AS id1, b.media_id AS id2,
      |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
      |FROM dh a JOIN dh b ON a.media_id < b.media_id
      |WHERE bit_count(xor(a.dhash, b.dhash)) <= 1
      |ORDER BY id1, id2""".stripMargin,
    doc = "Perceptual-hash image near-dup pairs over REAL decoded pixels: each id becomes " +
      "an 8x8 PNG (clones get one green pixel bumped), Multimodal.imageDHash DECODES " +
      "the PNG and fingerprints row-gradient signs (classic dHash, 56 bits), and pairs " +
      "within hamming 1 come from 2-band pigeonhole candidates + exact bit_count " +
      "verify — never an all-pairs join; payloads never shuffle (only 8-byte hashes). " +
      "The oracle replays the closed-form pixel rule and brute-forces all pairs, so a " +
      "match proves encode->decode->dhash->band-join end to end.") { (s, d) =>
    val docs = t(s, d, "documents").select(col("doc_id"))
    val base = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("media_id"), col("doc_id").as("base"),
        lit(false).as("pert"))
    val clones = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000).as("media_id"), col("doc_id").as("base"),
        lit(true).as("pert"))
    val ids = base.unionByName(clones)
    val hashRdd = ids.rdd.mapPartitions(_.map { r =>
      val png =
        if (r.getBoolean(2)) Multimodal.syntheticPngPerturbed(r.getLong(1), 8, 8)
        else Multimodal.syntheticPng(r.getLong(1), 8, 8)
      org.apache.spark.sql.Row(r.getLong(0),
        Multimodal.imageDHash(png).getOrElse(
          sys.error(s"dhash: undecodable fixture for id ${r.getLong(0)}")))
    })
    val dh = s.createDataFrame(hashRdd, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dhash",
        org.apache.spark.sql.types.LongType, nullable = false))))
    // hamming ≤ 1 ⇒ the differing bit lives in ONE 28-bit band, so the
    // other band matches exactly (pigeonhole — same family as q_simhash)
    val bands = dh.select(col("media_id"), col("dhash"),
        explode(array(
          struct(lit(0).as("bi"), shiftright(col("dhash"), 28).as("bv")),
          struct(lit(1).as("bi"),
            (col("dhash").bitwiseAND(lit((1L << 28) - 1))).as("bv")))).as("b"))
      .select(col("media_id"), col("dhash"), col("b.bi"), col("b.bv"))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bv") === col("b.bv") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id1"), col("b.media_id").as("id2"),
        col("a.dhash").as("h1"), col("b.dhash").as("h2"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))).cast("long"))
      .filter(col("hamming") <= 1)
      .select("id1", "id2", "hamming")
      .orderBy("id1", "id2")
  }

  val urlDedupQ: QueryDef = QueryDef.sqlBacked(
    "q_url_dedup",
    """WITH u AS (SELECT doc_id,
      |  concat('https://news.example.com/', lang, '/art-', doc_id % 100,
      |         '?ref=', source) AS canon_url
      |FROM documents)
      |SELECT canon_url, CAST(MIN(doc_id) AS BIGINT) AS keeper,
      |  CAST(COUNT(*) AS BIGINT) AS n_urls
      |FROM u GROUP BY canon_url ORDER BY canon_url""".stripMargin,
    doc = "URL-level dedup, the crawl pipeline's first rung (CCNet/Dolma: group by " +
      "canonical URL before any payload is read): each doc gets a deliberately MESSY " +
      "url (uppercase scheme+host, www., :443, utm_* params around a real one, a " +
      "fragment) and UrlOps.canonicalUrl must normalize every spelling — lowercase " +
      "scheme/host with path case preserved, default port and www. stripped, fragment " +
      "dropped, tracking params dropped with separator repair. The ORACLE constructs " +
      "the ground-truth canonical form directly from the synthesis rule, so it checks " +
      "the canonicalizer against truth rather than a second copy of the same regexes. " +
      "Dedup groups on ~80 B canonical strings — payloads never move.") { (s, d) =>
    val messy = docs(s, d).select(col("doc_id"),
      concat(lit("HTTPS://WWW.News.Example.com:443/"), col("lang"),
        lit("/art-"), (col("doc_id") % 100).cast("string"),
        lit("?utm_source=feed&ref="), col("source"),
        lit("&utm_medium=rss#frag")).as("url"))
    UrlOps.urlDedup(messy, "doc_id", "url")
      .select(col("canon_url"), col("keeper"), col("n_urls"))
      .orderBy("canon_url")
  }

  val hashClassifierQ: QueryDef = QueryDef.sqlBacked(
    "q_hash_classifier",
    s"""WITH b AS (SELECT doc_id,
       |  list_transform($wsSplitSql, t ->
       |    ((CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) % 1024)
       |      * 2654435761) % 2048 - 1024) AS ws
       |FROM documents)
       |SELECT doc_id, CAST(list_sum(ws) AS BIGINT) AS score,
       |  CAST(len(ws) AS BIGINT) AS n_tokens,
       |  list_sum(ws) > 0 AS keep
       |FROM b ORDER BY doc_id""".stripMargin,
    doc = "Hashing-trick linear classifier inference (the fastText/VW shape every " +
      "learned quality filter deploys as): token → md5-prefix hash → weight bucket → " +
      "exact integer fold, one narrow codegen'd pass per document, no UDF and no " +
      "feature matrix. The weight table is a deterministic closed form standing in " +
      "for trained weights (a real model broadcasts its table into the same plan); " +
      "the oracle replays hash, bucketing, weights and fold end to end.") { (s, d) =>
    docsFanout(s, d).select(col("doc_id"),
        TextAnalysis.hashedLinearScore(col("text")).as("score"),
        size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("keep", col("score") > 0)
      .orderBy("doc_id")
  }

  val knnClassifyQ: QueryDef = QueryDef.sqlBacked(
    "q_knn_classify",
    """WITH e AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      |q AS (SELECT * FROM e WHERE vec_id % 25 = 0),
      |r AS (SELECT * FROM e WHERE vec_id % 25 <> 0),
      |s AS (SELECT q.vec_id AS qid, r.vec_id AS rid, r.label,
      |  round(list_dot_product(q.emb, r.emb) /
      |    (sqrt(list_dot_product(q.emb, q.emb)) * sqrt(list_dot_product(r.emb, r.emb))), 4) AS cos
      |  FROM q, r),
      |t AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, rid) AS rn FROM s),
      |v AS (SELECT qid, label, CAST(COUNT(*) AS BIGINT) AS c FROM t WHERE rn <= 5 GROUP BY 1, 2),
      |p AS (SELECT qid, label, c,
      |  row_number() OVER (PARTITION BY qid ORDER BY c DESC, label) AS vr FROM v)
      |SELECT CAST(qid AS BIGINT) AS vec_id, CAST(label AS INTEGER) AS predicted,
      |  c AS votes
      |FROM p WHERE vr = 1 ORDER BY vec_id""".stripMargin,
    doc = "k-NN label prediction over the embedding corpus (the classify-by-neighbors " +
      "primitive behind dataset auto-labeling and weak supervision): every 25th vector " +
      "plays the unlabeled probe, votes its 5 nearest labeled neighbors (rounded " +
      "cosine, deterministic ties), majority label wins. The probe side broadcasts " +
      "against the corpus — kernel-dot scoring, per-query window rank, embeddings " +
      "never shuffle; the ANN indexes feed the same vote at probe-batch scale. Oracle " +
      "replays scoring, ranking and voting end to end.") { (s, d) =>
    Similarity.knnClassify(t(s, d, "embeddings"), "vec_id", "embedding", "label",
        isQuery = col("vec_id") % 25 === 0, k = 5)
      .orderBy("vec_id")
  }

  val audioFeaturesQ: QueryDef = QueryDef.sqlBacked(
    "q_audio_features",
    """SELECT CAST(doc_id AS BIGINT) AS media_id,
      |  CAST(256 AS BIGINT) AS n_samples, 8000 AS sample_rate, 1 AS channels,
      |  CAST(SUM(s) AS BIGINT) AS sum_amp,
      |  CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
      |  CAST(MAX(ABS(s)) AS INTEGER) AS max_abs
      |FROM (SELECT doc_id, ((doc_id * 31 + 17 * i.i) % 65536) - 32768 AS s
      |      FROM documents, generate_series(0, 255) AS i(i)) t
      |GROUP BY doc_id ORDER BY media_id""".stripMargin,
    doc = "REAL audio decode over binary payloads (JDK javax.sound, no external jars): " +
      "each document id becomes a deterministic 256-sample 16-bit PCM WAV (encoded via " +
      "AudioSystem's own writer in the same narrow map stage), then " +
      "Multimodal.audioFeatures DECODES the container back to frames and reports " +
      "sample count / rate / channels + exact integer amplitude sums (the loudness/" +
      "clipping signals an audio-corpus filter keys on). The oracle replays the " +
      "closed-form sample rule with generate_series, so a hash match proves the full " +
      "encode->WAV->decode->stats round trip. Payloads never shuffle; only (id, stats) " +
      "leave the stage. Video decode remains the honest stub (no codec in the JDK).") { (s, d) =>
    val ids = t(s, d, "documents").select(col("doc_id").cast("long").as("media_id"))
    val rdd = ids.rdd.mapPartitions(_.map { r =>
      val id = r.getLong(0)
      org.apache.spark.sql.Row(id, Multimodal.syntheticWav(id, 256), "audio")
    })
    Multimodal.audioFeatures(s.createDataFrame(rdd, Multimodal.mediaSchema))
      .orderBy("media_id")
  }

  val repetitionSignals: QueryDef = QueryDef.sqlBacked(
    "q_repetition",
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |wc AS (SELECT doc_id, tok, COUNT(*) AS c FROM w GROUP BY 1, 2),
      |wa AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
      |       CAST(COUNT(*) AS BIGINT) AS n_distinct, MAX(c) AS top_word FROM wc GROUP BY 1),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' '))),
      |       i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])) AS gram
      |      FROM documents),
      |gc AS (SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2),
      |ga AS (SELECT doc_id, MAX(c) AS top_gram, CAST(SUM(c) AS BIGINT) AS n_grams FROM gc GROUP BY 1)
      |SELECT wa.doc_id, n_words,
      |  round(CAST(n_distinct AS DOUBLE) / n_words, 4) AS distinct_frac,
      |  round(CAST(top_word AS DOUBLE) / n_words, 4) AS top_word_frac,
      |  round(CAST(coalesce(top_gram, 0) AS DOUBLE) / greatest(coalesce(n_grams, 0), 1), 4) AS top_bigram_frac
      |FROM wa LEFT JOIN ga ON wa.doc_id = ga.doc_id
      |ORDER BY wa.doc_id""".stripMargin,
    doc = "Gopher-style repetition quality signals: distinct-word ratio, top-word fraction, " +
      "top-bigram fraction (Rae et al. 2021 repetition filters, adapted to word granularity). " +
      "ONE corpus pass: unigrams and bigrams explode from the same tokenized row into a " +
      "single (doc_id, token) frame (disjoint key spaces — a bigram always contains the " +
      "' ' joiner, a unigram never does), so one shuffle + one conditional aggregation " +
      "replace two full explode+agg passes over the corpus.") { (s, d) =>
    val words = docsFanout(s, d).select(col("doc_id"), split(col("text"), " ").as("words"))
    // bigrams WITH multiplicity (the shingle kernel dedups, so HOF here)
    val toks = words.select(col("doc_id"),
      explode(concat(col("words"),
        when(size(col("words")) < 2, array().cast("array<string>"))
          .otherwise(expr("transform(sequence(1, size(words) - 1), " +
            "i -> concat(element_at(words, i), ' ', element_at(words, i + 1)))")))).as("tok"))
    val counted = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .withColumn("is_gram", col("tok").contains(" "))
    val fused = counted.groupBy("doc_id").agg(
      sum(when(!col("is_gram"), col("c"))).cast("long").as("n_words"),
      count(when(!col("is_gram"), lit(1))).cast("long").as("n_distinct"),
      max(when(!col("is_gram"), col("c"))).as("top_word"),
      max(when(col("is_gram"), col("c"))).as("top_gram"),
      sum(when(col("is_gram"), col("c"))).cast("long").as("n_grams"))
    fused
      .select(col("doc_id"), col("n_words"),
        round(col("n_distinct").cast("double") / col("n_words"), 4).as("distinct_frac"),
        round(col("top_word").cast("double") / col("n_words"), 4).as("top_word_frac"),
        round(coalesce(col("top_gram"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 4).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  val decontaminate: QueryDef = QueryDef.sqlBacked(
    "q_decontaminate",
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(words) - 1, 1)),
      |       i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS gram FROM d),
      |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 = 7),
      |train AS (SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 100 <> 7)
      |SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
      |FROM train t JOIN bench b USING (gram)
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin,
    doc = "Benchmark decontamination (GPT-3/Pile style): flag training documents sharing " +
      "any word n-gram with the held-out eval set (doc_id%100==7 stands in for the " +
      "benchmark; n=3 at demo grain, production uses 8-13 with the identical plan). " +
      "The eval gram set is MBs, so the planner broadcasts it and only " +
      "(doc_id, gram-hash) pairs shuffle.") { (s, d) =>
    val words = docsFanout(s, d).select(col("doc_id"), split(col("text"), " ").as("words"))
    val grams = words.select(col("doc_id"),
      explode(when(size(col("words")) < 3, array().cast("array<string>"))
        .otherwise(expr("transform(sequence(1, size(words) - 2), " +
          "i -> concat(element_at(words, i), ' ', element_at(words, i + 1), ' ', " +
          "element_at(words, i + 2)))"))).as("gram"))
    val bench = grams.filter(col("doc_id") % 100 === 7).select("gram").distinct()
    val train = grams.filter(col("doc_id") % 100 =!= 7).select("doc_id", "gram").distinct()
    train.join(bench, "gram")
      .groupBy("doc_id").agg(count(lit(1)).cast("long").as("n_shared_grams"))
      .orderBy("doc_id")
  }

  val prefixDedup: QueryDef = QueryDef.sqlBacked(
    "q_prefix_dedup",
    """SELECT md5(substring(text, 1, 64)) AS prefix_key,
      |  min(doc_id) AS keeper_doc_id, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY keeper_doc_id""".stripMargin,
    doc = "Prefix-hash dedup (boilerplate-prefix near-dup family): group on md5 of the " +
      "64-char prefix, keep the smallest doc_id. At scale only 16-byte keys shuffle, " +
      "never document text.") { (s, d) =>
    docs(s, d)
      .groupBy(md5(substring(col("text"), 1, 64)).as("prefix_key"))
      .agg(min("doc_id").as("keeper_doc_id"), count(lit(1)).cast("long").as("n_docs"))
      .orderBy("keeper_doc_id")
  }

  val seqPack: QueryDef = QueryDef.sqlBacked(
    "q_seq_pack",
    """WITH RECURSIVE d AS (
      |  SELECT CAST(doc_id % 8 AS INTEGER) AS shard, doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS toks,
      |    row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS rn
      |  FROM documents),
      |pack AS (
      |  SELECT shard, doc_id, toks, rn, CAST(0 AS BIGINT) AS seq, toks AS fill
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.shard, d.doc_id, d.toks, d.rn,
      |    CASE WHEN p.fill > 0 AND p.fill + d.toks > 2048 THEN p.seq + 1 ELSE p.seq END AS seq,
      |    CASE WHEN p.fill > 0 AND p.fill + d.toks > 2048 THEN d.toks ELSE p.fill + d.toks END AS fill
      |  FROM pack p JOIN d ON d.shard = p.shard AND d.rn = p.rn + 1)
      |SELECT shard, seq, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(toks) AS BIGINT) AS toks, MIN(doc_id) AS first_doc
      |FROM pack GROUP BY shard, seq ORDER BY shard, seq""".stripMargin,
    doc = "Training-sequence packing: greedy first-fit of documents into 2048-token " +
      "sequences, 8 deterministic shards (id-derived here so the DuckDB oracle can " +
      "replay the packing via a recursive CTE; the operator defaults to xxhash64 " +
      "sharding for structured id spaces — never rand()); document atomicity law — " +
      "an oversized doc gets its own sequence. Sequential per shard inside " +
      "mapPartitions, one (doc_id, token_count) shuffle, no text moves. Invariants " +
      "(budget, atomicity, order, partitioning-invariance) also spec-asserted in " +
      "SeqPackingSpec.") { (s, d) =>
    val docs = docsFanout(s, d).select(col("doc_id"),
      size(TextAnalysis.bpeTokens(col("text"))).as("toks"))
    val packed = SeqPacking.pack(docs, "doc_id", "toks", budget = 2048, shards = 8,
      shardExpr = Some(pmod(col("doc_id"), lit(8))))
    SeqPacking.sequenceFill(packed).orderBy("shard", "seq")
  }

  val paragraphDedup: QueryDef = QueryDef.sqlBacked(
    "q_paragraph_dedup",
    s"""WITH toks AS (SELECT doc_id, $wsSplitSql AS w FROM documents),
       |starts AS (
       |  SELECT doc_id, w, unnest(generate_series(0, (len(w) - 1) // 6)) AS i FROM toks),
       |chunks AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |    array_to_string(w[i * 6 + 1 : least(i * 6 + 6, len(w))], ' ') AS chunk
       |  FROM starts WHERE i * 6 < len(w)),
       |freq AS (
       |  SELECT chunk FROM chunks GROUP BY chunk HAVING count(DISTINCT doc_id) >= 3),
       |marked AS (
       |  SELECT c.doc_id, c.chunk_idx, c.chunk, f.chunk IS NOT NULL AS dropped
       |  FROM chunks c LEFT JOIN freq f ON c.chunk = f.chunk)
       |SELECT doc_id,
       |  CAST(count(*) AS INTEGER) AS n_chunks,
       |  CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS INTEGER) AS n_dropped,
       |  string_agg(CASE WHEN NOT dropped THEN chunk END, ' ' ORDER BY chunk_idx) AS clean_text
       |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    doc = "Corpus-wide PARAGRAPH DEDUP (CCNet/Dolma boilerplate removal): 6-word windows " +
      "stand in for paragraphs; any chunk appearing in >= 3 distinct documents is " +
      "boilerplate and is cut from every document, which is then reassembled in chunk " +
      "order. 100 TB shape: the frequency pass shuffles (8-byte chunk hash, doc_id) " +
      "pairs only, the boilerplate set (small by construction — each member occurs >= 3 " +
      "times) broadcasts back as bare hashes, and the rebuild sorts each doc's own " +
      "chunks — document text never crosses the wire.") { (s, d) =>
    CorpusOps.paragraphDedup(docsFanout(s, d), "doc_id", "text",
        width = 6, minDocs = 3)
      .orderBy("doc_id")
  }

  val incrementalDedup: QueryDef = QueryDef.sqlBacked(
    "q_incremental_dedup",
    """WITH corpus AS (SELECT text FROM documents WHERE doc_id % 3 <> 0),
      |inc AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents
      |  WHERE doc_id % 3 <> 0 AND doc_id % 50 = 0)
      |SELECT doc_id, md5(text) AS content_key FROM inc
      |WHERE text NOT IN (SELECT text FROM corpus)
      |ORDER BY doc_id""".stripMargin,
    doc = "INCREMENTAL-ingest dedup: a new crawl batch (every-3rd doc + injected copies " +
      "of corpus docs) is admitted only where its content does not already exist in the " +
      "corpus. Two-tier: a broadcast Bloom filter over corpus xxhash64 content hashes " +
      "admits the novel majority with ZERO shuffle; only sketch-positive candidates pay " +
      "the exact anti-join on the 16-byte key, so Bloom false positives cost a join row, " +
      "never a wrong answer — the oracle checks the exact result. The membership gate is " +
      "Spark's own codegen'd BloomFilterMightContain, not a UDF.") { (s, d) =>
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val corpus = base.filter(col("doc_id") % 3 =!= 0)
    val incoming = base.filter(col("doc_id") % 3 === 0).unionByName(
      corpus.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
    CorpusOps.incrementalDedup(corpus, incoming, "text",
        expectedItems = 1L << 18, fpp = 0.03)
      .select(col("doc_id"), md5(col("text")).as("content_key"))
      .orderBy("doc_id")
  }

  val temperatureMix: QueryDef = QueryDef.sqlBacked(
    "q_temperature_mix",
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |w AS (SELECT lang, n,
      |  CAST(round(sqrt(CAST(n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS wt FROM c),
      |t AS (SELECT sum(n) AS total, sum(wt) AS sumw FROM w),
      |r AS (SELECT lang, n,
      |  CAST(least(10000.0, floor(10000.0
      |    * (0.5 * CAST(total AS DOUBLE) * CAST(wt AS DOUBLE) / CAST(sumw AS DOUBLE))
      |    / CAST(n AS DOUBLE))) AS INTEGER) AS thr
      |  FROM w, t)
      |SELECT d.lang, CAST(r.n AS BIGINT) AS n_docs, r.thr AS thr,
      |  CAST(sum(CASE WHEN d.doc_id % 10000 < r.thr THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents d JOIN r ON d.lang = r.lang
      |GROUP BY d.lang, r.n, r.thr ORDER BY d.lang""".stripMargin,
    doc = "TEMPERATURE mixture resampling (alpha = 0.5): per-language sampling weight " +
      "proportional to sqrt(count) — the multilingual rebalancing rule that up-weights " +
      "low-resource slices — applied by a deterministic id-derived coin against a " +
      "floor'd per-10000 threshold. Weights round to 6 decimals and accumulate as exact " +
      "DECIMAL so the threshold is bit-identical in any engine; the rate table has " +
      "one row per language.") { (s, d) =>
    CorpusOps.temperatureMix(docs(s, d), "lang", "doc_id", targetFrac = 0.5)
      .orderBy("lang")
  }

  val substringDedup: QueryDef = QueryDef.sqlBacked(
    "q_substring_dedup",
    """WITH tok AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
      |w AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |        md5(array_to_string(list_slice(ts, i, i+19), ' ')) AS h
      |      FROM tok, UNNEST(range(1, len(ts)-18)) AS t(i) WHERE len(ts) >= 20),
      |nw AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows FROM w GROUP BY 1),
      |c AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n, min(doc_id*1000000+pos) AS ck
      |      FROM w GROUP BY 1),
      |d AS (SELECT w.doc_id, w.pos FROM w JOIN c ON w.h = c.h
      |      WHERE c.n >= 2 AND w.doc_id*1000000+w.pos > c.ck),
      |sp AS (SELECT doc_id, pos AS s, pos+19 AS e FROM d),
      |fl AS (SELECT doc_id, s, e,
      |        CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |          OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |        THEN 1 ELSE 0 END AS f FROM sp),
      |g AS (SELECT doc_id, s, e, SUM(f) OVER (PARTITION BY doc_id ORDER BY s, e
      |        ROWS UNBOUNDED PRECEDING) AS grp FROM fl),
      |isl AS (SELECT doc_id, grp, min(s) AS st, max(e) AS en,
      |        CAST(COUNT(*) AS BIGINT) AS nsp FROM g GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(SUM(nsp) AS BIGINT) AS n_dup_spans,
      |        CAST(SUM(en-st+1) AS BIGINT) AS dup_token_coverage FROM isl GROUP BY 1)
      |SELECT nw.doc_id, nw.n_windows, agg.n_dup_spans, agg.dup_token_coverage
      |FROM nw JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,
    doc = "SUBSTRING-level dedup (Lee et al. ACL'22): every 20-token window whose text recurs " +
      "corpus-wide is a duplicate span; one canonical occurrence (global min (doc,pos)) " +
      "survives, the rest are marked and their per-doc union coverage measured by " +
      "gaps-and-islands. Windowing is a pure map stage — only (16B hash, doc, pos) triples " +
      "shuffle, never text; marking is an aggregate + co-partitioned join on the hash key " +
      "(llm/SubstringDedup; the cut itself is spec-gated — token-count conservation law).") {
    (s, d) =>
      val w = SubstringDedup.windows(docsFanout(s, d), 20)
      val nw = w.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
      val cov = SubstringDedup.dupCoverage(SubstringDedup.duplicateSpans(w), 20)
      nw.join(cov, "doc_id")
        .select("doc_id", "n_windows", "n_dup_spans", "dup_token_coverage")
        .orderBy("doc_id")
  }

  val bm25: QueryDef = QueryDef.sqlBacked(
    "q_bm25",
    """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |            FROM documents),
      |len AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS total FROM len),
      |tf AS (SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok
      |       WHERE w IN ('data', 'join', 'spark') GROUP BY 1, 2),
      |df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1)
      |SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |  round(ln(1 + ((SELECT n FROM n) - df.df + 0.5) / (df.df + 0.5))
      |    * (tf.tf * 2.2) / (tf.tf + 1.2 * (0.25 + 0.75 * len.dl
      |        / (CAST((SELECT total FROM n) AS DOUBLE) / (SELECT n FROM n)))), 6) AS bm25
      |FROM tf JOIN len USING (doc_id) JOIN df USING (term)
      |ORDER BY doc_id, term""".stripMargin,
    doc = "BM25 relevance per (doc, query term), k1=1.2 b=0.75: corpus stats (N, avgdl) derive " +
      "from EXACT integer aggregates so the only floats are per-row (no cross-row FP sums — " +
      "the determinism law); df table and the 1-row stats frame join into the probe. " +
      "One tokenize pass feeds lengths and term frequencies.") { (s, d) =>
    val terms = Seq("data", "join", "spark")
    val tok = docsFanout(s, d)
      .select(col("doc_id"), explode(TextAnalysis.wsTokens(trim(lower(col("text"))))).as("w"))
    val len = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = len.agg(count(lit(1)).as("__n"), sum("dl").as("__total"))
    val tf = tok.filter(col("w").isin(terms: _*))
      .groupBy(col("doc_id"), col("w").as("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("__total").cast("double") / col("__n")
    tf.join(len, "doc_id")
      .join(dfreq, "term")
      .crossJoin(stats)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        round(
          log(lit(1) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf") * 2.2) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / avgdl)),
          6).as("bm25"))
      .orderBy("doc_id", "term")
  }

  val stratifiedSample: QueryDef = QueryDef.sqlBacked(
    "q_stratified_sample",
    """SELECT source, doc_id, rn FROM (
      |  SELECT source, doc_id,
      |    CAST(row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn
      |  FROM documents) t
      |WHERE rn <= 10 ORDER BY source, rn""".stripMargin,
    doc = "Stratified fixed-k sample (10 docs/source): hash-rank selection — order each stratum " +
      "by md5(id) and keep the k smallest — is the DETERMINISTIC distributed equivalent of " +
      "reservoir sampling (uniform over the stratum, replayable, no rand()); one shuffle on " +
      "the stratum key, and the bounded k-buffer UDAF (functions/TopKAgg) is the rung that " +
      "replaces the per-stratum sort when strata get huge.") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val rn = row_number().over(Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id")))
    docs(s, d)
      .select(col("source"), col("doc_id"), rn.as("rn"))
      .filter(col("rn") <= 10)
      .orderBy("source", "rn")
  }

  val heavyHitters: QueryDef = QueryDef.sqlBacked(
    "q_heavy_hitters",
    """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |            FROM documents),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok)
      |SELECT w AS term, CAST(COUNT(*) AS BIGINT) AS cnt
      |FROM tok GROUP BY 1 HAVING COUNT(*) * 200 > (SELECT total FROM n)
      |ORDER BY term""".stripMargin,
    doc = "Heavy hitters (tokens with freq > n/200) by SKETCH-PRUNE-CONFIRM: a Misra-Gries " +
      "Aggregator (capacity 400 ≥ 200 ⇒ every true heavy hitter is guaranteed present) " +
      "finds candidates in ONE pass with ≤400 counters per map partition — the exact " +
      "groupBy the oracle runs shuffles one row per distinct token, mostly singletons, " +
      "at corpus scale — then an exact count pass over only the candidates confirms, so " +
      "the answer is exact regardless of sketch error (functions/MisraGries).") { (s, d) =>
    val tok = docsFanout(s, d)
      .select(explode(TextAnalysis.wsTokens(trim(lower(col("text"))))).as("w"))
    val mg = udaf(new graft.functions.MisraGries(400))
    val head = tok.agg(count(lit(1)).as("total"), mg(col("w")).as("sketch")).head
    val total = head.getLong(0)
    val cands = head.getMap[String, Long](1).keys.toSeq.sorted
    tok.filter(col("w").isin(cands: _*))
      .groupBy(col("w").as("term")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 200 > total)
      .orderBy("term")
  }

  val invertedIndex: QueryDef = QueryDef.sqlBacked(
    "q_inverted_index",
    """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |            FROM documents),
      |d AS (SELECT w AS term, doc_id FROM tok GROUP BY 1, 2)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
      |FROM d GROUP BY term ORDER BY term""".stripMargin,
    doc = "Inverted index build: term → sorted doc-id posting list. One tokenize pass, " +
      "distinct (term, doc) then list-aggregate on the term key — posting lists stay " +
      "sorted for merge-joins/delta-encoding downstream; the term key shuffles 8-byte " +
      "ids, never text.") { (s, d) =>
    val postings = docsFanout(s, d)
      .select(col("doc_id"),
        explode(TextAnalysis.wsTokens(trim(lower(col("text"))))).as("term"))
      .distinct()
    postings.groupBy("term")
      .agg(count(lit(1)).as("df"),
        concat_ws(",",
          sort_array(collect_list(col("doc_id"))).cast("array<string>")).as("postings"))
      .orderBy("term")
  }

  /** DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
    * score every raw document by how much its token distribution looks
    * like a TARGET corpus (here lang='de' docs), using hashed-n-gram
    * surrogate importance — this implementation uses the additive
    * unigram form score = Σ target_freq / Σ raw_freq in EXACT integer
    * ppm, so both engines agree to the bit. One tokenize pass: the
    * (doc, word, cnt) tf aggregate supplies the
    * target vocabulary, the raw vocabulary AND the per-doc sums; the
    * vocab tables are aggregate-sized (the doc side is the fact).
    * Selection = top-k by score, planned as
    * TakeOrderedAndProject.
    */
  val dsirScore: QueryDef = QueryDef.sqlBacked(
    "q_dsir_score",
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
      |  FROM documents),
      |tf AS (SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
      |       FROM tok GROUP BY 1, 2, 3),
      |tcnt AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS tc FROM tf
      |         WHERE lang = 'de' GROUP BY w),
      |rcnt AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS rc FROM tf GROUP BY w),
      |ds AS (
      |  SELECT tf.doc_id, CAST(SUM(cnt) AS BIGINT) AS n_words,
      |    CAST(SUM(cnt * COALESCE(tc, 0)) AS BIGINT) AS sum_t,
      |    CAST(SUM(cnt * rc) AS BIGINT) AS sum_r
      |  FROM tf LEFT JOIN tcnt ON tf.w = tcnt.w
      |          JOIN rcnt ON tf.w = rcnt.w
      |  GROUP BY tf.doc_id)
      |SELECT doc_id, n_words, CAST(sum_t * 1000000 // sum_r AS BIGINT) AS score_ppm
      |FROM ds ORDER BY score_ppm DESC, doc_id LIMIT 50""".stripMargin,
    doc = "DSIR-style importance scoring vs a target corpus (lang='de'): per-doc " +
      "Σ target-freq / Σ raw-freq in exact integer ppm from ONE tokenize " +
      "pass; vocab tables joined by size; top-k selection as TakeOrderedAndProject.") {
    (s, d) =>
      val tok = docsFanout(s, d).select(col("doc_id"), col("lang"),
        explode(graft.llm.TextAnalysis.wsTokens(lower(col("text")))).as("w"))
      val tf = tok.groupBy("doc_id", "lang", "w")
        .agg(count(lit(1)).as("cnt"))
      val tcnt = tf.filter(col("lang") === "de")
        .groupBy("w").agg(sum("cnt").as("tc"))
      val rcnt = tf.groupBy("w").agg(sum("cnt").as("rc"))
      val ds = tf
        .join(tcnt, Seq("w"), "left")
        .join(rcnt, Seq("w"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_words"),
          sum(col("cnt") * coalesce(col("tc"), lit(0L))).as("sum_t"),
          sum(col("cnt") * col("rc")).as("sum_r"))
      ds.select(col("doc_id"), col("n_words"),
          expr("sum_t * 1000000L div sum_r").as("score_ppm"))
        .orderBy(col("score_ppm").desc, col("doc_id"))
        .limit(50)
  }

  val all: Seq[QueryDef] = Seq(dsirScore,
    textFingerprint, dedupContentHash, tokenStats, textQuality, qualityFilter, lmCoverage, langIdQ,
    wordFreq, tfidf, textClean, piiRedact, datasetMix, shardPlan,
    repetitionSignals, prefixDedup, decontaminate, seqPack, docChunks,
    paragraphDedup, incrementalDedup, temperatureMix,
    ngramJaccard, ppjoin, containmentJoin, minhashLsh, dupClusters, winnow, simhash,
    cosineTopK, annLsh, annIvf, annIvfPq, semDedup, embedDecontaminate, embedNearDup,
    embedQuantize, pqQuantize,
    multimodalMeta, multimodalFeatures, imageFeaturesQ, audioFeaturesQ, imagePhashQ,
    urlDedupQ, hashClassifierQ, knnClassifyQ, streamNearDup,
    substringDedup, bm25, stratifiedSample, heavyHitters, invertedIndex)
}
