package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-rehearsal staging (VERDICT r14 "Next round" item 1): replicate
  * the sf0.1 testdata K× with RE-KEYING so the result scales the way a
  * genuinely bigger dataset does, then sweep the catalog's expensive
  * cells across tiers and fit per-cell wall-time exponents (SCALE.md).
  *
  * Re-keying rules (replica i of K, i = 0 keeps the original rows):
  *  - every table-key column offsets by i·(max+1) of its base table —
  *    orderkey/custkey/partkey/suppkey offsets agree across fact and
  *    dim tables, so join fan-outs and key cardinalities grow K×
  *    instead of collapsing onto duplicates;
  *  - dimension VALUE domains that are bounded in reality (dates,
  *    prices, priorities, nation/region, props.k) stay as-is: group
  *    counts stay fixed while groups grow — the honest shape for
  *    time-grain/dictionary-grain aggregates;
  *  - text gets a per-replica token suffix (non-empty tokens only), so
  *    the dedup/shingle/vocabulary universes grow K× and cross-replica
  *    documents are NOT near-duplicates (a real 10× corpus is not ten
  *    copies of itself); supplier/part names get the same suffix so
  *    edit-distance neighborhoods stay per-replica, except a part name's
  *    first token (its colour, a bounded domain that q_bloom_join's
  *    `p_name LIKE 'red %'` dim filters on, so that dim grows K×);
  *  - embeddings perturb one coordinate by i·2⁻¹⁰ so LSH/ANN bucket
  *    structures grow K× rather than stacking identical vectors.
  *
  * Output tables are written repartition(32) — many row groups, the
  * layout any real table of this size has (the shipped sf0.1 files are
  * ONE row group each, which caps scan parallelism at 1 task and would
  * pollute the exponent with a serial-scan artifact).
  *
  * runMain graft.tools.ScaleStage <srcSfDir> <outDir> <K>
  */
object ScaleStage {
  def main(args: Array[String]): Unit = {
    val Array(src, out, kStr) = args.take(3)
    val k = kStr.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Sessions.local(cpus, cpus)
    stage(spark, src, out, k)
    spark.stop()
  }

  def stage(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    def t(n: String): DataFrame = graft.core.Tables(spark, src, n)
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    val oMax = maxOf(t("orders"), "o_orderkey")
    val cMax = maxOf(t("customer"), "c_custkey")
    val pMax = maxOf(t("part"), "p_partkey")
    val sMax = maxOf(t("supplier"), "s_suppkey")
    val eMax = maxOf(t("events"), "event_id")
    val uMax = maxOf(t("events"), "user_id")
    val dMax = maxOf(t("documents"), "doc_id")
    val vMax = maxOf(t("embeddings"), "vec_id")

    def off(c: String, base: Long, i: Int): Column = col(c) + lit(base * i)
    // per-replica suffix on tokens `from` onwards; empty tokens
    // (consecutive spaces) kept
    def suffixText(c: String, i: Int, from: Int = 0): Column =
      if (i == 0) col(c)
      else array_join(transform(split(col(c), " "), (tk, j) =>
        when(tk === "" || j < from, tk).otherwise(concat(tk, lit(s"_$i")))), " ")

    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = t(name)
      val un = (0 until k).map(i => f(base, i)).reduce(_ unionAll _)
      un.repartition(32).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalestage] $name x$k -> $out/$name.parquet")
    }

    replicate("region")((df, i) => if (i == 0) df else df.limit(0))
    replicate("nation")((df, i) => if (i == 0) df else df.limit(0))
    replicate("customer")((df, i) =>
      df.withColumn("c_custkey", off("c_custkey", cMax, i)))
    replicate("supplier")((df, i) =>
      df.withColumn("s_suppkey", off("s_suppkey", sMax, i))
        .withColumn("s_name",
          if (i == 0) col("s_name") else concat(col("s_name"), lit(s"_$i"))))
    replicate("part")((df, i) =>
      df.withColumn("p_partkey", off("p_partkey", pMax, i))
        .withColumn("p_name", suffixText("p_name", i, from = 1)))
    replicate("orders")((df, i) =>
      df.withColumn("o_orderkey", off("o_orderkey", oMax, i))
        .withColumn("o_custkey", off("o_custkey", cMax, i)))
    replicate("lineitem")((df, i) =>
      df.withColumn("l_orderkey", off("l_orderkey", oMax, i))
        .withColumn("l_partkey", off("l_partkey", pMax, i))
        .withColumn("l_suppkey", off("l_suppkey", sMax, i)))
    replicate("events")((df, i) =>
      df.withColumn("event_id", off("event_id", eMax, i))
        .withColumn("user_id", off("user_id", uMax, i)))
    replicate("documents")((df, i) =>
      df.withColumn("doc_id", off("doc_id", dMax, i))
        .withColumn("text", suffixText("text", i)))
    replicate("embeddings")((df, i) =>
      df.withColumn("vec_id", off("vec_id", vMax, i))
        .withColumn("embedding",
          if (i == 0) col("embedding")
          else concat(
            array(element_at(col("embedding"), 1) + lit(i.toFloat / 1024f)),
            slice(col("embedding"), 2, 10000))))
  }
}
