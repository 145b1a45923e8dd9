package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.core.CacheScope

/** Exact k-th-smallest (order statistic) per group WITHOUT sorting the
  * group — the scale-true replacement for
  * `row_number() OVER (PARTITION BY g ORDER BY v)` rank selection,
  * which sorts every row of every group in one task per group (three
  * groups at 100 TB = three tasks sorting 33 TB each).
  *
  * The value of the k-th element under ANY tie-break is determined by
  * value-level counts alone: it is the smallest v with count(≤v) ≥ k.
  * So selection needs no total order, only value counts:
  *
  *  1. one aggregate for group sizes (k = rank target per group) —
  *     shareable across chained selections over the same rows via
  *     `sizesOf` (e.g. MAD's two medians, multi-column profiles);
  *  2. one deterministic hash-sample pass (≈`sampleTarget` rows per
  *     group, rate adapted per group), collected into ONE sorted
  *     executor-side array per group — never a driver collect, and the
  *     array is ≈`sampleTarget` elements by the same bound the margin
  *     math assumes (a few hundred KB at the default), so the bracket
  *     needs no window shuffle;
  *  3. bracket [a, b] around the target rank from sample quantiles,
  *     then ONE counting pass per group:
  *     count(v < a), count(≤ a), count(≤ b);
  *     if the sample nailed the value (count(<a) < k ≤ count(≤a)) the
  *     answer is a, extraction skipped — the common case for discrete
  *     or repeated values (AQE then collapses the extract join against
  *     the empty miss set, so no extra scan runs);
  *  4. otherwise rank only the rows INSIDE the bracket (w.h.p. a few
  *     percent of the group; widened to the whole group only when the
  *     bracket is provably wrong, never silently).
  *
  * Every pass is a full-parallel aggregate — no single-task sort at
  * any group size. Deterministic end-to-end (hash sample, exact
  * counts), so results are partition-count invariant and
  * oracle-checkable against the window formulation.
  */
object DistributedSelect {

  /** Group sizes (groupCols..., __n) for `df`'s non-null `valueCol`
    * rows — precompute once and pass to several `kthByGroup`/
    * `lowerMedianByGroup` calls over the same rows (chained medians,
    * multi-column stats) to share the sizing pass. */
  def sizesOf(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.filter(col(valueCol).isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))

  /** Per-group LOWER MEDIAN (k = (n+1) div 2) of `valueCol`.
    * Returns one row per group: (groupCols..., out). */
  def lowerMedianByGroup(df: DataFrame, groupCols: Seq[String],
      valueCol: String, out: String = "median",
      sampleTarget: Int = 4096, sizes: Option[DataFrame] = None): DataFrame =
    kthByGroup(df, groupCols, valueCol, expr("(cast(__n as bigint) + 1) div 2"),
      out, sampleTarget, sizes)

  /** Per-group k-th smallest of `valueCol`, where `kExpr` may reference
    * `__n` (the group size) — e.g. `(__n + 1) div 2` for the lower
    * median, `ceil(__n * 0.99)` for P99. Pass `sizes` (from `sizesOf`)
    * to reuse a sizing pass shared with other selections. */
  def kthByGroup(df: DataFrame, groupCols: Seq[String], valueCol: String,
      kExpr: Column, out: String,
      sampleTarget: Int = 4096, sizes: Option[DataFrame] = None): DataFrame = {
    val g = groupCols.map(col)
    val base = CacheScope.persisted(df.select(g :+ col(valueCol).as("__v"): _*)
      .filter(col("__v").isNotNull))

    // pass 1: group sizes → rank targets (shared when the caller provides them)
    val sized = sizes.getOrElse(sizesOf(base, groupCols, "__v"))
      .withColumn("__k", kExpr)

    // pass 2: deterministic hash sample, rate adapted per group so each
    // group lands ≈ sampleTarget rows regardless of size; the per-group
    // sample sorts in ONE executor-side array (no window shuffle)
    val brackets = bracketsFromSample(base, groupCols, sized, sampleTarget,
      Seq("__k")).select(g ++ Seq(col("__a0").as("__a"), col("__b0").as("__b")): _*)

    // pass 3: exact counts at the bracket endpoints. LEFT join: a group
    // whose sample came up empty (possible only under adversarial hash
    // alignment) gets null endpoints → the widened fallback below
    val counted = base.join(brackets, groupCols, "left")
      .groupBy(g: _*)
      .agg(
        sum(when(col("__v") < col("__a"), 1L).otherwise(0L)).as("__nlt_a"),
        sum(when(col("__v") <= col("__a"), 1L).otherwise(0L)).as("__nle_a"),
        sum(when(col("__v") <= col("__b"), 1L).otherwise(0L)).as("__nle_b"),
        min("__v").as("__min"), max("__v").as("__max"),
        first("__a").as("__a"), first("__b").as("__b"))
      .join(sized, groupCols)

    // direct hits: the k-th value IS an endpoint (ties make this common)
    val hitA = col("__nlt_a") < col("__k") && col("__k") <= col("__nle_a")
    val bracketOk = col("__nle_a") < col("__k") && col("__k") <= col("__nle_b")
    val resolved = CacheScope.persisted(counted.withColumn("__hit",
        when(hitA, col("__a")).otherwise(lit(null)))
      // effective bracket: verified (a, b]; provably-wrong samples widen
      // to the whole group — loud in the plan, never silently wrong
      .withColumn("__lo", when(bracketOk, col("__a")).otherwise(lit(null)))
      .withColumn("__hi", when(bracketOk, col("__b")).otherwise(col("__max")))
      .withColumn("__base", when(bracketOk, col("__nle_a")).otherwise(lit(0L))))

    val hits = resolved.filter(col("__hit").isNotNull)
      .select(g :+ col("__hit").as(out): _*)

    // pass 4: rank only inside the verified bracket (v in (lo, hi])
    val misses = resolved.filter(col("__hit").isNull)
      .select(g ++ Seq(col("__lo"), col("__hi"), col("__base"), col("__k")): _*)
    val inBracket = base.join(misses, groupCols)
      .filter((col("__lo").isNull || col("__v") > col("__lo")) &&
        col("__v") <= col("__hi"))
    val bw = Window.partitionBy(g: _*).orderBy(col("__v"))
    val extracted = inBracket
      .withColumn("__r", row_number().over(bw) + col("__base"))
      // row_number is an arbitrary tie order, but every tie shares __v,
      // so ANY row landing on rank k carries the k-th value
      .filter(col("__r") === col("__k"))
      .select(g :+ col("__v").as(out): _*)

    hits.unionByName(extracted)
  }

  /** One aggregation producing per-group bracket endpoints
    * (__a$i, __b$i) for each rank-target column `kCols(i)` in `sized`:
    * hash-sample the group at a rate adapted to land ≈sampleTarget
    * rows, sort the sample in one executor-side array, and read the
    * endpoints at the target's sample-rank neighborhood ± margin.
    * Null endpoints (empty sample) mean "widen to the whole group". */
  private def bracketsFromSample(base: DataFrame, groupCols: Seq[String],
      sized: DataFrame, sampleTarget: Int, kCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val vType = base.schema("__v").dataType
    val withRate = base.join(sized, groupCols)
      .withColumn("__f", greatest(lit(1L), (col("__n") / sampleTarget).cast("long")))
    val sample = withRate.filter(
      pmod(xxhash64((col("__v") +: g): _*), col("__f")) === 0)
    // The ticket hash keys on (value, group) — deterministic and
    // partition-independent, but every DUPLICATE of a kept value shares
    // the ticket, so a heavy-hitter column could pull a large fraction
    // of the group into one executor-side array. Aggregate the sample
    // to a per-(group, value) COUNT first: the collected array is
    // bounded by DISTINCT kept values (≈ sampleTarget) while the counts
    // still carry duplicate mass, so sample ranks stay rank-faithful.
    val histAggs = Seq(count(lit(1)).as("__c"), first(col("__n")).as("__nn")) ++
      kCols.zipWithIndex.map { case (k, i) => first(col(k)).as(s"__kk$i") }
    val hist = sample.groupBy(g :+ col("__v"): _*)
      .agg(histAggs.head, histAggs.tail: _*)
    val tailAggs = first(col("__nn")).as("__nn") +:
      kCols.indices.map(i => first(col(s"__kk$i")).as(s"__kk$i"))
    val agged = hist.groupBy(g: _*)
      .agg(sort_array(collect_list(
        struct(col("__v").as("v"), col("__c").as("c")))).as("__arr"), tailAggs: _*)
      .withColumn("__sn",
        aggregate(col("__arr"), lit(0L), (acc, x) => acc + x.getField("c")))
    val withEnds = kCols.indices.foldLeft(agged) { case (acc, i) =>
      val target = (col(s"__kk$i").cast("double") / col("__nn")) * col("__sn")
      val margin = greatest(lit(64.0), col("__sn") / 32)
      val lowRank = greatest(lit(1L), floor(target - margin).cast("long"))
      val highRank = least(col("__sn"), ceil(target + margin).cast("long"))
      // value at 1-based sample rank r = first v whose cumulative count
      // reaches r (empty sample → null endpoints → widened fallback)
      def pick(rank: Column): Column = aggregate(col("__arr"),
        struct(lit(0L).as("cum"), lit(null).cast(vType).as("ans")),
        (st, x) => {
          val cum2 = st.getField("cum") + x.getField("c")
          struct(cum2.as("cum"),
            when(st.getField("ans").isNull && cum2 >= rank, x.getField("v"))
              .otherwise(st.getField("ans")).as("ans"))
        },
        st => st.getField("ans"))
      acc
        .withColumn(s"__a$i", pick(lowRank))
        .withColumn(s"__b$i", pick(highRank))
    }
    withEnds.drop("__arr", "__sn", "__nn").drop(kCols.indices.map(i => s"__kk$i"): _*)
  }

  /** Several exact quantiles per group in TWO passes over the data —
    * the production path for the whole quantile family (the kExpr-based
    * `kthByGroup` above remains as the general-rank machinery and as an
    * independent cross-check in the specs).
    *
    * `qs` maps output column name → quantile fraction; semantics are
    * percentile_disc: the smallest v with count(≤v) ≥ ⌈q·n⌉.
    *
    * Pass 1 (one aggregation): exact group sizes FUSED with a
    * Greenwald–Khanna sketch (`percentile_approx`) evaluated at
    * q ± 4/accuracy per fraction — the bracket endpoints. GK's rank
    * error bound is DETERMINISTIC (±n/accuracy), so for groups with
    * n > accuracy/12 the bracket provably contains the target rank;
    * smaller groups take the whole group as their bracket.
    *
    * Pass 2 (one aggregation): group by (g, v-if-in-any-bracket) —
    * an exact VALUE HISTOGRAM of the bracket slice (≤ ~10·|qs|/accuracy
    * of each group's rows, ties collapsed) carrying per-endpoint strict
    * counts. Everything after runs on that tiny histogram: a running
    * sum reconstructs exact global ranks (count(≤v) = count(<lo) +
    * cum(v) − cum(<lo)), and each answer is the smallest histogram
    * value whose global rank reaches ⌈q·n⌉.
    *
    * The sketch endpoints may vary with partitioning (merge order), but
    * the ANSWER cannot: it is determined by exact counts alone, so
    * results stay partition-count invariant. A bracket miss (impossible
    * unless the GK bound is violated) raises loudly rather than
    * emitting a silent null.
    *
    * Returns one row per group: (groupCols..., q1, q2, ...). */
  def quantilesByGroup(df: DataFrame, groupCols: Seq[String], valueCol: String,
      qs: Seq[(String, Double)], accuracy: Int = 10000): DataFrame = {
    require(qs.nonEmpty && qs.forall { case (_, q) => q > 0 && q <= 1 })
    require(accuracy >= 100, "accuracy under 100 makes brackets wider than the data")
    val g = groupCols.map(col)
    val eps = 4.0 / accuracy
    val smallN = math.max(64L, (accuracy / 12).toLong)
    val base0 = df.select(g :+ col(valueCol).as("__v"): _*)
      .filter(col("__v").isNotNull)
      // double is a monotone proxy for bracketing/counting; exact values
      // only ever come from __v itself
      .withColumn("__vd", col("__v").cast("double"))
    // Both passes re-read this narrow projection, and pass 1's sketch
    // build is CPU-bound — if the source exposes fewer splits than the
    // cluster has cores (a single-row-group file; never true of real
    // 100 TB inputs, where splits >> cores and this gate stays cold),
    // spread it once; both passes read the one exchange.
    // Partitioning cannot change the answer: the sketch is only a
    // bracket, the exact counts decide (partition-count invariance law).
    val par = df.sparkSession.sparkContext.defaultParallelism
    val base =
      if (base0.rdd.getNumPartitions < par) base0.repartition(par) else base0

    // pass 1: sizes + sketch brackets in ONE aggregation
    val fracs: Seq[Double] = qs.flatMap { case (_, q) =>
      Seq(math.max(0.0, q - eps), math.min(1.0, q + eps)) }
    val p1 = base.groupBy(g: _*).agg(
      count(lit(1)).as("__n"),
      percentile_approx(col("__vd"), array(fracs.map(lit): _*),
        lit(accuracy)).as("__c"))
    val p1k = qs.zipWithIndex.foldLeft(p1) { case (acc, ((_, q), i)) =>
      acc
        .withColumn(s"__k$i", greatest(lit(1L), ceil(col("__n") * q).cast("long")))
        .withColumn(s"__lo$i", when(col("__n") <= smallN,
          lit(Double.NegativeInfinity)).otherwise(col("__c").getItem(2 * i)))
        .withColumn(s"__hi$i", when(col("__n") <= smallN,
          lit(Double.PositiveInfinity)).otherwise(col("__c").getItem(2 * i + 1)))
    }.drop("__c", "__n")

    // pass 2: slice value-histogram + strict below-bracket counts, exact
    val inSlice = qs.indices.map(i =>
      col("__vd") >= col(s"__lo$i") && col("__vd") <= col(s"__hi$i"))
      .reduce(_ || _)
    val p2 = base.join(p1k, groupCols)
      .groupBy(g :+ when(inSlice, col("__v")).as("__sv"): _*)
      .agg(count(lit(1)).as("__cnt"),
        qs.indices.map(i =>
          sum(when(col("__vd") < col(s"__lo$i"), 1L).otherwise(0L))
            .as(s"__plt$i")): _*)

    // finishing: ONE aggregation folds each group's histogram into its
    // answers. The per-group histogram is bounded by the same GK bound
    // the bracket math rests on (≤ ~10·|qs|·n/accuracy rows, ties
    // collapsed), so collecting it into one sorted array per group is
    // safe at any n — and it replaces the previous window+broadcast
    // finishing chain (2 windows, 2 joins, 1 extra groupBy ⇒ ~10 tiny
    // jobs of pure scheduling overhead per call) with a single shuffle.
    val vType = df.schema(valueCol).dataType
    val folded = p2.groupBy(g: _*).agg(
      sort_array(collect_list(when(col("__sv").isNotNull,
        struct(col("__sv").cast("double").as("d"), col("__sv").as("v"),
          col("__cnt").as("c"))))).as("__hist"),
      qs.indices.map(i => sum(col(s"__plt$i")).as(s"__nlt$i")): _*)
    val withAns = qs.zipWithIndex.foldLeft(folded.join(p1k, groupCols)) {
      case (acc, ((out, _), i)) =>
        // running fold over the ascending histogram: cum counts all
        // slice rows ≤ v; cumlt freezes at the last value below lo, so
        // global rank(v) = nlt + cum − cumlt exactly as the windowed
        // formulation computed it
        val init = struct(lit(0L).as("cum"), lit(0L).as("cumlt"),
          lit(null).cast(vType).as("ans"))
        acc.withColumn(out, aggregate(col("__hist"), init,
          (st, x) => {
            val cum = st.getField("cum") + x.getField("c")
            val below = x.getField("d") < col(s"__lo$i")
            val cumlt = when(below, cum).otherwise(st.getField("cumlt"))
            val hit = st.getField("ans").isNull && !below &&
              col(s"__nlt$i") + cum - cumlt >= col(s"__k$i")
            struct(cum.as("cum"), cumlt.as("cumlt"),
              when(hit, x.getField("v")).otherwise(st.getField("ans")).as("ans"))
          },
          st => st.getField("ans")))
    }
    // Loud failure must be TWO-sided: a high-side miss leaves ans null,
    // but a LOW-side miss (true answer below __lo) makes __nlt already
    // ≥ k, so the first in-slice value would "hit" and return a silently
    // too-large quantile. Under a correct GK bound, lo ≤ answer implies
    // nlt = count(< lo) ≤ count(< answer) < k — so nlt ≥ k is exactly
    // the low-side violation signal, checkable from counts already paid.
    val checked = qs.zipWithIndex.map { case ((out, _), i) =>
      when(col(s"__nlt$i") < col(s"__k$i") && col(out).isNotNull, col(out))
        .otherwise(raise_error(
          lit(s"distributed-select: bracket miss for $out — GK bound violated")))
        .as(out)
    }
    withAns.select(g ++ checked: _*)
  }
}
