package graft.catalog

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{CacheScope, QueryDef, Tables}

/** Graph / entity-linkage surface: link analysis over an event-derived
  * transition graph and similarity joins over near-identical strings —
  * the relationship layer on top of the relational core (cdf admits
  * these through `cdf sql` recursion-free shapes; the iterate-to-
  * convergence variants live in graft.llm.TextDedup.connectedComponents,
  * which shares the localCheckpoint-per-round loop discipline).
  *
  * Determinism discipline: PageRank runs in integer fixed-point
  * (micro-units, floor division) so both engines compute identical
  * bits without any floating-point summation-order hazard.
  */
object GraphQueries {
  private def t(s: SparkSession, d: String, n: String): DataFrame = Tables(s, d, n)

  /** Weighted PageRank over the event-property transition graph, 3
    * rounds, exact integer fixed-point.
    *
    * Graph: nodes are the `props.k` values; a directed edge (u → v)
    * with weight w means "k=u was immediately followed by k=v in some
    * user's timeline w times". Ranks live in micro-units (node mass
    * 1,000,000); one round is
    *   R'(v) = 150000 + (85 * Σ_{(u,v)} (R(u)·w_uv div W_u)) div 100
    * — the standard 0.15/0.85 damping in integer arithmetic (floor
    * division, all values non-negative, so Spark `div` ≡ DuckDB `//`).
    * Dangling-node mass is absorbed (not redistributed), as in the
    * original formulation.
    *
    * Scale shape: edges/outdegree are one shuffle each; every round is
    * one join keyed on src + one aggregate keyed on dst over (node,
    * rank) longs — never the event rows. A fixed 3-round unroll keeps
    * the oracle SQL-expressible; the iterate-until-converged loop with
    * lineage truncation is proven in connectedComponents
    * (llm/TextDedup.scala), which this would reuse at depth. */
  val pagerank: QueryDef = QueryDef.sqlBacked(
    "q_pagerank",
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events),
      |seq AS (
      |  SELECT k AS dst,
      |         lag(k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS src
      |  FROM ev),
      |edges AS (
      |  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS wgt
      |  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
      |outd AS (SELECT src, CAST(SUM(wgt) AS BIGINT) AS outw FROM edges GROUP BY 1),
      |ew AS (SELECT e.src, e.dst, e.wgt, o.outw FROM edges e JOIN outd o USING (src)),
      |nodes AS (SELECT DISTINCT k AS node FROM ev),
      |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
      |s1 AS (SELECT dst, CAST(SUM((r * wgt) // outw) AS BIGINT) AS s
      |       FROM ew JOIN r0 ON r0.node = ew.src GROUP BY dst),
      |r1 AS (SELECT node, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r
      |       FROM nodes LEFT JOIN s1 ON s1.dst = node),
      |s2 AS (SELECT dst, CAST(SUM((r * wgt) // outw) AS BIGINT) AS s
      |       FROM ew JOIN r1 ON r1.node = ew.src GROUP BY dst),
      |r2 AS (SELECT node, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r
      |       FROM nodes LEFT JOIN s2 ON s2.dst = node),
      |s3 AS (SELECT dst, CAST(SUM((r * wgt) // outw) AS BIGINT) AS s
      |       FROM ew JOIN r2 ON r2.node = ew.src GROUP BY dst),
      |r3 AS (SELECT node, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS r
      |       FROM nodes LEFT JOIN s3 ON s3.dst = node)
      |SELECT node AS k, r AS pagerank FROM r3 ORDER BY k""".stripMargin,
    doc = "Weighted PageRank (3 rounds, 0.85 damping) in integer fixed-point over the " +
      "props.k transition graph — per-round cost is one src-keyed join + one dst-keyed " +
      "aggregate over (node, rank) longs, never the event rows.") { (s, d) =>
    val ev = Tables.eventsUs(s, d).select(
      col("user_id"), col("event_id"), col("ts_us"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val edges = ev
      .select(col("k").as("dst"), lag("k", 1).over(w).as("src"))
      .filter(col("src").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("wgt"))
    val outd = edges.groupBy("src").agg(sum("wgt").as("outw"))
    val ew = edges.join(outd, "src")
    val nodes = ev.select(col("k").as("node")).distinct()
    var rank = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to 3) {
      val sums = ew.join(rank.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr("(r * wgt) div outw").as("c"))
        .groupBy("dst").agg(sum("c").as("s"))
      rank = nodes.join(sums, nodes("node") === sums("dst"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    rank.select(col("node").as("k"), col("r").as("pagerank")).orderBy("k")
  }

  /** Edit-distance-≤1 similarity join by deletion neighborhoods
    * (FastSS, Bocek et al. 2007): two strings are within edit distance
    * 1 iff their 1-deletion neighborhoods (string itself + every
    * 1-char-deleted variant) intersect — so the candidate join keys on
    * a GENERATED VARIANT, never compares all pairs. Candidates are then
    * confirmed with an exact levenshtein ≤ 1 filter, so neighborhood
    * collisions cost a candidate row, never a wrong answer.
    *
    * Probe set: every 40th part's name with its 4th character deleted
    * (a deterministic typo). Scale shape: the corpus side explodes each
    * name into len+1 variants map-side; the probe side (small here)
    * broadcasts — with a large probe set the same plan hash-partitions
    * on the variant instead. The oracle cross-joins probes × part with
    * a levenshtein filter: exactly the O(n·m) plan this operator
    * exists to avoid. */
  val fuzzyJoin: QueryDef = QueryDef.sqlBacked(
    "q_fuzzy_join",
    """WITH probes AS (
      |  SELECT p_partkey AS probe_key,
      |         concat(substr(p_name, 1, 3), substr(p_name, 5)) AS typo
      |  FROM part WHERE p_partkey % 40 = 0)
      |SELECT pr.probe_key, p.p_partkey AS match_key, pr.typo, p.p_name
      |FROM probes pr JOIN part p ON levenshtein(pr.typo, p.p_name) <= 1
      |ORDER BY probe_key, match_key""".stripMargin,
    doc = "FastSS deletion-neighborhood similarity join (edit distance <= 1): variant keys " +
      "generated map-side, candidates confirmed by exact levenshtein — never all-pairs.") {
    (s, d) =>
      def variants(c: String): String =
        s"array_union(array($c), transform(sequence(1, length($c)), " +
          s"i -> concat(substring($c, 1, i - 1), substring($c, i + 1))))"
      val part = t(s, d, "part")
      val probes = part.filter(col("p_partkey") % 40 === 0)
        .select(col("p_partkey").as("probe_key"),
          concat(substring(col("p_name"), 1, 3), expr("substring(p_name, 5)")).as("typo"))
      val nameVars = part.select(col("p_partkey").as("match_key"), col("p_name"),
        explode(expr(variants("p_name"))).as("v"))
      val probeVars = probes.select(col("probe_key"), col("typo"),
        explode(expr(variants("typo"))).as("v"))
      nameVars.join(probeVars, "v")
        .select("probe_key", "match_key", "typo", "p_name").distinct()
        .filter(levenshtein(col("typo"), col("p_name")) <= 1)
        .orderBy("probe_key", "match_key")
  }

  /** Triangle counting over the thresholded co-transition graph.
    *
    * Graph: undirected edges (u < v) between `props.k` values that
    * appear consecutively in some user's timeline at least twice
    * (the threshold keeps the graph scale-sensitive instead of
    * saturating to the complete graph). Count by the ORIENTED wedge
    * join: every edge is stored once with u < v, so each triangle
    * a<b<c is found exactly once as e(a,b) ⋈ e(b,c) ⋈ e(a,c) — no
    * ÷6 correction, no symmetric blow-up.
    *
    * Scale shape: orientation is the standard degeneracy trick — the
    * wedge join fans out only from each edge's LOW endpoint, so a
    * celebrity node of degree d costs O(d²) once, not per neighbor
    * (at true scale the orientation key becomes degree-then-id, same
    * plan shape). Three shuffles total (edge agg + two joins on int
    * keys); event rows are never joined. */
  val triangleCount: QueryDef = QueryDef.sqlBacked(
    "q_triangle_count",
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events),
      |seq AS (
      |  SELECT k AS dst,
      |         lag(k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS src
      |  FROM ev),
      |p AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
      |             CAST(COUNT(*) AS BIGINT) AS c
      |      FROM seq WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
      |e AS (SELECT u, v FROM p WHERE c >= 2),
      |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |        FROM e e1 JOIN e e2 ON e2.u = e1.v
      |                  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
      |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM tri) AS n_triangles,
      |       (SELECT CAST(COUNT(*) AS BIGINT) FROM
      |          (SELECT a FROM tri UNION SELECT b FROM tri UNION SELECT c FROM tri) t)
      |         AS n_tri_nodes""".stripMargin,
    doc = "Triangle counting by oriented wedge join (u<v storage, each triangle found " +
      "once) over the thresholded props.k co-transition graph — the degeneracy-" +
      "orientation shape that keeps celebrity nodes O(d^2)-once at scale.") { (s, d) =>
    val ev = Tables.eventsUs(s, d).select(
      col("user_id"), col("event_id"), col("ts_us"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val e = ev
      .select(col("k").as("dst"), lag("k", 1).over(w).as("src"))
      .filter(col("src").isNotNull && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("u", "v")
    val e1 = e.select(col("u").as("a"), col("v").as("b"))
    val e2 = e.select(col("u").as("b2"), col("v").as("c"))
    val e3 = e.select(col("u").as("a3"), col("v").as("c3"))
    val tri = e1.join(e2, col("b") === col("b2"))
      .join(e3, col("a") === col("a3") && col("c") === col("c3"))
      .select("a", "b", "c")
    // combine the three scalar counts by union+pivot, not crossJoin —
    // a crossJoin of 1-row frames plans as a (harmless but audited)
    // nested-loop node; the union keeps the whole query join-free
    val metrics = e.agg(count(lit(1)).as("v"))
      .select(lit("n_edges").as("m"), col("v"))
      .union(tri.agg(count(lit(1)).as("v"))
        .select(lit("n_triangles").as("m"), col("v")))
      .union(tri.select(col("a").as("n"))
        .union(tri.select(col("b").as("n")))
        .union(tri.select(col("c").as("n")))
        .distinct().agg(count(lit(1)).as("v"))
        .select(lit("n_tri_nodes").as("m"), col("v")))
    metrics.groupBy()
      .pivot("m", Seq("n_edges", "n_triangles", "n_tri_nodes"))
      .agg(first("v"))
      .select("n_edges", "n_triangles", "n_tri_nodes")
  }

  /** Single-source shortest paths (hop count) by iterative frontier
    * BFS — the RECURSIVE-CTE workload Spark has no native operator for,
    * re-expressed as a bounded loop of frontier ⋈ adjacency joins with
    * an anti-join against the settled set (each node settles at its
    * true minimum distance, so the loop IS min-dist BFS). The oracle is
    * DuckDB's actual `WITH RECURSIVE`, making this the catalog's proof
    * that the iterative-join composition equals the declarative
    * recursive semantics.
    *
    * The graph keeps the top 2·|V| co-transition edges by weight
    * (deterministic total order: count desc, then endpoints), so it
    * stays sparse at every scale factor — at sf0.1 the raw thresholded
    * graph saturates to the complete graph and every BFS would be
    * depth 1. Scale shape: per round one equi-join keyed on the int
    * node id + one anti-join against the settled set (frontier and
    * settled are O(V), the data-derived adjacency is the big side at
    * real scale; the planner sizes both joins); rounds bounded by the
    * 8-hop cap, and the convergence probe is an aggregate emptiness
    * check, never rows to the driver.
    */
  val shortestPaths: QueryDef = QueryDef.sqlBacked(
    "q_shortest_paths",
    """WITH RECURSIVE ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |         CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events),
      |seq AS (
      |  SELECT k AS dst,
      |         lag(k) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS src
      |  FROM ev),
      |p AS (SELECT least(src, dst) AS u, greatest(src, dst) AS v,
      |             CAST(COUNT(*) AS BIGINT) AS c
      |      FROM seq WHERE src IS NOT NULL AND src <> dst GROUP BY 1, 2),
      |nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
      |        (SELECT u AS x FROM p UNION SELECT v FROM p) t),
      |kept AS (SELECT u, v FROM (
      |    SELECT u, v, row_number() OVER (ORDER BY c DESC, u, v) AS rn FROM p)
      |  WHERE rn <= 2 * (SELECT n FROM nv)),
      |adj AS (SELECT u AS a, v AS b FROM kept UNION ALL SELECT v, u FROM kept),
      |walk(node, dist) AS (
      |  SELECT (SELECT MIN(a) FROM adj), 0
      |  UNION
      |  SELECT adj.b, walk.dist + 1 FROM walk JOIN adj ON adj.a = walk.node
      |  WHERE walk.dist < 8)
      |SELECT CAST(d AS INTEGER) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |FROM (SELECT node, MIN(dist) AS d FROM walk GROUP BY node) t
      |GROUP BY d ORDER BY dist""".stripMargin,
    doc = "Single-source BFS hop distances over the top-2|V| co-transition edges, " +
      "composed as bounded frontier/anti-join rounds - hash-matched against DuckDB's " +
      "native WITH RECURSIVE, proving the iterative-join form equals recursive-CTE " +
      "semantics.") { (s, d) =>
    import s.implicits._
    val ev = Tables.eventsUs(s, d).select(
      col("user_id"), col("event_id"), col("ts_us"),
      get_json_object(col("props"), "$.k").cast("int").as("k"))
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val p = CacheScope.persisted(ev
      .select(col("k").as("dst"), lag("k", 1).over(w).as("src"))
      .filter(col("src").isNotNull && col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c")))
    val nNodes = p.select(col("u").as("x")).union(p.select(col("v").as("x")))
      .distinct().count()
    val kept = p
      .withColumn("rn", row_number().over(
        Window.orderBy(col("c").desc, col("u"), col("v"))))
      .filter(col("rn") <= 2 * nNodes).select("u", "v")
    val adj = CacheScope.persisted(kept.select(col("u").as("a"), col("v").as("b"))
      .union(kept.select(col("v").as("a"), col("u").as("b"))))
    val source = adj.agg(min("a")).head().getInt(0)
    var settled = Seq((source, 0)).toDF("node", "dist")
    var frontier = settled
    var hop = 0
    var frontierRows = 1L
    while (hop < 8 && frontierRows > 0) {
      hop += 1
      // truncate the per-round lineage, like CC
      frontier = CacheScope.localCheckpointed(frontier
        .join(adj, col("node") === col("a"))
        .select(col("b").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
        .withColumn("dist", lit(hop)))
      frontierRows = frontier.count() // materialized by the checkpoint
      settled = settled.union(frontier)
    }
    settled.groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"))
      .orderBy("dist")
  }

  val all: Seq[QueryDef] = Seq(pagerank, fuzzyJoin, triangleCount, shortestPaths)
}
