package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Link-graph analytics — the authority-scoring pass of a web-crawl
  * curation pipeline (rank domains/hosts before deciding what to keep).
  *
  * PageRank here is FIXED-POINT INTEGER arithmetic end to end: ranks are
  * BIGINT multiples of 1/`scale`, per-edge shares use integer division,
  * and the damping step is an integer multiply-then-divide. Floating
  * point would make the result depend on aggregation order (Spark) vs
  * left-to-right (an oracle) — integer sums are order-independent, so
  * the whole iteration is deterministic, engine-portable, and
  * oracle-checkable bit for bit. The cost is floor truncation: each
  * round drops < 1 rank unit per (edge + node), so with scale = 1e6 the
  * scores agree with float PageRank to ~5 decimal places — far inside
  * any ranking-use tolerance. Dangling mass (nodes with no out-edges)
  * is dropped, the common simplification.
  */
object Graph {

  /** `iters` rounds of damped PageRank over `edges` (directed src→dst).
    *
    * rank_0(v) = scale;
    * share_i(u) = rank_i(u) div outdeg(u)                 (per node)
    * rank_{i+1}(v) = base + (dampNum · Σ_{(u,v)∈E} share_i(u)) div dampDen
    * base = (scale · (dampDen − dampNum)) div dampDen.
    *
    * SCALE: the rank frame CARRIES each node's out-degree (materialized
    * once at entry), so per round ONE edge-sized join distributes shares
    * and ONE map-side-combined aggregate on dst collects them — the
    * classic pregel alternation with no per-round rank⋈degree join;
    * nothing larger than the edge list ever shuffles, and the iteration
    * count is a constant of the operator, not of the data.
    *
    * Overflow headroom: Σ shares ≤ N·scale, so dampNum·Σ needs
    * N·scale·dampNum < 2^63 — with defaults, ~10^11 nodes.
    *
    * The rounds run un-checkpointed: at the small fixed `iters` typical
    * for authority scoring the plan tree stays shallow. The edge and node
    * frames are checkpointed at entry and freed on return (or on failure);
    * exactly one checkpoint, the final ranks, backs the result while it
    * is in use — `Bridge.unpersistCheckpoints(result)` frees it. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, scale: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(scale >= 1L, s"need scale >= 1, got $scale")
    require(dampDen >= 1L && dampNum >= 0L && dampNum <= dampDen,
      s"need 0 <= dampNum <= dampDen, got $dampNum/$dampDen")
    val base = scale * (dampDen - dampNum) / dampDen
    // materialize the loop-invariant frames ONCE: every round's plan
    // otherwise re-embeds the caller's whole edge derivation plus the
    // degree and node rollups (the registered query's unchanged plan
    // carried 64 parquet scans — iters re-derivations of each), and
    // static exchange reuse is deferred under AQE, so nothing guarantees
    // the duplicates collapse at runtime. TWO frames, not three: the node
    // table CARRIES its out-degree (null for sink nodes), so the rank
    // frame keeps __deg through the rounds and each round needs no
    // separate rank⋈degree join — one entry materialization job and one
    // per-round join fewer than the r14 three-frame form, whose fixed
    // checkpoint cost outweighed the removed re-derivations at small
    // scale (measured 4.45–4.71 s vs the 3.97 s un-checkpointed base at
    // sf0.1 despite the 64→0 scan plan). The result below is itself
    // checkpointed so these are freed on return.
    // the edge checkpoint deliberately keeps its origin's partitioning:
    // a repartition(parallelism)-widened copy was A/B'd interleaved at
    // sf0.1 and LOST (warm totals 6.19/6.83 wide vs 3.65/4.67 narrow —
    // the wider entry copy and dn derivation cost more than the
    // 5 rounds' map-side parallelism saves; rounds 3.2 wide vs 2.3-3.0
    // narrow). At cluster scale the caller's edge frame arrives
    // many-partitioned anyway.
    org.apache.spark.sql.graft.Bridge.withCheckpoints { ck =>
      val e = ck(edges.select(col(srcCol).cast(LongType).as("__src"),
        col(dstCol).cast(LongType).as("__dst")))
      val dn = ck(e.select(col("__src").as("node"))
        .union(e.select(col("__dst").as("node"))).distinct()
        .join(e.groupBy(col("__src").as("node"))
          .agg(count(lit(1)).as("__deg")), Seq("node"), "left"))
      var r = dn.withColumn("pr", lit(scale))
      for (_ <- 1 to iters) {
        // inner-join semantics of the old rank⋈degree: sink nodes (__deg
        // null) contribute no shares
        val shares = r.filter(col("__deg").isNotNull)
          .select(col("node"), expr("pr div __deg").as("__share"))
        val contrib = e.join(shares, e("__src") === shares("node"))
          .groupBy(col("__dst").as("node"))
          .agg(sum(col("__share")).as("__s"))
        r = dn.join(contrib, Seq("node"), "left")
          .select(col("node"), col("__deg"),
            (lit(base) +
              expr(s"($dampNum * coalesce(__s, 0L)) div $dampDen")).as("pr"))
      }
      // materialize the final ranks so the scope frees the loop-invariant
      // checkpoints NOW — the caller reads one node-sized checkpoint;
      // nothing upstream stays persisted.
      ck(r.select(col("node"), col("pr")))
    }
  }

  /** Minimum hop distance from a seed set (multi-source BFS, bounded at
    * `maxHops`): the reachability pass behind "everything within k links
    * of these domains" crawl scoping or contamination blast-radius
    * checks. Returns (node, hops) for every node reached, hops =
    * shortest distance — BFS levels make the minimum well-defined and
    * deterministic regardless of traversal order.
    *
    * SCALE: classic frontier propagation — each round joins the EDGE
    * list against the current frontier only (never the full reached
    * set), dedups, and anti-joins the accumulated distances so the
    * frontier holds exactly the newly-reached nodes; work per round is
    * proportional to the frontier's out-edges, total work to the
    * reachable edge set. Rounds checkpoint eagerly with stats reset
    * (`Bridge.checkpoint`) and superseded checkpoints unpersist
    * immediately, all of them on failure — the clusterPairs storage
    * playbook. The empty-frontier test is a driver scalar
    * (iteration control, not data collection). The final distance
    * checkpoint stays persisted while the result is in use —
    * `Bridge.unpersistCheckpoints(result)` frees it. */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"need maxHops >= 0, got $maxHops")
    org.apache.spark.sql.graft.Bridge.withCheckpoints { ck =>
      // materialize the edge list ONCE: every hop round is its own
      // checkpointed job, so a lazy `e` re-runs the caller's whole edge
      // derivation (scan + distinct + union for the registered query) per
      // round — maxHops re-derivations of a frame the loop only reads.
      // Freed when the loop ends (the result reads only the final distance
      // checkpoint, so the edge blocks are dead weight after convergence).
      val e = ck(edges.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst")))
      var dist = ck(seeds.select(col(seedCol).cast(LongType).as("node"))
        .distinct().withColumn("hops", lit(0L)))
      var frontier: Option[DataFrame] = None // the last round's checkpoint
      var hop = 1
      var done = maxHops == 0
      while (!done) {
        val next = ck(e
          .join(frontier.getOrElse(dist).select(col("node").as("src")), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(dist, Seq("node"), "left_anti")
          .withColumn("hops", lit(hop.toLong)))
        frontier.foreach(ck.free)
        frontier = None
        if (next.isEmpty) {
          ck.free(next)
          done = true
        } else {
          val newDist = ck(dist.unionByName(next))
          ck.free(dist)
          dist = newDist
          frontier = Some(next)
          hop += 1
          if (hop > maxHops) done = true
        }
      }
      dist
    }
  }

  /** The DuckDB oracle for [[hopDistance]]: a recursive CTE whose UNION
    * dedups (node, hops) STATES, so cycles collapse to ≤ nodes×maxHops
    * rows instead of enumerating paths; the final MIN collapses
    * re-reachings at later hops. */
  def hopDistanceSql(edgesCte: String, seedsCte: String,
      maxHops: Int): String =
    s"""WITH RECURSIVE e AS ($edgesCte),
       |seeds AS ($seedsCte),
       |walk(node, hops) AS (
       | SELECT node, 0 FROM seeds
       | UNION
       | SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
       | WHERE w.hops < $maxHops)
       |SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM walk
       |GROUP BY node ORDER BY hops, node""".stripMargin

  /** The DuckDB oracle for [[pageRankInt]], GENERATED from the same
    * parameters (the zvalueSql one-source-two-engines pattern): one CTE
    * per iteration, `//` mirroring `div` (identical on the non-negative
    * values both sides produce), integer sums order-independent. */
  def pageRankIntSql(edgesCte: String, iters: Int, k: Int,
      scale: Long = 1000000L, dampNum: Long = 85L,
      dampDen: Long = 100L): String = {
    val base = scale * (dampDen - dampNum) / dampDen
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node, CAST($base + ($dampNum * COALESCE(c.s, 0)) // $dampDen AS BIGINT) AS pr
         | FROM nodes n LEFT JOIN (
         |  SELECT e.dst, SUM(r.pr // d.deg) AS s
         |  FROM e JOIN deg d ON e.src = d.src JOIN r${i - 1} r ON e.src = r.node
         |  GROUP BY e.dst) c ON n.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS ($edgesCte),
       |deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |r0 AS (SELECT node, CAST($scale AS BIGINT) AS pr FROM nodes),
       |$rounds
       |SELECT node, pr FROM r$iters ORDER BY pr DESC, node LIMIT $k""".stripMargin
  }

  /** Exact triangle census + global transitivity over an undirected edge
    * list: one row `(n_edges, n_wedges, n_triangles, transitivity)` with
    * transitivity = 3·triangles / wedges (the clustering coefficient).
    * Over a near-dup pair graph this measures how transitive the
    * similarity relation actually is — the honesty check behind
    * single-linkage dedup clustering (Jaccard near-dup is NOT transitive;
    * low transitivity warns that connected components over-merge).
    *
    * Triangle enumeration uses the degree-ordered FORWARD algorithm:
    * every edge orients from its lower-(degree, id) endpoint, wedges are
    * ordered out-neighbor pairs, and a wedge closes iff the oriented
    * edge between its endpoints exists (one semi-join). Each triangle is
    * found exactly once — at its minimum-order vertex — and the oriented
    * out-degree is O(√m), so wedge mass is bounded by m^1.5 REGARDLESS
    * of raw degree skew: a celebrity hub enumerates no wedge pairs at
    * all because every edge points INTO it. That bound, not the naive
    * sum of C(deg,2), is what survives a 100 TB graph. All counts are
    * BIGINT (order-independent sums, engine-portable); the one IEEE
    * division producing `transitivity` is identical in both engines
    * (NULL when the graph has no wedges). */
  def transitivity(edges0: DataFrame, aCol: String, bCol: String): DataFrame = {
    import org.apache.spark.sql.graft.Bridge
    // eager checkpoint: the canonical edge list feeds FIVE consumers
    // (degree table, edge count, orientation, and both wedge sides plus
    // the closing semi-join through `o`) — without it each consumer
    // re-derives the caller's edge GENERATION (for the registered query
    // that is the full n-gram pair join; measured 3.26 s → the
    // checkpointed form below). Edge-list-sized, the psiFromCounts
    // posture; the result detaches via its final aggregate.
    val e = Bridge.checkpoint(edges0.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct())
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nWedges = deg.agg(
      coalesce(sum(expr("d * (d - 1) div 2")), lit(0L)).as("n_wedges"))
    // orient each edge from its lower-(degree, id) endpoint
    val ed = e
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
    val srcIsA = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // same posture for the oriented list: three consumers (both wedge
    // sides + the closing semi-join) over an edges-sized frame
    val o = Bridge.checkpoint(ed.select(
        when(srcIsA, col("a")).otherwise(col("b")).as("src"),
        when(srcIsA, col("b")).otherwise(col("a")).as("dst"),
        when(srcIsA, col("db")).otherwise(col("da")).as("dd")))
    // ordered out-neighbor pairs at each source, closed by the oriented
    // (v, w) edge — v precedes w in the order, so if the undirected edge
    // exists it is oriented exactly v→w
    val paths = o.select(col("src"), col("dst").as("v"), col("dd").as("dv"))
      .join(o.select(col("src"), col("dst").as("w"), col("dd").as("dw")), Seq("src"))
      .filter(col("dv") < col("dw") || (col("dv") === col("dw") && col("v") < col("w")))
    val nTri = paths
      .join(o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"), "leftsemi")
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(nWedges).crossJoin(nTri)
      .withColumn("transitivity",
        lit(3.0) * col("n_triangles") / nullif(col("n_wedges").cast(DoubleType), lit(0.0)))
  }

  /** The DuckDB oracle body for [[transitivity]]: expects a CTE named
    * `edges(d1, d2)` (canonical d1 < d2, distinct) in scope. */
  def transitivitySql: String =
    """deg AS (SELECT v, COUNT(*) d FROM (SELECT d1 v FROM edges UNION ALL SELECT d2 FROM edges) GROUP BY 1),
      |tri AS (SELECT count(*) t FROM edges e1 JOIN edges e2 ON e1.d2 = e2.d1
      |        JOIN edges e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2),
      |census AS (SELECT (SELECT count(*) FROM edges) n_edges,
      |       (SELECT CAST(COALESCE(SUM(d*(d-1)//2), 0) AS BIGINT) FROM deg) n_wedges,
      |       (SELECT t FROM tri) n_triangles)
      |SELECT n_edges, n_wedges, n_triangles,
      |       3.0 * n_triangles / NULLIF(CAST(n_wedges AS DOUBLE), 0.0) AS transitivity
      |FROM census""".stripMargin
}
