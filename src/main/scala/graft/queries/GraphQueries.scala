package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables

/** Link analysis over the order graph — the iterative-convergence
  * operator family beside connected components (ops/Components.scala).
  * The LLM-pipeline motivation is the web-graph quality signal:
  * link-centrality scores over a crawl graph are a standard
  * pretraining-data ranking feature, and the execution shape (static
  * edge table iterated against a small evolving rank table) is the
  * same one a 100 TB crawl needs.
  */
object GraphQueries {

  /** Conditional broadcast hint for ITERATION-STATE tables whose row
    * count grows with |V| — ranks, labels, frontiers, HITS scores,
    * k-core survivor sets. At gate scale these are thousands of rows
    * and the per-round broadcast join is the right plan; at a billion
    * vertices a FORCED broadcast is an executor OOM, so the scale path
    * must be a code path, not a docstring.
    *
    * Modes (`spark.graft.graph.broadcastVertices`):
    *  - `auto` (default): hint iff the caller's row-count bound is
    *    under `spark.graft.graph.broadcastVertexLimit` (default 1e7
    *    rows ≈ low hundreds of MB of (long, double) state — safe for a
    *    standard executor). Past the limit the hint is withheld and the
    *    planner/AQE picks a shuffle join; at crawl scale pre-partition
    *    the edge table by src and every per-round join co-locates on
    *    that layout with zero edge movement.
    *  - `on` / `off`: force either plan — GraphSpec's differential
    *    proves off-rounds ≡ on-rounds bit-for-bit on planted graphs.
    *
    * Callers pass a cheap UPPER BOUND on the state table's rows (vertex
    * count, current edge count, seed count): bounds only ever err
    * toward withholding the hint, never toward an OOM.
    */
  private[graft] def vhint(df: org.apache.spark.sql.DataFrame,
                           boundRows: Long): org.apache.spark.sql.DataFrame = {
    val conf = df.sparkSession.conf
    conf.get("spark.graft.graph.broadcastVertices", "auto") match {
      case "on"  => broadcast(df)
      case "off" => df
      case _ =>
        val lim = conf.get("spark.graft.graph.broadcastVertexLimit", "10000000").toLong
        if (boundRows <= lim) broadcast(df) else df
    }
  }

  private def buildPackedPairs(s: org.apache.spark.sql.SparkSession,
                               dir: String): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()

  /** DISTINCT packed (c = 2·custkey, s = 2·suppkey+1) trade pairs — a
    * session artifact, the graph-family analog of
    * DedupQueries.docHashes: five queries (pagerank, k-core, BFS, PPR,
    * random walk) consume the identical DISTINCT bipartite
    * customer–supplier pair table and each re-paid the lineitem ⋈
    * orders + distinct build within one Verify/Bench run; a few hundred
    * thousand 16-byte rows at sf0.1. The 100 TB analog is the
    * materialized EDGE SNAPSHOT every crawl-graph pipeline maintains
    * beside the crawl: built once per snapshot, reused by every
    * link-analysis pass, invalidated with the snapshot. Callers must
    * NOT unpersist it.
    */
  private[graft] def packedTradePairs(s: org.apache.spark.sql.SparkSession,
                                      dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Artifacts.frame(s, dir, Seq("lineitem", "orders"), "graph.packed_pairs")(
      buildPackedPairs(s, dir))

  /** The support-8 co-supply edge list (x < y suppliers sharing ≥ 8
    * orders) — triangles, local clustering and assortativity all start
    * from THIS table, and the per-order wedge self-join that builds it
    * is the family's cost driver. A session artifact like
    * [[packedTradePairs]]; callers must NOT unpersist it.
    */
  private[graft] def coSupplyEdges(s: org.apache.spark.sql.SparkSession,
                                   dir: String): org.apache.spark.sql.DataFrame = {
    val support = 8
    graft.ops.Artifacts.frame(s, dir, Seq("lineitem"), "graph.cosupply", support) {
      val per = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_suppkey").as("sk")).distinct()
      per.as("a").join(per.as("b"),
          col("a.o") === col("b.o") && col("a.sk") < col("b.sk"))
        .groupBy(col("a.sk").as("x"), col("b.sk").as("y"))
        .agg(count(lit(1)).as("cnt")).where(col("cnt") >= support)
        .select(col("x"), col("y"))
    }
  }

  /** The reusable power-iteration core over an UNDIRECTED edge list
    * (already symmetrized: both directions present): computes
    * out-degrees, caches the degree-annotated edge table, and runs
    * `iters` rounds of rank flow. Returns ((node, pr) with Σ pr = 1,
    * vertex count). Shared by [[graphPagerank]] and the ScaleProbe
    * graph leg so the probe measures the EXACT production loop.
    */
  def pagerank(undirected: org.apache.spark.sql.DataFrame,
               iters: Int, damping: Double): (org.apache.spark.sql.DataFrame, Long) = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val teleport = 1.0 - damping
    val deg = undirected.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .persist(mem)
    val nv = deg.count() // also materializes deg for the edge build
    val edges = undirected.join(deg, Seq("src")).persist(mem)
    var ranks = deg.select(col("src").as("node"), lit(1.0 / nv).as("pr"))
    for (_ <- 1 to iters) {
      // superseded rounds' checkpoint blocks are reclaimed by the
      // ContextCleaner once the frames go out of scope (localCheckpoint
      // blocks are not CacheManager entries — unpersist() can't touch
      // them); only the final round's blocks stay live
      // lazy checkpoint (r17-opt): the next round's broadcast build is
      // the materializing action, so each round is ONE job, not
      // checkpoint + consume
      ranks = edges.join(vhint(ranks, nv), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("outdeg")).as("m"))
        .select(col("dst").as("node"),
          (lit(teleport / nv) + lit(damping) * col("m")).as("pr"))
        .transform(graft.ops.Ckpt.lazyLocal)
    }
    // ONE materialization for the whole loop (vs one per round): the
    // final round's lazy checkpoint must hold real blocks before the
    // cached build inputs are released below, or the caller's first
    // action would recompute the edge table from scratch
    ranks.count()
    edges.unpersist(false)
    deg.unpersist(false)
    (ranks, nv)
  }

  /** PageRank (Page et al., 1999; fixed 6 power iterations, d = 0.85)
    * over the bipartite customer–supplier graph induced by orders ⋈
    * lineitem, made symmetric (each undirected trade edge contributes
    * both directions) so the walk has no dangling nodes and every
    * vertex receives mass each round. Node ids are packed LONGS
    * (customer 2k, supplier 2k+1): every join/agg in the hot loop keys
    * on an 8-byte integer, not a concatenated string — measured ~2×
    * on the whole query; the readable (kind, key) pair is derived only
    * on the 1-row-per-vertex output.
    *
    * Scale shape (the GraphX pattern, in plain DataFrames): the
    * dedup'd pair table is persisted (the orders ⋈ lineitem subtree
    * runs once); the edge list joins its out-degrees ONCE and is
    * cached — each round then moves only the rank rows (one per
    * vertex — thousands, against millions of edges). In this local
    * regime the rank side is explicitly broadcast (zero edge
    * movement, so pinning an edge partitioning would be a pure extra
    * shuffle — measured +0.7 s for a layout nothing consumes); on a
    * billion-vertex crawl, where ranks outgrow a broadcast, drop the
    * hint and ADD `repartition(src) + sortWithinPartitions(src)`
    * before the persist — the cached layout then feeds every round's
    * merge join with no exchange and no sort on the edge side.
    * Each round materializes via eager
    * localCheckpoint — plan stays one join deep, the optimizer sees
    * real sizes, and a stage retry re-runs one iteration, not the
    * chain (the Components.connected lineage discipline). The vertex
    * count is the one driver-side scalar (S10 tiny-summary policy).
    *
    * Determinism contract: both engines run the identical fixed
    * iteration count from the identical uniform start, but each
    * round's per-vertex sum is order-dependent double arithmetic —
    * cross-engine drift compounds to ~1e-11 relative over 6 rounds.
    * Rounding is only hash-safe when the probability of a value
    * straddling a rounding boundary is negligible: at round-6 the
    * exposure is ~1e-11/1e-6 per vertex × 16k vertices ≈ 1e-1 — a
    * real flake rate — so `pr_rel` is emitted at round-3
    * (exposure ≈ 1e-4), still 4 significant digits on the O(1)
    * normalized rank. `pr_rel` = rank·V, the rank relative to
    * uniform — 1.0 means "as central as average" (raw ranks shrink
    * with V and would round to dust at any fixed scale).
    */
  val graphPagerank: QueryDef = {
    val damping = 0.85
    val teleport = 0.15 // written as a literal: both engines parse the same double
    val iters = 6
    val recur = (1 to iters).map { i =>
      s"""r$i AS (SELECT e.dst AS node,
         |  ${teleport}e0 / (SELECT n FROM nv) + ${damping}e0 * sum(r.pr / e.outdeg) AS pr
         |  FROM e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    QueryDef.sql("graph_pagerank",
      // e is referenced once per power round and DuckDB inlines plain
      // CTEs — each round re-ran the orders⨝lineitem DISTINCT
      // (graph_ppr: 5.9 s of the sf0.01 oracle run, r16 verdict).
      // MATERIALIZED is a pure evaluation hint; algebra unchanged.
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |eu AS (SELECT c AS src, s AS dst FROM e0
         |       UNION ALL SELECT s AS src, c AS dst FROM e0),
         |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM eu GROUP BY src),
         |e AS MATERIALIZED (SELECT eu.src, eu.dst, d.outdeg FROM eu JOIN deg d USING (src)),
         |nv AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT src AS node, 1.0e0 / (SELECT n FROM nv) AS pr FROM deg),
         |$recur
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |  node // 2 AS key,
         |  round(pr * (SELECT n FROM nv), 3) AS pr_rel
         |FROM r$iters ORDER BY kind, key""".stripMargin) { (s, dir) =>
      val pairs = packedTradePairs(s, dir)
      val undirected = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
      val (ranks, nv) = pagerank(undirected, iters, damping)
      ranks.select(
        when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
        expr("node div 2").as("key"),
        round(col("pr") * nv, 3).as("pr_rel"))
        .orderBy(col("kind"), col("key"))
    }
  }

  /** Triangle census + global clustering coefficient over the supplier
    * co-occurrence graph (suppliers sharing an order, kept when the
    * pair co-occurs >= minSup times — the support threshold that keeps
    * a co-occurrence graph sparse as the corpus grows; without it the
    * edge count approaches |V|²/2 and no triangle algorithm helps).
    * The counting core is compact-forward (Latapy 2008; the
    * MapReduce/Cohen orientation): every undirected edge is oriented
    * from lower to higher (degree, id), which (a) counts each triangle
    * exactly once — its three vertices form a total order under
    * (deg, id) — and (b) bounds every vertex's OUT-degree by O(√m)
    * regardless of skew, so the wedge join (the quadratic step) does
    * O(Σ outdeg²) ⊆ O(m^1.5) work even when a hub vertex has degree
    * |V|. That bound is the whole scale story: the naive wedge join on
    * an unoriented hub explodes as deg², and a crawl graph is ALL
    * hubs. Everything is equi-joins on 8-byte vertex keys: wedges
    * close with one join back to the oriented edge table; no
    * cartesian, no collect. Emits the one-row census (the S10 grand-
    * aggregate shape): node/edge/triangle counts plus the global
    * clustering coefficient 3·T / Σ deg·(deg-1)/2.
    */
  /** The counting core, factored for spec-ability: takes DISTINCT
    * undirected edges as (x, y) with x < y, returns the one-row census
    * (n_nodes, n_edges, n_triangles, global_cc). See [[graphTriangles]]
    * for the algorithm notes; GraphSpec pins it on known graphs (K4,
    * paths, planted triangles).
    */
  def triangleCensus(e0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = e0.persist(mem)
    val deg = e.select(col("x").as("n")).unionAll(e.select(col("y").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .persist(mem)
    // orient lower (deg, id) -> higher; deg is |V|-sized (small here,
    // and at crawl scale still ~1e9 rows of 16 bytes — a shuffle join
    // by default; AQE broadcasts it when it fits)
    val flip = struct(col("dx.d"), col("e.x")) < struct(col("dy.d"), col("e.y"))
    val oriented = e.as("e")
      .join(deg.as("dx"), col("dx.n") === col("e.x"))
      .join(deg.as("dy"), col("dy.n") === col("e.y"))
      .select(when(flip, col("e.x")).otherwise(col("e.y")).as("u"),
        when(flip, col("e.y")).otherwise(col("e.x")).as("v"))
      .persist(mem)
    val tri = oriented.as("w1")
      .join(oriented.as("w2"), col("w2.u") === col("w1.v"))
      .join(oriented.as("w3"),
        col("w3.u") === col("w1.u") && col("w3.v") === col("w2.v"))
      .agg(count(lit(1)).as("tri"))
    val stats = deg.agg(count(lit(1)).cast("long").as("n_nodes"),
      sum(col("d") * (col("d") - 1) / 2).cast("long").as("n_wedges"))
    val nEdges = e.agg(count(lit(1)).cast("long").as("n_edges"))
    val out = stats.crossJoin(nEdges).crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("tri").cast("long").as("n_triangles"),
        round(lit(3.0) * col("tri") / col("n_wedges"), 6).as("global_cc"))
    // materialize before releasing the build caches
    val rows = out.transform(graft.ops.Ckpt.eager)
    oriented.unpersist(false); deg.unpersist(false); e.unpersist(false)
    rows
  }

  val graphTriangles: QueryDef = {
    val minSup = 8
    QueryDef.sql("graph_triangles",
      s"""WITH per AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
         |p AS (SELECT a.sk AS x, b.sk AS y FROM per a JOIN per b ON a.o = b.o AND a.sk < b.sk),
         |e AS (SELECT x, y FROM p GROUP BY x, y HAVING count(*) >= $minSup),
         |deg AS (SELECT n, count(*) AS d
         |        FROM (SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e) GROUP BY n),
         |o AS (SELECT CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.x ELSE e.y END AS u,
         |             CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.y ELSE e.x END AS v
         |      FROM e JOIN deg dx ON dx.n = e.x JOIN deg dy ON dy.n = e.y),
         |t AS (SELECT count(*) AS tri
         |      FROM o w1 JOIN o w2 ON w2.u = w1.v
         |           JOIN o w3 ON w3.u = w1.u AND w3.v = w2.v),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |             CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
         |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         |SELECT n_nodes, n_edges, CAST(tri AS BIGINT) AS n_triangles,
         |  round(3.0 * tri / n_wedges, 6) AS global_cc
         |FROM s, ne, t""".stripMargin) { (s, dir) =>
      require(minSup == 8, "coSupplyEdges memo is built at support 8")
      // defensive projection: the census persists AND unpersists its
      // input — hand it a child of the memo, never the memo itself
      triangleCensus(coSupplyEdges(s, dir).select(col("x"), col("y")))
    }
  }

  /** Connected components over the STRONG trade graph — customer–
    * supplier edges kept when the pair shares >= 3 order lines (the
    * same support-threshold discipline as [[graphTriangles]]: an
    * unthresholded bipartite trade graph is one giant component and
    * tells you nothing; the strong graph's components are the actual
    * repeat-trade communities). The operator is the SAME pointer-
    * jumping [[graft.ops.Components.connectedComponents]] the dedup
    * family runs (O(log d) rounds, per-round checkpoint, pair plan
    * evaluated once) — exposed here as a first-class graph query
    * beside pagerank/triangles, on integer-packed node ids (customer
    * 2k, supplier 2k+1, the [[graphPagerank]] convention). Emits
    * per-node (kind, key, rep, comp_size); the component-size join
    * keys on rep, which the groupBy already co-partitioned.
    *
    * The oracle recomputes components as recursive reachability —
    * viable exactly because the support threshold keeps components
    * small-diameter and the reach set bounded (biggest observed
    * component: 898 nodes at sf0.01); the Spark side has no such
    * limit, which is the point of pointer jumping.
    */
  val graphComponents: QueryDef = QueryDef.sql("graph_components",
    """WITH RECURSIVE w AS (SELECT o_custkey AS c, l_suppkey AS s, count(*) AS n
      |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
      |e0 AS (SELECT c * 2 AS a, s * 2 + 1 AS b FROM w WHERE n >= 3),
      |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
      |reach AS (SELECT a AS node, a AS r FROM e
      |          UNION SELECT e.a, reach.r FROM e JOIN reach ON e.b = reach.node),
      |cl AS (SELECT node, min(r) AS rep FROM reach GROUP BY node),
      |sz AS (SELECT rep, CAST(count(*) AS BIGINT) AS comp_size FROM cl GROUP BY rep)
      |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
      |  node // 2 AS key, rep, comp_size
      |FROM cl JOIN sz USING (rep) ORDER BY kind, key""".stripMargin) { (s, dir) =>
    val cl = graft.ops.Components.connectedComponents(strongPairs(s, dir))
    val sz = cl.groupBy(col("rep")).agg(count(lit(1)).as("comp_size"))
    cl.join(sz, "rep")
      .select(when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
        expr("node div 2").as("key"), col("rep"), col("comp_size"))
      .orderBy(col("kind"), col("key"))
  }

  /** Synchronous label-propagation core (Raghavan et al. 2007, made
    * deterministic): labels start as node ids; each round every node
    * adopts the label with the most votes among its neighbors' labels
    * plus ONE self-vote, ties broken by smallest label. All-integer
    * arithmetic — bit-exact across engines at any iteration count,
    * unlike rank flow. Same per-round discipline as [[pagerank]]:
    * labels broadcast against the cached edge table, eager
    * localCheckpoint so a retry re-runs one round and the plan never
    * deepens. Returns (node, label) after `iters` rounds.
    */
  def labelPropagation(undirected: org.apache.spark.sql.DataFrame,
                       iters: Int): org.apache.spark.sql.DataFrame = {
    val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val edges = undirected.persist(mem)
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .transform(graft.ops.Ckpt.lazyLocal)
    val nv = labels.count() // materializes the lazy checkpoint AND probes
    for (_ <- 1 to iters) {
      val votes = edges.join(vhint(labels, nv), col("src") === col("node"))
        .select(col("dst").as("n2"), col("label"))
        .unionAll(labels.select(col("node").as("n2"), col("label")))
        .groupBy(col("n2"), col("label")).agg(count(lit(1)).as("c"))
      // stays EAGER: the final round's labels must materialize before
      // the edges.unpersist below, or the caller's first action would
      // recompute the cached edge table from scratch
      labels = votes
        .groupBy(col("n2"))
        .agg(max(struct(col("c").as("c"), negate(col("label")).as("nl"))).as("m"))
        .select(col("n2").as("node"), negate(col("m.nl")).as("label"))
        .transform(graft.ops.Ckpt.eager)
    }
    edges.unpersist(false)
    labels
  }

  /** Label-propagation communities over the STRONG trade graph (the
    * [[graphComponents]] support-≥3 edge set): 3 fixed synchronous
    * rounds of majority-vote label adoption. Where CC answers "what is
    * connected", LP answers "what is densely connected" — the standard
    * cheap community detector for domain/topic grouping over a crawl
    * graph. Deterministic by construction (integer votes, smallest-
    * label tie-break, fixed rounds) so the oracle replays the identical
    * 3 rounds as materialized CTEs and the hash compare is exact.
    *
    * Scale shape: per round, votes = one edge-table join against the
    * |V|-row label table (broadcast here; at crawl scale drop the hint
    * and pre-partition edges by src — the pagerank note applies
    * verbatim) + two map-side-combinable aggregations keyed on the
    * receiving node. Vote rows ∝ |E| per round, never |V|²; rounds
    * don't multiply shuffled bytes.
    */
  // the strong-graph label-propagation CTE chain (w/e0/e/nd/r0/r1..rN),
  // oracle side — ONE copy shared by graph_label_prop and
  // graph_modularity; Spark twin: strongPairs + labelPropagation
  private val lpMinSup = 3
  private val lpIters = 3
  private def lpOracleCtes: String = {
    def roundCte(i: Int): String = {
      val p = i - 1
      s"""v$i AS (SELECT node, label, sum(c) AS c FROM (
         |   SELECT e.b AS node, r.label, CAST(count(*) AS BIGINT) AS c
         |   FROM e JOIN r$p r ON r.node = e.a GROUP BY 1, 2
         |   UNION ALL SELECT node, label, 1 FROM r$p) GROUP BY 1, 2),
         |r$i AS (SELECT node, label FROM (
         |   SELECT node, label, row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
         |   FROM v$i) WHERE rn = 1)""".stripMargin
    }
    s"""w AS (SELECT o_custkey AS c, l_suppkey AS s, count(*) AS n
       |     FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
       |e0 AS (SELECT c * 2 AS a, s * 2 + 1 AS b FROM w WHERE n >= $lpMinSup),
       |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
       |nd AS (SELECT DISTINCT a AS node FROM e),
       |r0 AS (SELECT node, node AS label FROM nd),
       |${(1 to lpIters).map(roundCte).mkString(",\n")}""".stripMargin
  }

  /** Spark twin of the `e0` CTE: the support-thresholded directed
    * strong-trade pair list (i = customer node, j = supplier node).
    */
  /** Support-thresholded (≥ lpMinSup order lines) packed trade pairs —
    * shared by components, label propagation and modularity; memoized
    * like [[packedTradePairs]]. Callers must NOT unpersist it.
    */
  private def strongPairs(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    graft.ops.Artifacts.frame(s, dir, Seq("lineitem", "orders"), "graph.strong_pairs", lpMinSup) {
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("i"), (col("l_suppkey") * 2 + 1).as("j"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= lpMinSup)
        .select(col("i"), col("j"))
    }

  val graphLabelProp: QueryDef = {
    val iters = lpIters
    QueryDef.sql("graph_label_prop",
      s"""WITH $lpOracleCtes,
         |sz AS (SELECT label, CAST(count(*) AS BIGINT) AS comm_size FROM r$iters GROUP BY label)
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |  node // 2 AS key, label, comm_size
         |FROM r$iters JOIN sz USING (label) ORDER BY kind, key""".stripMargin) { (s, dir) =>
      val pairs = strongPairs(s, dir)
      val undirected = pairs.select(col("i").as("src"), col("j").as("dst"))
        .unionAll(pairs.select(col("j").as("src"), col("i").as("dst")))
      val labels = labelPropagation(undirected, iters)
      val sz = labels.groupBy(col("label")).agg(count(lit(1)).as("comm_size"))
      labels.join(sz, "label")
        .select(when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
          expr("node div 2").as("key"), col("label"), col("comm_size"))
        .orderBy(col("kind"), col("key"))
    }
  }

  /** Log2-bucketed degree histogram of the bipartite trade graph — the
    * profile-before-you-pay step every expensive graph op (pagerank,
    * triangles, CC) should be preceded by at scale: the histogram tells
    * you whether a hub exists (skew → salting / orientation needed) and
    * what the wedge bound Σ d² will cost, for the price of two map-side-
    * combinable aggregations over the edge list. No joins, no windows —
    * the whole query partial-aggregates before its one shuffle each.
    *
    * The bucket is floor(log2(d)) computed as length(bin(d)) - 1 —
    * integer string length, bit-identical across engines, where
    * floating log2 at exact powers of two is engine-dependent
    * (Spark computes log(x)/log(2)).
    */
  val graphDegreeStats: QueryDef = QueryDef.sql("graph_degree_stats",
    """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |eu AS (SELECT c AS src FROM e0 UNION ALL SELECT s AS src FROM e0),
      |deg AS (SELECT src AS node, count(*) AS d FROM eu GROUP BY src)
      |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
      |  CAST(length(bin(d)) - 1 AS BIGINT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n_nodes,
      |  CAST(min(d) AS BIGINT) AS min_deg, CAST(max(d) AS BIGINT) AS max_deg
      |FROM deg GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val e0 = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .distinct()
    e0.select(col("c").as("node")).unionAll(e0.select(col("s").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .groupBy(
        when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
        (length(bin(col("d"))) - 1).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("d")).as("min_deg"), max(col("d")).as("max_deg"))
      .orderBy(col("kind"), col("bucket"))
  }

  /** Neighborhood-Jaccard similarity (Liben-Nowell & Kleinberg 2003's
    * link-prediction score) between SUPPLIERS through their shared
    * customer base — the item-item collaborative-filtering shape:
    * J(s₁,s₂) = |C(s₁)∩C(s₂)| / |C(s₁)∪C(s₂)| over the distinct
    * bipartite trade graph, ranked global top-100.
    *
    * Execution shape: common-customer counting is ONE wedge self-join
    * through the shared customer — deliberately the LOW-degree side
    * (customers buy from ~tens of suppliers; a supplier serves
    * hundreds): wedge volume is Σ_c d_c², not the Σ_s d_s² a
    * supplier-side pivot would cost (~15× more here, and the gap
    * widens with catalog skew — the orientation discipline
    * [[graphTriangles]] applies per-edge, applied side-wise). The
    * ≥2-common significance floor lands in the wedge HAVING, before
    * degrees or scores are touched; union size needs no set
    * materialization (|A∪B| = d₁ + d₂ − common; the supplier degree
    * table is broadcast-sized by construction). The result is the
    * global top-100 by (J, common, ids) — an absolute J cutoff
    * degenerates across densities (measured on the support-3 strong
    * graph: 7892 rows at sf0.001, zero at sf0.1), while a ranked head
    * is what a recommender consumes; row_number + rank≤100 gets
    * WindowGroupLimit pushdown, so every task forwards ≤100 rows to
    * the final cut. At crawl scale the standard extra move is capping
    * super-hub customers before the wedge join (a hub contributes d²
    * pairs and near-zero Jaccard evidence).
    */
  val graphJaccard: QueryDef = {
    val minCommon = 2; val topK = 100
    QueryDef.sql("graph_jaccard",
      s"""WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS s
         |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |deg AS (SELECT s, count(*) AS d FROM e GROUP BY s),
         |wed AS (SELECT e1.s AS u, e2.s AS v, count(*) AS common
         |        FROM e e1 JOIN e e2 ON e1.c = e2.c AND e1.s < e2.s
         |        GROUP BY 1, 2 HAVING count(*) >= $minCommon),
         |sc AS (SELECT u, v, common,
         |         round(common::DOUBLE / (du.d + dv.d - common), 6) AS jaccard
         |       FROM wed JOIN deg du ON du.s = u JOIN deg dv ON dv.s = v),
         |r AS (SELECT *, CAST(row_number() OVER (
         |         ORDER BY jaccard DESC, common DESC, u, v) AS BIGINT) AS rnk FROM sc)
         |SELECT rnk, u AS supp_a, v AS supp_b, CAST(common AS BIGINT) AS common, jaccard
         |FROM r WHERE rnk <= $topK ORDER BY rnk""".stripMargin) { (s, dir) =>
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // distinct (customer, supplier) edge table evaluated once: it
      // feeds the wedge join twice and the degree table
      val e = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sk"))
        .distinct()
        .persist(mem)
      val deg = e.groupBy(col("sk").as("n")).agg(count(lit(1)).as("d"))
      val wed = e.as("e1").join(e.as("e2"),
          col("e1.c") === col("e2.c") && col("e1.sk") < col("e2.sk"))
        .groupBy(col("e1.sk").as("u"), col("e2.sk").as("v"))
        .agg(count(lit(1)).as("common"))
        .where(col("common") >= minCommon)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("jaccard").desc, col("common").desc, col("u"), col("v"))
      val out = wed
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
        .withColumn("jaccard",
          round(col("common").cast("double") / (col("du") + col("dv") - col("common")), 6))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= topK)
        .select(col("rnk"), col("u").as("supp_a"), col("v").as("supp_b"),
          col("common"), col("jaccard"))
        .orderBy(col("rnk"))
      val rows = out.transform(graft.ops.Ckpt.eager)
      e.unpersist(false)
      rows
    }
  }

  /** k-core decomposition (k = 4) of the bipartite trade graph by
    * synchronous peeling (Matula & Beck 1983's algorithm, batched):
    * each round recomputes degrees and drops every node with degree
    * < k, until the subgraph is stable — what survives is the maximal
    * subgraph where every node keeps >= k neighbors, the standard
    * "dense core vs tendril" split for crawl-graph quality tiers
    * (a page in a high core is structurally endorsed; degree alone is
    * spoofable by one spammy hub).
    *
    * Both engines run the identical FIXED round count (peeling is
    * monotone — once stable, further rounds are no-ops, so a fixed
    * bound ≥ the peel depth is exact; GraphSpec pins convergence on
    * the fixtures and deep-peel chains). Scale shape per round: one
    * map-side-combinable degree aggregation + two semi-joins of the
    * edge table against the |V|-sized survivor set (broadcast here;
    * at crawl scale pre-partition edges by src and let the survivor
    * filter shuffle to match — the pagerank note verbatim). Rounds
    * move |E| rows at most; nothing is ever quadratic. Eager
    * localCheckpoint per round keeps the plan one round deep (the
    * Components.connectedComponents lineage discipline).
    */
  val graphKcore: QueryDef = {
    val k = 4; val rounds = 8
    def roundCte(i: Int): String = {
      val p = i - 1
      // MATERIALIZED is load-bearing on every round CTE: DuckDB inlines
      // plain CTEs per reference, and e_i references e_{i-1} three times
      // (scan + two survivor subqueries) — 8 un-materialized rounds
      // expand to ~4^8 copies of the base scan and exhaust the fd limit
      s"""k$i AS MATERIALIZED (SELECT a FROM (SELECT a, count(*) AS d FROM e$p GROUP BY a)
         |        WHERE d >= $k),
         |e$i AS MATERIALIZED (SELECT e.a, e.b FROM e$p e
         |        WHERE e.a IN (SELECT a FROM k$i) AND e.b IN (SELECT a FROM k$i))""".stripMargin
    }
    QueryDef.sql("graph_kcore",
      s"""WITH ec AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e0 AS MATERIALIZED (SELECT a, b FROM ec UNION ALL SELECT b, a FROM ec),
         |${(1 to rounds).map(roundCte).mkString(",\n")},
         |fin AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS core_deg
         |        FROM e$rounds GROUP BY a)
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |  node // 2 AS key, core_deg
         |FROM fin ORDER BY kind, key""".stripMargin) { (s, dir) =>
      val pairs = packedTradePairs(s, dir)
        .select(col("c").as("a"), col("s").as("b"))
      val e = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      kcorePeel(e, k, rounds)
        .select(when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
          expr("node div 2").as("key"), col("core_deg"))
        .orderBy(col("kind"), col("key"))
    }
  }

  /** The peel loop, factored for spec-ability: takes SYMMETRIZED edges
    * (a, b), returns (node, core_deg) for the k-core survivors after
    * `rounds` synchronous peels. GraphSpec pins cascade behavior
    * (chains that need the full round budget) on synthetic graphs.
    */
  def kcorePeel(symmetric: org.apache.spark.sql.DataFrame, k: Int,
                rounds: Int): org.apache.spark.sql.DataFrame = {
    // lazy checkpoint + count fuse to ONE job per round (Ckpt.lazyLocal)
    var e = symmetric.transform(graft.ops.Ckpt.lazyLocal)
    var last = e.count() // materializes the lazy checkpoint AND probes
    var i = 0
    var stable = false
    while (i < rounds && !stable) {
      val keep = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select(col("a").as("n"))
      // `last` (current edge count) bounds the survivor set's rows
      e = e.join(vhint(keep, last), col("a") === col("n"), "leftsemi")
        .join(vhint(keep, last), col("b") === col("n"), "leftsemi")
        .transform(graft.ops.Ckpt.lazyLocal)
      // peeling is monotone (edges only leave), so an unchanged edge
      // count IS the fixpoint — every later round would no-op, exactly
      // as the oracle's fixed-round replay does. Early exit trades the
      // remaining rounds' scheduling for one count over cached blocks.
      val n = e.count()
      stable = n == last
      last = n
      i += 1
    }
    e.groupBy(col("a").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Multi-source BFS hop distance over the bipartite trade graph:
    * every 100th customer seeds at distance 0; 3 synchronous frontier
    * expansions label each reached node with its hop count — the
    * "distance from trusted seed set" signal (TrustRank's propagation
    * skeleton) and the reachability primitive under crawl-frontier
    * scheduling.
    *
    * Frontier discipline, not min-agg relaxation: each round joins
    * ONLY the newly-reached frontier against the edge table, then
    * anti-joins the visited set — every edge is traversed at most once
    * per endpoint discovery, where the relax-everything alternative
    * re-joins the full distance table every round. Frontier and
    * visited are |V|-bounded (broadcast here; at crawl scale
    * pre-partition edges by src and drop the hints — both joins then
    * co-locate on the edge layout). Integer-only state: bit-exact at
    * any round count, so the oracle replays the identical 3 rounds as
    * materialized CTEs.
    */
  /** Bounded WEIGHTED shortest paths — Bellman–Ford limited to `rounds`
    * relaxation sweeps (the bounded-hop semantics [[graphBfs]] uses for
    * the unweighted case; exact SSSP on a crawl graph is run the same
    * way, with rounds set past the effective diameter). Edge weights
    * are deterministic BIGINTs derived from the packed endpoint ids
    * (1 + (a + b) % 9), so every distance is an exact integer both
    * engines agree on. The Spark loop is DELTA-relaxing: round i only
    * expands out of nodes round i−1 improved (the frontier discipline
    * of [[bfsLevels]]; a full-table re-relax per round would re-scan
    * every settled vertex — the textbook Bellman-Ford inefficiency) —
    * per round one frontier-join + grouped min + full-outer merge, each
    * Ckpt.eager'd so lineage stays flat. The oracle unrolls the same
    * rounds as CTEs, relaxing from the WHOLE table (min is idempotent,
    * so delta vs full relax is a pure execution choice).
    */
  val graphSssp: QueryDef = {
    val rounds = 3
    val inf = Long.MaxValue
    def roundCte(i: Int): String = {
      val p = i - 1
      s"""r$i AS (SELECT e.b AS node, min(v$p.dist + e.w) AS nd
         |        FROM e JOIN v$p ON v$p.node = e.a GROUP BY e.b),
         |v$i AS (SELECT coalesce(v$p.node, r$i.node) AS node,
         |          least(coalesce(v$p.dist, ${inf}), coalesce(r$i.nd, ${inf})) AS dist
         |        FROM v$p FULL JOIN r$i ON v$p.node = r$i.node)""".stripMargin
    }
    QueryDef.sql("graph_sssp",
      s"""WITH ec AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |ew AS (SELECT a, b, 1 + (a + b) % 9 AS w FROM ec),
         |e AS (SELECT a, b, w FROM ew UNION ALL SELECT b, a, w FROM ew),
         |v0 AS (SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist FROM ec
         |       WHERE a % 200 = 0),
         |${(1 to rounds).map(roundCte).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |  node // 2 AS key, dist
         |FROM v$rounds ORDER BY kind, key""".stripMargin) { (s, dir) =>
      val pairs = packedTradePairs(s, dir)
        .select(col("c").as("a"), col("s").as("b"))
      val ew = pairs.withColumn("w", lit(1L) + (col("a") + col("b")) % 9)
      val edges = ew.unionAll(ew.select(col("b").as("a"), col("a").as("b"), col("w")))
      val seeds = pairs.where(col("a") % 200 === 0).select(col("a").as("node")).distinct()
      ssspRounds(edges, seeds, rounds)
        .select(when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
          expr("node div 2").as("key"), col("dist"))
        .orderBy(col("kind"), col("key"))
    }
  }

  /** The bounded Bellman–Ford loop, factored for spec-ability: takes
    * weighted directed edges (a, b, w) (symmetrize before calling for
    * undirected graphs) and a seed set (node), returns (node, dist)
    * after `rounds` delta-relaxation sweeps (seeds at dist 0; a node's
    * distance is exact once its shortest path has ≤ rounds edges).
    * GraphSpec pins relaxation-through-cheaper-detour on a fixture.
    */
  def ssspRounds(edges: org.apache.spark.sql.DataFrame,
                 seeds: org.apache.spark.sql.DataFrame,
                 rounds: Int): org.apache.spark.sql.DataFrame = {
    val inf = Long.MaxValue
    var dist = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)).transform(graft.ops.Ckpt.lazyLocal)
    var delta = dist
    var i = 1
    var dc = delta.count()
    while (i <= rounds && dc > 0) {
      val cand = edges.join(
          vhint(delta.withColumnRenamed("node", "__dn"), dc),
          col("a") === col("__dn"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("nd"))
        .groupBy(col("node")).agg(min(col("nd")).as("nd"))
      val merged = dist.withColumnRenamed("dist", "__od")
        .join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("__od"), lit(inf)), coalesce(col("nd"), lit(inf))).as("dist"),
          (coalesce(col("nd"), lit(inf)) < coalesce(col("__od"), lit(inf))).as("__imp"))
        .transform(graft.ops.Ckpt.lazyLocal)
      delta = merged.where(col("__imp")).select(col("node"), col("dist"))
      dist = merged.select(col("node"), col("dist"))
      dc = delta.count()
      i += 1
    }
    dist
  }

  val graphBfs: QueryDef = {
    val rounds = 3
    def roundCte(i: Int): String = {
      val p = i - 1
      s"""f$i AS (SELECT DISTINCT e.b AS node FROM e JOIN v$p ON v$p.node = e.a
         |        WHERE e.b NOT IN (SELECT node FROM v$p)),
         |v$i AS (SELECT node, dist FROM v$p
         |        UNION ALL SELECT node, CAST($i AS BIGINT) FROM f$i)""".stripMargin
    }
    QueryDef.sql("graph_bfs",
      s"""WITH ec AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT a, b FROM ec UNION ALL SELECT b, a FROM ec),
         |v0 AS (SELECT DISTINCT a AS node, CAST(0 AS BIGINT) AS dist FROM ec
         |       WHERE a % 200 = 0),
         |${(1 to rounds).map(roundCte).mkString(",\n")}
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |  node // 2 AS key, dist
         |FROM v$rounds ORDER BY kind, key""".stripMargin) { (s, dir) =>
      val pairs = packedTradePairs(s, dir)
        .select(col("c").as("a"), col("s").as("b"))
      val edges = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      val seeds = pairs.where(col("a") % 200 === 0).select(col("a").as("node")).distinct()
      bfsLevels(edges, seeds, rounds)
        .select(when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
          expr("node div 2").as("key"), col("dist"))
        .orderBy(col("kind"), col("key"))
    }
  }

  /** The frontier loop, factored for spec-ability: takes SYMMETRIZED
    * edges (a, b) and a seed set (node), returns (node, dist) for every
    * node reached within `rounds` hops (seeds at dist 0). GraphSpec
    * pins hop counts on known chains/stars.
    */
  def bfsLevels(symmetric: org.apache.spark.sql.DataFrame,
                seeds: org.apache.spark.sql.DataFrame,
                rounds: Int): org.apache.spark.sql.DataFrame = {
    var frontier = seeds.withColumn("dist", lit(0L)).transform(graft.ops.Ckpt.lazyLocal)
    var visited = frontier
    var i = 1
    // an empty frontier is the fixpoint (nothing left to expand —
    // every later round would emit nothing, as the oracle's fixed-round
    // CTEs do); count() reads the just-checkpointed blocks — and doubles
    // as the vhint bound for the frontier semi-join
    var fc = frontier.count()
    while (i <= rounds && fc > 0) {
      val nxt = symmetric.join(vhint(frontier.select(col("node")), fc),
          col("a") === col("node"), "leftsemi")
        .select(col("b").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "leftanti")
        .withColumn("dist", lit(i.toLong))
        .transform(graft.ops.Ckpt.lazyLocal)
      // no re-checkpoint: both union legs are already materialized, so
      // the lineage is a depth-R union of checkpointed blocks — nothing
      // ever recomputes, and each round saves one materialization pass
      visited = visited.unionAll(nxt)
      frontier = nxt
      fc = frontier.count()
      i += 1
    }
    visited
  }

  /** Sampled-source closeness centrality (Eppstein–Wang estimation
    * shape): run a PER-SEED multi-source BFS — state keyed (seed, node)
    * — for `rounds` synchronous expansions, then score each seed
    * closeness = reached / Σdist over its distance table. The classic
    * "how central is this node" complement to pagerank's flow
    * centrality; sampling seeds (every 200th customer) is THE published
    * scale recipe — exact all-pairs closeness is O(V·E) and no one runs
    * it on a crawl graph.
    *
    * Same frontier discipline as [[bfsLevels]], with the visited/
    * frontier tables (seed, node)-keyed: rows bounded by seeds × |V|
    * (vhint'd with the per-round frontier count; at crawl scale drop
    * the hints and pre-partition edges by src). Integer-only state —
    * the oracle replays the identical rounds as materialized CTEs, and
    * the one double division per seed is exact-int in, round-6 out.
    */
  def closenessBfs(symmetric: org.apache.spark.sql.DataFrame,
                   seeds: org.apache.spark.sql.DataFrame,
                   rounds: Int): org.apache.spark.sql.DataFrame = {
    var frontier = seeds.select(col("node").as("seed"), col("node"), lit(0L).as("dist"))
      .transform(graft.ops.Ckpt.lazyLocal)
    var visited = frontier
    var i = 1
    var fc = frontier.count()
    while (i <= rounds && fc > 0) {
      val nxt = symmetric
        .join(vhint(frontier.select(col("seed"), col("node")), fc),
          col("a") === col("node"))
        .select(col("seed"), col("b").as("node")).distinct()
        .join(visited.select(col("seed"), col("node")), Seq("seed", "node"), "leftanti")
        .withColumn("dist", lit(i.toLong))
        .transform(graft.ops.Ckpt.lazyLocal)
      visited = visited.unionAll(nxt)
      frontier = nxt
      fc = frontier.count()
      i += 1
    }
    visited
  }

  val graphCloseness: QueryDef = {
    val rounds = 4
    def roundCte(i: Int): String = {
      val p = i - 1
      s"""f$i AS (SELECT DISTINCT v.seed, e.b AS node FROM e JOIN v$p v ON v.node = e.a
         |        WHERE NOT EXISTS (SELECT 1 FROM v$p x WHERE x.seed = v.seed AND x.node = e.b)),
         |v$i AS (SELECT seed, node, dist FROM v$p
         |        UNION ALL SELECT seed, node, CAST($i AS BIGINT) FROM f$i)""".stripMargin
    }
    QueryDef.sql("graph_closeness",
      s"""WITH ec AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT a, b FROM ec UNION ALL SELECT b, a FROM ec),
         |v0 AS (SELECT DISTINCT a AS seed, a AS node, CAST(0 AS BIGINT) AS dist FROM ec
         |       WHERE a % 400 = 0),
         |${(1 to rounds).map(roundCte).mkString(",\n")}
         |SELECT CASE WHEN seed % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |  seed // 2 AS key,
         |  CAST(count(*) - 1 AS BIGINT) AS n_reached,
         |  CAST(sum(dist) AS BIGINT) AS sum_dist,
         |  round((count(*) - 1) / CAST(sum(dist) AS DOUBLE), 6) AS closeness
         |FROM v$rounds GROUP BY 1, 2 ORDER BY kind, key""".stripMargin) { (s, dir) =>
      val pairs = packedTradePairs(s, dir)
        .select(col("c").as("a"), col("s").as("b"))
      val edges = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      val seeds = pairs.where(col("a") % 400 === 0).select(col("a").as("node")).distinct()
      closenessBfs(edges, seeds, rounds)
        .groupBy(col("seed"))
        .agg((count(lit(1)) - 1).as("n_reached"), sum(col("dist")).as("sum_dist"))
        .select(when(col("seed") % 2 === 0, "c").otherwise("s").as("kind"),
          expr("seed div 2").as("key"),
          col("n_reached"), col("sum_dist"),
          round(col("n_reached") / col("sum_dist").cast("double"), 6).as("closeness"))
        .orderBy(col("kind"), col("key"))
    }
  }

  /** Personalized-PageRank power loop: like [[pagerank]] but the
    * teleport mass returns to `seeds` (uniformly) instead of to every
    * node. Per round: one edges ⋈ broadcast(ranks) map-side join + one
    * node-keyed sum, with the seed teleport injected as a UNION into
    * the same aggregate (no outer join — nodes absent from the flow
    * simply contribute no term). Takes the degree-annotated edge table
    * (src, dst, outdeg) and the seed node list; same per-round
    * localCheckpoint discipline as [[pagerank]].
    */
  def ppr(edges: org.apache.spark.sql.DataFrame, seeds: org.apache.spark.sql.DataFrame,
          nSeeds: Long, iters: Int, damping: Double,
          nVerticesBound: Long = Long.MaxValue): org.apache.spark.sql.DataFrame = {
    val teleport = 1.0 - damping
    var ranks = seeds.select(col("node"), lit(1.0 / nSeeds).as("pr"))
    // round 1's state is seeds-sized; every later round's is reach-set-
    // sized, bounded by the caller's vertex bound
    var bound = nSeeds
    for (_ <- 1 to iters) {
      val flow = edges.join(vhint(ranks, bound), col("src") === col("node"))
        .groupBy(col("dst"))
        .agg((lit(damping) * sum(col("pr") / col("outdeg"))).as("pr"))
        .select(col("dst").as("node"), col("pr"))
      ranks = flow
        .unionAll(seeds.select(col("node"), lit(teleport / nSeeds).as("pr")))
        .groupBy(col("node")).agg(sum(col("pr")).as("pr"))
        .transform(graft.ops.Ckpt.lazyLocal)
      bound = nVerticesBound
    }
    // materialize the final round before the caller releases its cached
    // inputs (graphPpr unpersists edges/deg/seeds right after this call)
    ranks.count()
    ranks
  }

  /** Personalized PageRank (the random walk teleports back to a SEED
    * SET instead of everywhere — Jeh & Widom 2003, the seed-expansion
    * primitive behind "find data similar to this curated set"): seeds
    * are the customers with key <= 5, teleport mass splits evenly
    * across them, 6 power rounds at d = 0.85 via [[ppr]]. Output:
    * top-20 nodes by relative rank, ordered on the ROUNDED value
    * (+ node key) so the cut is cross-engine stable.
    */
  val graphPpr: QueryDef = {
    val damping = 0.85
    val iters = 6
    val recur = (1 to iters).map { i =>
      s"""r$i AS (SELECT node, sum(pr) AS pr FROM (
         |  SELECT e.dst AS node, ${damping}e0 * sum(r.pr / e.outdeg) AS pr
         |  FROM e JOIN r${i - 1} r ON r.node = e.src GROUP BY e.dst
         |  UNION ALL SELECT node, 0.15e0 / (SELECT k FROM ns) FROM seeds) u
         |GROUP BY node)""".stripMargin
    }.mkString(",\n")
    QueryDef.sql("graph_ppr",
      // e is referenced once per power round and DuckDB inlines plain
      // CTEs — each round re-ran the orders⨝lineitem DISTINCT
      // (graph_ppr: 5.9 s of the sf0.01 oracle run, r16 verdict).
      // MATERIALIZED is a pure evaluation hint; algebra unchanged.
      s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |eu AS (SELECT c AS src, s AS dst FROM e0
         |       UNION ALL SELECT s AS src, c AS dst FROM e0),
         |deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM eu GROUP BY src),
         |e AS MATERIALIZED (SELECT eu.src, eu.dst, d.outdeg FROM eu JOIN deg d USING (src)),
         |nv AS (SELECT count(*) AS n FROM deg),
         |seeds AS (SELECT src AS node FROM deg WHERE src % 2 = 0 AND src // 2 <= 5),
         |ns AS (SELECT count(*) AS k FROM seeds),
         |r0 AS (SELECT node, 1.0e0 / (SELECT k FROM ns) AS pr FROM seeds),
         |$recur
         |SELECT kind, key, ppr_rel FROM (
         |  SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |    node // 2 AS key, round(pr * (SELECT n FROM nv), 3) AS ppr_rel
         |  FROM r$iters) t
         |ORDER BY ppr_rel DESC, kind, key LIMIT 20""".stripMargin) { (s, dir) =>
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val pairs = packedTradePairs(s, dir)
      val undirected = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
      val deg = undirected.groupBy(col("src")).agg(count(lit(1)).as("outdeg")).persist(mem)
      val nv = deg.count()
      val edges = undirected.join(deg, Seq("src")).persist(mem)
      val seeds = deg.where(col("src") % 2 === 0 && expr("src div 2") <= 5)
        .select(col("src").as("node")).persist(mem)
      val nS = seeds.count()
      val ranks = ppr(edges, seeds, nS, iters, damping, nVerticesBound = nv)
      Seq(edges, deg, seeds).foreach(_.unpersist(false))
      ranks.select(
        when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
        expr("node div 2").as("key"),
        round(col("pr") * nv, 3).as("ppr_rel"))
        .orderBy(col("ppr_rel").desc, col("kind"), col("key")).limit(20)
    }
  }

  /** Deterministic random-walk sampling (the node2vec/DeepWalk corpus
    * generator, Grover & Leskovec 2016 / Perozzi et al. 2014): one
    * 4-step walk per seed (customers key <= 20), where step t moves to
    * the neighbor minimizing hash('rw', walk:t:neighbor) — a uniform
    * choice that is a pure function of (walk, step, neighbor), so the
    * corpus is reproducible across runs/engines and the oracle can
    * check it. Each step is ONE equi-join of the frontier on the edge
    * table + a per-walk min — the 100 TB shape (frontier rows ≪ edges;
    * no adjacency collection to the driver). The min is taken as
    * min(h) then min(dst) at that h, which is engine-order-independent
    * even under hash ties.
    */
  val graphRandomWalk: QueryDef = {
    val steps = 4
    def h(stepLit: Int) = OracleSql.hash64("'rw'",
      s"CAST(walk AS VARCHAR) || ':' || '$stepLit' || ':' || CAST(dst AS VARCHAR)")
    val stepCtes = (1 to steps).map { t =>
      s"""s${t}c AS (SELECT w.walk, e.dst, ${h(t)} AS h
         |  FROM w${t - 1} w JOIN e ON e.src = w.node),
         |s${t}m AS (SELECT walk, min(h) AS mh FROM s${t}c GROUP BY walk),
         |w$t AS (SELECT c.walk, $t AS step, min(c.dst) AS node
         |  FROM s${t}c c JOIN s${t}m m ON c.walk = m.walk AND c.h = m.mh
         |  GROUP BY c.walk)""".stripMargin
    }.mkString(",\n")
    val unionAll = (0 to steps).map(t => s"SELECT walk, step, node FROM w$t").mkString("\nUNION ALL ")
    QueryDef.sql("graph_random_walk",
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT c AS src, s AS dst FROM e0
         |      UNION ALL SELECT s AS src, c AS dst FROM e0),
         |seeds AS (SELECT DISTINCT src AS node FROM e WHERE src % 2 = 0 AND src // 2 <= 20),
         |w0 AS (SELECT node AS walk, 0 AS step, node FROM seeds),
         |$stepCtes
         |SELECT walk, CAST(step AS BIGINT) AS step, node FROM (
         |$unionAll) u ORDER BY walk, step""".stripMargin) { (s, dir) =>
      import graft.ops.TextOps
      TextOps.ensureFunctions(s)
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val pairs = packedTradePairs(s, dir)
      val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
        .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
        .persist(mem)
      val seeds = edges.where(col("src") % 2 === 0 && expr("src div 2") <= 20)
        .select(col("src").as("node")).distinct()
      var frontier = seeds.select(col("node").as("walk"), lit(0).as("step"), col("node"))
      val positions = scala.collection.mutable.Buffer(frontier)
      for (t <- 1 to steps) {
        val cand = frontier.select(col("walk"), col("node"))
          .join(edges, col("node") === col("src"))
          .select(col("walk"), col("dst"),
            expr(TextOps.portableHash64Sql("'rw'",
              s"concat(CAST(walk AS STRING), ':', '$t', ':', CAST(dst AS STRING))")).as("h"))
        // argmin by (h, dst) in ONE aggregation: the struct min orders by
        // h first, then dst — exactly "min h, tie-break min dst", without
        // the min-h join-back (one shuffle per hop instead of three)
        frontier = cand
          .groupBy(col("walk"))
          .agg(min(struct(col("h"), col("dst"))).as("m"))
          .select(col("walk"), lit(t).as("step"), col("m.dst").as("node"))
          .transform(graft.ops.Ckpt.eager)
        positions += frontier
      }
      edges.unpersist(false)
      positions.reduce(_ unionAll _)
        .select(col("walk"), col("step").cast("long").as("step"), col("node"))
        .orderBy(col("walk"), col("step"))
    }
  }

  /** Modularity audit of the label-propagation communities (Newman &
    * Girvan 2004): per community c, Q_c = L_c/m − (D_c/2m)² where L_c
    * is the intra-community edge count, D_c the degree mass and m the
    * (undirected) edge count — positive means denser-than-random, the
    * quantitative answer to "are graph_label_prop's communities real
    * structure or noise" (Σ Q_c is the global modularity). Rerun after
    * any LP knob change: a partition whose Q collapses means the round
    * budget or tie policy broke it.
    *
    * Shape: labels (|V| rows) broadcast against the directed pair list
    * for the intra count; degree mass rolls up from the same cached
    * edge set; m is a one-row scalar cross join. All-integer counts →
    * the round-6 division is bit-identical cross-engine.
    */
  val graphModularity: QueryDef = QueryDef.sql("graph_modularity",
    s"""WITH $lpOracleCtes,
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
       |deg AS (SELECT a AS node, count(*) AS d FROM e GROUP BY 1),
       |intra AS (SELECT x.label, CAST(count(*) AS BIGINT) AS lc
       |          FROM e0 JOIN r$lpIters x ON x.node = e0.a JOIN r$lpIters y ON y.node = e0.b
       |          WHERE x.label = y.label GROUP BY 1),
       |ds AS (SELECT r.label, CAST(count(*) AS BIGINT) AS n_nodes, CAST(sum(d.d) AS BIGINT) AS dc
       |       FROM r$lpIters r JOIN deg d USING (node) GROUP BY 1)
       |SELECT ds.label, ds.n_nodes, coalesce(intra.lc, 0) AS l_intra, ds.dc AS d_sum,
       |  round(coalesce(intra.lc, 0) / CAST(m.m AS DOUBLE)
       |    - (ds.dc / (2.0 * m.m)) * (ds.dc / (2.0 * m.m)), 6) AS q_c
       |FROM ds LEFT JOIN intra USING (label) CROSS JOIN m
       |ORDER BY label""".stripMargin) { (s, dir) =>
    val pairs = strongPairs(s, dir)
    val undirected = pairs.select(col("i").as("src"), col("j").as("dst"))
      .unionAll(pairs.select(col("j").as("src"), col("i").as("dst")))
    val labels = labelPropagation(undirected, lpIters)
    val m = pairs.agg(count(lit(1)).as("m"))
    val deg = undirected.groupBy(col("src").as("node")).agg(count(lit(1)).as("d"))
    val nl = labels.count() // cheap: labelPropagation checkpoints its result
    val intra = pairs
      .join(vhint(labels.select(col("node").as("i"), col("label").as("la")), nl), "i")
      .join(vhint(labels.select(col("node").as("j"), col("label").as("lb")), nl), "j")
      .where(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("lc"))
    val ds = labels.join(deg, "node")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("d")).as("dc"))
    ds.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("lc"), lit(0L)).as("l_intra"), col("dc").as("d_sum"),
        round(coalesce(col("lc"), lit(0L)) / col("m").cast("double")
          - (col("dc") / (lit(2.0) * col("m"))) * (col("dc") / (lit(2.0) * col("m"))), 6).as("q_c"))
      .orderBy(col("label"))
  }

  /** Per-node LOCAL clustering coefficient over the co-supply graph —
    * the node-granular companion to [[graphTriangles]]'s one-row global
    * census: lcc(v) = t(v) / (d(v) choose 2), the fraction of v's
    * neighbor pairs that are themselves connected. The crawl-graph
    * quality reading: high-lcc nodes sit in tight communities (link
    * farms score ~1.0), low-lcc high-degree nodes are genuine hubs —
    * a standard per-page spam feature next to pagerank.
    *
    * Same degree-oriented wedge join as the census (each triangle found
    * ONCE, as (u < v < w) in (deg, id) order, O(m^1.5) work bound), then
    * one explode: a triangle credits each of its three corners, so
    * per-node counts are a groupBy over 3·T rows — never a per-node
    * neighborhood materialization (a hub's neighbor SET never ships).
    * Nodes with d >= 2 and no closed wedge emit lcc = 0 via the left
    * join; d < 2 nodes have no defined lcc and are excluded in both
    * engines.
    */
  val graphClusteringCoeff: QueryDef = {
    val minSup = 8
    QueryDef.sql("graph_clustering_coeff",
      s"""WITH per AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
         |p AS (SELECT a.sk AS x, b.sk AS y FROM per a JOIN per b ON a.o = b.o AND a.sk < b.sk),
         |e AS (SELECT x, y FROM p GROUP BY x, y HAVING count(*) >= $minSup),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
         |        FROM (SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e) GROUP BY n),
         |o AS (SELECT CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.x ELSE e.y END AS u,
         |             CASE WHEN (dx.d, e.x) < (dy.d, e.y) THEN e.y ELSE e.x END AS v
         |      FROM e JOIN deg dx ON dx.n = e.x JOIN deg dy ON dy.n = e.y),
         |tr AS (SELECT w1.u AS a, w1.v AS b, w2.v AS c
         |       FROM o w1 JOIN o w2 ON w2.u = w1.v
         |            JOIN o w3 ON w3.u = w1.u AND w3.v = w2.v),
         |pn AS (SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
         |         SELECT a AS n FROM tr UNION ALL SELECT b FROM tr
         |         UNION ALL SELECT c FROM tr) GROUP BY n)
         |SELECT deg.n AS node, deg.d AS degree, coalesce(pn.t, 0) AS n_tri,
         |  round(2.0 * coalesce(pn.t, 0) / (deg.d * (deg.d - 1)), 6) AS lcc
         |FROM deg LEFT JOIN pn ON pn.n = deg.n
         |WHERE deg.d >= 2 ORDER BY node""".stripMargin) { (s, dir) =>
      val mem = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      require(minSup == 8, "coSupplyEdges memo is built at support 8")
      val e = coSupplyEdges(s, dir) // session-persisted; do not re-persist/unpersist
      val deg = e.select(col("x").as("n")).unionAll(e.select(col("y").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .persist(mem)
      val flip = struct(col("dx.d"), col("e.x")) < struct(col("dy.d"), col("e.y"))
      val oriented = e.as("e")
        .join(deg.as("dx"), col("dx.n") === col("e.x"))
        .join(deg.as("dy"), col("dy.n") === col("e.y"))
        .select(when(flip, col("e.x")).otherwise(col("e.y")).as("u"),
          when(flip, col("e.y")).otherwise(col("e.x")).as("v"))
        .persist(mem)
      val tri = oriented.as("w1")
        .join(oriented.as("w2"), col("w2.u") === col("w1.v"))
        .join(oriented.as("w3"),
          col("w3.u") === col("w1.u") && col("w3.v") === col("w2.v"))
        .select(col("w1.u").as("a"), col("w1.v").as("b"), col("w2.v").as("c"))
      val perNode = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("n"))
        .groupBy(col("n")).agg(count(lit(1)).as("t"))
      val out = deg.where(col("d") >= 2)
        .join(perNode, Seq("n"), "left")
        .select(col("n").as("node"), col("d").cast("long").as("degree"),
          coalesce(col("t"), lit(0L)).as("n_tri"),
          round(lit(2.0) * coalesce(col("t"), lit(0L)) /
            (col("d") * (col("d") - 1)), 6).as("lcc"))
        .orderBy(col("node"))
      val rows = out.transform(graft.ops.Ckpt.eager)
      oriented.unpersist(false); deg.unpersist(false)
      rows
    }
  }

  /** Degree assortativity (Newman 2002) of the co-supply graph — the
    * one-number "do hubs link to hubs?" census beside the triangle
    * census: Pearson correlation of the endpoint degrees over every
    * DIRECTED edge (both orientations of each undirected edge, the
    * standard symmetrization). Crawl-graph reading: strong negative r is
    * hub-and-spoke (organic web), r ≈ +1 flags mirror farms / link rings
    * — a corpus-level structural quality signal.
    *
    * Determinism discipline: degrees are integers, so ALL five moment
    * sums (Σx, Σy, Σxy, Σx², Σy²) are exact BIGINTs in both engines; the
    * single double division happens once at the end, round-6. No
    * engine-specific corr() implementation is trusted.
    *
    * Shape at 100 TB: two joins of the edge list against the |V|-sized
    * degree table (shuffle equi-joins; AQE broadcasts when deg fits),
    * then one grand aggregate — no per-node neighborhood state.
    */
  val graphAssortativity: QueryDef = {
    val minSup = 8
    QueryDef.sql("graph_assortativity",
      s"""WITH per AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS sk FROM lineitem),
         |p AS (SELECT a.sk AS x, b.sk AS y FROM per a JOIN per b ON a.o = b.o AND a.sk < b.sk),
         |e AS (SELECT x, y FROM p GROUP BY x, y HAVING count(*) >= $minSup),
         |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
         |        FROM (SELECT x AS n FROM e UNION ALL SELECT y AS n FROM e) GROUP BY n),
         |e2 AS (SELECT x AS a, y AS b FROM e UNION ALL SELECT y, x FROM e),
         |j AS (SELECT da.d AS dx, db.d AS dy
         |      FROM e2 JOIN deg da ON da.n = e2.a JOIN deg db ON db.n = e2.b),
         |m AS (SELECT CAST(count(*) AS BIGINT) AS m2,
         |             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
         |             CAST(sum(dx * dy) AS BIGINT) AS sxy,
         |             CAST(sum(dx * dx) AS BIGINT) AS sxx,
         |             CAST(sum(dy * dy) AS BIGINT) AS syy
         |      FROM j)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
         |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
         |  round((m2 * sxy - sx * sy) /
         |        nullif(sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)) *
         |               sqrt(CAST(m2 * syy - sy * sy AS DOUBLE)), 0), 6) AS assortativity
         |FROM m""".stripMargin) { (s, dir) =>
      require(minSup == 8, "coSupplyEdges memo is built at support 8")
      val e = coSupplyEdges(s, dir) // session-persisted; do not re-persist/unpersist
      val deg = e.select(col("x").as("n")).unionAll(e.select(col("y").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val e2 = e.select(col("x").as("a"), col("y").as("b"))
        .unionAll(e.select(col("y").as("a"), col("x").as("b")))
      val j = e2
        .join(deg.select(col("n"), col("d").as("dx")), col("n") === col("a")).drop("n")
        .join(deg.select(col("n"), col("d").as("dy")), col("n") === col("b")).drop("n")
      val m = j.agg(count(lit(1)).as("m2"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      val stats = deg.agg(count(lit(1)).cast("long").as("n_nodes"))
        .crossJoin(e.agg(count(lit(1)).cast("long").as("n_edges")))
      // a degree-regular graph has zero degree variance: assortativity
      // is undefined -> NULL (nullif also keeps ANSI mode from aborting)
      val out = m.crossJoin(stats)
        .select(col("n_nodes"), col("n_edges"),
          round((col("m2") * col("sxy") - col("sx") * col("sy")) /
            nullif(sqrt((col("m2") * col("sxx") - col("sx") * col("sx")).cast("double")) *
              sqrt((col("m2") * col("syy") - col("sy") * col("sy")).cast("double")), lit(0.0)), 6)
            .as("assortativity"))
      out.transform(graft.ops.Ckpt.eager)
    }
  }

  /** Edge reciprocity of the DIRECTED nation trade graph (customer
    * nation → supplier nation per lineitem, self-loops excluded, thinned
    * to above-mean-weight edges so the metric is not saturated by the
    * dense tail): the share of directed edges whose reverse also
    * qualifies, plus the weighted variant Σ min(w_ab, w_ba) / Σ w —
    * "how much of the flow is mutual". The one directed-graph structure
    * metric the family lacked (components/triangles/assortativity all
    * symmetrize); imbalance here is the trade-deficit signal.
    *
    * Determinism: weights and counts are exact BIGINTs; the mean-weight
    * threshold is one double division of two exact ints (identical in
    * both engines), and the two output ratios round-6 once at the end.
    *
    * Shape at 100 TB: the cost is the fact-table resolution (lineitem ⋈
    * orders shuffles on orderkey; customer/supplier dims broadcast),
    * collapsing immediately to a ≤|N|² edge list — the reciprocity
    * self-join and threshold run on a table the optimizer broadcasts.
    */
  val graphReciprocity: QueryDef = QueryDef.sql("graph_reciprocity",
    """WITH e0 AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |         CAST(count(*) AS BIGINT) AS w
      |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |       JOIN customer c ON o.o_custkey = c.c_custkey
      |       JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |       WHERE c.c_nationkey <> s.s_nationkey
      |       GROUP BY 1, 2),
      |e AS (SELECT src, dst, w FROM e0
      |      WHERE w > (SELECT sum(w) * 1.0 / count(*) FROM e0)),
      |j AS (SELECT a.src, a.dst, a.w, b.w AS wr
      |      FROM e a LEFT JOIN e b ON b.src = a.dst AND b.dst = a.src)
      |SELECT CAST(count(*) AS BIGINT) AS n_edges,
      |  CAST(count(wr) AS BIGINT) AS n_recip,
      |  round(count(wr) * 1.0 / count(*), 6) AS reciprocity,
      |  round(sum(CASE WHEN wr IS NULL THEN 0 ELSE least(w, wr) END) * 1.0
      |        / sum(w), 6) AS w_reciprocity
      |FROM j""".stripMargin) { (s, dir) =>
    val (out, _) = reciprocityFrames(s, dir) // edge list stays memoized
    out.transform(graft.ops.Ckpt.eager)
  }

  /** (above-mean directed nation-trade edges, cached weighted edge
    * list) — the shared construction behind [[graphReciprocity]] and
    * [[graphScc]]. The weighted edge list is a session artifact
    * ("graph.nation_edges", like [[packedTradePairs]]): the
    * lineitem ⋈ orders ⋈ dims resolution — the whole family's cost —
    * runs once per (session, dir). Callers must NOT unpersist it.
    */
  private[graft] def nationEdgeFrames(s: org.apache.spark.sql.SparkSession,
                                      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val e0 = graft.ops.Artifacts.frame(s, dir,
        Seq("lineitem", "orders", "customer", "supplier"), "graph.nation_edges") {
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        // dims UN-hinted: parquet stats put customer/supplier far under
        // the broadcast threshold at any tested SF (the planner still
        // picks BroadcastHashJoin — PlanSpec pins it), while a
        // billion-customer corpus gets a shuffle join instead of a
        // forced-broadcast OOM. Same discipline as vhint, via stats.
        .join(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_nationkey").as("src")),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_nationkey").as("dst")),
          col("l_suppkey") === col("s_suppkey"))
        .where(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    }
    val mean = e0.agg((sum(col("w")) * lit(1.0) / count(lit(1))).as("mw"))
    val e = e0.crossJoin(broadcast(mean)).where(col("w") > col("mw"))
      .select(col("src"), col("dst"), col("w"))
    (e, e0)
  }

  /** The shared nation-graph oracle CTE prefix (e0 → above-mean e). */
  // e0/e are ≤ n_nations² aggregate rows but cost a 4-table TPC-H join
  // to produce, and every consumer references e (or e0, via the mean
  // subquery) at least twice — MATERIALIZED stops DuckDB re-running the
  // join per inlined reference (pure evaluation hint, algebra unchanged)
  private val nationEdgeCtes: String =
    """e0 AS MATERIALIZED (SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
      |         CAST(count(*) AS BIGINT) AS w
      |       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |       JOIN customer c ON o.o_custkey = c.c_custkey
      |       JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |       WHERE c.c_nationkey <> s.s_nationkey
      |       GROUP BY 1, 2),
      |e AS MATERIALIZED (SELECT src, dst, w FROM e0
      |      WHERE w > (SELECT sum(w) * 1.0 / count(*) FROM e0))""".stripMargin

  /** (result, cached edge list) — split out so PlanSpec can assert on
    * the pre-checkpoint plan (localCheckpoint erases it to an RDD scan).
    */
  private[graft] def reciprocityFrames(s: org.apache.spark.sql.SparkSession,
                                       dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val (e, e0) = nationEdgeFrames(s, dir)
    val j = e.as("a").join(broadcast(e.select(col("src").as("bsrc"),
        col("dst").as("bdst"), col("w").as("wr"))),
      col("bsrc") === col("a.dst") && col("bdst") === col("a.src"), "left")
    val out = j.agg(count(lit(1)).as("n_edges"),
        count(col("wr")).as("n_recip"),
        round(count(col("wr")) * lit(1.0) / count(lit(1)), 6).as("reciprocity"),
        round(sum(when(col("wr").isNull, 0L).otherwise(least(col("w"), col("wr")))) * lit(1.0)
          / sum(col("w")), 6).as("w_reciprocity"))
    (out, e0)
  }

  /** HITS hubs & authorities (Kleinberg 1999; fixed 4 rounds) over the
    * DIRECTED bipartite customer→supplier trade graph: customers are
    * pure hubs (out-links only), suppliers pure authorities —
    * a(s) = Σ_{c→s} h(c), then h(c) = Σ_{c→s} a(s), the mutual
    * recursion PageRank's single score can't express (a customer is
    * important for POINTING at important suppliers, not for being
    * pointed at). No per-round normalization: the iteration is linear,
    * so normalizing once at the end yields the same direction with
    * fewer float ops, and 4 rounds of integer-weighted sums stay ~1e23
    * — far inside double range. Emitted per vertex as score relative
    * to uniform (score·V_side/Σ_side), the pagerank `pr_rel`
    * convention.
    *
    * Determinism: each round's per-vertex sum is order-dependent
    * double arithmetic; 8 summation layers compound to ~1e-10
    * relative, so round-3 emission keeps the boundary-straddle
    * exposure ≈ 4k vertices × 1e-10/1e-3 ≈ 4e-7 (the pagerank
    * analysis, one layer deeper).
    *
    * Shape at 100 TB: identical to pagerank's — the memoized DISTINCT
    * pair table is the only fact-sized input; each round joins the
    * vertex-sized score vector (broadcast here; at crawl scale, a
    * pinned src-partitioned edge cache) against the static edge table
    * and aggregates. Rounds move score rows, never edges.
    */
  val graphHits: QueryDef = {
    val iters = 4
    val recur = (1 to iters).map { i =>
      s"""a$i AS (SELECT e0.s AS node, sum(h.h) AS a FROM e0 JOIN h${i - 1} h ON h.node = e0.c GROUP BY e0.s),
         |h$i AS (SELECT e0.c AS node, sum(a.a) AS h FROM e0 JOIN a$i a ON a.node = e0.s GROUP BY e0.c)""".stripMargin
    }.mkString(",\n")
    QueryDef.sql("graph_hits",
      s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
         |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |h0 AS (SELECT c AS node, 1.0e0 AS h FROM (SELECT DISTINCT c FROM e0)),
         |$recur,
         |sa AS (SELECT sum(a) AS t, CAST(count(*) AS BIGINT) AS k FROM a$iters),
         |sh AS (SELECT sum(h) AS t, CAST(count(*) AS BIGINT) AS k FROM h$iters)
         |SELECT kind, key, score FROM (
         |  SELECT 's' AS kind, node // 2 AS key,
         |    round((a * (SELECT k FROM sa)) / (SELECT t FROM sa), 3) AS score FROM a$iters
         |  UNION ALL
         |  SELECT 'c' AS kind, node // 2 AS key,
         |    round((h * (SELECT k FROM sh)) / (SELECT t FROM sh), 3) AS score FROM h$iters)
         |ORDER BY kind, key""".stripMargin) { (s, dir) =>
      val (a, h) = hitsScores(packedTradePairs(s, dir), iters)
      val sa = a.agg(sum(col("a")).as("t"), count(lit(1)).as("k"))
      val sh = h.agg(sum(col("h")).as("t"), count(lit(1)).as("k"))
      val aOut = a.crossJoin(broadcast(sa)).select(lit("s").as("kind"),
        expr("node div 2").as("key"),
        round((col("a") * col("k")) / col("t"), 3).as("score"))
      val hOut = h.crossJoin(broadcast(sh)).select(lit("c").as("kind"),
        expr("node div 2").as("key"),
        round((col("h") * col("k")) / col("t"), 3).as("score"))
      aOut.unionAll(hOut).orderBy(col("kind"), col("key"))
    }
  }

  /** The HITS iteration core over DISTINCT directed hub→authority
    * pairs (c, s): `iters` rounds of a = Aᵀh then h = A·a from h₀ ≡ 1,
    * UN-normalized (see [[graphHits]]). Returns (authorities (node, a),
    * hubs (node, h)). Factored for GraphSpec's planted-geometry pins.
    */
  private[graft] def hitsScores(pairs: org.apache.spark.sql.DataFrame,
                                iters: Int): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    var h = pairs.select(col("c").as("node")).distinct()
      .select(col("node"), lit(1.0).as("h"))
    var a: org.apache.spark.sql.DataFrame = null
    // distinct c / distinct s are both bounded by the pair count; one
    // count over the (memoized, persisted) pair table bounds every round
    val bound = pairs.count()
    for (_ <- 1 to iters) {
      // a stays UN-checkpointed: its join+agg runs inside h's broadcast
      // build, so each round is ONE job (two joins, two aggs) instead of
      // two — half the barrier count of the checkpoint-both form
      a = pairs.join(vhint(h, bound), col("node") === col("c"))
        .groupBy(col("s")).agg(sum(col("h")).as("a"))
        .select(col("s").as("node"), col("a"))
      h = pairs.join(vhint(a, bound), col("node") === col("s"))
        .groupBy(col("c")).agg(sum(col("a")).as("h"))
        .select(col("c").as("node"), col("h"))
        .transform(graft.ops.Ckpt.lazyLocal)
    }
    // the final authorities feed two consumers (Σ/count and the output
    // rows) — materialize once
    (a.transform(graft.ops.Ckpt.eager), h)
  }

  /** Strongly connected components of the above-mean nation-trade
    * digraph via bounded-horizon transitive closure: 3 path-doubling
    * rounds (R ← R ∪ R∘R, reach radius 8 ≥ any 25-node trade cycle),
    * mutual pairs M = R ∩ Rᵀ, scc_id(v) = min(v, min{u : v⇄u}).
    * Reciprocated above-mean trade (graph_reciprocity counts it at
    * ~28%) chains into multi-nation cycles; the SCC rollup names them.
    *
    * Determinism: pure set algebra on integer pairs — no floats
    * anywhere; the doubling horizon is part of the operator's
    * definition and the oracle unrolls the identical 3 rounds, so
    * parity holds even if a >8-hop cycle ever appeared.
    *
    * Shape at 100 TB: path-doubling is O(log d) rounds of equi-join +
    * distinct — but the closure PAIR TABLE is what you must bound, so
    * this operator is for QUOTIENT digraphs (nation-, source-,
    * domain-level rollups, 1e3-1e6 nodes), the graphs metadata
    * pipelines actually query. At raw-crawl scale you run FW-BW
    * decomposition and contract; the contracted quotient then feeds
    * exactly this closure. Every round is an equi-join on 8-byte keys
    * with map-side-combined distinct.
    */
  val graphScc: QueryDef = {
    val doublings = 3
    // every closure CTE is referenced 2-3× by the next round and DuckDB
    // inlines plain CTEs — r3's expansion held ~27 copies of r0, each
    // re-running the 4-table nation-trade aggregation (measured: this
    // oracle alone cost 119.7 s of the 251 s sf0.01 correctness run,
    // r16 verdict). MATERIALIZED is a pure evaluation hint (the
    // knnGraphCtes precedent); the replayed algebra is unchanged.
    val closure = (1 to doublings).map { i =>
      s"""r$i AS MATERIALIZED (SELECT src, dst FROM r${i - 1}
         |  UNION SELECT a.src, b.dst FROM r${i - 1} a JOIN r${i - 1} b ON a.dst = b.src)""".stripMargin
    }.mkString(",\n")
    QueryDef.sql("graph_scc",
      s"""WITH $nationEdgeCtes,
         |r0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM e),
         |$closure,
         |m AS MATERIALIZED (SELECT a.src AS v, a.dst AS u
         |      FROM r$doublings a JOIN r$doublings b ON b.src = a.dst AND b.dst = a.src),
         |nodes AS (SELECT src AS v FROM e UNION SELECT dst FROM e),
         |scc AS (SELECT n.v, least(n.v, coalesce(min(m.u), n.v)) AS scc_id
         |        FROM nodes n LEFT JOIN m ON m.v = n.v GROUP BY n.v),
         |sz AS (SELECT scc_id, CAST(count(*) AS BIGINT) AS scc_size FROM scc GROUP BY 1)
         |SELECT v AS nationkey, scc_id, scc_size
         |FROM scc JOIN sz USING (scc_id) ORDER BY v""".stripMargin) { (s, dir) =>
      val (e, _) = nationEdgeFrames(s, dir) // edge list stays memoized
      sccComponents(e.select(col("src"), col("dst")), doublings)
        .select(col("v").as("nationkey"), col("scc_id"), col("scc_size"))
        .orderBy(col("nationkey")).transform(graft.ops.Ckpt.eager)
    }
  }

  /** The SCC core over a directed edge frame (src, dst): bounded-
    * horizon closure (`doublings` path-doubling rounds, reach radius
    * 2^doublings) → mutual-pair intersect → min-label scc_id. Returns
    * (v, scc_id, scc_size) for every endpoint vertex. Factored for
    * GraphSpec's known-digraph pins; see [[graphScc]] for semantics.
    */
  private[graft] def sccComponents(e: org.apache.spark.sql.DataFrame,
                                   doublings: Int): org.apache.spark.sql.DataFrame = {
    // lazy per-round checkpoints (r17-opt): each round's two references
    // to r share ONE underlying checkpointed RDD, so the next round's
    // (or the caller's) first action materializes every level exactly
    // once — one job total instead of one per doubling
    var r = e.distinct().transform(graft.ops.Ckpt.lazyLocal)
    for (_ <- 1 to doublings) {
      val l = r.select(col("src"), col("dst").as("mid"))
      val rr = r.select(col("src").as("mid2"), col("dst"))
      r = r.unionAll(
          l.join(rr, col("mid") === col("mid2")).select(col("src"), col("dst")))
        .distinct().transform(graft.ops.Ckpt.lazyLocal)
    }
    val rev = r.select(col("src").as("rs"), col("dst").as("rd"))
    val m = r.join(rev, col("src") === col("rd") && col("dst") === col("rs"))
      .select(col("src").as("v"), col("dst").as("u"))
    val nodes = e.select(col("src").as("v")).unionAll(e.select(col("dst").as("v"))).distinct()
    val scc = nodes.join(m, Seq("v"), "left")
      .groupBy(col("v")).agg(min(col("u")).as("mu"))
      .select(col("v"), least(col("v"), coalesce(col("mu"), col("v"))).as("scc_id"))
    val sz = scc.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
    scc.join(sz, "scc_id").select(col("v"), col("scc_id"), col("scc_size"))
  }

  /** Power-law fit of the trade-graph degree distribution: OLS of
    * ln(#nodes with degree d) against ln(d) over the degree histogram —
    * the text_zipf of graphs. A crawl/link graph's health check: a
    * near-linear log-log decay (slope ≈ −2..−3, high R²) is the
    * scale-free signature; a hump or truncated tail flags a bot farm
    * or a crawler trap flattening the distribution. Slope/R² via the
    * same engine-native regr_* aggregates text_zipf pins, round-6 over
    * exact integer histogram points.
    *
    * Shape at 100 TB: degrees are one rollup of the memoized pair
    * table; the histogram collapses |V| rows to ≤ max-degree points
    * (map-side combined) and the regression is a one-row aggregate of
    * that tiny table.
    */
  val graphPowerlaw: QueryDef = QueryDef.sql("graph_powerlaw",
    """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d
      |        FROM (SELECT c AS n FROM e0 UNION ALL SELECT s FROM e0) GROUP BY n),
      |h AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM deg GROUP BY d)
      |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
      |  CAST(count(*) AS BIGINT) AS n_points,
      |  CAST(max(d) AS BIGINT) AS max_deg,
      |  round(regr_slope(ln(cnt), ln(d)), 6) AS slope,
      |  round(regr_r2(ln(cnt), ln(d)), 6) AS r2
      |FROM h""".stripMargin) { (s, dir) =>
    val pairs = packedTradePairs(s, dir)
    val deg = pairs.select(col("c").as("n")).unionAll(pairs.select(col("s").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val h = deg.groupBy(col("d")).agg(count(lit(1)).as("cnt"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val fit = h.agg(count(lit(1)).as("n_points"), max(col("d")).as("max_deg"),
      round(regr_slope(log(col("cnt")), log(col("d"))), 6).as("slope"),
      round(regr_r2(log(col("cnt")), log(col("d"))), 6).as("r2"))
    val rows = nNodes.crossJoin(fit)
      .select(col("n_nodes"), col("n_points"), col("max_deg"), col("slope"), col("r2"))
      .transform(graft.ops.Ckpt.eager)
    deg.unpersist(false)
    rows
  }

  /** Brandes forward pass with shortest-path COUNTING: [[closenessBfs]]
    * extended to carry sigma — a newly discovered node's path count is
    * the SUM of its frontier parents' counts (one groupBy on the same
    * (seed, node) keying before the visited anti-join). Integer-exact
    * state: (seed, node, dist, sigma) all BIGINT.
    */
  def brandesForward(symmetric: org.apache.spark.sql.DataFrame,
                     seeds: org.apache.spark.sql.DataFrame,
                     rounds: Int): org.apache.spark.sql.DataFrame = {
    var frontier = seeds.select(col("node").as("seed"), col("node"),
        lit(0L).as("dist"), lit(1L).as("sigma"))
      .transform(graft.ops.Ckpt.lazyLocal)
    var visited = frontier
    var i = 1
    var fc = frontier.count()
    while (i <= rounds && fc > 0) {
      val nxt = symmetric
        .join(vhint(frontier.select(col("seed"), col("node"), col("sigma")), fc),
          col("a") === col("node"))
        .groupBy(col("seed"), col("b"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("seed"), col("b").as("node"), col("sigma"))
        .join(visited.select(col("seed"), col("node")), Seq("seed", "node"), "leftanti")
        .select(col("seed"), col("node"), lit(i.toLong).as("dist"), col("sigma"))
        .transform(graft.ops.Ckpt.lazyLocal)
      visited = visited.unionAll(nxt)
      frontier = nxt
      fc = frontier.count()
      i += 1
    }
    visited
  }

  /** Brandes backward dependency accumulation over the forward table:
    * processing levels deepest-first, a node's dependency is
    * δ(v) = σv · Σ over DAG successors w (edge v→w, dist w = dist v+1)
    * of (1 + δw)/σw — σv factored OUT of the sum so each level costs
    * ONE edge join against the just-finalized deeper level (the deeper
    * level is the only state table the edges meet; the level being
    * finalized joins the already-aggregated per-parent sums, which are
    * level-sized, not edge-join-sized). Zero-successor nodes keep
    * delta 0 via the left join. Returns (seed, node, dist, sigma,
    * delta) for every reached node.
    */
  def brandesDeltas(symmetric: org.apache.spark.sql.DataFrame,
                    fwd: org.apache.spark.sql.DataFrame,
                    rounds: Int, stateBound: Long): org.apache.spark.sql.DataFrame = {
    var prev = fwd.where(col("dist") === rounds)
      .select(col("seed"), col("node"), col("dist"), col("sigma"),
        lit(0.0).as("delta"))
      .transform(graft.ops.Ckpt.lazyLocal)
    var acc = prev
    for (r <- (rounds - 1) to 0 by -1) {
      val lvl = fwd.where(col("dist") === r)
        .select(col("seed"), col("node"), col("dist"), col("sigma"))
      val contrib = symmetric
        .join(vhint(prev.select(col("seed"), col("node").as("wnode"),
          col("sigma").as("wsigma"), col("delta").as("wdelta")), stateBound),
          col("b") === col("wnode"))
        .groupBy(col("seed"), col("a"))
        .agg(sum((lit(1) + col("wdelta")) / col("wsigma")).as("s"))
        .select(col("seed"), col("a").as("node"), col("s"))
      val dlvl = lvl.join(contrib, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), col("dist"), col("sigma"),
          coalesce(col("sigma").cast("double") * col("s"), lit(0.0)).as("delta"))
        .transform(graft.ops.Ckpt.lazyLocal)
      acc = acc.unionAll(dlvl)
      prev = dlvl
    }
    acc
  }

  /** Distance distribution from sampled sources (the ANF / effective-
    * diameter estimate, Palmer et al. 2002): histogram of BFS distances
    * over the (seed, node) reach table plus the cumulative share curve —
    * the "how many hops until you've seen 90% of the graph" number a
    * crawl audit reads. Pure reuse of [[closenessBfs]]'s frontier loop
    * (different seed stride so the two queries sample independently);
    * counts exact, the share one double division per distance row.
    */
  val graphDistanceHist: QueryDef = {
    val rounds = 3
    def roundCte(i: Int): String = {
      val p = i - 1
      s"""f$i AS (SELECT DISTINCT v.seed, e.b AS node FROM e JOIN v$p v ON v.node = e.a
         |        WHERE NOT EXISTS (SELECT 1 FROM v$p x WHERE x.seed = v.seed AND x.node = e.b)),
         |v$i AS (SELECT seed, node, dist FROM v$p
         |        UNION ALL SELECT seed, node, CAST($i AS BIGINT) FROM f$i)""".stripMargin
    }
    QueryDef.sql("graph_distance_hist",
      s"""WITH ec AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT a, b FROM ec UNION ALL SELECT b, a FROM ec),
         |v0 AS (SELECT DISTINCT a AS seed, a AS node, CAST(0 AS BIGINT) AS dist FROM ec
         |       WHERE a % 600 = 0),
         |${(1 to rounds).map(roundCte).mkString(",\n")}
         |SELECT dist, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(sum(count(*)) OVER (ORDER BY dist) AS DOUBLE)
         |        / sum(count(*)) OVER (), 6) AS cum_share
         |FROM v$rounds GROUP BY dist ORDER BY dist""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = packedTradePairs(s, dir)
        .select(col("c").as("a"), col("s").as("b"))
      val edges = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      val seeds = pairs.where(col("a") % 600 === 0).select(col("a").as("node")).distinct()
      closenessBfs(edges, seeds, rounds)
        .groupBy(col("dist")).agg(count(lit(1)).as("n_pairs"))
        .select(col("dist"), col("n_pairs"),
          round(sum(col("n_pairs")).over(Window.orderBy(col("dist"))).cast("double") /
            sum(col("n_pairs")).over(Window.partitionBy()), 6).as("cum_share"))
        .orderBy(col("dist"))
    }
  }

  /** Sampled-source betweenness centrality (Brandes 2001 with pivot
    * sampling — Brandes & Pich 2007, the published recipe for graphs
    * where exact O(V·E) betweenness is unrunnable): forward BFS with
    * path counting from every 800th customer, then backward dependency
    * accumulation, bc(v) = Σ_seeds δ_s(v) over non-seed nodes. σ and
    * the level structure are integer-exact; δ is the one double
    * recurrence (σ ratios), so the output rounds to 3 decimals like
    * graph_ppr's flow values, with n_src (seeds reaching the node) as
    * the exact-integer anchor. The oracle replays the identical
    * forward/backward rounds as materialized CTE chains.
    *
    * Scale shape: per-round state is (seeds × reach)-keyed and rides
    * the [[vhint]] conditional broadcast; edges never move. At crawl
    * scale drop the hints and pre-partition edges by src — and more
    * seeds just means a longer seed list, not a new plan.
    */
  val graphBetweenness: QueryDef = {
    val rounds = 3
    def fwdCte(i: Int): String = {
      val p = i - 1
      s"""f$i AS (SELECT v.seed, e.b AS node, CAST(sum(v.sigma) AS BIGINT) AS sigma
         |        FROM e JOIN v$p v ON v.node = e.a
         |        WHERE NOT EXISTS (SELECT 1 FROM v$p x WHERE x.seed = v.seed AND x.node = e.b)
         |        GROUP BY v.seed, e.b),
         |v$i AS (SELECT seed, node, dist, sigma FROM v$p
         |        UNION ALL SELECT seed, node, CAST($i AS BIGINT), sigma FROM f$i)""".stripMargin
    }
    def bwdCte(r: Int): String = {
      val w = r + 1
      s"""c$r AS (SELECT w.seed, e.a AS node, sum((1 + w.delta) / w.sigma) AS s
         |        FROM e JOIN l$w w ON w.node = e.b GROUP BY w.seed, e.a),
         |l$r AS (SELECT l.seed, l.node, l.sigma,
         |          coalesce(CAST(l.sigma AS DOUBLE) * c.s, CAST(0 AS DOUBLE)) AS delta
         |        FROM v$rounds l LEFT JOIN c$r c ON c.seed = l.seed AND c.node = l.node
         |        WHERE l.dist = $r)""".stripMargin
    }
    QueryDef.sql("graph_betweenness",
      s"""WITH ec AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
         |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |e AS (SELECT a, b FROM ec UNION ALL SELECT b, a FROM ec),
         |v0 AS (SELECT DISTINCT a AS seed, a AS node, CAST(0 AS BIGINT) AS dist,
         |         CAST(1 AS BIGINT) AS sigma FROM ec WHERE a % 800 = 0),
         |${(1 to rounds).map(fwdCte).mkString(",\n")},
         |l$rounds AS (SELECT seed, node, sigma, CAST(0 AS DOUBLE) AS delta
         |       FROM v$rounds WHERE dist = $rounds),
         |${((rounds - 1) to 0 by -1).map(bwdCte).mkString(",\n")},
         |acc AS (${(0 to rounds).map(r => s"SELECT seed, node, delta FROM l$r")
            .mkString(" UNION ALL ")})
         |SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
         |  node // 2 AS key, CAST(count(*) AS BIGINT) AS n_src,
         |  round(sum(delta), 3) AS bc
         |FROM acc WHERE node <> seed GROUP BY 1, 2 ORDER BY kind, key""".stripMargin) { (s, dir) =>
      val pairs = packedTradePairs(s, dir)
        .select(col("c").as("a"), col("s").as("b"))
      val edges = pairs.unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      val seeds = pairs.where(col("a") % 800 === 0).select(col("a").as("node")).distinct()
      val fwd = brandesForward(edges, seeds, rounds)
      val deltas = brandesDeltas(edges, fwd, rounds, stateBound = fwd.count())
      deltas.where(col("node") =!= col("seed"))
        .groupBy(col("node"))
        .agg(count(lit(1)).as("n_src"), sum(col("delta")).as("bc"))
        .select(when(col("node") % 2 === 0, "c").otherwise("s").as("kind"),
          expr("node div 2").as("key"), col("n_src"), round(col("bc"), 3).as("bc"))
        .orderBy(col("kind"), col("key"))
    }
  }

  val all: Seq[QueryDef] = Seq(graphPagerank, graphTriangles, graphComponents,
    graphDegreeStats, graphLabelProp, graphJaccard, graphKcore, graphBfs, graphSssp,
    graphCloseness,
    graphPpr, graphRandomWalk, graphModularity, graphClusteringCoeff,
    graphAssortativity, graphReciprocity, graphHits, graphScc, graphPowerlaw,
    graphBetweenness, graphDistanceHist)
}
