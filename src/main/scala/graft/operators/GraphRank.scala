package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Materialize

/** Integer-exact PageRank over an undirected pair relation — graph
  * centrality for the near-dup graph. d15 picks a cluster's canonical
  * document by a quality score; this ranks by STRUCTURE: the doc most
  * densely connected to its near-dup neighborhood (the hub the variants
  * derive from) gets the highest rank, which is the other standard
  * canonical-selection signal when no quality column exists.
  *
  * All arithmetic is scaled BIGINT with truncating division, so ranks are
  * bit-identical across engines and across partitionings (integer sums
  * commute; no float accumulation order enters). One rank unit = 1/scale.
  * Fixed iteration count: rank_0 = scale/N;
  * rank_{t+1}(v) = (15*scale/100)/N + (85 * Σ_{u~v} rank_t(u)/deg(u)) / 100
  * (every division truncating).
  *
  * Scale notes (100 TB): per iteration = one shuffle of the edge relation
  * joined to current ranks on `src` (ranks are |nodes| rows, edges carry
  * their degree from a precomputed join) and one aggregation on `dst` —
  * the standard distributed PageRank shape, linear per iteration, driver
  * holds nothing. The dup graph's components are tiny (near-dup clusters),
  * so 3 iterations already separate hubs from leaves; iteration count is
  * the caller's knob.
  */
object GraphRank {

  val Scale = 1000000000000L // 1e12: rank mass fits 2^63 with the 85x margin

  /** (node, rank) for every node of the undirected graph given by
    * `pairs(aCol, bCol)`, after `iters` exact integer PageRank rounds.
    *
    * The edge+degree relation is materialized ONCE (eager localCheckpoint,
    * the dupClusters/KMeans iteration shape) — every iteration re-reads the
    * materialized blocks instead of re-deriving the (possibly expensive)
    * pair relation, and the node count is a one-scalar driver round-trip
    * that turns the per-iteration base term into a literal (no 1-row
    * cross join in the loop).
    */
  def pagerank(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters=$iters out of [1,20]")
    val edges = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, Seq("src")).localCheckpoint()
    val nodes = ed.select(col("src").as("node")).distinct().localCheckpoint()
    val nn = nodes.count()
    if (nn == 0) return nodes.select(col("node"), lit(0L).as("rank"))
    val base = (15L * Scale / 100) / nn
    var r = nodes.select(col("node"), lit(Scale / nn).as("rank"))
    for (_ <- 1 to iters) {
      // Symmetric graph ⇒ every node has in-edges, so the aggregation
      // covers all nodes and no dangling-mass term is needed.
      r = ed.join(r, col("src") === col("node"))
        .select(col("dst"), expr("rank DIV deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("in_sum"))
        .select(col("dst").as("node"),
          (lit(base) + expr("(85 * in_sum) DIV 100")).as("rank"))
    }
    r
  }

  /** DuckDB mirror: unrolled iteration CTEs over `pairsRel(id_a, id_b)`.
    * Returns a full statement selecting (node, rank).
    */
  def pagerankSql(pairsRel: String, iters: Int): String = {
    val base = s"${15L * Scale / 100} // nn"
    val steps = (1 to iters).map { t =>
      s"""r$t AS (
         |  SELECT e.dst AS node,
         |    CAST(($base) + (85 * SUM(r.rank // e.deg)) // 100 AS BIGINT) AS rank
         |  FROM ed e JOIN r${t - 1} r ON e.src = r.node CROSS JOIN nn
         |  GROUP BY e.dst, nn.nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED ($pairsRel),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY 1),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON e.src = d.src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT COUNT(*) AS nn FROM nodes),
       |r0 AS (
       |  SELECT node, CAST($Scale // nn AS BIGINT) AS rank
       |  FROM nodes CROSS JOIN nn),
       |$steps
       |SELECT node, rank FROM r$iters""".stripMargin
  }

  /** Per-node triangle count and local clustering coefficient over the
    * undirected graph given by `pairs(aCol, bCol)` — how CLIQUE-LIKE each
    * doc's near-dup neighborhood is. A template family (one source, many
    * shallow edits) forms a near-clique (lcc→1); a chain of pairwise
    * overlaps (A~B~C but A!~C) has lcc 0 — a structural signal PageRank
    * (volume) and cluster size (reach) both miss.
    *
    * Triangles are enumerated once each on the `a<b<c`-oriented edge list:
    * wedges `a<b<c` from `e(a,b) ⋈ e(b,c)`, closed by probing `e(a,c)`.
    * Two equi-joins, both on edge keys — per-key fan-out is bounded by the
    * max oriented out-degree, and near-dup graph components are tiny, so
    * the wedge relation stays linear-ish in |E|. (The classic refinement —
    * orient by (degree, id) instead of raw id to bound out-degree by
    * O(sqrt|E|) on power-law graphs — drops in here by re-keying `ord`;
    * raw-id orientation keeps the oracle replay trivially identical.)
    *
    * `lcc_bp` is integer basis points — (20000 * tri) DIV (deg * (deg-1))
    * — exact BIGINT arithmetic, bit-identical across engines, no float
    * division in the compare path.
    */
  def triangles(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = pairs.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .distinct().localCheckpoint() // read once, reused by 3 self-joins
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val tris = wedges.join(e.as("e3"),
      col("x") === col("e3.a") && col("z") === col("e3.b"))
    val perNode = tris
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri"))
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") >= 2,
          expr("(20000 * coalesce(tri, 0)) DIV (deg * (deg - 1))"))
          .otherwise(lit(0L)).as("lcc_bp"))
  }

  /** DuckDB mirror of [[triangles]] over `pairsRel(id_a, id_b)`. */
  def trianglesSql(pairsRel: String): String =
    s"""WITH pairs AS MATERIALIZED ($pairsRel),
       |e AS (
       |  SELECT DISTINCT LEAST(id_a, id_b) AS a, GREATEST(id_a, id_b) AS b
       |  FROM pairs),
       |tris AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e1.b = e2.a
       |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |per_node AS (
       |  SELECT node, COUNT(*) AS tri FROM (
       |    SELECT x AS node FROM tris
       |    UNION ALL SELECT y FROM tris
       |    UNION ALL SELECT z FROM tris)
       |  GROUP BY 1),
       |deg AS (
       |  SELECT node, COUNT(*) AS deg FROM (
       |    SELECT a AS node FROM e UNION ALL SELECT b FROM e)
       |  GROUP BY 1)
       |SELECT d.node, d.deg, COALESCE(p.tri, 0) AS tri,
       |  CASE WHEN d.deg >= 2
       |    THEN (20000 * COALESCE(p.tri, 0)) // (d.deg * (d.deg - 1))
       |    ELSE 0 END AS lcc_bp
       |FROM deg d LEFT JOIN per_node p ON d.node = p.node""".stripMargin

  /** Flatten a parent-pointer hierarchy (each node at most ONE parent) to
    * (node, root, depth) by pointer doubling: each round substitutes every
    * node's ancestor with that ancestor's ancestor and adds the hop
    * counts, so an H-deep chain resolves in ⌈log₂ H⌉ rounds — the
    * iterative-fixpoint answer to recursive CTEs, which Spark does not
    * have. Category trees, org charts, BOM containment, reply threads.
    *
    * Scale notes: one self-equi-join per round on the ancestor key (same
    * exchange-per-round shape as d08's connected components), per-round
    * `localCheckpoint` to cut lineage, loud failure after `maxRounds`
    * (2^maxRounds depth) instead of a silent wrong answer. Cycles whose
    * length is not a power of two never converge and trip that guard; a
    * 2^k-cycle SELF-converges under doubling (2^rounds mod len = 0 makes
    * every member its own fixed ancestor), so convergence alone is not
    * proof of a forest — the post-convergence check below additionally
    * requires every resolved ancestor to be a true root (no outgoing
    * parent edge), which any cycle member fails.
    */
  def flattenHierarchy(edges: DataFrame, childCol: String, parentCol: String,
      maxRounds: Int = 20): DataFrame = Materialize { m =>
    val e = edges.select(col(childCol).cast("long").as("c"),
      col(parentCol).cast("long").as("p")).distinct().localCheckpoint()
    val nodes = e.select(col("c").as("node"))
      .union(e.select(col("p").as("node"))).distinct()
    // anc = parent where one exists, self at roots; d = hops folded in
    var state = nodes.join(e, nodes("node") === e("c"), "left")
      .select(col("node"), coalesce(col("p"), col("node")).as("anc"),
        when(col("p").isNotNull, lit(1L)).otherwise(lit(0L)).as("d"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // LAZY checkpoint: the convergence probe is the round's first action
      // over `next`, and its join's map stage computes every partition of
      // `next` — so the checkpoint materializes inside the job the round
      // already pays instead of costing an eager second job per round.
      // `state` is handed to the scope only after that probe has run (the
      // lazy checkpoint reads its parent — which includes `state` — on
      // first compute); the last `state` stays, the result reads it.
      val next = state.as("s")
        .join(state.select(col("node").as("anc"), col("anc").as("anc2"),
          col("d").as("d2")).as("t"), Seq("anc"))
        .select(col("node"), col("anc2").as("anc"),
          (col("d") + col("d2")).as("d"))
        .localCheckpoint(eager = false)
      converged = next.as("a").join(state.as("b"), Seq("node"))
        .filter(col("a.anc") =!= col("b.anc")).isEmpty
      m.adopt(state)
      state = next
      round += 1
    }
    require(converged, s"hierarchy did not flatten in $maxRounds doubling " +
      "rounds (depth > 2^rounds, or the parent relation has a cycle)")
    // Forest proof: a converged ancestor must be a ROOT. Power-of-two
    // cycles converge with every member as its own "ancestor" — still a
    // child in the edge relation, so this one semi-join catches them.
    val cyclic = state.join(e.select(col("c")),
      state("anc") === col("c"), "left_semi")
    require(cyclic.isEmpty,
      "parent relation has a cycle: some resolved ancestors are not roots")
    state.select(col("node"), col("anc").as("root"), col("d").as("depth"))
  }

  /** DuckDB mirror of [[flattenHierarchy]]: a recursive CTE walks each
    * node's parent chain to its root, counting hops.
    */
  def flattenHierarchySql(edgesRel: String): String =
    s"""WITH RECURSIVE e AS (
       |  SELECT DISTINCT CAST(child AS BIGINT) AS c, CAST(parent AS BIGINT) AS p
       |  FROM ($edgesRel)),
       |nodes AS (SELECT c AS node FROM e UNION SELECT p FROM e),
       |walk(node, anc, depth) AS (
       |  SELECT node, node, 0 FROM nodes
       |  UNION ALL
       |  SELECT w.node, e.p, w.depth + 1
       |  FROM walk w JOIN e ON w.anc = e.c)
       |SELECT node, arg_max(anc, depth) AS root,
       |  CAST(MAX(depth) AS BIGINT) AS depth
       |FROM walk GROUP BY node""".stripMargin

  /** Synchronous label-propagation COMMUNITIES over the undirected pair
    * graph: labels start as node ids; each round every node adopts the
    * most frequent label among its neighbors (tie → smallest label).
    * Deterministic by construction (fixed rounds, total tiebreak), unlike
    * the classic randomized-order LPA — which is what makes it
    * oracle-replayable. Communities differ from d08's connected
    * components: a component that is two dense cliques joined by one
    * bridge edge splits into two communities, the signal that separates
    * "two template families sharing one hybrid doc" from "one family".
    *
    * Scale notes (100 TB): per round = one shuffle of the edge relation
    * against |nodes| labels plus two key-partitioned aggregations —
    * linear per round, the Pregel shape with relational ops; the argmax
    * is a packed struct max (no row_number sort over the full
    * neighborhood relation). Edges are materialized once.
    */
  def labelProp(pairs: DataFrame, aCol: String, bCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters=$iters out of [1,20]")
    val ed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint()
    var lab = ed.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
    for (_ <- 1 to iters) {
      lab = ed.join(lab, col("src") === col("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("dst").as("node"), (-col("m.nl")).as("label"))
    }
    // community size via ONE window over the label exchange — an
    // agg+join tail would reference `lab` twice and re-evaluate the whole
    // (unmaterialized) iteration chain per branch (the dupWeights lesson;
    // round 12: d22 carried its double evaluation here)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("label"))
    lab.select(col("node"), col("label").as("community"),
      count(lit(1)).over(w).as("csize"))
  }

  /** Bounded-depth BFS from a seed set over the undirected graph
    * `pairs(aCol, bCol)`: one row (id, depth) per node within `maxDepth`
    * hops of any seed, depth = MIN hops (seeds at 0). d08's components
    * answer "same family ANYWHERE"; this answers "HOW CLOSE to a flagged
    * doc" — what a remove-within-k contamination policy actually consumes.
    *
    * Each round joins only the previous FRONTIER (depth = k-1 rows)
    * against the once-materialized edge relation and folds with a min-agg,
    * so per-round cost is frontier × mean-degree, never the whole
    * component; maxDepth bounds the rounds regardless of graph diameter.
    */
  def bfsDepths(pairs: DataFrame, aCol: String, bCol: String,
      seeds: DataFrame, seedCol: String, maxDepth: Int): DataFrame =
      Materialize { m =>
    require(maxDepth >= 0 && maxDepth <= 8, s"maxDepth=$maxDepth out of [0,8]")
    val ed = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .localCheckpoint()
    // Every round references the previous `reached` TWICE (frontier filter
    // + min-fold union), and nothing materializes between rounds — left
    // unshared, the seeds subtree (a full shingle + broadcast-semi-join
    // chain in d24) re-expands 2^maxDepth times inside the one final
    // action (Catalyst does not CSE across plan branches). Persisting each
    // round turns both references into scans of ONE InMemoryRelation —
    // no extra jobs (the caches materialize inside the final action) —
    // and the scope drops them once the result is computed.
    // (Round 12: d24 taskSec 11.9 → see OPTIMIZATION_r12.md.)
    var reached = m.persist(
      seeds.select(col(seedCol).as("id"), lit(0).as("depth")))
    for (k <- 1 to maxDepth) {
      val frontier = reached.filter(col("depth") === k - 1)
        .select(col("id").as("fid"))
      val next = ed.join(frontier, col("src") === col("fid"))
        .select(col("dst").as("id"), lit(k).as("depth"))
      reached = m.persist(reached.union(next)
        .groupBy(col("id")).agg(min(col("depth")).as("depth")))
    }
    m.result(reached)
  }

  /** DuckDB mirror of [[bfsDepths]]: unrolled frontier-expand + min-fold
    * CTEs over `pairsRel(id_a, id_b)` and `seedsRel` (one `id` column).
    *
    * Every round CTE is MATERIALIZED (the round-5 d16/d22 fix, applied
    * here in round 8): each r_k is referenced twice (frontier filter +
    * min-fold union) and ed once per round, so DuckDB's default inlining
    * re-expands the whole upstream chain — including the seeds' n-gram
    * overlap replay — per reference, which blew temp disk at sf1. With
    * the hints the composed replay runs in ~115 s at sf1 with zero
    * spill. Pure evaluation hint: results are identical.
    */
  def bfsDepthsSql(pairsRel: String, seedsRel: String, maxDepth: Int): String = {
    val steps = (1 to maxDepth).map { k =>
      s"""f$k AS MATERIALIZED (
         |  SELECT e.dst AS id, $k AS depth
         |  FROM ed e JOIN (SELECT id FROM r${k - 1} WHERE depth = ${k - 1}) f
         |    ON e.src = f.id),
         |r$k AS MATERIALIZED (
         |  SELECT id, MIN(depth) AS depth FROM
         |    (SELECT * FROM r${k - 1} UNION ALL SELECT * FROM f$k)
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    val chain = if (maxDepth == 0) "" else s",\n$steps"
    s"""WITH pairs AS MATERIALIZED ($pairsRel),
       |ed AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |r0 AS MATERIALIZED (SELECT id, 0 AS depth FROM ($seedsRel))$chain
       |SELECT id, CAST(depth AS INTEGER) AS depth FROM r$maxDepth""".stripMargin
  }

  /** DuckDB mirror of [[labelProp]]: unrolled per-round CTEs with a
    * (cnt DESC, label ASC) row_number argmax.
    */
  def labelPropSql(pairsRel: String, iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""s$t AS (
         |  SELECT e.dst, l.label, COUNT(*) AS cnt
         |  FROM ed e JOIN l${t - 1} l ON e.src = l.node GROUP BY 1, 2),
         |l$t AS (
         |  SELECT dst AS node, label FROM (
         |    SELECT dst, label, ROW_NUMBER() OVER (PARTITION BY dst
         |      ORDER BY cnt DESC, label ASC) AS rn
         |    FROM s$t) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED ($pairsRel),
       |ed AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed),
       |$steps,
       |sizes AS (SELECT label, COUNT(*) AS csize FROM l$iters GROUP BY 1)
       |SELECT l.node, l.label AS community, s.csize
       |FROM l$iters l JOIN sizes s ON l.label = s.label""".stripMargin
  }
}
