package graft.algos

import graft.model.OnionGraph
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Iterative graph traversals as DataFrame frontier loops.
 *
 * Re-expresses `searcher.search` (`searcher.py:157-242`),
 * `_bfs_traversal` (`searcher.py:119-155`) and `compute_on_shortest`
 * (`searcher.py:26-117`). The reference calls graph-tool's C++ BFS;
 * here each BFS round is one shuffle (frontier ⋈ edges, map-side
 * combined `min`), bounded by `maxDist` — exactly the reference's
 * search-space pruning (`searcher.py:208`). `localCheckpoint` every
 * few rounds keeps lineage bounded for deep traversals (SURVEY §7.4).
 *
 * One kernel per graph problem: BFS is [[bfsFrom]] (its GraphX Pregel
 * twin is [[GraphOps.pregelBfsSeeds]]) and weak components is the
 * star-contraction loop [[componentsLogRoundsPairs]]. The DataFrame
 * forms are the DuckDB-oracle-comparable path and are also what a
 * 100 TB run would use when the frontier stays FAR smaller than the
 * graph (semi-join pruning + AQE pick broadcast for small frontiers).
 */
object Traversals {

  sealed trait Direction
  case object Downstream extends Direction
  case object Upstream extends Direction
  case object Bi extends Direction

  private val CheckpointEvery = 5

  /** Frontier/visited rows below which [[bfsFrom]] broadcasts them
    * outside the small-loop scope. Checkpointed iteration state has no
    * Catalyst stats, so without the hint every round sort-merge-joins,
    * re-shuffling the FULL edge set once per round. Above this bound
    * the plain join keeps a large traversal from broadcasting a giant
    * visited table every round; it stays below the scope's 4M-row
    * bound until a large-graph A/B shows the higher bound is safe. */
  private val FrontierHintRows = 1000000L

  /** BFS hop distances from seed vertices, following src->dst
    * (downstream). Returns (vid, dist). Seeds get dist 0.
    * maxDist < 0 means unbounded (reachability closure, T2).
    *
    * Frontier form: work per round is O(|frontier| ⋈ edges) — the
    * right shape when the reached set stays far smaller than the
    * graph (small frontiers broadcast under AQE). For full-coverage
    * sweeps use [[GraphOps.pregelBfsSeeds]]. */
  def bfsFrom(edges: DataFrame, seeds: DataFrame, maxDist: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    // the codegen and small-loop gates must see the per-round edge
    // scan, not just the frontier: a loaded cached edge table reports
    // its row count for free, anything else pays one count per
    // traversal (amortized over rounds)
    val eRows = graft.SparkConfs.gateRows(e)
    var (frontier, frontierRows) = seedState(seeds)
    var visited = frontier
    var visitedRows = frontierRows
    var done = frontierRows == 0
    // no up-front state bound: frontier and visited are hinted by
    // their live row counts each round, and at any size inside the
    // scope, where AQE is off and nothing else would broadcast them
    graft.SparkConfs.rounds(edges.sparkSession, "bfsFrom", stateRows = -1L,
        workRows = eRows + frontierRows) { rs =>
    def hint(df: DataFrame, rows: Long): DataFrame =
      if (rs.scoped || rows < FrontierHintRows) broadcast(df) else df
    rs.whileDo(r => !done && (maxDist < 0 || r < maxDist)) { depth =>
      // Broadcast the (small) frontier into the edge join and the
      // visited set into the anti-join: the edge table never moves.
      // Anti-join BEFORE distinct — the anti side is a map-side
      // broadcast filter, so the distinct's shuffle carries only
      // genuinely new vertices instead of every matched edge row.
      // the count rides the checkpoint action, so each round is ONE
      // job — a separate count() job per round costs ~0.1s x rounds
      val (next, nextRows) =
        graft.SparkConfs.maybeInterpreted(frontier.sparkSession, eRows + visitedRows) {
          graft.SparkConfs.checkpointCounted(
            e.join(hint(frontier.select(col("vid").as("src")), frontierRows),
                Seq("src"))
              .select(col("dst").as("vid"))
              .join(hint(visited.select("vid"), visitedRows),
                Seq("vid"), "left_anti")
              .distinct()
              .withColumn("dist", lit(depth)))
        }
      frontierRows = nextRows
      if (frontierRows == 0) done = true
      else {
        frontier = next
        // lazy union of checkpointed frontiers; truncate periodically
        visited = visited.unionByName(frontier)
        visitedRows += frontierRows
        if (depth % CheckpointEvery == 0) visited = visited.localCheckpoint()
      }
    }
    }
    visited
  }

  /** The seed vertices at dist 0, checkpointed, and their count. */
  private def seedState(seeds: DataFrame): (DataFrame, Long) =
    graft.SparkConfs.checkpointCounted(
      seeds.select(col("vid")).distinct().withColumn("dist", lit(0)))

  /** `search` (T1): k-hop ego net distances from one (layer, nodeId)
    * seed. Returns (vid, dist) where dist = min hops in the requested
    * direction; `Bi` unions the downstream and upstream reached sets,
    * keeping the smaller dist (`searcher.py:222-223`).
    * `includeUpstreamChildren` adds direct out-neighbors of every
    * upstream-reached vertex at dist+1 (`searcher.py:212-216`). */
  def search(g: OnionGraph, layer: String, nodeId: String, maxDist: Int,
             direction: Direction = Downstream,
             includeUpstreamChildren: Boolean = false): DataFrame = {
    val seed = g.vertices.filter(col("layer") === layer && col("nodeId") === nodeId)
      .select("vid")
    direction match {
      case Downstream => bfsFrom(g.edges, seed, maxDist)
      case Upstream => bfsFrom(g.reverse.edges, seed, maxDist)
      case Bi =>
        val up = bfsFrom(g.reverse.edges, seed, maxDist)
        // children only join for bi — exactly searcher.py:212-216
        val upPlus =
          if (!includeUpstreamChildren) up
          else up.unionByName(g.edges
            .join(up.withColumnRenamed("vid", "src"), Seq("src"))
            .select(col("dst").as("vid"), (col("dist") + 1).as("dist")))
        bfsFrom(g.edges, seed, maxDist).unionByName(upPlus)
          .groupBy("vid").agg(min("dist").as("dist"))
    }
  }

  /** `_bfs_traversal`'s edge marking (T2, `searcher.py:119-155`): the
    * edges actually traversed by a closure sweep — downstream marks
    * edges whose SOURCE was visited, upstream edges whose TARGET was
    * visited. One semi-join against the reached set. */
  def reachableEdges(g: OnionGraph, seeds: DataFrame,
                     direction: Direction = Downstream): DataFrame = {
    def down = {
      val visited = bfsFrom(g.edges, seeds, -1)
      g.edges.join(visited.select(col("vid").as("src")), Seq("src"), "left_semi")
    }
    def up = {
      val visited = bfsFrom(g.reverse.edges, seeds, -1)
      g.edges.join(visited.select(col("vid").as("dst")), Seq("dst"), "left_semi")
    }
    direction match {
      case Downstream => down
      case Upstream => up
      // Bi = union of both sweeps' markings (the reference's
      // _bfs_traversal is directional; Bi composes the two)
      case Bi => down.unionByName(up).dropDuplicates(g.edges.columns.toIndexedSeq)
    }
  }

  /** Ego-net subgraph: vertices reached by [[search]] + induced edges
    * (graph-tool GraphView at `searcher.py:232`). */
  def egoNet(g: OnionGraph, layer: String, nodeId: String, maxDist: Int,
             direction: Direction = Downstream): OnionGraph = {
    val reached = search(g, layer, nodeId, maxDist, direction)
    val vs = g.vertices.join(reached, Seq("vid"))
    OnionGraph(vs, OnionGraph.inducedEdges(vs, g.edges))
  }

  /** `compute_on_shortest` (T3): vertices lying on SOME shortest
    * (unweighted) path from `source` to ANY of `targets`. Forward BFS
    * from the source + one multi-source backward BFS initialized at
    * dist 0 on all targets — the reference builds the same multi-source
    * pass with a weight-0 super-source (`searcher.py:72-88`). Keeps v
    * where fwd(v)+bwd(v) ∈ { fwd(t) : t ∈ targets }
    * (`searcher.py:90-103`). Returns (vid, on_shortest: boolean). */
  def onShortestPath(g: OnionGraph, source: Column, targets: Column): DataFrame = {
    val srcSeed = g.vertices.filter(source).select("vid")
    val tgtSeed = g.vertices.filter(targets).select("vid")
    val fwd = bfsFrom(g.edges, srcSeed, -1).withColumnRenamed("dist", "fwd")
    // backward pass is multi-source and sweeps most of the graph —
    // Pregel over the memoized directed projection (messages sent
    // dst->src), avoiding per-round driver round-trips; the forward
    // pass keeps the DataFrame frontier loop (small reached set)
    val bwd = GraphOps.pregelBfsSeeds(g, tgtSeed, reverse = true)
      .withColumnRenamed("dist", "bwd")
    val targetDists = fwd.join(tgtSeed, Seq("vid"), "left_semi")
      .select(col("fwd").as("td")).distinct()
    g.vertices.select("vid")
      .join(fwd, Seq("vid"), "left").join(bwd, Seq("vid"), "left")
      .join(targetDists.withColumnRenamed("td", "total"),
        col("fwd") + col("bwd") === col("total"), "left_semi")
      .select(col("vid"), lit(true).as("on_shortest"))
  }

  /** `view_components` weak variant (T4): connected components of the
    * symmetrized graph; labels are RELABELED to the lexicographic min
    * "layer:nodeId" of each component, so output is deterministic and
    * oracle-comparable (SURVEY §7.4 determinism note). Returns
    * (vid, component: string). Size thresholding
    * (`searcher.py:296-297`) composes on top via groupBy.
    *
    * Rides the O(log n)-round star-contraction kernel
    * [[componentsLogRoundsPairs]] — min-label propagation needs
    * Ω(diameter) rounds (a label crosses one edge per round), which a
    * mega-diameter 100 TB graph cannot afford (SCALE.md chain
    * measurements). Isolated vertices are their own component. */
  def weakComponents(g: OnionGraph): DataFrame = {
    val assign = componentsLogRoundsPairs(
        g.edges.select(col("src").as("a"), col("dst").as("b")))
      .select(col("id").as("vid"), col("comp").as("compVid"))
    relabelToMinName(g, g.vertices.select("vid")
      .join(assign, Seq("vid"), "left")
      .select(col("vid"),
        coalesce(col("compVid"), col("vid")).as("compVid")))
  }

  /** (vid, compVid) relabeled to each component's lexicographic-min
    * member name "layer:nodeId" — the deterministic output contract
    * of [[weakComponents]] and [[strongComponents]]. */
  private def relabelToMinName(g: OnionGraph, cc: DataFrame): DataFrame = {
    val labels = g.vertices
      .select(col("vid"), concat_ws(":", col("layer"), col("nodeId")).as("lbl"))
    val compLabel = cc.join(labels, Seq("vid"))
      .groupBy("compVid").agg(min("lbl").as("comp"))
    cc.join(compLabel, Seq("compVid")).select(col("vid"), col("comp"))
  }

  /** Weak components in O(log n) ROUNDS regardless of diameter, over
    * a plain (a, b) pair list — the one weak-components kernel:
    * [[weakComponents]], [[graft.ext.Dedup.nearDupClusters]] and the
    * Leiden refinement (scoped per community) all ride it. The
    * alternating large-star/small-star algorithm (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): star
    * contraction HALVES chain depth per round pair — large-star hangs
    * every larger neighbor of u off min(Γ(u) ∪ {u}), small-star hangs
    * u and its parents off their minimum, and the fixpoint is a star
    * forest rooted at each component's min id. Wholly deterministic
    * (min-based, no ordering sensitivity).
    *
    * Returns the converged star forest as (id, comp) with comp = the
    * component's MIN member id; roots and never-paired ids emit no
    * row (they are trivially their own component — callers coalesce).
    *
    * Scale shape: each round is a groupBy + join on the 8-byte id over
    * an edge set that only SHRINKS (star edges collapse duplicates);
    * rounds are O(log n) by the paper's potential argument, so a
    * 100 TB graph with a pathological diameter pays tens of rounds,
    * not millions. Convergence is checked exactly and for free: the
    * large-star checkpoint counts the edges that keep the input from
    * being a star forest, and a star forest is the fixpoint — so a
    * round is two checkpoints with no check job of its own, and a
    * pair list that already is a star forest (a matching, an
    * assignment) pays one large-star round. */
  def componentsLogRoundsPairs(pairs: DataFrame): DataFrame = {
    // canonical (child, parent) with parent < child; self-loops drop
    val (pairs0, mE) = graft.SparkConfs.checkpointCounted(pairs
      .select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var e = pairs0
    // the gate, REINSTATED at the r15 byte-derived bound (r14 shipped
    // it at InterpretedRows=20M and the verdict flagged a g07/g57
    // regression on a contended host; the r15 quiet-host A/B could not
    // reproduce it — g07 4.03 s with the gate vs 4.18 s without, g57
    // 3.58 vs 3.26 — while REMOVING the gate measurably regressed the
    // leiden refinement sweep that rides this kernel: g67 4.60→6.90 s,
    // g68 7.23→8.64 s. Net: keep the gate, at the 4M-row bound)
    graft.SparkConfs.rounds(pairs.sparkSession, "componentsLogRounds",
        graft.SparkConfs.endpointRows(e, "src", "dst", mE), 2 * mE) { rs =>
    var converged = mE == 0L
    rs.whileDo(_ => !converged) { _ =>
      val obs = new org.apache.spark.sql.Observation()
      val e1 = largeStarRound(e, rs.bc, obs).localCheckpoint()
      // a star forest is the fixpoint of both rounds: stop on it
      // before paying the small-star round
      if (obs.get("unstarred").asInstanceOf[Long] == 0L) converged = true
      else e = smallStarRound(e1, rs.bc).localCheckpoint()
    }
    }
    e.select(col("src").as("id"), col("dst").as("comp"))
  }

  /** Large-star: per node u over the symmetrized neighborhood, hang
    * every strictly-larger neighbor on m(u) = min(Γ(u) ∪ {u}).
    * Output stays canonical (parent < child). `obs` receives
    * "unstarred": the neighbor rows that show `e` is not yet a star
    * forest — a node with both a smaller and a larger neighbor (a
    * child that is also a parent), or a second smaller neighbor (two
    * parents). Zero means every node is a root or a child of exactly
    * one root, and the root, smaller than its children, is its
    * component's min. */
  private def largeStarRound(e: DataFrame, bc: DataFrame => DataFrame,
                             obs: org.apache.spark.sql.Observation): DataFrame = {
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    val m = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.join(bc(m), Seq("src"))
      .observe(obs, count(when(
        (col("m") < col("src") && col("dst") > col("src")) ||
          (col("dst") < col("src") && col("dst") =!= col("m")), 1))
        .as("unstarred"))
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Small-star: per child u over its (already canonical) parent set
    * P(u), hang u and every non-min parent on min(P(u)). Both edges
    * come out of one pass over the join, so `m` is broadcast once. */
  private def smallStarRound(e: DataFrame,
                             bc: DataFrame => DataFrame): DataFrame = {
    val m = e.groupBy("src").agg(min("dst").as("m"))
    e.join(bc(m), Seq("src"))
      .select(explode(when(col("dst") =!= col("m"),
          array(col("src"), col("dst"))).otherwise(array(col("src"))))
        .as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Strongly connected components as a pure DataFrame pipeline — the
    * scale path for the reference's DEFAULT connectivity mode
    * (`searcher.py:284-295` uses strong components), replacing the
    * GraphX SCC kernel flagged since SURVEY §7.4 (iteration-bounded
    * and shuffle-heavy at 100×). Forward-backward coloring (the FW-BW
    * multi-pivot scheme of Fleischer et al. 2000 / Orzan 2004, known
    * publicly from Slota et al.'s Multistep and the GBBS/gapbs SCC
    * codes). Each outer pass:
    *
    *  1. TRIM to fixpoint: a node with no in- or no out-edges in the
    *     remaining subgraph is its own SCC (cascading removals peel
    *     chains) — layered DAG-ish graphs, the common shape of
    *     dimensional data, resolve ENTIRELY here;
    *  2. COLOR: propagate max vid forward to fixpoint — color(v) =
    *     max vid over remaining nodes that reach v. Every SCC sits
    *     wholly inside one color class, and class roots (color(r)=r)
    *     carry the max vid of their SCC;
    *  3. BACKWARD sweep from all roots at once, restricted to
    *     same-color edges: the reached set of root r is exactly
    *     SCC(r) (any v→…→r path from v ∈ SCC(r) stays inside the SCC,
    *     so the color restriction loses nothing).
    *
    * Every round is a single-shuffle label-prop (labels ⋈ edges,
    * union with the old labels, max-agg) with O(V) state — no
    * pair-state, no GraphX runtime. Rounds per phase are bounded by
    * the remaining diameter; outer passes by the color-peeling depth
    * (1 for any DAG; pathological SCC-chain graphs degrade the same
    * way GraphX SCC does). Returns (vid, compVid) with compVid = max vid of the SCC —
    * callers relabel to names like [[weakComponents]]. */
  def strongComponentsDataFrame(g: OnionGraph): DataFrame =
      graft.SparkConfs.withoutConstraintPropagation(g.spark) {
    val spark = g.spark
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vid",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("compVid",
        org.apache.spark.sql.types.LongType, nullable = false)))
    var assigned = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], pairSchema)
    var nodes = g.vertices.select("vid").distinct().localCheckpoint()
    var nodeCount = nodes.count()
    // self-loops and parallel edges never change SCC membership
    var edges = g.edges.select("src", "dst")
      .where(col("src") =!= col("dst")).distinct().localCheckpoint()
    val eRows = edges.count()
    def dropAssigned(): Unit = {
      edges = edges
        .join(nodes.select(col("vid").as("src")), Seq("src"), "left_semi")
        .join(nodes.select(col("vid").as("dst")), Seq("dst"), "left_semi")
        .localCheckpoint()
    }
    graft.SparkConfs.maybeInterpreted(spark, eRows + nodeCount) {
      graft.SparkConfs.rounds(spark, "strongComponents").whileDo(_ => nodeCount > 0) { _ =>
        // ---- 1. trim trivial SCCs to fixpoint
        var trimming = true
        while (trimming && nodeCount > 0) {
          val srcs = edges.select(col("src").as("vid")).distinct()
          val dsts = edges.select(col("dst").as("vid")).distinct()
          val trimmed = nodes.join(srcs, Seq("vid"), "left_anti")
            .unionAll(nodes.join(dsts, Seq("vid"), "left_anti"))
            .distinct().localCheckpoint()
          val t = trimmed.count()
          if (t == 0) trimming = false
          else {
            assigned = assigned
              .unionAll(trimmed.select(col("vid"), col("vid").as("compVid")))
              .localCheckpoint(eager = false)
            nodes = nodes.join(trimmed, Seq("vid"), "left_anti").localCheckpoint()
            nodeCount -= t
            dropAssigned()
          }
        }
        if (nodeCount > 0) {
          // ---- 2. forward max-color propagation to fixpoint
          var colors = nodes.select(col("vid"), col("vid").as("color"))
            .localCheckpoint()
          var changed = 1L
          while (changed > 0) {
            val cand = edges
              .join(colors.select(col("vid").as("src"), col("color")), Seq("src"))
              .select(col("dst").as("vid"), col("color").as("c"),
                lit(null).cast("long").as("old"))
            val obs = new org.apache.spark.sql.Observation()
            val merged = colors
              .select(col("vid"), col("color").as("c"), col("color").as("old"))
              .unionAll(cand)
              .groupBy("vid").agg(max("c").as("newColor"), max("old").as("oldColor"))
              .observe(obs,
                count(when(col("newColor") > col("oldColor"), 1)).as("changed"))
              .localCheckpoint()
            changed = obs.get("changed").asInstanceOf[Long]
            colors = merged.select(col("vid"), col("newColor").as("color"))
          }
          // ---- 3. backward sweep from all color roots, same-color edges
          val ecc = edges
            .join(colors.select(col("vid").as("src"), col("color").as("cs")),
              Seq("src"))
            .join(colors.select(col("vid").as("dst"), col("color").as("cd")),
              Seq("dst"))
            .where(col("cs") === col("cd"))
            .select(col("src"), col("dst"), col("cs").as("color"))
            .localCheckpoint()
          var scc = colors.where(col("vid") === col("color"))
            .select(col("vid"), col("color")).localCheckpoint()
          var frontier = scc
          var frontierRows = frontier.count()
          while (frontierRows > 0) {
            val obs = new org.apache.spark.sql.Observation()
            val next = ecc
              .join(frontier.select(col("vid").as("dst"), col("color")),
                Seq("dst", "color"))
              .select(col("src").as("vid"), col("color"))
              .distinct()
              .join(scc.select("vid"), Seq("vid"), "left_anti")
              .observe(obs, count(lit(1)).as("n"))
              .localCheckpoint()
            frontierRows = obs.get("n").asInstanceOf[Long]
            if (frontierRows > 0) {
              scc = scc.unionAll(next).localCheckpoint(eager = false)
              frontier = next
            }
          }
          scc = scc.localCheckpoint()
          assigned = assigned
            .unionAll(scc.select(col("vid"), col("color").as("compVid")))
            .localCheckpoint(eager = false)
          nodes = nodes.join(scc.select("vid"), Seq("vid"), "left_anti")
            .localCheckpoint()
          nodeCount = nodes.count()
          dropAssigned()
        }
      }
      assigned.localCheckpoint()
    }
  }

  /** [[strongComponentsDataFrame]] relabeled to the lexicographic-min
    * member name per component — same deterministic output contract as
    * [[weakComponents]]. */
  def strongComponents(g: OnionGraph): DataFrame =
    relabelToMinName(g, strongComponentsDataFrame(g))

  /** Component-size histogram with threshold — the reference's one
    * true group-by aggregation (`searcher.py:296-297`). */
  def componentSizes(g: OnionGraph, minSize: Long = 1): DataFrame =
    weakComponents(g).groupBy("comp").agg(count(lit(1)).as("size"))
      .filter(col("size") >= minSize)

  /** Depth-scaled sizes (V(T5), `visualisation.py:273-308`): undirected
    * BFS depth from a root, linearly interpolated into [minS, maxS].
    * The full-component sweep runs as GraphX Pregel over the memoized
    * directed projection with bidirectional messages (the north-star
    * "GraphX for analytics" path) — supersteps avoid the per-round
    * driver round-trips and broadcast rebuilds of a DataFrame frontier
    * loop, and no symmetrized edge copy is ever materialized. */
  def depthScaledSizes(g: OnionGraph, layer: String, nodeId: String,
                       minS: Double, maxS: Double): DataFrame =
    depthScaledSizesAndText(g, layer, nodeId, minS, maxS, 8.0, 15.0)
      .drop("text_size")

  /** Longest-path ("topological depth") levels of a DAG: level(v) =
    * 0 for sources, else max over in-edges of level(pred) + 1 — the
    * dependency-depth statistic a lineage/build/stage planner reads
    * off a dependency graph (reference scope: onionnet's layer field
    * is an ASSIGNED level, core.py:68; this derives the structural
    * one from the edges). `rounds` bounds the max-plus sweep; on a
    * DAG the fixpoint is reached once rounds ≥ the longest path
    * length, and the sweep is monotone non-decreasing, so extra
    * rounds change nothing (spec-pinned). CYCLIC inputs never
    * converge by definition — condense first with
    * [[strongComponentsDataFrame]] and feed the quotient edges
    * (composition spec-pinned on a cyclic fixture).
    *
    * Scale shape per round: one equi-join of edges against the
    * current level table + a map-side-combinable max per head vertex
    * + a left join back — the frontier-join economics of every
    * bounded kernel here, no windows. Lineage checkpoint-truncated
    * per round. */
  def dagLevels(edges: DataFrame, vertices: DataFrame,
                rounds: Int): DataFrame = {
    require(rounds >= 1, s"dagLevels: rounds >= 1, got $rounds")
    val (e, mE) = graft.SparkConfs.checkpointCounted(edges.select(col("src"), col("dst"))
      .where(col("src") =!= col("dst")).distinct())
    val (lvl0, nV) = graft.SparkConfs.checkpointCounted(
      vertices.select(col("vid")).distinct().withColumn("level", lit(0L)))
    graft.SparkConfs.rounds(edges.sparkSession, "dagLevels", nV, nV + mE) { rs =>
    var lvl = lvl0
    rs.upTo(rounds) { _ =>
      val upd = e.join(rs.bc(lvl.withColumnRenamed("vid", "src")), Seq("src"))
        .groupBy(col("dst").as("vid"))
        .agg(max(col("level") + 1L).as("nl"))
      lvl = lvl.join(rs.bc(upd), Seq("vid"), "left")
        .select(col("vid"),
          greatest(col("level"), coalesce(col("nl"), lit(0L))).as("level"))
        .localCheckpoint(eager = false)
    }
    rs.materialize(lvl)
    }
  }

  /** Reference-parity dual output (`visualisation.py:273-308` returns
    * v_size AND v_text_size): one undirected BFS sweep, two linear
    * rescalings of the same depth column. */
  def depthScaledSizesAndText(g: OnionGraph, layer: String, nodeId: String,
                              minS: Double, maxS: Double,
                              minT: Double, maxT: Double): DataFrame = {
    val seed = g.vertices
      .filter(col("layer") === layer && col("nodeId") === nodeId)
      .select("vid")
    val depths = GraphOps.pregelBfsSeeds(g, seed, undirected = true)
    // max over an empty frame (unknown seed) is null — treat as depth
    // 1 and return the (empty) result instead of NPE-ing on getInt
    val maxRow = depths.agg(max("dist")).head()
    val maxDepth = (if (maxRow.isNullAt(0)) 1 else maxRow.getInt(0)).max(1)
    depths
      .withColumn("size",
        lit(maxS) - lit(maxS - minS) * col("dist") / lit(maxDepth.toDouble))
      .withColumn("text_size",
        lit(maxT) - lit(maxT - minT) * col("dist") / lit(maxDepth.toDouble))
  }
}
