package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Link-analysis / graph-mining operators over plain edge DataFrames —
 * the analytics layer the reference motivates with graph-tool's
 * algorithm suite (`/root/reference/README.md:5`) but never ships
 * itself; expressed here as declarative self-join pipelines so
 * Catalyst plans them like any relational query (shuffle on the join
 * keys, AQE-sized exchanges — no vertex-program runtime needed).
 *
 * Determinism contract (shared with the DuckDB oracles): every score
 * is exact integer arithmetic (counts, or integer-quantized inverse
 * degrees) with at most ONE final float division, so outputs are
 * bit-identical on any engine and any partitioning.
 *
 * Scale notes:
 *  - co-occurrence projection self-joins on the group key: the shuffle
 *    is one exchange of the (group, item) list, and the quadratic
 *    per-group pair blowup is bounded by the largest group (TPC-H
 *    orders: ≤7 lineitems). A `minCount` support threshold keeps the
 *    projected graph sparse (at sf0.1, 1.2M raw pairs -> 3.9k edges).
 *  - triangle enumeration uses the canonical a<b orientation, so each
 *    triangle is emitted exactly once and the wedge join fans out on
 *    the SMALLER adjacency direction (standard compact-forward trick).
 *  - k-core runs bounded synchronous peeling rounds; each round is one
 *    self-aggregation + semi-join, all shuffles on the same node key.
 */
object LinkAnalysis {

  /** Distinct (group, item) membership list — the shared input of
    * every co-occurrence operator. Checkpointed because it feeds at
    * least two join sides downstream (the dedup shuffle is the
    * expensive part at corpus scale). Callers holding a PERSISTED
    * membership list (ingest-time projection, cf. StarGraph) pass it
    * to the `...FromGi` forms directly and skip the rebuild. */
  def distinctGi(df: DataFrame, groupCol: String, itemCol: String): DataFrame =
    df.select(col(groupCol).as("g"), col(itemCol).as("i"))
      .distinct().localCheckpoint()

  /** Undirected co-occurrence projection of a bipartite relation:
    * items sharing at least `minCount` groups become an edge (a, b, w)
    * with canonical orientation a < b. */
  def cooccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
                        minCount: Long = 2): DataFrame =
    cooccurrenceFromGi(distinctGi(df, groupCol, itemCol), minCount)

  /** [[cooccurrenceEdges]] over an already-distinct (g, i) list. */
  def cooccurrenceFromGi(gi: DataFrame, minCount: Long = 2): DataFrame =
    gi.select(col("g"), col("i").as("a"))
      .join(gi.select(col("g"), col("i").as("b")), "g")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .where(col("w") >= minCount)

  /** Per-node triangle participation + wedge count + local clustering
    * coefficient over a canonical (a<b) undirected edge list.
    * Output: (node, triangles, wedges, clustering_coeff) for nodes
    * with at least one wedge; coeff = triangles / wedges as the single
    * final float op. */
  def clusteringCoefficients(edges: DataFrame): DataFrame = {
    // the edge list feeds five branches (three triangle-join sides,
    // the triangle corner union, the degree table): materialize once
    // instead of re-deriving the projection per branch
    val e = edges.select("a", "b").localCheckpoint()
    // enumerate each triangle once: wedge (a<b, b<c) closed by (a, c)
    val e1 = e.as("e1")
    val e2 = e.select(col("a").as("b"), col("b").as("c")).as("e2")
    val e3 = e.select(col("a").as("a2"), col("b").as("c2")).as("e3")
    val tris = e1.join(e2, "b")
      .join(e3, col("a") === col("a2") && col("c") === col("c2"))
      .select("a", "b", "c")
    // every triangle contributes once to each of its three corners
    val perNode = tris.select(col("a").as("node"))
      .unionAll(tris.select(col("b").as("node")))
      .unionAll(tris.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val und = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
    val deg = und.groupBy("node").agg(count(lit(1)).as("d"))
    deg.where(col("d") >= 2)
      .join(perNode, Seq("node"), "left")
      // integer DIV, not `/`: Spark's `/` is double division, which
      // loses exactness once d*(d-1) exceeds 2^53 — the wedge count
      // must stay exact BIGINT like the DuckDB oracle's `//`
      .select(col("node"), coalesce(col("triangles"), lit(0L)).as("triangles"),
        expr("(d * (d - 1)) DIV 2").as("wedges"))
      .withColumn("clustering_coeff",
        col("triangles").cast("double") / col("wedges"))
  }

  /** Neighbor-set Jaccard similarity between items of a bipartite
    * relation (link-prediction primitive): for each item pair sharing
    * >= `minInter` groups, jaccard = |G(a) ∩ G(b)| / |G(a) ∪ G(b)|.
    * Intersection/union stay exact BIGINTs; the ratio is the single
    * final division. */
  def jaccardPairs(df: DataFrame, groupCol: String, itemCol: String,
                   minInter: Long = 2): DataFrame =
    jaccardPairsFromGi(distinctGi(df, groupCol, itemCol), minInter)

  /** [[jaccardPairs]] over an already-distinct (g, i) list. */
  def jaccardPairsFromGi(gi: DataFrame, minInter: Long = 2): DataFrame = {
    // gi feeds the degree table and both intersection sides
    val deg = gi.groupBy("i").agg(count(lit(1)).as("d"))
    val inter = gi.select(col("g"), col("i").as("a"))
      .join(gi.select(col("g"), col("i").as("b")), "g")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      .where(col("inter") >= minInter)
    inter
      .join(deg.select(col("i").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("i").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("inter"),
        (col("da") + col("db") - col("inter")).as("uni"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
  }

  /** Resource-Allocation index (Zhou et al. 2009 — the integer-exact
    * cousin of Adamic-Adar): for item pairs a<b, RA = Σ_z 1/deg(z)
    * over shared groups z, quantized as floor(1e9 / deg(z)) so the sum
    * is exact integer arithmetic on every engine (Adamic-Adar's
    * 1/ln(deg) is a libm call whose last ulp differs across engines —
    * a hash hazard the quantized harmonic weight avoids). */
  def resourceAllocationPairs(df: DataFrame, groupCol: String,
                              itemCol: String, minInter: Long = 2): DataFrame =
    resourceAllocationPairsFromGi(distinctGi(df, groupCol, itemCol), minInter)

  /** [[resourceAllocationPairs]] over an already-distinct (g, i) list. */
  def resourceAllocationPairsFromGi(gi: DataFrame,
                                    minInter: Long = 2): DataFrame = {
    // gi feeds the group-degree table and both pair sides
    // integer DIV, not `/`: double division + cast can land one off
    // floor(1e9/gd) at representability boundaries — the quantized
    // weight must be the same exact integer DuckDB's `//` produces
    val gdeg = gi.groupBy("g").agg(count(lit(1)).as("gd"))
      .withColumn("ra_w", expr("CAST(1000000000 DIV gd AS BIGINT)"))
    gi.select(col("g"), col("i").as("a"))
      .join(gi.select(col("g"), col("i").as("b")), "g")
      .where(col("a") < col("b"))
      .join(gdeg.select("g", "ra_w"), "g")
      .groupBy("a", "b")
      .agg(count(lit(1)).as("inter"), sum("ra_w").as("ra_score"))
      .where(col("inter") >= minInter)
  }

  /** Degree assortativity of a canonical (a<b) undirected edge list:
    * the Pearson correlation between endpoint degrees over all
    * directed edge instances (both orientations — the standard
    * symmetric treatment). Moments (n, Σx, Σx², Σy, Σy², Σxy)
    * accumulate as DECIMAL(38,0)-exact integers in one grouped pass
    * (the q20 pattern); the handful of final float ops are identical
    * IEEE operations on identical exact inputs on any engine.
    * Output: one row (n_endpoints, assortativity). */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val und = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val deg = und.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("d"))
    val xy = und
      .join(deg.select(col("node").as("a"), col("d").as("x")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("y")), "b")
    xy.agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
      .select(col("n").cast("long").as("n_endpoints"),
        ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("assortativity"))
  }

  /** Undirected projection of an edge list (a, b), deduplicated and
    * EAGERLY checkpointed: the round loops' lazy checkpoints must start
    * from clean LogicalRDDs, or Dataset.checkpoint's attribute mapping
    * trips over the input's deduplicated join attributes. */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .localCheckpoint()

  /** The one multi-source BFS of [[harmonicCentrality]],
    * [[betweenness]] and [[betweennessPivots]]: each round advances
    * every source's frontier (`sources.node`) through one join on the
    * node key; a node first reached at round d gets σ = Σ σ(its
    * predecessors at d-1), its shortest-path count. `gateBound` maps
    * the source count (observed on the state-0 checkpoint) to the
    * codegen gate's work estimate. Returns the checkpointed
    * (src, node, dist, sigma) table and its row count. */
  private def sigmaBfs(und: DataFrame, sources: DataFrame, maxDepth: Int,
                       gateBound: Long => Long): (DataFrame, Long) =
      graft.SparkConfs.withoutConstraintPropagation(und.sparkSession) {
    val (state0, n) = graft.SparkConfs.checkpointCounted(sources
      .select(col("node").as("src"), col("node"), lit(0).as("dist"),
        lit(1L).as("sigma")))
    var state = state0
    var frontier = state
    graft.SparkConfs.maybeInterpreted(und.sparkSession, gateBound(n)) {
      val rs = graft.SparkConfs.rounds(und.sparkSession, "sigmaBfs")
      rs.upTo(maxDepth) { d =>
        val stepped = frontier.alias("f")
          .join(und.alias("u"), col("f.node") === col("u.a"))
          .select(col("f.src").as("src"), col("u.b").as("node"),
            col("f.sigma").as("sigma"))
        val fresh = stepped
          .join(state.select("src", "node"), Seq("src", "node"), "left_anti")
          .groupBy("src", "node")
          .agg(sum("sigma").as("sigma"))
          .select(col("src"), col("node"), lit(d).as("dist"), col("sigma"))
          .localCheckpoint(eager = false)
        state = state.unionAll(fresh).localCheckpoint(eager = false)
        frontier = fresh
      }
      rs.last(graft.SparkConfs.checkpointCounted(state))
    }
  }

  /** n² upper bound on the (src, node) pair state of an all-sources
    * [[sigmaBfs]] (overflow-safe). */
  private def allPairsBound(n: Long): Long =
    if (n > 3000000L) Long.MaxValue else n * n

  /** Closeness + harmonic centrality by multi-source BFS over the
    * undirected projection of an edge list (a, b): every node is its
    * own source, read off the shared [[sigmaBfs]] (its `dist` column;
    * σ is ignored). Output per node: `n_reached` (excluding
    * self), `ecc` (eccentricity — max over eccentricities = diameter),
    * `dist_sum`, `harmonic_q` = Σ floor(1e6 / d) (quantized so
    * the sum is exact integer arithmetic on any engine), and
    * `closeness` = n_reached / dist_sum (the single float division).
    * Isolated nodes (nothing reached) are excluded.
    *
    * Scale: state is (src, node, dist) over reachable PAIRS — meant
    * for bounded subgraphs (a layer slice, a component) where the
    * pair space fits the cluster; `maxDepth` bounds the rounds. A
    * full-corpus centrality at 100 TB would switch to HyperBall-style
    * sketched neighborhood sizes (approximate, not oracle-checkable).
    */
  def harmonicCentrality(edges: DataFrame, maxDepth: Int): DataFrame = {
    val und = undirected(edges)
    val (state, _) = sigmaBfs(und, und.select(col("a").as("node")).distinct(),
      maxDepth, allPairsBound)
    state.groupBy("src")
      .agg((count(lit(1)) - 1).as("n_reached"),
        sum("dist").as("dist_sum"),
        max("dist").as("ecc"),
        sum(expr("CASE WHEN dist > 0 THEN 1000000 DIV dist ELSE 0 END"))
          .as("harmonic_q"))
      .where(col("n_reached") > 0)
      .select(col("src").as("node"), col("n_reached"), col("dist_sum"),
        col("ecc"),
        col("harmonic_q"),
        (col("n_reached").cast("double") / col("dist_sum")).as("closeness"))
  }

  /** Exact betweenness centrality over the undirected projection of an
    * edge list — per node v: Σ over reachable pairs s < t (v strictly
    * interior) of σ(s,v)·σ(v,t)/σ(s,t), each pair fraction quantized
    * to floor(·×1e6) so the sum is exact integer arithmetic on any
    * engine. Shortest-path counts come from the shared [[sigmaBfs]]
    * from every node, combined by [[combinePairs]]: a node first
    * reached at round d gets σ = Σ σ(predecessors at d-1) — the
    * aggregated (scalable) form of path counting; an enumerate-all-walks
    * formulation (what the DuckDB oracle does) agrees because a
    * length-d(s,v) walk cannot revisit a vertex.
    *
    * Scale: pair-state (src, node) like [[harmonicCentrality]] — meant
    * for bounded slices; the pair-combination join is the dominant
    * cost (|SP| × component size). σ products are BIGINTs: the 1e6
    * quantizer bounds usable σ at ~3e6 paths per pair (document
    * diameter/multiplicity accordingly). Nodes with zero betweenness
    * are omitted. */
  def betweenness(edges: DataFrame, maxDepth: Int): DataFrame = {
    val und = undirected(edges)
    val (sp, spRows) = sigmaBfs(und,
      und.select(col("a").as("node")).distinct(), maxDepth, allPairsBound)
    combinePairs(sp, spRows, None)
  }

  /** Betweenness contributions from a [[sigmaBfs]] table `sp` (`spRows`
    * rows): for every (s, t) pair with s < t — both ends in `pivots`
    * when given — and every v strictly interior to one of their
    * shortest paths, floor(σ(s,v)·σ(v,t)·1e6 / σ(s,t)), summed per v.
    * Output (node, bc_q), zero rows omitted. */
  private def combinePairs(sp: DataFrame, spRows: Long,
                           pivots: Option[DataFrame]): DataFrame = {
    // the combination joins fan st out by component size; when the
    // shortest-path table is broadcast-small, hint it so both joins
    // stream map-side instead of sorting the n^3 intermediate
    // (measured 15s -> ~4s at sf0.1); past the threshold they fall
    // back to shuffled joins on (s) and (t, v)
    val small = spRows < 2000000L
    def maybeBcast(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // with pivots, src always is one; the semi-join pins node too
    val pairs = sp.where(col("src") < col("node"))
    val st0 = pivots.fold(pairs)(p => pairs.join(p, Seq("node"), "left_semi"))
      .select(col("src").as("s"), col("node").as("t"),
        col("dist").as("dst"), col("sigma").as("sigst"))
    // when both combination sides broadcast, the (s,t) stream side keeps
    // the BFS tail's AQE-coalesced partitioning (1-2 partitions at small
    // SF) and the n³ expansion runs single-threaded — spread it across
    // the cluster first (a pair-table-sized round-robin, trivial next to
    // the expansion it parallelizes; the >2M fallback path repartitions
    // through its own shuffled joins anyway)
    val st = if (small)
      st0.repartition(sp.sparkSession.sparkContext.defaultParallelism)
    else st0
    val sv = maybeBcast(sp.select(col("src").as("s"), col("node").as("v"),
      col("dist").as("dsv"), col("sigma").as("sigsv")))
    val tv = maybeBcast(sp.select(col("src").as("t"), col("node").as("v"),
      col("dist").as("dtv"), col("sigma").as("sigtv")))
    st.join(sv, "s")
      .where(col("v") =!= col("s") && col("v") =!= col("t"))
      .join(tv, Seq("t", "v"))
      .where(col("dsv") + col("dtv") === col("dst"))
      .select(col("v"),
        expr("CAST(sigsv * sigtv * 1000000 DIV sigst AS BIGINT)").as("contrib"))
      .groupBy("v").agg(sum("contrib").as("bc_q"))
      .where(col("bc_q") > 0)
      .select(col("v").as("node"), col("bc_q"))
  }

  /** Portable 48-bit content hash (the x18/x26 md5 family): identical
    * on any engine with md5, so sketch contents and pivot choices are
    * oracle-re-derivable. 48 bits (12 hex chars) rather than 60 keeps
    * `(k-1) * 2^48` inside BIGINT for any sketch size k <= 32767. */
  private def h48(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 12), 16, 10).cast("long")

  /** Sketched closeness/harmonic centrality — the 100 TB path the
    * exact [[harmonicCentrality]] pair-state form can't take. Follows
    * the HyperBall/ANF recipe (Boldi-Rosa-Vigna 2011; Palmer et al.
    * 2002): per node keep a constant-size sketch of the set of nodes
    * within distance t, advance all nodes one hop per round by merging
    * neighbor sketches, and read the neighborhood function N(v, t)
    * off the sketch; harmonic/closeness follow from the per-round
    * deltas. State is O(V·k) — NOT O(V²) pairs — and each round is one
    * equi-join + one per-node top-k, so the shape survives 100×.
    *
    * Sketch choice: bottom-k (KMV) over the portable 48-bit md5 hash
    * instead of HyperLogLog registers. Same union-by-merge algebra and
    * O(k) state as HLL, but the estimator
    * `(k-1) * 2^48 DIV max(kept hashes)` is EXACT integer arithmetic —
    * no leading-zero counts, libm log, or float bias correction — so
    * any engine re-derives the identical sketch AND identical
    * estimates, keeping the full pipeline hash-matchable against the
    * DuckDB oracle (HLL would force a rows-only check; cf. the q14
    * twin). Below k distinct reachables the estimate IS the exact
    * count, so small neighborhoods pay no error at all.
    *
    * Output per node: `n_reached_est` (excluding self),
    * `dist_sum_est` = Σ t·ΔN(t), `harmonic_q_est` = Σ ΔN(t)·1e6 DIV t
    * (all exact BIGINTs given the sketch), and `closeness_est` =
    * n_reached_est / dist_sum_est as the single float division —
    * column-compatible with [[harmonicCentrality]]'s exact forms.
    * ΔN(t) >= 0 always: register merges only shrink the k-th smallest
    * hash, so the estimate is monotone in t. */
  def kmvCentrality(edges: DataFrame, maxDepth: Int, k: Int = 64): DataFrame = {
    require(k > 1 && k <= 32767, "kmvCentrality: 1 < k <= 32767")
    kmvBalls(edges, maxDepth, k) { ests =>
      // harmonic/closeness from per-round estimate deltas in ONE final
      // window + agg pass (no per-round driver state)
      val lagW = Window.partitionBy("node").orderBy("t")
      ests
        .withColumn("prev", lag("est", 1).over(lagW))
        .where(col("t") > 0)
        .select(col("node"), col("t"), col("est"),
          (col("est") - col("prev")).as("delta"))
        .groupBy("node")
        .agg(
          (max(when(col("t") === maxDepth, col("est"))) - 1).as("n_reached_est"),
          sum(col("t") * col("delta")).as("dist_sum_est"),
          sum(expr("delta * 1000000 DIV t")).as("harmonic_q_est"))
        .where(col("n_reached_est") > 0)
        .withColumn("closeness_est",
          col("n_reached_est").cast("double") / col("dist_sum_est"))
    }
  }

  /** The one bottom-k (KMV) ball engine of [[kmvCentrality]] and
    * [[effectiveDiameter]]: per node the `k` smallest 48-bit hashes of
    * its ball within distance t, advanced one hop per round by merging
    * neighbor sketches. `readOut` maps the per-round estimates
    * (node, est, t), t = 0 .. maxDepth, to the answer, checkpointed
    * inside the kernel's scopes. */
  private def kmvBalls(edges: DataFrame, maxDepth: Int, k: Int)
                      (readOut: DataFrame => DataFrame): DataFrame =
      graft.SparkConfs.withoutConstraintPropagation(edges.sparkSession) {
    val und = undirected(edges)
    // per-node KMV estimate of the current reached-set size: exact
    // count below k, (k-1)*2^48 DIV v_k at capacity
    def estimate(state: DataFrame): DataFrame =
      state.groupBy("node").agg(count(lit(1)).as("cnt"), max("h").as("vk"))
        .select(col("node"),
          // greatest(vk,1): a node name hashing to 48 zero bits (p ~
          // 2^-48 per node — nonzero over a 100 TB corpus) would make
          // vk=0 and null the estimate; clamping keeps it total and
          // the oracle applies the identical clamp
          when(col("cnt") < k, col("cnt"))
            .otherwise(expr(
              s"CAST(${k - 1}L * 281474976710656L DIV greatest(vk, 1L) AS BIGINT)"))
            .as("est"))
    val (state0, n) = graft.SparkConfs.checkpointCounted(
      und.select(col("a").as("node")).distinct()
        .select(col("node"), h48(col("node")).as("h")))
    var state = state0
    var ests = estimate(state).withColumn("t", lit(0))
    // work bound for the small-round codegen gate: V·k state + edges
    val stateBound = if (n > 300000000L) Long.MaxValue else n * k
    graft.SparkConfs.maybeInterpreted(edges.sparkSession, stateBound) {
      graft.SparkConfs.rounds(edges.sparkSession, "kmvBalls").upTo(maxDepth) { t =>
        val prop = state.alias("s")
          .join(und.alias("u"), col("s.node") === col("u.a"))
          .select(col("u.b").as("node"), col("s.h").as("h"))
        val w = Window.partitionBy("node").orderBy("h")
        state = state.unionAll(prop)
          .distinct()
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= k).drop("rn")
          .localCheckpoint()
        ests = ests.unionAll(estimate(state).withColumn("t", lit(t)))
      }
      readOut(ests).localCheckpoint()
    }
  }

  /** ANF neighborhood function + effective diameter, read off the
    * shared KMV ball engine [[kmvBalls]] (Palmer et al.'s
    * ANF / HyperBall, reduced to the graph-level curve): N(t) =
    * Σ_node (|ball(node, t)|−1) estimated per round, and the effective
    * diameter is the smallest t whose N(t) reaches `ppmBar` (default
    * 90%) of N(maxDepth) — the classic "90% of connected pairs" form.
    * One row per t: (t, n_pairs_est, ppm_of_final,
    * is_effective_diameter), all-integer (ppm by integer div), so the
    * sketched curve hash-matches an oracle re-deriving the identical
    * sketch contents.
    *
    * Scale shape: the engine's — O(V·k) state, one equi-join +
    * per-node bottom-k per round; the curve collapses to maxDepth+1
    * rows before the (trivial) flag window. */
  def effectiveDiameter(edges: DataFrame, maxDepth: Int, k: Int = 64,
                        ppmBar: Long = 900000L): DataFrame = {
    require(k > 1 && k <= 32767, "effectiveDiameter: 1 < k <= 32767")
    require(ppmBar >= 0 && ppmBar <= 1000000L, "ppmBar in [0, 1e6]")
    kmvBalls(edges, maxDepth, k) { ests =>
      val nf = ests.groupBy("t")
        .agg(sum(col("est") - 1).cast("long").as("n_pairs_est"))
      val fin = nf.where(col("t") === maxDepth)
        .select(col("n_pairs_est").as("nmax"))
      val flagW = Window.orderBy("t")
      nf.crossJoin(fin)
        .withColumn("ppm_of_final",
          expr("1000000L * n_pairs_est div greatest(nmax, 1L)"))
        .withColumn("rb", col("ppm_of_final") >= ppmBar)
        .withColumn("is_effective_diameter",
          col("rb") && !coalesce(lag(col("rb"), 1).over(flagW), lit(false)))
        .select(col("t"), col("n_pairs_est"), col("ppm_of_final"),
          col("is_effective_diameter"))
    }
  }

  /** Pivot-sampled betweenness — the 100 TB path for [[betweenness]]'s
    * O(n²)-state / O(n³)-combine exact form. The `numPivots` pivots
    * are the nodes with the smallest (portable-md5-48bit hash, name)
    * pairs — deterministic, content-keyed, and re-derivable by any
    * engine, so a fixed pivot set hash-matches the DuckDB oracle
    * (the Brandes-Pich 2007 pivot strategy, with hash order standing
    * in for their RNG). The shared [[sigmaBfs]] runs from the pivot
    * sources only (state O(m·V)) and [[combinePairs]] restricts (s, t)
    * to pivot pairs (combine O(m²·V)) — both scale with the SAMPLE,
    * not the graph. With numPivots >= |V| this degenerates to exactly
    * [[betweenness]] (spec-pinned). Same quantized-contribution
    * output contract: (node, bc_q) over pivot pairs, zero rows
    * omitted. */
  def betweennessPivots(edges: DataFrame, maxDepth: Int,
                        numPivots: Int): DataFrame = {
    require(numPivots > 1, "betweennessPivots: numPivots > 1")
    val und = undirected(edges)
    val nodes = und.select(col("a").as("node")).distinct()
    // distributed top-m (sort + limit plans as TakeOrdered — no global
    // row_number sort), ties broken on the name for determinism
    val pivots = nodes.withColumn("h", h48(col("node")))
      .orderBy(col("h"), col("node")).limit(numPivots)
      .select("node").localCheckpoint()
    val n = nodes.count()
    val (sp, spRows) = sigmaBfs(und, pivots, maxDepth,
      _ => if (n > 3000000L) Long.MaxValue else n * numPivots)
    combinePairs(sp, spRows, Some(pivots))
  }

  /** Bounded synchronous k-core peeling over a canonical undirected
    * edge list: `rounds` rounds of "drop nodes with degree < k, then
    * drop their edges". Returns surviving (node, degree) after the
    * last round. With `rounds` >= the peeling depth this is the exact
    * k-core; the bound makes the operator a fixed-length relational
    * pipeline (mirrors the chained-CTE oracle and keeps the 100 TB
    * plan a known number of shuffles — PlansSpec pins convergence on
    * the corpus graph). */
  def kcore(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = edges.select("a", "b")
    graft.SparkConfs.rounds(edges.sparkSession, "kcore").upTo(rounds) { _ =>
      val und = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
      val keep = und.groupBy("node").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select("node")
      e = e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select("a", "b")
      // each round's plan feeds the next: localCheckpoint truncates the
      // exponentially nesting lineage (same pattern as Traversals)
      e = e.localCheckpoint(eager = false)
    }
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
  }

  /** Seeded label spreading (semi-supervised node classification):
    * seed vertices carry fixed labels; each round, every still-
    * unlabeled vertex adjacent to labeled ones takes the argmax
    * (neighbor-label count, ties → smaller label) and FREEZES.
    * Freezing makes the sweep monotone — classic synchronous LPA
    * oscillates and is visit-order-dependent, so it can never
    * hash-match an independent engine; this variant is deterministic
    * by construction (the x62 knn-labeling idea transplanted onto
    * graph adjacency). Bounded `rounds` = labels reach `rounds` hops
    * from the seeds. Returns (vid, label, round) — round 0 = seed.
    *
    * Scale shape per round: one equi-join of the undirected edge list
    * against the CURRENT label table restricted to the last frontier
    * (labels ≪ vertices early on), then a map-side-combinable
    * (vertex, label) count and a max-of-struct argmax — no window
    * over the vertex set. */
  def labelSpread(edges: DataFrame, seeds: DataFrame,
                  rounds: Int): DataFrame = {
    require(rounds >= 0, "labelSpread: rounds >= 0")
    val (und, mE) = graft.SparkConfs.checkpointCounted(
      edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v"))))
    var labels = seeds.select(col("id"), col("label"), lit(0).as("round"))
      .localCheckpoint()
    var frontier = labels.select(col("id").as("u"), col("label"))
    // frontier and the label table are VERTEX-sized, so the broadcast
    // hint gates on the vertex count, not the edge count — at the sf1
    // decade (13.6M edges, 1.9M vertices) the ungated rounds fell to
    // per-round sort-merge re-shuffles of the full edge table
    // (checkpointed state has no stats and 30 MB labels exceed AQE's
    // byte threshold): g56 ran ×13.6 the sf0.1 time. `und` holds both
    // directions of every edge, so its mE/2 pair rows bound the
    // vertex count with no job below the bound.
    val nV = graft.SparkConfs.endpointRows(und, "u", "v", mE / 2)
    graft.SparkConfs.rounds(edges.sparkSession, "labelSpread", nV, 2 * mE) { rs =>
    rs.upTo(rounds) { t =>
      // frontier-only neighbor counting IS all-labeled-neighbor
      // counting: a vertex still unlabeled at round t cannot neighbor
      // anything labeled before t-1 (it would have been labeled then)
      val cand = und.join(rs.bc(frontier.select(col("u"), col("label"))), Seq("u"))
        .select(col("v").as("id"), col("label"))
      val newly = cand
        .join(rs.bc(labels.select("id")), Seq("id"), "left_anti")
        .groupBy("id", "label").agg(count(lit(1)).as("n"))
        .groupBy("id")
        .agg(max(struct(col("n"), (-col("label")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("label"), lit(t).as("round"))
        .localCheckpoint()
      labels = labels.unionByName(newly).localCheckpoint()
      frontier = newly.select(col("id").as("u"), col("label"))
    }
    }
    labels
  }

  /** Market-basket association rules over a distinct (group, item)
    * relation: for item pairs sharing >= `minInter` groups,
    * directional CONFIDENCE (share of a's groups also containing b)
    * and LIFT (observed co-occurrence over the independence
    * expectation), both in integer ppm — `div`, never `/`, so the
    * rules re-derive bit-identically on any engine. lift_ppm > 1e6
    * means positively associated. BIGINT arithmetic holds while
    * 1e6·w·N < 2^63 (w·N ≤ 9.2e12 — route through DECIMAL(38,0)
    * beyond that).
    *
    * Scale shape: the pair count is the bounded co-occurrence join
    * (support-thresholded); item counts are one map-side-combinable
    * agg joined back on the item key; N arrives as a 1-row broadcast
    * cross join. */
  def associationRules(gi: DataFrame, minInter: Long = 2): DataFrame = {
    val n = gi.agg(count_distinct(col("g")).as("n_orders"))
    val item = gi.groupBy("i").agg(count(lit(1)).as("ni"))
    val pairs = gi.select(col("g"), col("i").as("a"))
      .join(gi.select(col("g"), col("i").as("b")), "g")
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))
      .where(col("w") >= minInter)
    pairs
      .join(item.select(col("i").as("a"), col("ni").as("n_a")), "a")
      .join(item.select(col("i").as("b"), col("ni").as("n_b")), "b")
      .crossJoin(n)
      .select(col("a"), col("b"), col("w"), col("n_a"), col("n_b"),
        expr("1000000L * w div n_a").as("conf_ab_ppm"),
        expr("1000000L * w div n_b").as("conf_ba_ppm"),
        expr("1000000L * w * n_orders div (n_a * n_b)").as("lift_ppm"))
  }

  /** Bounded synchronous k-truss peeling over a canonical undirected
    * edge list (the triangle-density cousin of [[kcore]], Cohen 2008):
    * each round computes every edge's SUPPORT (its triangle count =
    * common neighbors of its endpoints) and drops edges with support
    * < k−2; surviving edges return with their last-round support.
    * With `rounds` ≥ the peeling depth this is the exact k-truss; the
    * bound makes the operator a fixed-length relational pipeline
    * (mirrors the chained-CTE oracle, and the 100 TB plan is a known
    * number of shuffles). Assumes no self-loops (a < b canonical).
    *
    * Scale shape per round: one wedge equi-join edge⋈adjacency on the
    * endpoint key then a map-side-combinable (a, b) count — the same
    * join profile as [[trianglesFromEdges]]; hot vertices bound the
    * wedge fan-out, and the support threshold shrinks the edge set
    * monotonically round over round. */
  def ktruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3 && rounds >= 1, "ktruss: k >= 3, rounds >= 1")
    var e = edges.select("a", "b")
    graft.SparkConfs.rounds(edges.sparkSession, "ktruss").upTo(rounds) { _ =>
      val und = e.select(col("a").as("u"), col("b").as("v"))
        .unionAll(e.select(col("b").as("u"), col("a").as("v")))
      e = e
        .join(und.select(col("u").as("a"), col("v").as("w")), Seq("a"))
        .join(und.select(col("u").as("b"), col("v").as("w")), Seq("b", "w"))
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
        .where(col("support") >= k - 2)
        // lineage would nest exponentially round-over-round (kcore
        // pattern)
        .localCheckpoint(eager = false)
    }
    e.select("a", "b", "support")
  }

  /** Community detection by mutual best match — the deterministic,
    * oracle-checkable community kernel (classic LPA is iteration-
    * order-dependent and oscillates under synchronous update; Louvain
    * depends on visit order — neither can hash-match an independent
    * engine): every item's BEST neighbor is its argmax
    * [[jaccardPairsFromGi]] similarity (ties → smaller id), edges
    * where the choice is MUTUAL form the community graph, and its
    * connected components (min-label) are the communities — the
    * best-match/star-clustering family. Items with no qualifying pair
    * are singletons. Returns (id, community).
    *
    * Scale shape: pair generation is the bounded co-occurrence join
    * (support-thresholded, never unblocked); the argmax is a map-side
    * combinable max-of-struct agg (no window sort); the component
    * sweep runs on MUTUAL edges only — a subgraph with ≤ n/2 edges by
    * construction (each node has at most one best match). */
  def bestMatchCommunities(gi: DataFrame, minInter: Long = 2): DataFrame = {
    val pairs = jaccardPairsFromGi(gi, minInter)
      .select("a", "b", "jaccard").localCheckpoint()
    val sym = pairs.select(col("a").as("u"), col("b").as("v"), col("jaccard"))
      .unionByName(pairs.select(col("b").as("u"), col("a").as("v"),
        col("jaccard")))
    val best = sym.groupBy("u")
      .agg(max(struct(col("jaccard"), (-col("v")).as("nv"))).as("m"))
      .select(col("u"), (-col("m.nv")).as("bm"))
    val mutual = best.alias("x")
      .join(best.alias("y"),
        col("x.bm") === col("y.u") && col("y.bm") === col("x.u") &&
          col("x.u") < col("x.bm"))
      .select(col("x.u").as("a"), col("x.bm").as("b"))
    val cl = graft.ext.Dedup.nearDupClusters(mutual)
      .select(col("doc_id").as("id"), col("cluster"))
    gi.select(col("i").as("id")).distinct()
      .join(cl, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("community"))
  }

  /** Synchronous modularity local-move — the Louvain move phase made
    * deterministic (and therefore oracle-checkable, which sequential
    * Louvain's visit-order dependence forbids — see
    * [[bestMatchCommunities]]): every round, EVERY vertex
    * simultaneously evaluates the exact integer modularity gain
    * `g(u→C) = 2m·k_{u,C} − d_u·(totC − [u∈C]·d_u)` for each
    * candidate community and adopts the argmax (ties → smaller
    * label). Unconstrained synchronous moves oscillate on symmetric
    * structures (two vertices can swap labels forever), so candidates
    * are restricted to communities labeled ≤ the vertex's current
    * label — labels are then non-increasing per vertex, which rules
    * out oscillation by monotonicity while keeping every move a true
    * modularity improvement. `rounds` bounds the sweep (labels drain
    * toward community minima; a few rounds suffice on the tested
    * graphs — the move phase of one Louvain level, not the full
    * multi-level pyramid).
    *
    * Runs [[louvainLocalMoveWeighted]] at w = 1, which keeps a self-loop
    * (`a = b`) out of k_{u,C} where a count-based kernel would add it;
    * every caller passes canonical `a < b` pairs, which have none.
    * Returns (id, community) for every vertex incident to an edge. */
  def louvainLocalMove(pairs: DataFrame, rounds: Int = 4): DataFrame =
    louvainLocalMoveWeighted(pairs.select(col("a"), col("b"), lit(1L).as("w")),
      rounds)

  /** Weighted [[louvainLocalMove]] over a canonical edge list
    * `(a ≤ b, w)` where `a = b` rows are self-loops (the aggregated
    * graph a Louvain level-2 pass runs on): gains use edge WEIGHTS
    * (`k_{u,C} = Σ w(u, v∈C, v≠u)`), degrees include 2×self-loop
    * weight, `m` is the total weight — self-loops move WITH their
    * vertex, so they cancel out of the argmax and correctly appear
    * only in degrees/m. Same monotone-label determinism contract.
    *
    * Scale shape per round: one edge→assignment join + two map-side-
    * combinable aggregations (k_{u,C}, totC) + a top-1-per-vertex via
    * the bounded-heap [[graft.plans.TopKPerGroup]] (no window sort);
    * assignment is checkpointed so lineage stays flat. Gain fits
    * BIGINT while 4·m·d_max < 2⁶³ (route through DECIMAL beyond —
    * ~10⁹ edges × 10⁹ max degree headroom). */
  def louvainLocalMoveWeighted(edges: DataFrame,
                               rounds: Int = 4): DataFrame = {
    require(rounds >= 1, s"louvainLocalMoveWeighted: rounds >= 1, got $rounds")
    val (e, mE) = graft.SparkConfs.checkpointCounted(
      edges.select(col("a"), col("b"), col("w").cast("long").as("w")))
    val pair = e.filter(col("a") =!= col("b"))
    val self = e.filter(col("a") === col("b"))
      .select(col("a").as("u"), (col("w") * 2).as("sw"))
    val sym = pair.select(col("a").as("u"), col("b").as("v"), col("w"))
      .unionByName(pair.select(col("b").as("u"), col("a").as("v"), col("w")))
      .localCheckpoint()
    // isolated super-vertices (only a self-loop) still need a row:
    // union the self-loop side into the degree base at weight 2w
    val deg = sym.select(col("u"), col("w").as("dw"))
      .unionByName(self.select(col("u"), col("sw").as("dw")))
      .groupBy("u").agg(sum("dw").as("d"))
    // the assignment frame CARRIES the (static) degree, so each round
    // reads (community, d, cur) off one join instead of three; its
    // checkpoint also yields the vertex count and m = total edge weight
    // (self-loops once) = Σd / 2
    val obs = new org.apache.spark.sql.Observation()
    var assign = deg.select(col("u").as("id"), col("u").as("community"),
        col("d"))
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum("d"), lit(0L)).as("dsum"))
      .localCheckpoint()
    val nV = obs.get("n").asInstanceOf[Long]
    val mW = obs.get("dsum").asInstanceOf[Long] / 2L
    graft.SparkConfs.rounds(e.sparkSession, "louvainLocalMove", nV, nV + 2 * mE) { rs =>
      rs.upTo(rounds) { _ =>
        val cand = sym
          .join(rs.bc(assign.select(col("id").as("v"), col("community").as("c"))),
            "v")
          .groupBy("u", "c").agg(sum("w").as("kuc"))
        val tot = assign.groupBy("community").agg(sum("d").as("tot"))
        // the stay candidate rides along at kuc=0; MAX restores the real
        // edge weight where the vertex does have intra-community edges
        val allc = cand
          .unionByName(assign.select(col("id").as("u"),
            col("community").as("c"), lit(0L).as("kuc")))
          .groupBy("u", "c").agg(max("kuc").as("kuc"))
        val gain = allc
          .join(rs.bc(assign.select(col("id").as("u"), col("community").as("cur"),
            col("d"))), "u")
          .filter(col("c") <= col("cur"))  // monotone labels: no oscillation
          .join(rs.bc(tot.select(col("community").as("c"), col("tot"))), "c")
          .withColumn("g",
            lit(2L * mW) * col("kuc") - col("d") *
              (col("tot") - when(col("cur") === col("c"), col("d"))
                .otherwise(lit(0L))))
        assign = graft.plans.TopKPerGroup(
            gain.select("u", "c", "g", "d"),
            Seq("u"), Seq(("g", false), ("c", true)), 1)
          .select(col("u").as("id"), col("c").as("community"), col("d"))
          .localCheckpoint()
      }
    }
    assign.select("id", "community")
  }

  /** Contract a pair graph by a community assignment into the
    * weighted super-graph Louvain's next level runs on: canonical
    * `(ca ≤ cb, w = inter-community edge count)`, with `ca = cb` rows
    * carrying the intra-community edge counts as self-loops. One
    * edge→assignment join per endpoint + one count — communities-
    * sized output. */
  def louvainAggregate(pairs: DataFrame, assign: DataFrame): DataFrame =
    pairs
      .join(assign.select(col("id").as("a"), col("community").as("ca")), "a")
      .join(assign.select(col("id").as("b"), col("community").as("cb")), "b")
      .select(least(col("ca"), col("cb")).as("a"),
        greatest(col("ca"), col("cb")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("w"))

  /** Two Louvain levels, deterministically: [[louvainLocalMove]] on
    * the raw pair graph, [[louvainAggregate]] contraction, the
    * weighted move phase on the super-graph, and the composed map
    * back to original vertices — the standard multi-level pyramid cut
    * at depth 2 (each further level is another aggregate+move pair on
    * an exponentially smaller graph). Returns (id, community) where
    * the label is a level-2 community id. */
  def louvainTwoLevel(pairs: DataFrame, rounds1: Int = 4,
                      rounds2: Int = 4): DataFrame = {
    val a1 = louvainLocalMove(pairs, rounds1).localCheckpoint()
    val a2 = louvainLocalMoveWeighted(louvainAggregate(pairs, a1), rounds2)
    a1.join(a2.select(col("id").as("community"),
        col("community").as("c2")), "community")
      .select(col("id"), col("c2").as("community"))
  }

  /** Leiden-style refinement pass (r11) — the fix for Louvain's
    * documented defect (Traag et al. 2019, "From Louvain to Leiden"):
    * the move phase can leave a community INTERNALLY DISCONNECTED
    * (a bridge vertex moves away and strands the two halves under one
    * label). Refinement splits every community into its weakly-
    * connected parts: intra-community edges (both endpoints share a
    * label) feed the star-contraction components kernel
    * ([[graft.algos.Traversals.componentsLogRoundsPairs]] — O(log n)
    * rounds, and since intra edges never cross communities one global
    * sweep IS the per-community sweep), and each part relabels to its
    * min member id. Members isolated within their community become
    * singletons. Splitting a disconnected community STRICTLY
    * increases modularity (contrib difference = +2·d_A·d_B by the
    * exact [[modularityByCommunity]] decomposition — spec-pinned as
    * a non-decrease), and connected communities are untouched, so the
    * pass composes safely before any contraction level.
    *
    * Returns (id, community, refined) — `refined` partitions every
    * `community`, every refined part induces a connected subgraph
    * (spec-pinned).
    *
    * Scale shape: two edge→assignment equi-joins + the shrinking
    * star-contraction loop on the intra subgraph (≤ the edge list);
    * no windows, no collects. */
  def leidenRefine(pairs: DataFrame, assign: DataFrame): DataFrame = {
    val a = assign.select(col("id"), col("community"))
      .localCheckpoint() // feeds two edge joins + the final left join
    val intra = pairs
      .join(a.select(col("id").as("a"), col("community").as("ca")), "a")
      .join(a.select(col("id").as("b"), col("community").as("cb")), "b")
      .where(col("ca") === col("cb"))
      .select("a", "b")
    val comp = graft.algos.Traversals.componentsLogRoundsPairs(intra)
    a.join(comp, Seq("id"), "left")
      .select(col("id"), col("community"),
        coalesce(col("comp"), col("id")).as("refined"))
  }

  /** The full Leiden pyramid cut at depth 2 (Traag et al. 2019):
    * [[louvainLocalMove]], then the [[leidenRefine]] connectivity
    * pass, then contraction BY THE REFINED PARTS — the paper's key
    * structural fix: Louvain contracts possibly-disconnected
    * communities into single super-vertices (the defect then frozen
    * forever), Leiden contracts connected parts, so every level's
    * super-graph is an honest quotient — then the weighted move phase
    * and the composed map back. Same determinism contract as
    * [[louvainTwoLevel]] (monotone labels, exact integer gains), so
    * the whole pyramid hash-matches an unrolled oracle (g68). */
  def leidenTwoLevel(pairs: DataFrame, rounds1: Int = 4,
                     rounds2: Int = 4): DataFrame = {
    val a1 = louvainLocalMove(pairs, rounds1).localCheckpoint()
    val r1 = leidenRefine(pairs, a1).localCheckpoint()
    val agg = louvainAggregate(pairs,
      r1.select(col("id"), col("refined").as("community")))
    val a2 = louvainLocalMoveWeighted(agg, rounds2)
    r1.join(a2.select(col("id").as("refined"),
        col("community").as("c2")), "refined")
      .select(col("id"), col("c2").as("community"))
  }

  /** Luby's maximal independent set — the classic O(log n)-round
    * symmetric-breaking kernel (diverse-subset selection: no two
    * chosen items adjacent in the conflict graph): every undecided
    * vertex with a priority STRICTLY below all its undecided
    * neighbors' joins the MIS, its neighbors drop out, repeat.
    * Priorities are the portable md5-60-bit family, so rounds —
    * and therefore the whole set — re-derive on any engine. A
    * priority tie between adjacent vertices (md5 collision, ~2⁻⁶⁰)
    * stalls that pair rather than breaking determinism. `rounds`
    * bounds the sweep; vertices still undecided after it are
    * reported as such (the oracle runs the identical bound).
    * Returns (id, status ∈ mis/excluded/undecided).
    *
    * Scale shape per round: one semi-join + one min-aggregation over
    * the SHRINKING undecided subgraph + two status joins; state is
    * checkpointed (the kcore round pattern). */
  def lubyMis(pairs: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1, s"lubyMis: rounds >= 1, got $rounds")
    val (e, mE) = graft.SparkConfs.checkpointCounted(
      pairs.select("a", "b").filter(col("a") =!= col("b")))
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    def prio(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")
    val (st0, nV) = graft.SparkConfs.checkpointCounted(
      sym.select(col("u").as("id")).distinct()
        .withColumn("p", prio(col("id")))
        .withColumn("status", lit(0))) // 0 undecided, 1 mis, 2 excluded
    var st = st0
    graft.SparkConfs.rounds(e.sparkSession, "lubyMis", nV, nV + 2 * mE) { rs =>
    rs.upTo(rounds) { _ =>
      val und = st.filter(col("status") === 0)
      val nbrMin = sym
        .join(rs.bc(und.select(col("id").as("u"))), Seq("u"), "left_semi")
        .join(rs.bc(und.select(col("id").as("v"), col("p").as("vp"))), Seq("v"))
        .groupBy("u").agg(min("vp").as("mn"))
      val winners = und
        .join(rs.bc(nbrMin.select(col("u").as("id"), col("mn"))), Seq("id"), "left")
        .filter(col("mn").isNull || col("p") < col("mn"))
        .select("id")
      val excluded = sym
        .join(rs.bc(winners.select(col("id").as("u"))), Seq("u"), "left_semi")
        .select(col("v").as("id")).distinct()
        .join(rs.bc(und.select("id")), Seq("id"), "left_semi")
      st = st
        .join(rs.bc(winners.withColumn("__w", lit(true))), Seq("id"), "left")
        .join(rs.bc(excluded.withColumn("__x", lit(true))), Seq("id"), "left")
        .withColumn("status",
          when(col("status") =!= 0, col("status"))
            .when(col("__w"), lit(1))
            .when(col("__x"), lit(2))
            .otherwise(lit(0)))
        .select("id", "p", "status")
        .localCheckpoint()
    }
    }
    st.select(col("id"),
      when(col("status") === 1, lit("mis"))
        .when(col("status") === 2, lit("excluded"))
        .otherwise(lit("undecided")).as("status"))
  }

  /** Borůvka maximum spanning forest — the classic O(log n)-round
    * distributed MST kernel (here maximizing co-occurrence affinity:
    * the forest is the "backbone" of strongest associations touching
    * every node, the skeleton a taxonomy/ontology bootstrap starts
    * from). Determinism: the comparator is the TOTAL order
    * (w DESC, a, b) — equivalent to distinct edge weights — so the
    * forest is THE unique maximum spanning forest and every round
    * re-derives bit-identically on any engine (Kruskal under the same
    * order returns the identical edge set; spec-pinned).
    *
    * Per round: every component picks its best incident cross edge;
    * chosen edges join the forest; the component pointer graph
    * (functional, exactly one mutual pair per pointer tree — the
    * pointer-component's globally best edge is chosen from both
    * sides) roots mutual pairs at the smaller id and contracts by
    * `jumps` pointer-jumping steps (chains up to 2^jumps collapse;
    * the oracle runs the identical bound).
    * Input: canonical (a, b, w) pairs. Returns forest edges
    * (a, b, w, round).
    *
    * Scale shape per round: cross-edge derivation is two assignment
    * joins on the node key; the best-edge argmin is one map-side-
    * combinable min-of-struct over the symmetrized cross edges;
    * pointer jumping runs on the COMPONENT table (≤ vertices, halving
    * per round); everything checkpointed (the kcore round pattern). */
  def boruvkaForest(pairs: DataFrame, rounds: Int = 3,
                    jumps: Int = 6): DataFrame = {
    require(rounds >= 1 && jumps >= 1,
      s"boruvkaForest: rounds/jumps >= 1, got $rounds/$jumps")
    // stats-resetting checkpoint: the pointer table self-joins its own
    // checkpointed output, so the stock localCheckpoint's carried
    // sizeInBytes estimate would SQUARE per jump (see graftbridge)
    def ck(d: DataFrame): DataFrame =
      org.apache.spark.sql.graftbridge.statlessLocalCheckpoint(d)
    val (e, mE) = graft.SparkConfs.checkpointCounted(
      pairs.select("a", "b", "w").filter(col("a") < col("b")), ck)
    val (comp0, nV) = graft.SparkConfs.checkpointCounted(
      e.select(col("a").as("id"))
        .unionByName(e.select(col("b").as("id"))).distinct()
        .withColumn("c", col("id")), ck)
    var comp = comp0
    var acc = e.select(col("a"), col("b"), col("w"), lit(0).as("round"))
      .where(lit(false))
    graft.SparkConfs.rounds(pairs.sparkSession, "boruvkaForest", nV,
        nV + 2 * mE) { rs =>
    rs.upTo(rounds) { r =>
      val ce = e
        .join(rs.bc(comp.select(col("id").as("a"), col("c").as("ca"))), Seq("a"))
        .join(rs.bc(comp.select(col("id").as("b"), col("c").as("cb"))), Seq("b"))
        .where(col("ca") =!= col("cb"))
      val sym = ce.select(col("ca").as("u"), col("cb").as("v"), col("w"),
          col("a"), col("b"))
        .unionByName(ce.select(col("cb").as("u"), col("ca").as("v"),
          col("w"), col("a"), col("b")))
      val best = sym.groupBy("u")
        .agg(min(struct((-col("w")).as("nw"), col("a"), col("b"),
          col("v"))).as("m"))
        .select(col("u"), col("m.a").as("a"), col("m.b").as("b"),
          col("m.v").as("v"), (-col("m.nw")).as("w"))
        .transform(ck)
      acc = acc.unionByName(best.select("a", "b", "w").distinct()
        .withColumn("round", lit(r)))
      // pointer graph: u -> its best partner; mutual pairs root at the
      // smaller id, then pointer-jump so chains <= 2^jumps collapse
      var ptr = best.as("x")
        .join(rs.bc(best.select(col("u").as("yu"), col("v").as("yv")).as("y")),
          col("y.yu") === col("x.v") && col("y.yv") === col("x.u"), "left")
        .select(col("x.u").as("u"),
          when(col("y.yu").isNotNull, least(col("x.u"), col("x.v")))
            .otherwise(col("x.v")).as("v"))
      // checkpoint EVERY jump: an unchecked level references the prior
      // ptr twice (self-join), i.e. re-runs its shuffle — measured
      // SLOWER (22.9 s vs 12.9 s at sf0.1) than one eager job per jump
      ptr = ck(ptr)
      for (_ <- 1 to jumps) {
        ptr = ck(ptr
          .join(rs.bc(ptr.select(col("u").as("v"), col("v").as("vv"))),
            Seq("v"), "left")
          .select(col("u"), coalesce(col("vv"), col("v")).as("v")))
      }
      comp = comp
        .join(rs.bc(ptr.select(col("u").as("c"), col("v").as("nc"))), Seq("c"),
          "left")
        .select(col("id"), coalesce(col("nc"), col("c")).as("c"))
        .transform(ck)
    }
    }
    acc
  }

  /** Newman modularity of a community assignment over an undirected
    * pair graph, decomposed per community in EXACT integers:
    * Q = Σ_c [e_c/m − (d_c/2m)²] = Σ_c contrib_c / (4m²) with
    * contrib_c = 4·m·e_c − d_c² — every output column a BIGINT, no
    * division, so the decomposition re-derives bit-identically on any
    * engine (the caller divides by 4m² for the float Q; at 4·m·e ≤
    * 2^63 that's graphs to ~10⁹ edges). `edges` = canonical (a, b)
    * pairs; `assign` = (id, community) covering every node (nodes
    * without edges contribute degree 0).
    *
    * Scale shape: degree table + intra-edge count are two
    * map-side-combinable aggregations; the assignment joins onto the
    * edge list by node key (edge list never widens); m arrives as a
    * 1-row broadcast cross join. No windows, no collects. */
  def modularityByCommunity(edges: DataFrame, assign: DataFrame): DataFrame = {
    val e = edges.select("a", "b")
    val m = e.agg(count(lit(1)).as("m"))
    val deg = e.select(col("a").as("id")).unionAll(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val nd = assign.join(deg, Seq("id"), "left")
      .select(col("community"), coalesce(col("d"), lit(0L)).as("d"))
    val intra = e
      .join(assign.select(col("id").as("a"), col("community").as("ca")), "a")
      .join(assign.select(col("id").as("b"), col("community").as("cb")), "b")
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_intra"))
    nd.groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("d").cast("long").as("d_sum"))
      .join(intra, Seq("community"), "left")
      .withColumn("e_intra", coalesce(col("e_intra"), lit(0L)))
      .crossJoin(m)
      .select(col("community"), col("n_nodes"), col("e_intra"), col("d_sum"),
        col("m"),
        (lit(4L) * col("m") * col("e_intra")
          - col("d_sum") * col("d_sum")).as("contrib"))
  }

  /** Deterministic greedy maximal matching — the "handshake" kernel
    * (pair-assignment under conflicts: each vertex points at its best
    * live edge, mutually-chosen edges marry, their endpoints retire,
    * repeat): edge priority is the portable md5-60-bit hash of "a:b"
    * with (p, a, b) as the total order, so every round — and the whole
    * matching — re-derives bit-identically on any engine. The fixpoint
    * EQUALS the sequential greedy matching by ascending (p, a, b)
    * (a locally-minimum edge is exactly the next greedy pick among
    * the edges that survive), but unlike the sequential scan it is
    * synchronous and partitionable; the globally minimum live edge
    * always marries, so progress is guaranteed and O(log n) rounds
    * are expected. `rounds` bounds the sweep (the oracle runs the
    * identical bound); edges still live after it stay unmatched.
    * Input: canonical a < b pair rows. Returns one row per matched
    * EDGE: (a, b, round).
    *
    * Scale shape per round: one map-side-combinable argmin (min of a
    * (p, a, b) struct) over the symmetrized live edges + two joins
    * back + two anti-joins to retire endpoints; the live edge set only
    * SHRINKS and is checkpointed (the kcore round pattern). */
  def maximalMatching(pairs: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1, s"maximalMatching: rounds >= 1, got $rounds")
    val (live0, mE) = graft.SparkConfs.checkpointCounted(
      pairs.select("a", "b").filter(col("a") < col("b")).distinct()
        .withColumn("p", conv(substring(md5(concat(col("a").cast("string"),
          lit(":"), col("b").cast("string"))), 1, 15), 16, 10).cast("long")))
    var live = live0
    var acc = live.select(col("a"), col("b"), lit(0).as("round"))
      .where(lit(false))
    graft.SparkConfs.rounds(pairs.sparkSession, "maximalMatching",
        graft.SparkConfs.endpointRows(live, "a", "b", mE), 3 * mE) { rs =>
    rs.upTo(rounds) { r =>
      val sym = live.select(col("a").as("u"), col("p"), col("a"), col("b"))
        .unionByName(live.select(col("b").as("u"), col("p"), col("a"),
          col("b")))
      val best = sym.groupBy("u")
        .agg(min(struct(col("p"), col("a"), col("b"))).as("m"))
        .select(col("u"), col("m.a").as("ma"), col("m.b").as("mb"))
      val win = live
        .join(rs.bc(best.select(col("u").as("a"), col("ma"), col("mb"))), Seq("a"))
        .where(col("ma") === col("a") && col("mb") === col("b"))
        .drop("ma", "mb")
        .join(rs.bc(best.select(col("u").as("b"), col("ma"), col("mb"))), Seq("b"))
        .where(col("ma") === col("a") && col("mb") === col("b"))
        .select(col("a"), col("b"))
        .localCheckpoint()
      acc = acc.unionByName(win.withColumn("round", lit(r)))
      val matched = win.select(col("a").as("id"))
        .unionByName(win.select(col("b").as("id"))).distinct()
      live = live
        .join(rs.bc(matched.select(col("id").as("a"))), Seq("a"), "left_anti")
        .join(rs.bc(matched.select(col("id").as("b"))), Seq("b"), "left_anti")
        .select("a", "b", "p")
        .localCheckpoint()
    }
    }
    acc
  }

  /** Full core decomposition via the iterated neighborhood h-index
    * (Lü et al. 2016): val₀ = degree; each round every vertex takes
    *   val'(u) = min(val(u), H({val(v) : v ~ u}))
    * where H is the h-index (max h such that ≥ h neighbors hold value
    * ≥ h). The sequence is component-wise non-increasing and its
    * fixpoint is the EXACT coreness of every vertex — the full-graph
    * generalization of [[kcore]]'s single-k peel (reference scope:
    * onionnet exposes no core decomposition; this extends the T4/G1
    * cohesion suite). `rounds` bounds the sweep; LinkAnalysisSpec pins
    * brute-peel equality at the fixpoint on fixtures, and the g64
    * corpus bound is measured to the sf0.01 fixpoint (10 rounds; the
    * per-round change count decays geometrically — 959, 425, 208, 87,
    * 16, 8, 4, 1, 0 — so the bound grows only slowly with SF).
    *
    * Scale shape per round: one equi-join of the symmetrized edge list
    * against the value table, a per-vertex ROW_NUMBER window (groups =
    * single adjacency lists, so partition size is bounded by max
    * degree — the usual mega-hub skew caveat, not a corpus-sized
    * sort), and a left join back. Ties inside equal neighbor values
    * cannot change max(min(val, rank)), so the result is independent
    * of any tie order — what makes it engine-portable and
    * hash-matchable. Lineage is checkpoint-truncated per round. */
  def corenessHIndex(edges: DataFrame, rounds: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rounds >= 0, s"corenessHIndex: rounds >= 0, got $rounds")
    // pre-partition the static symmetrized adjacency by the window key
    // ONCE: every round's per-vertex window (and the groupBy("u") after
    // it) then reuses the checkpointed HashPartitioning(u) instead of
    // re-exchanging the edge list per round — at any scale
    val (und, mE) = graft.SparkConfs.checkpointCounted(
      edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
        .repartition(col("u")))
    val (vals0, nV) = graft.SparkConfs.checkpointCounted(
      und.groupBy(col("u").as("id"))
        .agg(count(lit(1)).cast("long").as("val")))
    var vals = vals0
    val w = Window.partitionBy("u").orderBy(col("nval").desc)
    vals = graft.SparkConfs.rounds(edges.sparkSession, "corenessHIndex", nV,
        nV + mE) { rs =>
    rs.upTo(rounds) { _ =>
      val h = und
        .join(rs.bc(vals.select(col("id").as("v"), col("val").as("nval"))),
          Seq("v"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .groupBy("u").agg(max(least(col("nval"), col("rn"))).as("h"))
      vals = vals
        .join(rs.bc(h.withColumnRenamed("u", "id")), Seq("id"), "left")
        .select(col("id"),
          least(col("val"), coalesce(col("h"), lit(0L))).cast("long")
            .as("val"))
        .localCheckpoint(eager = false)
    }
    rs.materialize(vals)
    }
    vals.select(col("id"), col("val").as("coreness"))
  }

  /** Edge-structure audit card (r10) — the one-row "what kind of graph
    * is this" datasheet next to g55's size card: raw multiplicity
    * (edge rows vs distinct pairs), self-loops, RECIPROCITY (the
    * directed-graph mutuality rate — near 0 for a dependency DAG,
    * high for a social graph; decides whether directed kernels are
    * even meaningful), and the exact integer MOMENTS of degree
    * ASSORTATIVITY (Σx, Σy, Σx², Σy², Σxy with x/y = symmetrized
    * simple-graph degrees of each distinct non-self edge's endpoints
    * — the Pearson numerator/denominator pieces; one IEEE op away
    * from the coefficient, the q20 exact-moments treatment, and
    * hub-attracts-hub vs hub-attracts-leaf decides salting and
    * partition strategy at 100 TB). All BIGINT (moment sums
    * decimal-routed), so the card diffs meaningfully across ingest
    * days and re-derives on any engine.
    *
    * Scale shape: one distinct + two tiny joins against the degree
    * table; every aggregate is one row, combined by broadcast cross
    * joins. Returns one row: (n_edge_rows, n_distinct, self_loops,
    * n_reciprocal, reciprocity_ppm, n_assort_edges, sum_x, sum_y,
    * sum_xx, sum_yy, sum_xy). */
  def edgeStructureCard(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val d = e.distinct().localCheckpoint()
    val ns = d.filter(col("src") =!= col("dst")).localCheckpoint()
    val base = e.agg(count(lit(1)).as("n_edge_rows")).crossJoin(
      d.agg(count(lit(1)).as("n_distinct"),
        sum(when(col("src") === col("dst"), 1L).otherwise(0L))
          .as("self_loops")))
    val recip = ns
      .join(ns.select(col("dst").as("src"), col("src").as("dst")),
        Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_reciprocal"))
    val deg = ns.select(col("src").as("v"), col("dst").as("u"))
      .unionAll(ns.select(col("dst").as("v"), col("src").as("u")))
      .distinct()
      .groupBy("v").agg(count(lit(1)).cast("long").as("deg"))
    val mom = ns
      .join(deg.select(col("v").as("src"), col("deg").as("x")), Seq("src"))
      .join(deg.select(col("v").as("dst"), col("deg").as("y")), Seq("dst"))
      .agg(count(lit(1)).as("n_assort_edges"),
        sum(col("x").cast("decimal(38,0)")).cast("long").as("sum_x"),
        sum(col("y").cast("decimal(38,0)")).cast("long").as("sum_y"),
        // quadratic moments stay DECIMAL(38,0) (string form for
        // engine-portable hashing, the x52 sum_micros treatment):
        // Σ deg² crosses 2^63 well inside the 100 TB regime (hub
        // degrees ~1e6 over 1e12 edges), where a long cast would
        // silently NULL
        sum((col("x") * col("x")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("string").as("sum_xx"),
        sum((col("y") * col("y")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("string").as("sum_yy"),
        sum((col("x") * col("y")).cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("string").as("sum_xy"))
    base.crossJoin(recip).crossJoin(mom)
      .withColumn("reciprocity_ppm", expr(
        "n_reciprocal * 1000000 DIV greatest(n_distinct - self_loops, 1)"))
      .select("n_edge_rows", "n_distinct", "self_loops", "n_reciprocal",
        "reciprocity_ppm", "n_assort_edges", "sum_x", "sum_y", "sum_xx",
        "sum_yy", "sum_xy")
  }

  /** Butterfly (bipartite 4-cycle) census card — the bipartite
    * analogue of the triangle count (g32): a butterfly is two
    * left-nodes sharing two right-nodes, the smallest cohesive motif
    * a bipartite graph has (triangles cannot exist), and the standard
    * density signal for bipartite layers (F5's views expose exactly
    * such order⋈part / customer⋈order structures). One row out:
    *
    *   (n_left, n_right, n_edges, n_wedges, n_butterflies)
    *
    * where a wedge is a right-pair sharing one left-node
    * (Σ_a C(deg a, 2) over LEFT nodes) and n_butterflies =
    * Σ_{b1<b2} C(|common left|, 2) — exact integer counts, so the
    * card hash-matches on any engine. The two quadratic tallies are
    * DECIMAL(38,0)-summed and emitted as their string form (the g66
    * treatment: Σ C(·,2) crosses 2^63 well inside the 100 TB regime);
    * per-pair C(·,2) halves the even factor BEFORE a decimal multiply
    * (r11 ADVICE — a LONG n*(n-1) product wraps at n > ~3.04e9), so
    * the per-pair term is exact for ANY LONG count.
    *
    * Input `edges`: (a, b) left/right endpoints, multi-edges dropped
    * here (the motif is defined on the simple graph).
    *
    * Scale shape: the wedge enumeration self-joins the edge list on
    * the LEFT key, so per-left fan-out is C(deg, 2) — `maxLeftDegree`
    * caps it (hubs above the cap are EXCLUDED from wedge/butterfly
    * counts — documented estimate-from-below, the maxDf economics of
    * x42: at 100 TB a single 1e6-degree hub is 5e11 wedge rows, and
    * every published butterfly counter bounds or samples it). Counts
    * aggregate map-side; the wedge groupBy keys on the right pair. */
  def butterflyCard(edges: DataFrame, maxLeftDegree: Long = 10000L)
      : DataFrame = {
    require(maxLeftDegree >= 2,
      s"butterflyCard: maxLeftDegree >= 2, got $maxLeftDegree")
    val e = edges.select(col("a"), col("b")).distinct()
      .localCheckpoint() // reused four times below
    val deg = e.groupBy("a").agg(count(lit(1)).as("d"))
    val kept = e.join(deg.where(col("d") <= maxLeftDegree)
      .select("a"), Seq("a"))
    // wedges per right-pair (b1 < b2): |common left nodes|
    val wedges = kept.as("l").join(kept.as("r"), Seq("a"))
      .where(col("l.b") < col("r.b"))
      .groupBy(col("l.b").as("b1"), col("r.b").as("b2"))
      .agg(count(lit(1)).as("w"))
    val totals = e.agg(
      countDistinct(col("a")).as("n_left"),
      countDistinct(col("b")).as("n_right"),
      count(lit(1)).as("n_edges"))
    // C(n,2) with the halving BEFORE the multiply and the product in
    // DECIMAL(38,0) (r11 ADVICE): n*(n-1) as a LONG product overflows
    // at n > ~3.04e9; halving the even factor first and multiplying
    // in decimal is exact for any LONG n (product ≤ ~8.5e37 < 1e38).
    def choose2(c: String): Column = expr(
      s"CASE WHEN $c % 2 = 0 THEN CAST($c DIV 2 AS DECIMAL(38,0)) * ($c - 1)" +
      s" ELSE CAST($c AS DECIMAL(38,0)) * (($c - 1) DIV 2) END")
    val wedgeTot = deg.where(col("d") <= maxLeftDegree)
      .agg(coalesce(sum(choose2("d")), lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("string").as("n_wedges"))
    val bfly = wedges
      .agg(coalesce(sum(choose2("w")), lit(0).cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("string").as("n_butterflies"))
    totals.crossJoin(broadcast(wedgeTot)).crossJoin(broadcast(bfly))
      .select(col("n_left"), col("n_right"), col("n_edges"),
        col("n_wedges"), col("n_butterflies"))
  }
}
