package graft.algos

import graft.model.OnionGraph
import org.apache.spark.graphx.{Edge, Graph, VertexId, PartitionStrategy}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/**
 * GraphX projection of an [[OnionGraph]] and the Pregel kernels for the
 * analytical queries (BASELINE.json north star: "GraphX for analytics
 * queries").
 *
 * `vid = xxhash64(layer,nodeId)` is already a `Long`, so it plugs
 * straight into GraphX's `VertexId`. Edges are partitioned with
 * `EdgePartition2D` — bounds replication at sqrt(numParts) even under
 * the star schema's heavy skew (one region vertex touching every
 * nation; SURVEY §7.4).
 *
 * Each kernel returns a DataFrame keyed by `vid` so results compose
 * with the relational layer (and with the DuckDB-oracle relabeling in
 * [[Traversals]]). One kernel per problem and engine: BFS is
 * [[pregelBfsSeeds]] here and [[Traversals.bfsFrom]] as a DataFrame
 * loop; PageRank is [[pageRankStatic]] here and the exact
 * [[pageRankFixedPoint]] loop; weak components run only as the
 * DataFrame star-contraction loop [[Traversals.weakComponents]].
 */
object GraphOps {

  /** GraphX projections are memoized per OnionGraph instance (weakly —
    * dropping the graph drops the projection): the DataFrame->RDD
    * conversion plus the EdgePartition2D shuffle is pure ingest cost,
    * and the "ingest once, query many" deployment (same as the
    * reference's single in-memory graph) shares it across every
    * Pregel/PageRank/components call on the same graph. ONE directed
    * projection serves all three sweep directions — undirected sweeps
    * send messages both ways along each triplet instead of
    * materializing a symmetrized edge copy (which would double the
    * resident edge blocks for the life of the graph). */
  private val gxCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[OnionGraph, Graph[Unit, Double]]())

  /** RDD ids pinned by memoized projections of PERSISTED graphs.
    * The projection builds LAZILY on first GraphX use (a relational-
    * or pipeline-only workload never pays for it — measured 370 s of
    * the sf10 ingest), so a housekeeping sweep that unpersists stray
    * RDDs between queries (Bench's per-query cleanup) must spare
    * these ids or every later Pregel call would silently rebuild. */
  private val pinned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  def pinnedRddIds: Set[Int] = {
    import scala.jdk.CollectionConverters._
    pinned.asScala.toSet
  }

  /** Shared projection builder: `edgeMapper` decides the projection
    * kind (directed vs symmetrized). Blocks are pinned only for
    * long-lived (persisted) graphs — the StarGraph-style "ingest once"
    * instance. Derived views (filterVertices/viewLayers) are fresh
    * objects per call: their memo entry never hits again, and an
    * unconditional cache() would pin a new projection per invocation
    * with no unpersist path (Verify has no release loop). */
  /** ~1M edges per GraphX partition. Partition count must track the
    * DATA, not the session default: a Pregel superstep launches a few
    * stages over every partition, so a 25k-edge graph on 32 partitions
    * pays ~100 empty-task launches per round (measured ~3s/query at
    * sf0.1), while a 100 TB graph genuinely needs thousands of
    * partitions. Sized from Catalyst plan statistics — no extra
    * count() scan at build time. */
  private val TargetEdgesPerPartition = 1L << 20

  private def buildProjection(g: OnionGraph,
                              edgeCols: Seq[String] = Seq("src", "dst"))
                             (edgeMapper: Row => Iterator[Edge[Double]]): Graph[Unit, Double] = {
    val esDf = g.edges.selectExpr(edgeCols: _*)
    val stats = esDf.queryExecution.optimizedPlan.stats
    // clamp the BigInt estimate BEFORE narrowing: size-only stats
    // multiply across joins and can exceed Long.MaxValue, where a bare
    // .toLong wraps (possibly negative -> parts collapsing to 1)
    val estEdges = stats.rowCount
      .map(_.min(BigInt(Long.MaxValue)).toLong)
      .getOrElse(stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong / 16L)
    val es: RDD[Edge[Double]] = esDf.rdd.flatMap(edgeMapper)
    val parts = math.max(1, math.min(es.getNumPartitions,
      math.ceil(estEdges.toDouble / TargetEdgesPerPartition).toInt))
    val vs: RDD[(VertexId, Unit)] =
      g.vertices.select("vid").rdd.map(r => (r.getLong(0), ())).coalesce(parts)
    val gx = Graph(vs, es).partitionBy(PartitionStrategy.EdgePartition2D, parts)
    if (g.vertices.storageLevel != org.apache.spark.storage.StorageLevel.NONE) {
      gx.cache()
      pinned.add(gx.vertices.id)
      pinned.add(gx.edges.id)
      gx
    } else gx
  }

  def toGraphX(g: OnionGraph): Graph[Unit, Double] =
    gxCache.computeIfAbsent(g, _ => buildProjection(g)(r =>
      Iterator(Edge(r.getLong(0), r.getLong(1), 1.0))))

  /** Pregel BFS — the GraphX twin of [[Traversals.bfsFrom]]: hop
    * distance from a DataFrame seed set over the single memoized
    * directed projection. Vertices start at 0 (seeds, joined in via
    * outerJoinVertices — no driver-side collect, so seed sets of any
    * size work) or MaxValue; messages relax dist+1 src->dst, or
    * dst->src with `reverse = true` (no reversed edge copy), or both
    * ways with `undirected = true` (no symmetrized copy). `maxDist`
    * bounds the supersteps like the reference's `max_dist`
    * (`searcher.py:208`); < 0 is unbounded. Returns (vid, dist). */
  def pregelBfsSeeds(g: OnionGraph, seeds: DataFrame, maxDist: Int = -1,
                     reverse: Boolean = false,
                     undirected: Boolean = false): DataFrame = {
    require(!(reverse && undirected),
      "pregelBfsSeeds: reverse has no meaning on an undirected sweep")
    val forward = undirected || !reverse
    val backward = undirected || reverse
    val seedRdd: RDD[(VertexId, Int)] =
      seeds.select("vid").rdd.map(r => (r.getLong(0), 0))
    val init = toGraphX(g).outerJoinVertices(seedRdd)((_, _, o) =>
      o.getOrElse(Int.MaxValue))
    val iters = if (maxDist < 0) Int.MaxValue else maxDist
    val res = init.pregel(Int.MaxValue, iters)(
      (_, d, msg) => math.min(d, msg),
      t => {
        val down =
          if (forward && t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
            Iterator((t.dstId, t.srcAttr + 1))
          else Iterator.empty
        val up =
          if (backward && t.dstAttr != Int.MaxValue && t.dstAttr + 1 < t.srcAttr)
            Iterator((t.srcId, t.dstAttr + 1))
          else Iterator.empty
        down ++ up
      },
      (a, b) => math.min(a, b))
    vidValueDf(g.spark, res.vertices.filter(_._2 != Int.MaxValue), "dist",
      org.apache.spark.sql.types.IntegerType)
  }

  /** Weighted single-source shortest paths (Pregel relaxation): edge
    * weights from `weightCol`, distances start at 0.0 on the seed set
    * and +Inf elsewhere, each superstep relaxes dist + weight along
    * edge direction. Converges in <= diameter supersteps; `maxIter`
    * bounds the job graph like the BFS kernels. Returns (vid, dist)
    * for reached vertices only.
    *
    * Determinism: a path's distance is accumulated strictly along the
    * path (same order any engine walks it), and the final value is the
    * MIN over complete path sums — so even float weights hash-match a
    * recursive-CTE oracle. Not memoized (callers choose arbitrary
    * weight columns); projections are per-call like other derived
    * views. */
  def weightedSssp(g: OnionGraph, seeds: DataFrame, maxIter: Int = 20,
                   weightCol: String = "qty"): DataFrame = {
    // NULL weights relax as unit weight 1.0 (the BFS default) rather
    // than NPE-ing in getDouble — the same treatment a missing weight
    // column gets in OnionNet.shortestDistances.
    val gx = buildProjection(g,
      Seq("src", "dst", s"CAST(COALESCE($weightCol, 1.0) AS DOUBLE) AS __w"))(r =>
      Iterator(Edge(r.getLong(0), r.getLong(1), r.getDouble(2))))
    val seedRdd: RDD[(VertexId, Double)] =
      seeds.select("vid").rdd.map(r => (r.getLong(0), 0.0))
    val init = gx.outerJoinVertices(seedRdd)((_, _, o) =>
      o.getOrElse(Double.PositiveInfinity))
    val res = init.pregel(Double.PositiveInfinity, maxIter)(
      (_, d, msg) => math.min(d, msg),
      t =>
        if (!t.srcAttr.isPosInfinity && t.srcAttr + t.attr < t.dstAttr)
          Iterator((t.dstId, t.srcAttr + t.attr))
        else Iterator.empty,
      (a, b) => math.min(a, b))
    vidValueDf(g.spark, res.vertices.filter(!_._2.isPosInfinity), "dist",
      org.apache.spark.sql.types.DoubleType)
  }

  /** (vid, value) DataFrame from a GraphX vertex RDD — the one schema
    * every kernel below returns. */
  private def vidValueDf[A](spark: SparkSession, vs: RDD[(VertexId, A)],
                            name: String,
                            dt: org.apache.spark.sql.types.DataType): DataFrame =
    spark.createDataFrame(
      vs.map(v => Row(v._1, v._2)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vid",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField(name, dt, nullable = false))))

  /** Strongly connected components — the reference's DEFAULT for
    * `view_components` (`searcher.py:284-295`). Iteration-bounded and
    * shuffle-heavy; fine at test scale, flagged for 100 TB
    * (SURVEY §7.4 — weak components are the cheap path). */
  def stronglyConnectedComponents(g: OnionGraph, numIter: Int = 20): DataFrame =
    vidValueDf(g.spark, toGraphX(g).stronglyConnectedComponents(numIter).vertices,
      "compVid", org.apache.spark.sql.types.LongType)

  /** PageRank over the multi-layer graph (the reference's README cites
    * pagerank speed as its raison d'être) — the one GraphX PageRank
    * kernel, fixed-iteration: a tolerance-driven fixpoint has no
    * worst-case iteration bound, while `numIter` caps the job graph
    * regardless of topology or damping. Spec-pinned to converge to
    * [[pageRankFixedPoint]], the DataFrame kernel. Returns
    * (vid, rank). */
  def pageRankStatic(g: OnionGraph, numIter: Int = 15,
                     resetProb: Double = 0.15): DataFrame =
    vidValueDf(g.spark, toGraphX(g).staticPageRank(numIter, resetProb).vertices,
      "rank", org.apache.spark.sql.types.DoubleType)

  /** Deterministic fixed-point PageRank (DataFrame loop, no GraphX):
    * ranks are BIGINT micro-units (1e9 = rank 1.0) and damping uses
    * integer division, so every step is exact integer arithmetic —
    * results are bit-identical under any partitioning, retry order,
    * task count, or SQL engine. The floating formulation is NOT
    * (partial-sum order varies run to run at scale), which makes this
    * the reproducible-pipeline variant and the DuckDB-oracle-checkable
    * one. Dangling mass is dropped (standard simplification).
    *
    *   r_0(v)     = Scale
    *   r_{k+1}(v) = 0.15*Scale + (85 * Σ_{u→v} (r_k(u) div out(u))) div 100
    *
    * The per-vertex sum aggregates DECIMAL(38,0) (exact at any
    * in-degree — a BIGINT sum could overflow on a 1e9-in-degree hub),
    * then one integral divide returns to BIGINT. Returns
    * (vid, rank_fp). */
  def pageRankFixedPoint(g: OnionGraph, iters: Int = 5,
                         seeds: Option[DataFrame] = None): DataFrame =
    fixedPointRounds(g, iters, None, seeds)

  /** Weighted PageRank, deterministic fixed point — [[
    * pageRankFixedPoint]] with rank mass split PROPORTIONALLY to edge
    * weight instead of uniformly (the co-engagement intensity form:
    * an order routes more mass to the part it bought 40 of than the
    * part it bought 1 of):
    *
    *   r_0(v)     = Scale
    *   r_{k+1}(v) = 0.15·Scale
    *                + (85 · Σ_{u→v} (r_k(u)·w(u,v) div W(u))) div 100
    *
    * with w = the edge's `weightCol` in integer CENTI-units
    * (floor(qty·100 + 0.5) — exactly representable for the graph's
    * decimal-summed quantities; NULL relaxes to 1.0, the
    * [[weightedSssp]] convention; non-positive weights drop) and
    * W(u) = Σ out-weights. The per-edge product r·w stays BIGINT
    * while it fits and routes through DECIMAL(38,0) before its
    * integral divide when it would overflow, so no hub rank can
    * overflow the multiply; gathers DECIMAL-sum as in the unweighted
    * kernel. Uniform weights reproduce [[pageRankFixedPoint]]
    * bit-for-bit (spec-pinned). Returns (vid, rank_fp). */
  def pageRankWeightedFixedPoint(g: OnionGraph, iters: Int = 5,
                                 weightCol: String = "qty"): DataFrame =
    fixedPointRounds(g, iters, Some(weightCol), None)

  /** The round loop of both fixed-point kernels. The unweighted rule
    * `r DIV out(u)` is the weighted `(r·w) DIV W(u)` with w = 1, and
    * the uniform reset is the personalized one with every vertex a
    * seed (is_seed ∈ {0,1}):
    *
    *   r_0(v)     = is_seed(v) * Scale
    *   r_{k+1}(v) = is_seed(v)*0.15*Scale + (85 * Σ contrib) div 100
    *
    * Loop invariants are built once, in ONE checkpoint each: the edge
    * slice, then the vertex base with each vertex's out-weight `wdeg`
    * (a partially aggregated group-by over the checkpointed slice, so
    * a hub source is no skewed task); the row counts the gates need
    * ride those checkpoints as `Observation`s. The ranks carry `wdeg`,
    * so each round is the rank join + gather + one checkpoint. */
  private def fixedPointRounds(g: OnionGraph, iters: Int,
                               weightCol: Option[String],
                               seeds: Option[DataFrame]): DataFrame = {
    import org.apache.spark.sql.functions._
    val Scale = 1000000000L
    val w = weightCol match {
      case None => lit(1L)
      case Some(c) =>
        expr(s"CAST(floor(coalesce($c, 1.0) * 100 + 0.5) AS BIGINT)")
    }
    val (e, mE) = graft.SparkConfs.checkpointCounted(
      g.edges.select(col("src"), col("dst"), w.as("w")).where(col("w") > 0))
    val wdeg = e.groupBy(col("src").as("vid"))
      .agg(sum(col("w").cast("decimal(38,0)")).cast("long").as("wdeg"))
    val (vbase, nV) = graft.SparkConfs.checkpointCounted((seeds match {
      case None => g.vertices.select(col("vid"), lit(1L).as("is_seed"))
      case Some(sd) => g.vertices.select("vid")
        .join(sd.select(col("vid")).distinct().withColumn("is_seed", lit(1L)),
          Seq("vid"), "left")
        .na.fill(0L, Seq("is_seed"))
    }).join(wdeg, Seq("vid"), "left"))
    // exact in BIGINT while r·w fits, the DECIMAL form only on
    // overflow: a DECIMAL product on every row cost 10.4 s against
    // 6.3 s in BIGINT (symmetrized sf0.1 star graph, 2.7M edges, 3
    // rounds, local[4])
    val contrib = expr("coalesce(try_multiply(r, w) DIV wdeg, " +
      "CAST((CAST(r AS DECIMAL(38,0)) * w) DIV wdeg AS BIGINT))")
    var ranks = vbase.select(col("vid"), col("wdeg"),
      (col("is_seed") * Scale).as("r"))
    graft.SparkConfs.rounds(g.spark, "pageRankFixedPoint", nV, nV + mE) { rs =>
    rs.upTo(iters) { _ =>
      val gathered = e.join(rs.bc(ranks.withColumnRenamed("vid", "src")), Seq("src"))
        .groupBy(col("dst").as("vid"))
        .agg(sum(contrib.cast("decimal(38,0)")).as("s"))
      ranks = vbase.join(rs.bc(gathered), Seq("vid"), "left")
        .select(col("vid"), col("wdeg"),
          (col("is_seed") * lit(Scale * 15 / 100)
            + coalesce(expr("(85 * s) DIV 100"), lit(0L))).as("r"))
        .localCheckpoint() // bound the per-iteration plan depth
    }
    }
    ranks.select(col("vid"), col("r").as("rank_fp"))
  }

  /** Deterministic random-walk corpus generation — the data-prep step
    * of DeepWalk/node2vec-style graph embeddings (walk sequences
    * become the "sentences" a skip-gram model trains on), made
    * engine-exact: step t of walk (start, rep) moves to neighbor
    * index md5("start:rep:t") mod degree within the OUT-neighbor list
    * sorted by (layer, node_id). No RNG, no stored state — any
    * engine, partitioning, or retry deals the identical walks (a
    * rand()-seeded walker does not survive task retries), which is
    * what makes a 100 TB walk corpus reproducible and its downstream
    * embedding training restartable.
    *
    * Walks end early at sinks. Returns one row per visited step:
    * (start_id, rep, step, layer, node_id), step 0 = the start row.
    *
    * Scale shape: the neighbor-list table is one groupBy of the edge
    * set (built once, reused across all `len` rounds); each round is
    * one equi-join of the walk frontier (starts × reps rows) against
    * it — state is O(walks), never O(edges × walks). */
  def deterministicWalks(g: OnionGraph, starts: DataFrame, reps: Int,
                         walkLen: Int): DataFrame = {
    require(reps > 0 && walkLen >= 0,
      "deterministicWalks: reps > 0, walkLen >= 0")
    import org.apache.spark.sql.functions._
    val spark = g.vertices.sparkSession
    val vl = g.vertices.select(col("vid"), col("layer"), col("nodeId"))
    val e = g.edges.select(col("src"), col("dst"))
      .join(vl.select(col("vid").as("src"), col("layer").as("sl"),
        col("nodeId").as("sid")), Seq("src"))
      .join(vl.select(col("vid").as("dst"), col("layer").as("tl"),
        col("nodeId").as("tid")), Seq("dst"))
    val (nbrs, nbrRows) = graft.SparkConfs.checkpointCounted(
      e.groupBy(col("sl"), col("sid"))
        .agg(sort_array(collect_list(struct(col("tl"), col("tid"))))
          .as("nbrs")))
    val repsDf = spark.range(reps).select(col("id").cast("int").as("rep"))
    val (frontier0, frontierRows) = graft.SparkConfs.checkpointCounted(
      starts.select(col("layer"), col("nodeId"))
        .crossJoin(repsDf)
        .select(col("nodeId").as("start_id"), col("rep"),
          lit(0).as("step"), col("layer"), col("nodeId").as("node_id")))
    var frontier = frontier0
    var out = frontier
    graft.SparkConfs.rounds(spark, "deterministicWalks", frontierRows,
        nbrRows + frontierRows) { rs =>
    rs.upTo(walkLen) { t =>
      val h = pmod(
        conv(substring(md5(concat_ws(":", col("start_id"), col("rep"),
          lit(t))), 1, 15), 16, 10).cast("long"),
        size(col("nbrs")).cast("long")).cast("int") + 1
      val f = rs.bc(frontier)
      frontier = f
        .join(nbrs, f("layer") === nbrs("sl") &&
          f("node_id") === nbrs("sid"))
        .withColumn("nx", element_at(col("nbrs"), h))
        .select(col("start_id"), col("rep"), lit(t).as("step"),
          col("nx.tl").as("layer"), col("nx.tid").as("node_id"))
        .localCheckpoint()
      out = out.unionByName(frontier)
    }
    }
    out
  }

  /** Skip-gram training pairs from a [[deterministicWalks]] corpus —
    * the last hop from graph to embedding trainer: every (center,
    * context) node pair co-occurring within `window` steps of the
    * same walk, with corpus-wide counts (the co-occurrence table a
    * skip-gram/word2vec-style trainer consumes). One self-join on the
    * walk key (walks are `len+1` rows — the join is per-walk-local)
    * plus one count aggregation; both map-side-combinable at corpus
    * scale. */
  def walkSkipGramPairs(walks: DataFrame, win: Int): DataFrame = {
    require(win > 0, s"walkSkipGramPairs: window > 0, got $win")
    import org.apache.spark.sql.functions._
    val a = walks.select(col("start_id"), col("rep"),
      col("step").as("sa"), col("layer").as("center_layer"),
      col("node_id").as("center_id"))
    val b = walks.select(col("start_id"), col("rep"),
      col("step").as("sb"), col("layer").as("context_layer"),
      col("node_id").as("context_id"))
    a.join(b, Seq("start_id", "rep"))
      .filter(col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= win)
      .groupBy("center_layer", "center_id", "context_layer", "context_id")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Deterministic node embeddings from the skip-gram co-occurrence
    * table — the graph→vector bridge's LAST leg (walks g47 →
    * skip-gram pairs g48 → THIS): classic count-based embeddings
    * (PPMI-weighted context vectors compressed by random projection —
    * the Levy & Goldberg 2014 observation that skip-gram
    * factorizes a PMI matrix, minus the SGD), made engine-exact.
    *
    * Per (center, context) pair the association weight is the PMI
    * RATIO in integer ppm, positive part only:
    * `w = max(cnt·N·1e6 / (centerTotal·contextTotal) − 1e6, 0)` (no
    * libm log — the log is monotone in the ratio, so thresholding /
    * ranking behavior is preserved and the arithmetic is exact on any
    * engine). Dimension d of a center's embedding is the signed sum
    * of its context weights, sign = parity of the first md5 hex digit
    * of "context_layer:context_id:d" — a deterministic ±1 random
    * projection (Achlioptas-style), so the whole embedding table is
    * bit-reproducible across engines, partitionings, and retries, and
    * a 100 TB re-run or a DuckDB audit re-derives it exactly.
    *
    * Returns (layer, node_id, dim, value) exploded — the
    * oracle-checkable form; `array_agg` by (layer, node_id) for the
    * Array form [[graft.ext.Similarity]] consumes. Counts stay in
    * BIGINT: exact while cnt·N·1e6 < 2^63 (N = total pair mass —
    * beyond ~9e12 route through DECIMAL(38,0)).
    *
    * Scale shape: two map-side-combined marginal aggs of the pair
    * table, joined back (the context marginal rides the context-key
    * shuffle the final agg needs anyway); dims explode ×d on the
    * WEIGHTED pairs only (zero-weight pairs are filtered first —
    * PPMI sparsifies hard); one final groupBy(center, dim). The walk
    * corpus itself is never re-scanned. */
  def ppmiEmbeddings(pairs: DataFrame, dims: Int): DataFrame = {
    require(dims > 0, s"ppmiEmbeddings: dims must be positive, got $dims")
    import org.apache.spark.sql.functions._
    val n = pairs.agg(sum("cnt").as("n")) // one row
    val centerTot = pairs.groupBy("center_layer", "center_id")
      .agg(sum("cnt").as("ct"))
    val contextTot = pairs.groupBy("context_layer", "context_id")
      .agg(sum("cnt").as("xt"))
    val weighted = pairs
      .join(centerTot, Seq("center_layer", "center_id"))
      .join(contextTot, Seq("context_layer", "context_id"))
      .crossJoin(broadcast(n))
      .withColumn("w", greatest(
        expr("cnt * n * 1000000L DIV (ct * xt)") - lit(1000000L), lit(0L)))
      .filter(col("w") > 0)
    weighted
      .select(col("center_layer").as("layer"), col("center_id").as("node_id"),
        col("context_layer"), col("context_id"), col("w"),
        explode(sequence(lit(0), lit(dims - 1))).as("dim"))
      .withColumn("sign",
        when(conv(substring(md5(concat_ws(":", col("context_layer"),
          col("context_id"), col("dim"))), 1, 1), 16, 10)
          .cast("long") % 2 === 0, 1L).otherwise(-1L))
      .groupBy("layer", "node_id", "dim")
      .agg(sum(col("w") * col("sign")).as("value"))
  }

  /** Embedding-quality probe by link prediction — the eval harness of
    * the graph→vector bridge: do [[ppmiEmbeddings]] vectors score
    * truly-co-occurring pairs above non-pairs? Takes the exploded
    * embedding table and the skip-gram pair table, draws the k
    * co-occurrence pairs with the smallest md5("center:context")
    * (content-keyed sample — no RNG), builds one rotated negative per
    * positive (pair i's center against pair i+1 mod k's context — the
    * classic corruption scheme, deterministic), and scores both with
    * the embedding dot product over 1e-3-downscaled integer
    * coordinates (exact BIGINT arithmetic; missing coordinates
    * contribute 0). Returns one row per sampled pair with both scores
    * and a `concordant` flag — sum(concordant)/k is the eval metric.
    *
    * Scale shape: the sample is a distributed partial top-k (limit k
    * on the md5 order, never a full sort); everything downstream —
    * rotation window, two dot-product joins — runs on O(k·dims) rows.
    * The embedding table is joined, not collected. */
  def linkPredictionEval(emb: DataFrame, pairs: DataFrame,
                         k: Int): DataFrame = {
    require(k > 1, s"linkPredictionEval: k must be > 1, got $k")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val sampled = pairs
      .filter(col("center_id") =!= col("context_id") ||
        col("center_layer") =!= col("context_layer"))
      .withColumn("mk", md5(concat_ws(":", col("center_layer"),
        col("center_id"), col("context_layer"), col("context_id"))))
      .orderBy("mk").limit(k)
      .withColumn("rn", row_number().over(Window.orderBy("mk")))
      .localCheckpoint() // k rows; feeds the rotation self-join twice
    val rot = sampled.select((col("rn") % k + 1).as("rn"),
      col("context_layer").as("neg_layer"),
      col("context_id").as("neg_id"))
    val cases = sampled.join(rot, "rn")
    def score(a: (String, String), b: (String, String), out: String) = {
      // symmetric (toward-zero) downscale spelled out per sign:
      // engines disagree on whether integer division floors or
      // truncates negatives, so keep every divide on positive operands
      val scaled = "CASE WHEN value < 0 THEN -((-value) DIV 1000) " +
        "ELSE value DIV 1000 END"
      val ea = emb.select(col("layer").as("al"), col("node_id").as("an"),
        col("dim"), expr(scaled).as("va"))
      val eb = emb.select(col("layer").as("bl"), col("node_id").as("bn"),
        col("dim"), expr(scaled).as("vb"))
      cases.select(col("rn"), col(a._1).as("al"), col(a._2).as("an"),
          col(b._1).as("bl"), col(b._2).as("bn"))
        .join(ea, Seq("al", "an"))
        .join(eb, Seq("bl", "bn", "dim"))
        .groupBy("rn").agg(sum(col("va") * col("vb")).as(out))
    }
    cases
      .join(score(("center_layer", "center_id"),
        ("context_layer", "context_id"), "pos_score"), Seq("rn"), "left")
      .join(score(("center_layer", "center_id"),
        ("neg_layer", "neg_id"), "neg_score"), Seq("rn"), "left")
      .select(col("rn"), col("center_layer"), col("center_id"),
        col("context_layer"), col("context_id"),
        col("neg_layer"), col("neg_id"),
        coalesce(col("pos_score"), lit(0L)).as("pos_score"),
        coalesce(col("neg_score"), lit(0L)).as("neg_score"))
      .withColumn("concordant", col("pos_score") > col("neg_score"))
  }

  /** HITS hubs-and-authorities (Kleinberg), deterministic fixed point
    * — the second classic eigenvector centrality the graph-tool suite
    * motivates (`/root/reference/README.md:5`) next to g27's PageRank:
    *
    *   a_t(v) = norm( Σ_{u→v} h_{t-1}(u) )   (authorities gather hubs)
    *   h_t(u) = norm( Σ_{u→v} a_t(v) )       (hubs gather authorities)
    *
    * in BIGINT micro-units, where `norm` divides by the round's MAX
    * (one integral divide) instead of the classical L2 norm — the same
    * dominant-eigenvector direction, but exact integer arithmetic that
    * re-derives bit-identically on any engine and any partitioning
    * (an L2 norm needs sqrt, which no two engines round alike). The
    * per-vertex gather sums ride DECIMAL(38,0) (a 1e9-in-degree hub
    * would overflow a BIGINT sum of 1e6-scaled scores at the extreme),
    * and the round max arrives as a 1-row broadcast cross join.
    * Returns (vid, auth_fp, hub_fp), each scaled to [0, 1e6].
    *
    * Scale shape per round: two edge⋈score equi-joins + two map-side-
    * combinable aggregations; scores are checkpointed so plan depth
    * stays bounded (the g27 round pattern). */
  def hitsFixedPoint(g: OnionGraph, iters: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions._
    require(iters >= 1, s"hitsFixedPoint: iters >= 1, got $iters")
    val (e, mE) = graft.SparkConfs.checkpointCounted(g.edges.select("src", "dst"))
    val (v, nV) = graft.SparkConfs.checkpointCounted(g.vertices.select("vid"))
    var hub = v.select(col("vid"), lit(1000000L).as("x"))
    var auth = hub
    graft.SparkConfs.rounds(g.spark, "hitsFixedPoint", nV, nV + mE) { rs =>
    // one half-step: gather `from`'s score across edges keyed on
    // `joinKey`, grouped onto `gatherKey`, then max-normalize
    def halfStep(joinKey: String, gatherKey: String,
                 from: DataFrame): DataFrame = {
      val raw = v.join(
        rs.bc(e.join(rs.bc(from.withColumnRenamed("vid", joinKey)), Seq(joinKey))
          .groupBy(col(gatherKey).as("vid"))
          .agg(sum(col("x").cast("decimal(38,0)")).as("s"))),
        Seq("vid"), "left")
        .select(col("vid"),
          coalesce(col("s"), lit(0).cast("decimal(38,0)")).as("s"))
      val mx = raw.agg(max("s").as("m"))
      raw.crossJoin(broadcast(mx))
        .select(col("vid"), when(col("m") > 0,
          expr("CAST((s * 1000000) DIV m AS BIGINT)"))
          .otherwise(lit(0L)).as("x"))
        .localCheckpoint()
    }
    rs.upTo(iters) { _ =>
      auth = halfStep("src", "dst", hub)
      hub = halfStep("dst", "src", auth)
    }
    }
    auth.select(col("vid"), col("x").as("auth_fp"))
      .join(hub.select(col("vid"), col("x").as("hub_fp")), Seq("vid"))
  }

  /** Katz centrality, deterministic fixed point — the third classic
    * centrality next to g27's PageRank and g61's HITS, and the one
    * that credits a vertex for ALL incoming walks (attenuated by
    * length), not just the stationary mass:
    *
    *   x_0(v)     = beta
    *   x_{t+1}(v) = beta + (Σ_{u→v} x_t(u)) div alphaDen
    *
    * in BIGINT micro-units (`beta` = 1e6 = 1.0) with attenuation
    * α = 1/alphaDen applied as one integral divide per round — exact
    * integer arithmetic, bit-identical on any engine, partitioning,
    * or retry order (the textbook float iteration is not: partial-sum
    * order varies run to run at scale). After `iters` rounds the
    * score is the truncated-arithmetic form of
    * β·Σ_{k≤iters} α^k |walks of length k into v| — a fixed, exactly
    * defined computation whether or not α < 1/λ_max (convergence is
    * the caller's knob; the bounded iteration is the deterministic
    * contract). Returns (vid, katz_fp).
    *
    * Scale shape per round: ONE edge⋈score equi-join + one map-side-
    * combinable gather whose per-vertex sum rides DECIMAL(38,0) (a
    * 1e9-in-degree hub would overflow a BIGINT sum of micro-unit
    * scores), then one integral divide back to BIGINT; scores are
    * checkpointed per round so plan depth stays bounded (the g27
    * round pattern). */
  def katzFixedPoint(g: OnionGraph, iters: Int = 4,
                     alphaDen: Long = 8L,
                     betaMicro: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.functions._
    require(iters >= 1, s"katzFixedPoint: iters >= 1, got $iters")
    require(alphaDen >= 2, s"katzFixedPoint: alphaDen >= 2, got $alphaDen")
    val (e, mE) = graft.SparkConfs.checkpointCounted(g.edges.select("src", "dst"))
    val (v, nV) = graft.SparkConfs.checkpointCounted(g.vertices.select("vid"))
    var x = v.select(col("vid"), lit(betaMicro).as("x"))
    graft.SparkConfs.rounds(g.spark, "katzFixedPoint", nV, nV + mE) { rs =>
    rs.upTo(iters) { _ =>
      val gathered = e.join(rs.bc(x.withColumnRenamed("vid", "src")), Seq("src"))
        .groupBy(col("dst").as("vid"))
        .agg(sum(col("x").cast("decimal(38,0)")).as("s"))
      x = v.join(rs.bc(gathered), Seq("vid"), "left")
        .select(col("vid"),
          (lit(betaMicro)
            + coalesce(expr(s"CAST(s DIV $alphaDen AS BIGINT)"), lit(0L)))
            .as("x"))
        .localCheckpoint()
    }
    }
    x.select(col("vid"), col("x").as("katz_fp"))
  }
}
