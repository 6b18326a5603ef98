package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Directed multi-layer property graph as a pair of DataFrames.
 *
 * Spark-native re-expression of the reference's in-memory graph
 * (`core.py:22-69`): vertices are keyed by the composite
 * `(layer, nodeId)` (reference `core.py:54-55`), materialized here as a
 * deterministic 64-bit `vid = xxhash64(layer, nodeId)` so identifiers
 * are stable under any partitioning (insertion-order indices are
 * meaningless on a cluster). Property maps (`builder.py:164-176`) are
 * plain columns on the two DataFrames — open schema, columnar in
 * Parquet, pruned/pushed by Catalyst.
 *
 * Scale design: `vertices` is hash-partitionable by `vid`, `edges` by
 * `src`; all graph operators below are expressed as joins/aggregations
 * on those keys so Spark can co-partition and AQE can re-plan.
 *
 * @param vertices columns: vid: long, layer: string, nodeId: string, props...
 * @param edges    columns: src: long, dst: long, srcLayer, srcId, dstLayer, dstId, props...
 */
final case class OnionGraph(vertices: DataFrame, edges: DataFrame) {
  import OnionGraph._

  def spark: SparkSession = vertices.sparkSession

  /** Distinct layer names with deterministic dense codes (sorted order —
    * intentional deterministic deviation from the reference's
    * insertion-order codes, `core.py:71-90`; see SURVEY §4.3). */
  def layers: DataFrame = OnionGraph.layerCodes(vertices)

  /** Number of vertices / edges (reference prints these after search,
    * `searcher.py:233`). */
  def numVertices: Long = vertices.count()
  def numEdges: Long = edges.count()

  // ---------------------------------------------------------------- views

  /** Vertex-filtered view with induced-subgraph semantics: an edge
    * survives only if BOTH endpoints survive (graph-tool GraphView
    * semantics used at `searcher.py:232,282,298`). Lazy by
    * construction — nothing materializes until an action. */
  def filterVertices(pred: Column): OnionGraph = {
    val vs = vertices.filter(pred)
    OnionGraph(vs, inducedEdges(vs, edges))
  }

  /** Edge-filtered view; vertices untouched (edge-dim branch of
    * `filter_view_by_property`, `searcher.py:344-358`). */
  def filterEdges(pred: Column): OnionGraph =
    OnionGraph(vertices, edges.filter(pred))

  /** Keep vertices in the given layers (`view_layers`,
    * `searcher.py:244-282`), induced subgraph on the edges.
    *
    * Equal to `filterVertices(layer isin names)`, but the edges are
    * first cut to `srcLayer IN names AND dstLayer IN names` (when the
    * edge table carries those columns). The cut is exact: `OnionBuilder`
    * derives `src = vid(srcLayer, srcId)` (and `dst` likewise), so an
    * edge whose `src` lies in a layer-L vertex set has `srcLayer ∈ L`;
    * the semi-joins still run, enforcing that both endpoints exist.
    * It pays on a cached graph: the edge table is a union of
    * per-relation inputs, so each cached batch holds one layer pair
    * and the in-memory scan's per-batch min/max stats skip every batch
    * of the other relations instead of decoding the whole edge set. */
  def viewLayers(names: Seq[String]): OnionGraph = {
    val vs = vertices.filter(col("layer").isin(names: _*))
    val es =
      if (!Seq("srcLayer", "dstLayer").forall(edges.columns.contains)) edges
      else edges.filter(col("srcLayer").isin(names: _*) &&
        col("dstLayer").isin(names: _*))
    OnionGraph(vs, inducedEdges(vs, es))
  }

  /** Per-vertex total degree in the current view (used by isolated-
    * vertex pruning, `searcher.py:340-341`). Single shuffle:
    * union(src,dst) -> hash agg with map-side partial counts. */
  def degrees: DataFrame =
    edges.select(col("src").as("vid"))
      .unionAll(edges.select(col("dst").as("vid")))
      .groupBy("vid").agg(count(lit(1)).as("degree"))

  /** In/out degrees per vertex without dropping zero-degree vertices. */
  def degreeTable: DataFrame = {
    val outd = edges.groupBy(col("src").as("vid"))
      .agg(count(lit(1)).as("out_degree"))
    val ind = edges.groupBy(col("dst").as("vid"))
      .agg(count(lit(1)).as("in_degree"))
    vertices.select("vid", "layer", "nodeId")
      .join(outd, Seq("vid"), "left")
      .join(ind, Seq("vid"), "left")
      .na.fill(0L, Seq("out_degree", "in_degree"))
      .withColumn("degree", col("out_degree") + col("in_degree"))
  }

  /** Drop isolated (degree-0) vertices (`prune_isolated`,
    * `searcher.py:340-341`, `:357-358`, `:441-446`). */
  def pruneIsolated(): OnionGraph = {
    val connected = vertices.join(degrees.select("vid"), Seq("vid"), "left_semi")
    OnionGraph(connected, edges) // edges already have both endpoints present
  }

  /** Bipartite view between two layers: vertices in {a,b}, only
    * CROSS-layer edges kept, then isolated vertices dropped
    * (`create_bipartite_gv`, `searcher.py:413-447`). */
  def bipartite(a: String, b: String): OnionGraph = {
    val vs = vertices.filter(col("layer").isin(a, b))
    val cross = edges.filter(
      (col("srcLayer") === a && col("dstLayer") === b) ||
      (col("srcLayer") === b && col("dstLayer") === a))
    OnionGraph(vs, inducedEdges(vs, cross)).pruneIsolated()
  }

  /** Zero-copy edge reversal (graph-tool reversed view,
    * `searcher.py:207`). */
  def reverse: OnionGraph = {
    val swapped = Map(
      "src" -> "dst", "dst" -> "src",
      "srcLayer" -> "dstLayer", "dstLayer" -> "srcLayer",
      "srcId" -> "dstId", "dstId" -> "srcId")
    OnionGraph(vertices,
      edges.select(edges.columns.map(c =>
        col(c).as(swapped.getOrElse(c, c))).toSeq: _*))
  }

  /** Symmetrized edge set (for undirected traversals,
    * `visualisation.py:281` uses an undirected view). */
  def symmetrize: OnionGraph =
    OnionGraph(vertices, edges.unionByName(reverse.edges).dropDuplicates("src", "dst"))

  def cache(): OnionGraph = { vertices.cache(); edges.cache(); this }
}

object OnionGraph {
  /** The canonical layer-coding rule: distinct layer names with dense
    * codes in sorted order. Single definition shared by `layers` and
    * the layout computations. */
  def layerCodes(vertices: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    vertices.select(col("layer")).distinct()
      .withColumn("layerCode",
        dense_rank().over(Window.orderBy(col("layer"))) - 1)
  }

  /** Deterministic vertex id. Collision probability over 64 bits is
    * negligible at 100 TB vertex-table scale (~1e10 vertices -> ~3e-9
    * per pair); `OnionBuilder.grow` audits at build time. */
  def vid(layer: Column, nodeId: Column): Column = xxhash64(layer, nodeId)

  /** Edges whose BOTH endpoints exist in `vs` — double LEFT SEMI join.
    * At scale both semi-joins shuffle on the edge key being probed;
    * small surviving vertex sets broadcast automatically (AQE).
    * The probe reads every batch of `es`: a caller that knows the
    * surviving layers cuts `es` on `srcLayer`/`dstLayer` first (the
    * vid invariant makes that exact, see [[OnionGraph.viewLayers]]),
    * which lets a cached, relation-clustered edge table skip the
    * batches of the other layers. */
  def inducedEdges(vs: DataFrame, es: DataFrame): DataFrame = {
    val keep = vs.select(col("vid"))
    es.join(keep.withColumnRenamed("vid", "src"), Seq("src"), "left_semi")
      .join(keep.withColumnRenamed("vid", "dst"), Seq("dst"), "left_semi")
  }
}
