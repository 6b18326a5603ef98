package graft.viz

import graft.model.OnionGraph
import graft.props.PropertyOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The DATA side of the reference's visual-analytics module
 * (`visualisation.py`): palettes, sizes and layouts as columns.
 * Rendering (Cairo/matplotlib) is out of scope (SURVEY preamble); every
 * computation feeding it is here, as pure column math — no UDFs, fully
 * codegen'd.
 *
 * Determinism deltas vs the reference (SURVEY §7.4): category->color
 * assignment iterates SORTED categories (reference iterates a Python
 * set, `visualisation.py:136-139`); layout jitter takes an explicit
 * seed (reference uses unseeded `np.random.uniform`,
 * `visualisation.py:522-525`).
 */
object VizData {

  /** Default palette indices stand in for the reference's matplotlib
    * palette cycling (`visualisation.py:136-139`): the engine emits the
    * palette INDEX; callers map index -> RGBA client-side. */
  val DefaultPaletteSize = 10

  /** V1 categorical: deterministic code (sorted distinct) modulo the
    * palette length. Adds `<prop>_color_idx`. */
  def colorCategorical(df: DataFrame, prop: String,
                       paletteSize: Int = DefaultPaletteSize): DataFrame =
    PropertyOps.encodeCategorical(df, prop)
      .withColumn(s"${prop}_color_idx", col(s"${prop}_code") % paletteSize)
      .drop(s"${prop}_code")

  /** V1 continuous: min/max-normalize into [0,1]; `zeroCentred` makes
    * the range symmetric around 0 (`visualisation.py:150-153`,
    * `:472-475`). Constant columns normalize to 0.5. */
  def colorContinuous(df: DataFrame, prop: String,
                      zeroCentred: Boolean = false): DataFrame = {
    val Row2 = df.agg(min(col(prop)).cast("double"), max(col(prop)).cast("double")).head()
    val (mn, mx) =
      if (Row2.isNullAt(0)) (0.0, 0.0) else (Row2.getDouble(0), Row2.getDouble(1))
    val (lo, hi) =
      if (zeroCentred) { val m = math.max(math.abs(mn), math.abs(mx)); (-m, m) }
      else (mn, mx)
    val norm =
      if (hi == lo) lit(0.5)
      else (col(prop).cast("double") - lit(lo)) / lit(hi - lo)
    df.withColumn(s"${prop}_color_val", norm)
  }

  /** V1 custom color dict with STRICT missing-key error
    * (`visualisation.py:128-130` raises ValueError): unknown category
    * values fail the job via raise_error instead of silently
    * defaulting. */
  def colorByMap(df: DataFrame, prop: String,
                 colors: Map[String, String]): DataFrame = {
    val cases = colors.foldLeft(lit(null).cast("string")) {
      case (acc, (k, v)) => when(col(prop) === k, lit(v)).otherwise(acc)
    }
    df.withColumn(s"${prop}_color",
      coalesce(cases, raise_error(concat(
        lit(s"no color for $prop value: "), col(prop).cast("string")))))
  }

  /** V1 boolean: true -> index 0 ("red"), false -> 1 ("grey"). */
  def colorBoolean(df: DataFrame, prop: String): DataFrame =
    df.withColumn(s"${prop}_color_idx", when(col(prop), 0).otherwise(1))

  /** V2: categorical -> cycled shape index (`visualisation.py:177-233`). */
  def shapeNodes(df: DataFrame, prop: String, nShapes: Int = 7): DataFrame =
    PropertyOps.encodeCategorical(df, prop)
      .withColumn(s"${prop}_shape_idx", col(s"${prop}_code") % nShapes)
      .drop(s"${prop}_code")

  /** V3: halo flags true only for one vertex (`visualisation.py:236-270`). */
  def addHalo(g: OnionGraph, layer: String, nodeId: String): OnionGraph =
    g.copy(vertices = g.vertices.withColumn("halo",
      col("layer") === layer && col("nodeId") === nodeId))

  /** V7 `prop_to_size` (`visualisation.py:734-790`): min/max-scale a
    * numeric column into [mi, ma] with optional power transform;
    * constant column -> all mi (`visualisation.py:776-777`). */
  def propToSize(df: DataFrame, prop: String, mi: Double, ma: Double,
                 power: Double = 1.0): DataFrame = {
    val v = pow(col(prop).cast("double"), lit(power))
    val stats = df.agg(min(v), max(v)).head()
    val (mn, mx) =
      if (stats.isNullAt(0)) (0.0, 0.0) else (stats.getDouble(0), stats.getDouble(1))
    val scaled =
      if (mx == mn) lit(mi)
      else lit(mi) + (v - lit(mn)) / lit(mx - mn) * lit(ma - mi)
    df.withColumn(s"${prop}_size", scaled)
  }

  /** V5 `layout_by_layer` (`visualisation.py:499-536`): x = layer rank ×
    * spacing (layers sorted, `visualisation.py:515-516`), y = even
    * spacing within the layer + optional seeded jitter. The window is
    * partitioned BY LAYER so no global sort bottleneck; within-layer
    * order is the deterministic nodeId sort. */
  def layoutByLayer(vertices: DataFrame, xSpacing: Double = 1.0,
                    ySpacing: Double = 1.0, jitter: Double = 0.0,
                    seed: Long = 42L): DataFrame = {
    // layer rank via broadcast code table, NOT a global unpartitioned
    // window (which would funnel every vertex through one task)
    val wInLayer = Window.partitionBy(col("layer")).orderBy(col("nodeId"))
    val base = vertices
      .join(broadcast(OnionGraph.layerCodes(vertices)), Seq("layer"))
      .withColumn("x", col("layerCode").cast("double") * xSpacing)
      .drop("layerCode")
      .withColumn("y", (row_number().over(wInLayer) - 1).cast("double") * ySpacing)
    if (jitter == 0.0) base
    else base.withColumn("y", col("y") + (rand(seed) - 0.5) * 2 * jitter)
  }

  /** V6 `bipartite_ordered_layout` (`visualisation.py:539-622`):
    * left column ordered by key; right column ordered by the MEAN index
    * of its left neighbors (one-pass barycenter crossing reduction,
    * `visualisation.py:597-609`). Returns (vid, layer, nodeId, x, y).
    * One join + one agg + two layer-local windows — no global sort. */
  def bipartiteOrderedLayout(g: OnionGraph, leftLayer: String,
                             rightLayer: String): DataFrame = {
    val left = g.vertices.filter(col("layer") === leftLayer)
      .withColumn("y",
        (row_number().over(
          Window.partitionBy(col("layer")).orderBy(col("nodeId"))) - 1)
          .cast("double"))
      .select(col("vid"), col("layer"), col("nodeId"), lit(0.0).as("x"), col("y"))
    // neighbors of a right vertex on either edge orientation
    val touchingLeft = g.edges
      .filter(col("srcLayer") === rightLayer && col("dstLayer") === leftLayer)
      .select(col("src").as("rvid"), col("dst").as("lvid"))
      .unionAll(g.edges
        .filter(col("srcLayer") === leftLayer && col("dstLayer") === rightLayer)
        .select(col("dst").as("rvid"), col("src").as("lvid")))
    val bary = touchingLeft
      .join(left.select(col("vid").as("lvid"), col("y").as("ly")), Seq("lvid"))
      .groupBy("rvid").agg(avg("ly").as("bary"))
    val right = g.vertices.filter(col("layer") === rightLayer)
      .join(bary.withColumnRenamed("rvid", "vid"), Seq("vid"), "left")
      .na.fill(Map("bary" -> Double.MaxValue))
      .withColumn("y",
        (row_number().over(Window.partitionBy(col("layer"))
          .orderBy(col("bary"), col("nodeId"))) - 1).cast("double"))
      .select(col("vid"), col("layer"), col("nodeId"), lit(1.0).as("x"), col("y"))
    left.unionByName(right)
  }

  /** Seeded force-directed layout — the slot the reference fills with
    * graph-tool's `sfdp_layout` when no layout is persisted
    * (`visualisation.py:711`). A spring-electrical model on
    * INTEGER-QUANTIZED coordinates with bounded iterations:
    *
    *  - initial positions are content-hashed (portable md5-48bit of
    *    the node name, mod the box) — "seeded" with no RNG state, so
    *    the layout is a pure function of the graph;
    *  - repulsion between all pairs: displacement ∝ dx·C / d², the
    *    exact FR repulsion without any sqrt (δ·k²/|δ|² needs only d²);
    *  - attraction along edges: linear spring, dx / attDiv
    *    (Eades/Hooke form — avoids FR attraction's |δ| sqrt);
    *  - per-axis temperature clamp, cooling as t/k per iteration.
    *
    * Every step is exact BIGINT arithmetic: divisions run as
    * sign·(|num| DIV den) so Spark's truncating DIV and DuckDB's
    * flooring `//` agree (both truncate non-negative operands), which
    * is what makes a 2D force layout — normally a float n-body soup —
    * hash-matchable across engines (g45) and bit-stable across
    * partitionings (VizDataSpec).
    *
    * Scale: all-pairs repulsion is O(n²) per iteration BY DESIGN for
    * bounded slices (the reference lays out views, not the corpus); a
    * full-corpus layout would grid-bin the repulsion (Barnes-Hut style
    * bucketing on x DIV cell, y DIV cell) on the same integer math.
    * Input: undirected-intent edge list (a, b). Output (node, x, y). */
  def forceLayout(edges: DataFrame, iters: Int = 3,
                  box: Long = 1000000L, cRep: Long = 200000000L,
                  attDiv: Long = 10L, temp0: Long = 200000L): DataFrame = {
    val und = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val nodes = und.select(col("a").as("node")).distinct()
    def seeded(salt: String): Column =
      pmod(conv(substring(md5(concat(col("node"), lit(salt))), 1, 12), 16, 10)
        .cast("long"), lit(box))
    var pos = nodes
      .select(col("node"), seeded(":x").as("x"), seeded(":y").as("y"))
      .localCheckpoint()
    // truncating signed integer division both engines agree on:
    // sign(num) * (|num| DIV den) with den > 0
    def tdiv(num: String, den: String): String =
      s"CASE WHEN $num >= 0 THEN ($num) DIV ($den) ELSE -((-($num)) DIV ($den)) END"
    graft.SparkConfs.rounds(edges.sparkSession, "forceLayout").upTo(iters) { k =>
      val t = temp0 / k
      val pj = pos.select(col("node").as("nj"), col("x").as("xj"),
        col("y").as("yj"))
      val rep = pos.crossJoin(pj).where(col("node") =!= col("nj"))
        .select(col("node"), (col("x") - col("xj")).as("dx"),
          (col("y") - col("yj")).as("dy"))
        .withColumn("d2",
          greatest(col("dx") * col("dx") + col("dy") * col("dy"), lit(1L)))
        .groupBy("node")
        .agg(sum(expr(tdiv(s"dx * $cRep", "d2"))).as("fx"),
          sum(expr(tdiv(s"dy * $cRep", "d2"))).as("fy"))
      val att = und
        .join(pos.select(col("node").as("a"), col("x"), col("y")), Seq("a"))
        .join(pj.select(col("nj").as("b"), col("xj"), col("yj")), Seq("b"))
        .select(col("a").as("node"), (col("x") - col("xj")).as("dx"),
          (col("y") - col("yj")).as("dy"))
        .groupBy("node")
        .agg(sum(expr("-(" + tdiv("dx", attDiv.toString) + ")")).as("ax"),
          sum(expr("-(" + tdiv("dy", attDiv.toString) + ")")).as("ay"))
      def step(c: Column, f: Column, a: Column): Column =
        least(greatest(
          c + least(greatest(coalesce(f, lit(0L)) + coalesce(a, lit(0L)),
            lit(-t)), lit(t)),
          lit(0L)), lit(box))
      pos = pos
        .join(rep, Seq("node"), "left")
        .join(att, Seq("node"), "left")
        .select(col("node"),
          step(col("x"), col("fx"), col("ax")).as("x"),
          step(col("y"), col("fy"), col("ay")).as("y"))
        .localCheckpoint()
    }
    pos
  }

  /** [[forceLayout]]'s SCALE PATH — grid-binned (Barnes-Hut-style)
    * repulsion on the same exact-BIGINT math (the `sfdp_layout` slot,
    * `visualisation.py:711`, which graph-tool itself serves with a
    * multilevel approximation for large graphs):
    *
    *  - positions are binned into `cell`-sized grid squares
    *    (`cx = x DIV cell`) — non-negative coordinates, so truncating
    *    and flooring division agree without the sign split;
    *  - NEAR repulsion (cells within Chebyshev distance 1) is the
    *    exact pairwise form, found by a 9-offset EQUI-join on cell ids
    *    — a shuffle-hash join keyed by (cx, cy), never an all-pairs
    *    product;
    *  - FAR repulsion treats each remaining cell as `cnt` superposed
    *    nodes at its integer centroid (`sx DIV cnt`, `sy DIV cnt`):
    *    force = cnt · tdiv(dx·C, d²) — multiply AFTER the division so
    *    both engines compute the identical integer. Non-adjacent cells
    *    are ≥ `cell` apart, so d² ≥ cell² bounds every far term by
    *    box·C/cell² (no overflow for any sane parameterization);
    *  - attraction and the cooled per-axis clamp are [[forceLayout]]'s.
    *
    * Cost per iteration: O(n · density) for near pairs + O(n · cells)
    * for far cells, where cells ≤ (box/cell + 1)² is a CONSTANT — vs
    * the exact form's O(n²). The far side is a broadcast of the
    * cell-aggregate table (at most a few hundred rows).
    *
    * With `cell >= box` every occupied cell is Chebyshev-adjacent, so
    * the far side is empty and the result equals [[forceLayout]]
    * EXACTLY (VizDataSpec pins this); with a finer grid each step
    * differs from exact by at most the temperature clamp, so positions
    * diverge by at most 2·Σtₖ (also spec-pinned). */
  def forceLayoutBinned(edges: DataFrame, iters: Int = 3,
                        box: Long = 1000000L, cRep: Long = 200000000L,
                        attDiv: Long = 10L, temp0: Long = 200000L,
                        cell: Long = 125000L): DataFrame = {
    require(cell > 0, "cell must be positive")
    val spark = edges.sparkSession
    val und = edges.select(col("a"), col("b"))
      .unionAll(edges.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val nodes = und.select(col("a").as("node")).distinct()
    def seeded(salt: String): Column =
      pmod(conv(substring(md5(concat(col("node"), lit(salt))), 1, 12), 16, 10)
        .cast("long"), lit(box))
    var pos = nodes
      .select(col("node"), seeded(":x").as("x"), seeded(":y").as("y"))
      .localCheckpoint()
    def tdiv(num: String, den: String): String =
      s"CASE WHEN $num >= 0 THEN ($num) DIV ($den) ELSE -((-($num)) DIV ($den)) END"
    val offsets = broadcast(spark.createDataFrame(
      (-1 to 1).flatMap(ox => (-1 to 1).map(oy => (ox.toLong, oy.toLong)))
    ).toDF("ox", "oy"))
    graft.SparkConfs.rounds(spark, "forceLayoutBinned").upTo(iters) { k =>
      val t = temp0 / k
      val binned = pos
        .withColumn("cx", expr(s"x DIV $cell"))
        .withColumn("cy", expr(s"y DIV $cell"))
        .localCheckpoint() // feeds near pairs, far pairs, and the agg
      val cellAgg = binned.groupBy("cx", "cy")
        .agg(count(lit(1)).as("cnt"), sum("x").as("sx"), sum("y").as("sy"))
        .select(col("cx").as("gx"), col("cy").as("gy"), col("cnt"),
          expr(s"sx DIV cnt").as("mx"), expr(s"sy DIV cnt").as("my"))
      val near = binned
        .crossJoin(offsets)
        .select(col("node"), col("x"), col("y"),
          (col("cx") + col("ox")).as("jcx"), (col("cy") + col("oy")).as("jcy"))
        .join(binned.select(col("node").as("nj"), col("x").as("xj"),
          col("y").as("yj"), col("cx").as("jcx"), col("cy").as("jcy")),
          Seq("jcx", "jcy"))
        .where(col("node") =!= col("nj"))
        .select(col("node"), (col("x") - col("xj")).as("dx"),
          (col("y") - col("yj")).as("dy"))
        .withColumn("d2",
          greatest(col("dx") * col("dx") + col("dy") * col("dy"), lit(1L)))
        .groupBy("node")
        .agg(sum(expr(tdiv(s"dx * $cRep", "d2"))).as("nfx"),
          sum(expr(tdiv(s"dy * $cRep", "d2"))).as("nfy"))
      val far = binned
        .join(broadcast(cellAgg),
          abs(col("gx") - col("cx")) > 1 || abs(col("gy") - col("cy")) > 1)
        .select(col("node"), col("cnt"), (col("x") - col("mx")).as("dx"),
          (col("y") - col("my")).as("dy"))
        .withColumn("d2",
          greatest(col("dx") * col("dx") + col("dy") * col("dy"), lit(1L)))
        .groupBy("node")
        .agg(sum(expr(s"cnt * (${tdiv(s"dx * $cRep", "d2")})")).as("ffx"),
          sum(expr(s"cnt * (${tdiv(s"dy * $cRep", "d2")})")).as("ffy"))
      val pj = pos.select(col("node").as("nj"), col("x").as("xj"),
        col("y").as("yj"))
      val att = und
        .join(pos.select(col("node").as("a"), col("x"), col("y")), Seq("a"))
        .join(pj.select(col("nj").as("b"), col("xj"), col("yj")), Seq("b"))
        .select(col("a").as("node"), (col("x") - col("xj")).as("dx"),
          (col("y") - col("yj")).as("dy"))
        .groupBy("node")
        .agg(sum(expr("-(" + tdiv("dx", attDiv.toString) + ")")).as("ax"),
          sum(expr("-(" + tdiv("dy", attDiv.toString) + ")")).as("ay"))
      def step(c: Column, f: Column, ff: Column, a: Column): Column =
        least(greatest(
          c + least(greatest(
            coalesce(f, lit(0L)) + coalesce(ff, lit(0L)) + coalesce(a, lit(0L)),
            lit(-t)), lit(t)),
          lit(0L)), lit(box))
      pos = pos
        .join(near, Seq("node"), "left")
        .join(far, Seq("node"), "left")
        .join(att, Seq("node"), "left")
        .select(col("node"),
          step(col("x"), col("nfx"), col("ffx"), col("ax")).as("x"),
          step(col("y"), col("nfy"), col("ffy"), col("ay")).as("y"))
        .localCheckpoint()
    }
    pos
  }

  /** S5 layout persistence (`load_or_compute_layout`,
    * `visualisation.py:625-732`): parquet keyed by (layer, nodeId). */
  def saveLayout(layout: DataFrame, path: String): Unit =
    layout.select("layer", "nodeId", "x", "y")
      .write.mode("overwrite").parquet(path)

  def loadLayout(g: OnionGraph, path: String): DataFrame =
    g.vertices.join(g.spark.read.parquet(path), Seq("layer", "nodeId"), "left")
}
