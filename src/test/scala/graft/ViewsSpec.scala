package graft

import graft.builder.OnionBuilder
import graft.builder.OnionBuilder.GrowOptions
import graft.model.OnionGraph
import graft.props.PropertyOps
import graft.views.{Exporter, Filters}
import org.apache.spark.sql.functions._

/** F1-F6 + S4 + C5-C7 view/filter/export/property semantics. */
class ViewsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val g = {
    val nodes = Seq(
      ("a", "L1", 10.0, "red"), ("b", "L1", 20.0, "blue"),
      ("c", "L2", 30.0, "red"), ("d", "L2", 40.0, "green"),
      ("e", "L3", 50.0, "blue"))
      .toDF("node_id", "layer", "score", "color")
    val edges = Seq(
      ("a", "L1", "c", "L2", 1.0), ("b", "L1", "d", "L2", 2.0),
      ("c", "L2", "e", "L3", 3.0), ("a", "L1", "b", "L1", 4.0))
      .toDF("source_id", "source_layer", "target_id", "target_layer", "w")
    OnionBuilder.grow(nodes, edges,
      GrowOptions(nodePropCols = Seq("score", "color"), edgePropCols = Seq("w")))
  }

  test("filter_view_by_property vertex dim with induced subgraph (F1/F6)") {
    val v = Filters.filterViewByProperty(g, Filters.VertexDim, "score", "<=", 30.0)
    assert(v.numVertices == 3) // a,b,c
    assert(v.numEdges == 2)    // a->c, a->b survive; b->d, c->e dropped
  }

  test("edge dim filter leaves vertices untouched (searcher.py:344-358)") {
    val v = Filters.filterViewByProperty(g, Filters.EdgeDim, "w", ">", 2.5)
    assert(v.numVertices == 5 && v.numEdges == 2)
  }

  test("isin + unsupported operator semantics (searcher.py:324-336)") {
    val v = g.filterVertices(Filters.predicate("color", "in", Seq("red", "green")))
    assert(v.numVertices == 3)
    intercept[IllegalArgumentException] { Filters.predicate("color", "~", 1) }
  }

  test("compose AND/OR (F2, searcher.py:383-389)") {
    val both = g.filterVertices(Filters.composeAnd(Seq(
      col("score") > 15, col("color") === "red")))
    assert(both.numVertices == 1) // c
    val either = g.filterVertices(Filters.composeOr(Seq(
      col("score") > 45, col("color") === "red")))
    assert(either.numVertices == 3) // a, c, e
  }

  test("view_layers keeps induced subgraph (F3)") {
    val v = g.viewLayers(Seq("L1", "L2"))
    assert(v.numVertices == 4 && v.numEdges == 3)
  }

  test("viewLayers == filterVertices(layer isin …): edges leaving the view drop, repartitioned too") {
    val rnd = new scala.util.Random(7)
    val nodes = (0 until 40).map(i => (i.toString, s"L${i % 4}"))
      .toDF("node_id", "layer")
    val edges = (0 until 120).map { _ =>
      val a = rnd.nextInt(40); val b = rnd.nextInt(40)
      (a.toString, s"L${a % 4}", b.toString, s"L${b % 4}")
    }.toDF("source_id", "source_layer", "target_id", "target_layer")
    val big = OnionBuilder.grow(nodes, edges, GrowOptions())
    val shuffled = graft.model.OnionGraph(big.vertices.repartition(3),
      big.edges.repartition(5))
    for (graph <- Seq(g, big, shuffled);
         names <- Seq(Seq("L1"), Seq("L1", "L2"), Seq("L2", "L3"),
           Seq("L0", "L3", "L1"), Seq("nope"))) {
      val view = graph.viewLayers(names)
      val ref = graph.filterVertices(col("layer").isin(names: _*))
      assert(rows(view.vertices) == rows(ref.vertices), names)
      assert(rows(view.edges) == rows(ref.edges), names)
    }
    // the random graph has edges with one endpoint outside the view
    val v01 = big.viewLayers(Seq("L0", "L1"))
    assert(big.edges.filter(col("srcLayer").isin("L0", "L1") =!=
      col("dstLayer").isin("L0", "L1")).count() > 0)
    assert(v01.edges.filter(!col("srcLayer").isin("L0", "L1") ||
      !col("dstLayer").isin("L0", "L1")).count() == 0)
  }

  test("viewLayers on a cached graph skips the in-memory batches of other relations") {
    // three relations, each its own input like the star graph's
    // edge union: A->B and B->C are big, C->D is small
    val key = "spark.sql.inMemoryColumnarStorage.batchSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "16")
    val cached = try {
      val nodes = Seq("A", "B", "C", "D").flatMap(l =>
        (0 until 400).map(i => (i.toString, l))).toDF("node_id", "layer")
      def rel(s: String, t: String, n: Int) =
        (0 until n).map(i => (i.toString, s, ((i * 7) % 400).toString, t))
          .toDF("source_id", "source_layer", "target_id", "target_layer")
      val built = OnionBuilder.grow(nodes,
        rel("A", "B", 400).unionByName(rel("B", "C", 400))
          .unionByName(rel("C", "D", 20)),
        GrowOptions(dropDuplicates = false)).cache()
      built.vertices.count(); built.edges.count()
      built
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    try {
      val view = cached.viewLayers(Seq("C", "D")).edges
      assert(view.count() == 20)
      view.collect()
      val scans = ViewsSpec.edgeScans(view)
      assert(scans.nonEmpty, view.queryExecution.executedPlan)
      val scanned = scans.map(_.metrics("numOutputRows").value).sum
      assert(scanned < 820 / 10,
        s"the view's edge scan read $scanned of 820 cached rows")
    } finally { cached.vertices.unpersist(); cached.edges.unpersist() }
  }

  test("pruneIsolated drops degree-0 vertices in view (F4)") {
    val v = g.filterEdges(col("w") > 2.5).pruneIsolated()
    assert(rows(v.vertices.select("nodeId")) == Set(Seq("a"), Seq("b"), Seq("c"), Seq("e")))
  }

  test("bipartite keeps only cross-layer edges then prunes (F5)") {
    val b = g.bipartite("L1", "L2")
    assert(b.numEdges == 2)    // a->c, b->d (a->b same-layer dropped)
    assert(b.numVertices == 4) // all of L1,L2 have cross edges here
  }

  test("categorical codes are deterministic sorted dense ranks (C5)") {
    val codes = PropertyOps.categoricalCodes(g.vertices, "color")
      .as[(String, Int)].collect().toMap
    assert(codes == Map("blue" -> 0, "green" -> 1, "red" -> 2))
  }

  test("decode falls back to Unknown (C6, property_manager.py:198)") {
    val df = Seq((0, 0), (1, 7)).toDF("id", "color_code")
    val codes = PropertyOps.categoricalCodes(g.vertices, "color")
    val out = PropertyOps.decode(df, "color_code", codes, "color")
      .select("id", "color").as[(Int, String)].collect().toMap
    assert(out == Map(0 -> "blue", 1 -> "Unknown"))
  }

  test("node labels (C7) and export projections (S4)") {
    val labeled = PropertyOps.withNodeLabels(g).vertices
    assert(labeled.filter(col("label") === "L1:a").count() == 1)
    assert(Exporter.vertexInfo(g, Seq("score")).columns.toSeq ==
      Seq("vid", "layer", "nodeId", "score"))
    assert(Exporter.edgeInfo(g).columns.contains("w"))
  }

  test("export sinks round-trip (S4 return_type variants)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_export").toString
    Exporter.writeParquet(Exporter.vertexInfo(g), s"$dir/v.parquet")
    Exporter.writeCsv(Exporter.edgeInfo(g), s"$dir/e.csv")
    assert(spark.read.parquet(s"$dir/v.parquet").count() == g.numVertices)
    val csv = spark.read.option("header", "true").csv(s"$dir/e.csv")
    assert(csv.count() == g.numEdges && csv.columns.contains("w"))
    // ORC round-trips with the full schema intact (columnar peer of
    // parquet); JSON-lines round-trips values for row consumers
    Exporter.writeOrc(Exporter.vertexInfo(g), s"$dir/v.orc")
    val orc = spark.read.orc(s"$dir/v.orc")
    // nullability widens on read (file formats don't persist it);
    // names and types must survive
    assert(orc.count() == g.numVertices &&
      orc.schema.map(f => (f.name, f.dataType)) ==
        Exporter.vertexInfo(g).schema.map(f => (f.name, f.dataType)))
    Exporter.writeJsonLines(Exporter.edgeInfo(g), s"$dir/e.json")
    val json = spark.read.json(s"$dir/e.json")
    assert(json.count() == g.numEdges && json.columns.contains("w"))
  }

  test("partitioned export prunes by layer at planning time (S4 at scale)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    Exporter.writePartitioned(Exporter.vertexInfo(g), s"$dir/v",
      partitionCols = Seq("layer"))
    // hive-style layer directories on disk
    val dirs = new java.io.File(s"$dir/v").listFiles().map(_.getName)
      .filter(_.startsWith("layer=")).sorted
    assert(dirs.toSeq == Seq("layer=L1", "layer=L2", "layer=L3"))
    val back = spark.read.parquet(s"$dir/v")
    assert(back.count() == g.numVertices)
    // a layer filter becomes a PartitionFilter (no data scan of other
    // layers), not a post-scan predicate
    val plan = back.filter(col("layer") === "L1").queryExecution
      .executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(layer"),
      s"layer filter did not reach partition pruning:\n$plan")
  }

  test("point get/set property (P2/P3) — immutable update") {
    assert(PropertyOps.getVertexProperty(g, "L1", "a", "score").contains(10.0))
    val g2 = PropertyOps.setVertexProperty(g, "L1", "a", "score", lit(99.0))
    assert(PropertyOps.getVertexProperty(g2, "L1", "a", "score").contains(99.0))
    assert(PropertyOps.getVertexProperty(g, "L1", "a", "score").contains(10.0))
    val g3 = PropertyOps.setVertexProperty(g, "L1", "a", "fresh", lit(1.5))
    assert(PropertyOps.getVertexProperty(g3, "L1", "b", "fresh").contains(null) ||
      PropertyOps.getVertexProperty(g3, "L1", "b", "fresh").isEmpty ||
      PropertyOps.getVertexProperty(g3, "L1", "b", "fresh").get == null)
  }

  test("nodeMap guard trips past the vertex-count threshold (r12 verdict #4)") {
    // over-threshold: the guard must fail fast BEFORE collecting
    val e = intercept[IllegalArgumentException] {
      PropertyOps.nodeMap(g, maxVertices = 2)
    }
    assert(e.getMessage.contains("nodeMap would collect"))
    // at/under threshold: collects normally
    val m = PropertyOps.nodeMap(g, maxVertices = 100)
    assert(m.contains(("L1", "a")))
  }

  test("graphCard: hand-computed datasheet; isolated vertex counted") {
    val card = Exporter.graphCard(g).as[(String, Long)].collect().toMap
    // 5 vertices, 4 edges, 3 layers; relation fallback = distinct
    // (srcLayer, dstLayer) pairs (L1,L2),(L2,L3),(L1,L1); a has
    // out-degree 2; every target hit once; nobody isolated
    assert(card == Map("n_vertices" -> 5L, "n_edges" -> 4L,
      "n_layers" -> 3L, "n_relations" -> 3L,
      "max_out_degree" -> 2L, "max_in_degree" -> 1L, "n_isolated" -> 0L))
    // drop all edges touching L3: e becomes isolated
    val pruned = g.filterEdges(col("dstLayer") =!= "L3")
    val card2 = Exporter.graphCard(pruned).as[(String, Long)].collect().toMap
    assert(card2("n_isolated") == 1L && card2("n_edges") == 3L)
  }
}

object ViewsSpec
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  /** The in-memory scans of an executed plan that read the edge table. */
  def edgeScans(df: org.apache.spark.sql.DataFrame): Seq[InMemoryTableScanExec] =
    collect(df.queryExecution.executedPlan) {
      case s: InMemoryTableScanExec
          if s.relation.output.exists(_.name == "srcLayer") => s
    }
}
