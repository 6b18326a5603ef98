package graft

import graft.builder.OnionBuilder
import graft.builder.OnionBuilder.GrowOptions
import graft.algos.Traversals
import org.apache.spark.sql.functions._

/** T1-T4: BFS / reachability / on-shortest / components semantics
  * (searcher.py, SURVEY §2.4) on a hand-built two-layer graph:
  *
  *   L1: a -> b -> c -> d      (chain)
  *   L1: e                     (isolated)
  *   L2: x -> b(L1), c(L1) -> x(L2)   (cross-layer)
  */
class TraversalsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val g = {
    val nodes = Seq(("a", "L1"), ("b", "L1"), ("c", "L1"), ("d", "L1"),
      ("e", "L1"), ("x", "L2")).toDF("node_id", "layer")
    val edges = Seq(
      ("a", "L1", "b", "L1"), ("b", "L1", "c", "L1"), ("c", "L1", "d", "L1"),
      ("x", "L2", "b", "L1"), ("c", "L1", "x", "L2"))
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    OnionBuilder.grow(nodes, edges, GrowOptions())
  }

  private def distMap(layer: String, id: String, k: Int,
                      dir: Traversals.Direction): Map[String, Int] =
    Traversals.search(g, layer, id, k, dir)
      .join(g.vertices, Seq("vid"))
      .select(concat_ws(":", col("layer"), col("nodeId")), col("dist"))
      .as[(String, Int)].collect().toMap

  test("dagLevels: diamond longest-path depths; extra rounds are no-ops") {
    val vs = Seq(1L, 2L, 3L, 4L, 5L).toDF("vid")
    // a->b, a->c, b->d, c->d, d->e: levels 0,1,1,2,3
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val got = Traversals.dagLevels(es, vs, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L))
    val more = Traversals.dagLevels(es, vs, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(more == got)
  }

  test("dagLevels composes with SCC condensation on cyclic input") {
    // a -> (b <-> c) -> d: condensing the 2-cycle yields a 3-node
    // path, so levels are a=0, {b,c}=1, d=2
    val nodes = Seq(("a", "L"), ("b", "L"), ("c", "L"), ("d", "L"))
      .toDF("node_id", "layer")
    val edges = Seq(("a", "L", "b", "L"), ("b", "L", "c", "L"),
      ("c", "L", "b", "L"), ("c", "L", "d", "L"))
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    val cg = OnionBuilder.grow(nodes, edges, GrowOptions())
    val scc = Traversals.strongComponentsDataFrame(cg)
    val qe = cg.edges
      .join(scc.select(col("vid").as("src"), col("compVid").as("csrc")),
        Seq("src"))
      .join(scc.select(col("vid").as("dst"), col("compVid").as("cdst")),
        Seq("dst"))
      .select(col("csrc").as("src"), col("cdst").as("dst"))
      .where(col("src") =!= col("dst"))
    val lv = Traversals.dagLevels(qe,
      scc.select(col("compVid").as("vid")), rounds = 4)
    val byNode = scc
      .join(lv.withColumnRenamed("vid", "compVid"), Seq("compVid"))
      .join(cg.vertices, Seq("vid"))
      .select(col("nodeId"), col("level"))
      .as[(String, Long)].collect().toMap
    assert(byNode == Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 2L))
  }

  test("downstream k-hop BFS bounded by maxDist (searcher.py:208)") {
    assert(distMap("L1", "a", 2, Traversals.Downstream) ==
      Map("L1:a" -> 0, "L1:b" -> 1, "L1:c" -> 2))
  }

  test("bfsFrom: no count job over a loaded cached edge table; same answer over an uncached view") {
    val nodes = (0 until 60).map(i => (i.toString, s"L${i % 2}"))
      .toDF("node_id", "layer")
    val edges = (0 until 59).flatMap(i => Seq(
        (i.toString, s"L${i % 2}", (i + 1).toString, s"L${(i + 1) % 2}"),
        (i.toString, s"L${i % 2}", ((i * 7 + 3) % 60).toString,
          s"L${((i * 7 + 3) % 60) % 2}")))
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    val plain = OnionBuilder.grow(nodes, edges, GrowOptions())
    val cached = graft.model.OnionGraph(plain.vertices.cache(),
      plain.edges.cache())
    cached.vertices.count(); cached.edges.count()
    try {
      def seed(gr: graft.model.OnionGraph) =
        gr.vertices.filter(col("nodeId") === "0").select("vid")
      val (hot, log) = JobLog(spark) {
        Traversals.bfsFrom(cached.edges, seed(cached), 4)
          .as[(Long, Int)].collect().toMap
      }
      assert(!log.actions.contains("count"), log.actions)
      assert(hot.size > 5 && hot.values.max == 4)
      // a filtered view is not a loaded cache: it pays one count, and
      // the traversal gives the same answer
      val (cold, coldLog) = JobLog(spark) {
        Traversals.bfsFrom(plain.edges.filter(col("src") =!= 0L),
          seed(plain), 4).as[(Long, Int)].collect().toMap
      }
      assert(coldLog.actions.count(_ == "count") == 1, coldLog.actions)
      assert(cold == hot)
    } finally { cached.vertices.unpersist(); cached.edges.unpersist() }
  }

  test("unbounded downstream reaches closure incl. cross-layer") {
    assert(distMap("L1", "a", -1, Traversals.Downstream) ==
      Map("L1:a" -> 0, "L1:b" -> 1, "L1:c" -> 2, "L1:d" -> 3, "L2:x" -> 3))
  }

  test("upstream follows reversed edges (searcher.py:207)") {
    assert(distMap("L1", "c", -1, Traversals.Upstream) ==
      Map("L1:c" -> 0, "L1:b" -> 1, "L1:a" -> 2, "L2:x" -> 2))
  }

  test("bi direction unions both reaches with min dist (searcher.py:222-223)") {
    val d = distMap("L1", "c", 1, Traversals.Bi)
    assert(d == Map("L1:c" -> 0, "L1:b" -> 1, "L1:d" -> 1, "L2:x" -> 1))
  }

  test("ego net keeps only induced edges (searcher.py:232, F6)") {
    val ego = Traversals.egoNet(g, "L1", "a", 2, Traversals.Downstream)
    assert(ego.numVertices == 3) // a,b,c
    assert(ego.numEdges == 2)    // a->b, b->c (c->d, c->x dropped: d,x outside)
  }

  test("onShortestPath marks exactly the shortest-chain vertices (searcher.py:26-117)") {
    val on = Traversals.onShortestPath(g,
        col("layer") === "L1" && col("nodeId") === "a",
        col("layer") === "L1" && col("nodeId") === "d")
      .join(g.vertices, Seq("vid"))
      .select(col("nodeId")).as[String].collect().toSet
    assert(on == Set("a", "b", "c", "d")) // x is on a longer a->..->x? x not on any a->d shortest path
  }

  test("reachableEdges marks exactly the swept edges (T2, searcher.py:119-155)") {
    val seeds = g.vertices
      .filter(col("layer") === "L1" && col("nodeId") === "b").select("vid")
    val down = Traversals.reachableEdges(g, seeds, Traversals.Downstream)
      .select("srcId", "dstId").as[(String, String)].collect().toSet
    // reached from b: b,c,d,x -> edges with visited source
    assert(down == Set(("b", "c"), ("c", "d"), ("c", "x"), ("x", "b")))
    val up = Traversals.reachableEdges(g, seeds, Traversals.Upstream)
      .select("srcId", "dstId").as[(String, String)].collect().toSet
    // reaching b: a, x (and c via x) -> edges whose target was visited
    assert(up == Set(("a", "b"), ("x", "b"), ("c", "x"), ("b", "c")))
  }

  test("depthScaledSizes: undirected depths interpolated into [minS, maxS] (T5)") {
    val out = Traversals.depthScaledSizes(g, "L1", "a", 1.0, 10.0)
      .join(g.vertices, Seq("vid"))
      .select($"nodeId", $"dist", $"size")
      .as[(String, Int, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // undirected from a: a=0, b=1, c=2, d=3, x=2; e unreachable
    assert(out("a") == (0, 10.0))
    assert(out("b")._1 == 1 && out("c")._1 == 2 && out("x")._1 == 2)
    assert(out("d") == (3, 1.0)) // max depth maps to minS
    assert(!out.contains("e"))
    // unknown seed -> empty result, no NPE
    assert(Traversals.depthScaledSizes(g, "L1", "nope", 1.0, 10.0).count() == 0)
  }

  test("depthScaledSizesAndText: dual outputs from one sweep (visualisation.py:273-308)") {
    val out = Traversals.depthScaledSizesAndText(g, "L1", "a", 5.0, 20.0, 8.0, 15.0)
      .join(g.vertices, Seq("vid"))
      .select($"nodeId", $"dist", $"size", $"text_size")
      .as[(String, Int, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3, t._4)).toMap
    assert(out("a") == (0, 20.0, 15.0))  // root gets both maxima
    assert(out("d") == (3, 5.0, 8.0))    // max depth gets both minima
    // both columns are the same linear rescale of the same depth
    val (_, sB, tB) = out("b")
    assert(math.abs((20.0 - sB) / 15.0 - (15.0 - tB) / 7.0) < 1e-12)
  }

  test("weak components partition vertices; isolated vertex is its own comp") {
    val comps = Traversals.weakComponents(g)
      .join(g.vertices, Seq("vid"))
      .select(concat_ws(":", col("layer"), col("nodeId")), col("comp"))
      .as[(String, String)].collect().toMap
    assert(comps.values.toSet.size == 2)
    assert(comps("L1:e") == "L1:e")             // singleton component
    assert(comps("L2:x") == comps("L1:a"))      // connected via b/c
    assert(comps("L1:a") == "L1:a")             // min label in component
  }

  test("componentSizes honors threshold (searcher.py:296-297)") {
    val sizes = Traversals.componentSizes(g, minSize = 2)
      .as[(String, Long)].collect().toMap
    assert(sizes == Map("L1:a" -> 5L))
  }

  // ------------------------------------------------- FW-BW strong components

  private def graphOf(edges: Seq[(String, String)],
                      extraNodes: Seq[String] = Nil): graft.model.OnionGraph = {
    val names = (edges.flatMap(e => Seq(e._1, e._2)) ++ extraNodes).distinct
    OnionBuilder.grow(
      names.map(n => (n, "L")).toDF("node_id", "layer"),
      edges.map { case (a, b) => (a, "L", b, "L") }
        .toDF("source_id", "source_layer", "target_id", "target_layer"),
      GrowOptions())
  }

  private def sccNames(g: graft.model.OnionGraph): Set[Set[String]] =
    Traversals.strongComponents(g)
      .join(g.vertices, Seq("vid"))
      .select(col("comp"), col("nodeId"))
      .as[(String, String)].collect()
      .groupBy(_._1).values.map(_.map(_._2).toSet).toSet

  test("strongComponents: DAG is all singletons (pure trim path)") {
    val g2 = graphOf(Seq(("a", "b"), ("b", "c"), ("a", "c")), Seq("iso"))
    assert(sccNames(g2) === Set(Set("a"), Set("b"), Set("c"), Set("iso")))
  }

  test("strongComponents: cycles, bridges, self-loops hand-checked") {
    // two 3-cycles joined by a one-way bridge + a tail + a self-loop
    val g2 = graphOf(Seq(
      ("a", "b"), ("b", "c"), ("c", "a"),      // SCC {a,b,c}
      ("c", "p"),                              // bridge (one-way)
      ("p", "q"), ("q", "r"), ("r", "p"),      // SCC {p,q,r}
      ("r", "t"),                              // tail -> singleton t
      ("s", "s")))                             // self-loop -> singleton s
    assert(sccNames(g2) === Set(
      Set("a", "b", "c"), Set("p", "q", "r"), Set("t"), Set("s")))
  }

  private def wccRandom(seed: Int, m: Int, n: Int,
                        extra: Seq[String]): graft.model.OnionGraph = {
    val rnd = new scala.util.Random(seed)
    val es = (1 to m).map(_ =>
      ("n" + rnd.nextInt(n), "n" + rnd.nextInt(n)))
      .filter(e => e._1 != e._2).distinct
    graphOf(es, extra)
  }

  private def wccMap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.as[(Long, String)].collect().toMap

  test("weakComponentsLogRounds == label-prop kernel on random graphs + chains") {
    // weakComponents is the O(log n)-round star-contraction kernel; its
    // (vid, comp) map must equal min-label propagation's fixpoint (every
    // vertex labeled with its component's min "layer:nodeId"), computed
    // here by the driver union-find — including on the long chain,
    // where label propagation would need one round per link
    for (seed <- Seq(71, 72)) {
      val g2 = wccRandom(seed, 40, 25, Seq("iso1", "iso2"))
      assert(wccMap(Traversals.weakComponents(g2))
        == UnionFind.weakComponents(g2), s"seed=$seed")
    }
    // 60-link chain: one component labeled by the lexicographic min
    val chain = graphOf((0 until 60).map(i => (s"v$i", s"v${i + 1}")))
    val got = wccMap(Traversals.weakComponents(chain))
    assert(got.values.toSet == Set("L:v0"))
    assert(got.size == 61)
    assert(got == UnionFind.weakComponents(chain))
    // edge-free graph: everyone their own component
    val iso = graphOf(Nil, Seq("a", "b"))
    assert(wccMap(Traversals.weakComponents(iso))
      .values.toSet == Set("L:a", "L:b"))
  }

  test("weakComponents default == GraphX kernel (round-10 reroute pin)") {
    // GraphX's own connectedComponents, relabeled to each component's
    // min "layer:nodeId", must give the identical (vid, comp) map; the
    // driver union-find must agree with both
    for (seed <- Seq(73, 74)) {
      val g2 = wccRandom(seed, 50, 30, Seq("alone"))
      val lbl = g2.vertices
        .select(col("vid"), concat_ws(":", col("layer"), col("nodeId")))
        .as[(Long, String)].collect().toMap
      val gxComp = graft.algos.GraphOps.toGraphX(g2).connectedComponents()
        .vertices.collect().toMap
      val minName = lbl.keys.groupBy(gxComp).map { case (c, vs) =>
        c -> vs.map(lbl).min }
      val gx = lbl.keys.map(v => v -> minName(gxComp(v))).toMap
      val got = wccMap(Traversals.weakComponents(g2))
      assert(got == gx, s"seed=$seed")
      assert(got == UnionFind.weakComponents(g2), s"seed=$seed (union-find)")
    }
  }

  test("strongComponents: path-of-cycles adversarial topology is exact") {
    // the documented worst case for label-propagation SCC (SCALE.md):
    // m 3-cycles chained head-to-tail by one-way bridges, plus a DAG
    // tail — rounds scale with the chain, but the ANSWER must stay
    // exact: every cycle its own component, tail nodes singletons.
    val m = 40
    val cyc = (0 until m).flatMap { i =>
      Seq((s"c${i}_0", s"c${i}_1"), (s"c${i}_1", s"c${i}_2"),
        (s"c${i}_2", s"c${i}_0"))
    }
    val bridges = (0 until m - 1).map(i => (s"c${i}_2", s"c${i + 1}_0"))
    val tail = Seq((s"c${m - 1}_2", "t0"), ("t0", "t1"), ("t1", "t2"))
    val g2 = graphOf(cyc ++ bridges ++ tail)
    val expected = (0 until m)
      .map(i => Set(s"c${i}_0", s"c${i}_1", s"c${i}_2")).toSet ++
      Set(Set("t0"), Set("t1"), Set("t2"))
    assert(sccNames(g2) === expected)
  }

  test("strongComponents matches GraphX SCC and brute closure on random graphs") {
    for (seed <- Seq(61, 62, 63)) {
      val rnd = new scala.util.Random(seed)
      val es = (1 to 60).map(_ =>
        ("n" + rnd.nextInt(18), "n" + rnd.nextInt(18)))
        .filter(e => e._1 != e._2).distinct
      val g2 = graphOf(es)
      // brute: comp(u) == comp(v) iff mutual reachability in the closure
      val names = es.flatMap(e => Seq(e._1, e._2)).distinct
      val idx = names.zipWithIndex.toMap
      val n = names.size
      val reach = Array.fill(n, n)(false)
      names.foreach(u => reach(idx(u))(idx(u)) = true)
      es.foreach { case (u, v) => reach(idx(u))(idx(v)) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val exp = names.groupBy(u => names.filter(v =>
          reach(idx(u))(idx(v)) && reach(idx(v))(idx(u))).toSet)
        .keys.toSet
      assert(sccNames(g2) === exp, s"seed=$seed")
      // and the GraphX kernel agrees on the partition
      val gx = graft.algos.GraphOps.stronglyConnectedComponents(g2)
        .join(g2.vertices, Seq("vid"))
        .select(col("compVid"), col("nodeId"))
        .as[(Long, String)].collect()
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
      assert(sccNames(g2) === gx, s"seed=$seed (GraphX parity)")
    }
  }
}
