package graft

import graft.algos.{GraphOps, Traversals}
import graft.builder.OnionBuilder
import graft.builder.OnionBuilder.GrowOptions
import org.apache.spark.sql.functions._
import scala.util.Random

/** GraphX kernels vs the DataFrame traversals: same answers on random
  * small graphs (SURVEY §5.2 property-based invariants). */
class GraphOpsSpec extends SparkSuite {
  import spark.implicits._

  private def randomGraph(seed: Int, n: Int, m: Int) = {
    val rnd = new Random(seed)
    val nodes = (0 until n).map(i => (i.toString, s"L${i % 3}")).toDF("node_id", "layer")
    val edges = (0 until m).map { _ =>
      val a = rnd.nextInt(n); val b = rnd.nextInt(n)
      (a.toString, s"L${a % 3}", b.toString, s"L${b % 3}")
    }.toDF("source_id", "source_layer", "target_id", "target_layer")
    OnionBuilder.grow(nodes, edges, GrowOptions())
  }

  test("Pregel BFS == DataFrame BFS on random graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val g = randomGraph(seed, 30, 60)
      val seedVid = g.vertices.orderBy("vid").select("vid").as[Long].head()
      val seeds = g.vertices.filter(col("vid") === seedVid).select("vid")
      val df = Traversals.bfsFrom(g.edges, seeds, -1)
        .as[(Long, Int)].collect().toMap
      val px = GraphOps.pregelBfsSeeds(g, seeds)
        .as[(Long, Int)].collect().toMap
      assert(df == px, s"seed=$seed")
    }
  }

  test("personalized pageRankFixedPoint: reset mass only on the seed") {
    // a -> b, seed {a}, 1 iteration:
    //   r0: a = 1e9, b = 0
    //   r1: a = 0.15e9 (nothing points at a); b = 85*(1e9 div 1) div 100
    val nodes = Seq(("a", "L"), ("b", "L")).toDF("node_id", "layer")
    val edges = Seq(("a", "L", "b", "L"))
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    val g = OnionBuilder.grow(nodes, edges, GrowOptions())
    val seeds = g.vertices.filter(col("nodeId") === "a").select("vid")
    val got = GraphOps.pageRankFixedPoint(g, iters = 1, seeds = Some(seeds))
      .join(g.vertices, Seq("vid"))
      .select(col("nodeId"), col("rank_fp"))
      .as[(String, Long)].collect().toMap
    assert(got === Map("a" -> 150000000L, "b" -> 850000000L))
  }

  test("weightedSssp prefers light multi-hop paths") {
    val nodes = Seq(("a", "L"), ("b", "L"), ("c", "L"), ("d", "L"))
      .toDF("node_id", "layer")
    val edges = Seq(
      ("a", "L", "b", "L", 1.0), ("b", "L", "c", "L", 1.0),
      ("a", "L", "c", "L", 5.0),               // heavier direct hop
      ("a", "L", "d", "L", 10.0), ("c", "L", "d", "L", 1.0))
      .toDF("source_id", "source_layer", "target_id", "target_layer", "qty")
    val g = OnionBuilder.grow(nodes, edges, GrowOptions(edgePropCols = Seq("qty")))
    val seeds = g.vertices.filter(col("nodeId") === "a").select("vid")
    val got = GraphOps.weightedSssp(g, seeds, maxIter = 10)
      .join(g.vertices, Seq("vid")).select(col("nodeId"), col("dist"))
      .as[(String, Double)].collect().toMap
    assert(got === Map("a" -> 0.0, "b" -> 1.0, "c" -> 2.0, "d" -> 3.0))
  }

  test("BFS dist is monotone along edges (invariant)") {
    val g = randomGraph(9, 25, 50)
    val seedVid = g.vertices.orderBy("vid").select("vid").as[Long].head()
    val d = Traversals.bfsFrom(g.edges, g.vertices.filter(col("vid") === seedVid)
      .select("vid"), -1)
    val viol = g.edges.join(d.withColumnRenamed("vid", "src")
        .withColumnRenamed("dist", "sd"), Seq("src"))
      .join(d.withColumnRenamed("vid", "dst").withColumnRenamed("dist", "dd"), Seq("dst"))
      .filter(col("dd") > col("sd") + 1)
    assert(viol.count() == 0)
  }

  test("pageRankFixedPoint: exact hand-computed ranks on a 3-cycle + sink") {
    // a -> b -> c -> a, plus c -> d (d is a sink).
    val nodes = Seq("a", "b", "c", "d").map((_, "L")).toDF("node_id", "layer")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .map { case (s2, t) => (s2, "L", t, "L") }
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    val g = OnionBuilder.grow(nodes, edges, GrowOptions())
    val got = GraphOps.pageRankFixedPoint(g, iters = 2)
      .join(g.vertices, Seq("vid"))
      .select(col("nodeId"), col("rank_fp")).as[(String, Long)].collect().toMap
    // Scale 1e9, base = 150e6. Iter 1 (all r=1e9, out: a=1,b=1,c=2):
    //   a: 150e6 + 85*(1e9 DIV 2)      DIV 100 = 575e6
    //   b: 150e6 + 85*1e9              DIV 100 = 1e9
    //   c: 150e6 + 85*1e9              DIV 100 = 1e9
    //   d: 150e6 + 85*(1e9 DIV 2)      DIV 100 = 575e6
    // Iter 2:
    //   a: 150e6 + 85*(1e9 DIV 2)      DIV 100 = 575000000
    //   b: 150e6 + 85*575000000        DIV 100 = 638750000
    //   c: 150e6 + 85*1000000000       DIV 100 = 1000000000
    //   d: 150e6 + 85*(1000000000 DIV 2) DIV 100 = 575000000
    assert(got == Map("a" -> 575000000L, "b" -> 638750000L,
      "c" -> 1000000000L, "d" -> 575000000L))
  }

  test("GraphX staticPageRank converges to the fixed-point kernel (g20's spec pin)") {
    // g20's corpus primary is the exact integer kernel; the GraphX
    // float fast path shares its stationary limit. At 20 iterations
    // both transients are < (0.85)^20 ≈ 4%, so the NORMALIZED rank
    // vectors must agree regardless of each kernel's initial scale.
    val g = randomGraph(21, 30, 70)
    val fx = GraphOps.pageRankFixedPoint(g, iters = 20)
      .as[(Long, Long)].collect().toMap
    val gx = GraphOps.pageRankStatic(g, numIter = 20)
      .as[(Long, Double)].collect().toMap
    assert(fx.keySet == gx.keySet)
    val fxSum = fx.values.sum.toDouble
    val gxSum = gx.values.sum
    for ((vid, rfp) <- fx) {
      val a = rfp / fxSum
      val b = gx(vid) / gxSum
      assert(math.abs(a - b) <= 0.05 * math.max(a, b) + 1e-4,
        s"vid=$vid normalized fixed=$a graphx=$b")
    }
  }

  test("hitsFixedPoint: exact hand-computed scores on a two-hub fan") {
    // a -> c, b -> c, b -> d: c is the strong authority, b the strong
    // hub (it points at both authorities), a a weaker hub, d a weaker
    // authority. Scale 1e6, max-normalized per half-step.
    val nodes = Seq("a", "b", "c", "d").map((_, "L")).toDF("node_id", "layer")
    val edges = Seq(("a", "c"), ("b", "c"), ("b", "d"))
      .map { case (s2, t) => (s2, "L", t, "L") }
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    val g = OnionBuilder.grow(nodes, edges, GrowOptions())
    val got = GraphOps.hitsFixedPoint(g, iters = 2)
      .join(g.vertices, Seq("vid"))
      .select(col("nodeId"), col("auth_fp"), col("hub_fp"))
      .as[(String, Long, Long)].collect()
      .map { case (n, a2, h2) => n -> ((a2, h2)) }.toMap
    // iter1: araw c=2e6, d=1e6, max 2e6 -> a_c=1e6, a_d=5e5
    //        hraw a=1e6, b=1.5e6, max 1.5e6 -> h_a=666666, h_b=1e6
    // iter2: araw c=1666666, d=1e6 -> a_c=1e6, a_d=1e12 DIV 1666666=600000
    //        hraw a=1e6, b=1.6e6 -> h_a=1e12 DIV 1.6e6=625000, h_b=1e6
    assert(got == Map(
      "a" -> ((0L, 625000L)), "b" -> ((0L, 1000000L)),
      "c" -> ((1000000L, 0L)), "d" -> ((600000L, 0L))))
  }

  test("hitsFixedPoint is invariant under repartitioning") {
    val g0 = randomGraph(17, 30, 70)
    val g1 = graft.model.OnionGraph(g0.vertices.repartition(7),
      g0.edges.repartition(3))
    val a = GraphOps.hitsFixedPoint(g0, iters = 3)
      .as[(Long, Long, Long)].collect().toSet
    val b = GraphOps.hitsFixedPoint(g1, iters = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("pageRankFixedPoint: job budget — invariants built once, no count jobs") {
    val g = randomGraph(23, 40, 90)
    g.vertices.cache(); g.edges.cache()
    g.vertices.count(); g.edges.count()
    try {
      val iters = 4
      val (ranks, log) = JobLog(spark) {
        GraphOps.pageRankFixedPoint(g, iters).as[(Long, Long)].collect()
      }
      assert(ranks.length == 40)
      // one checkpoint per invariant and per round, then the collect
      assert(log.actions == Seq.fill(2 + iters)("localCheckpoint") :+ "collect",
        log.actions)
      // the actions above are the pin; the job count gets one job of
      // headroom over today's 3·iters + 5 — per round the ranks
      // broadcast, the gathered-sums broadcast and the checkpoint; once
      // the edge slice, the vertex base (out-weight aggregate's shuffle
      // stage, the join's stage, the checkpoint) and the final collect
      val jobs = log.jobs
      assert(jobs.size <= 3 * iters + 6,
        s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    } finally { g.vertices.unpersist(); g.edges.unpersist() }
  }

  test("pageRankFixedPoint is invariant under repartitioning") {
    val g0 = randomGraph(13, 30, 70)
    val g1 = graft.model.OnionGraph(g0.vertices.repartition(7),
      g0.edges.repartition(3))
    val a = GraphOps.pageRankFixedPoint(g0, 3).as[(Long, Long)].collect().toMap
    val b = GraphOps.pageRankFixedPoint(g1, 3).as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("pageRankWeightedFixedPoint: uniform weights == unweighted kernel; real weights shift mass; repartition-invariant") {
    val g0 = randomGraph(19, 25, 60)
    val gu = graft.model.OnionGraph(g0.vertices,
      g0.edges.withColumn("qty", lit(1.0)))
    val unw = GraphOps.pageRankFixedPoint(g0, 3)
      .as[(Long, Long)].collect().toMap
    val uni = GraphOps.pageRankWeightedFixedPoint(gu, 3)
      .as[(Long, Long)].collect().toMap
    // floor(100r / 100W) == floor(r / W): uniform centi-weights cancel
    assert(uni == unw)
    val gw = graft.model.OnionGraph(g0.vertices,
      g0.edges.withColumn("qty", (pmod(col("dst"), lit(3)) + 1).cast("double")))
    val w0 = GraphOps.pageRankWeightedFixedPoint(gw, 3)
      .as[(Long, Long)].collect().toMap
    assert(w0 != uni) // unequal weights actually move mass
    val gw2 = graft.model.OnionGraph(gw.vertices.repartition(7),
      gw.edges.repartition(3))
    val w1 = GraphOps.pageRankWeightedFixedPoint(gw2, 3)
      .as[(Long, Long)].collect().toMap
    assert(w0 == w1)
  }

  test("pageRankWeightedFixedPoint: weights whose r·w product overflows BIGINT give the same ranks") {
    // (r·k·w) DIV (k·W) == (r·w) DIV W exactly; at k = 1e9 the centi-
    // weights reach 3e11 and r·w (r ~ 1e9) leaves the BIGINT range
    val g0 = randomGraph(19, 25, 60)
    def ranks(k: Double) = GraphOps.pageRankWeightedFixedPoint(
        graft.model.OnionGraph(g0.vertices, g0.edges.withColumn("qty",
          (pmod(col("dst"), lit(3)) + 1).cast("double") * k)), 3)
      .as[(Long, Long)].collect().toMap
    val base = ranks(1.0)
    assert(base.size == 25 && ranks(1e9) == base)
  }

  test("katzFixedPoint: exact hand-computed scores on a 3-chain") {
    // a -> b -> c, beta = 1e6, alpha = 1/8, 2 rounds:
    //   round 1: a = 1e6; b = 1e6 + 1e6 div 8 = 1125000; c = 1125000
    //   round 2: a = 1e6; b = 1e6 + 1e6 div 8 = 1125000
    //            c = 1e6 + 1125000 div 8 = 1140625
    val nodes = Seq("a", "b", "c").map((_, "L")).toDF("node_id", "layer")
    val edges = Seq(("a", "b"), ("b", "c"))
      .map { case (s2, t) => (s2, "L", t, "L") }
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    val g = OnionBuilder.grow(nodes, edges, GrowOptions())
    val got = GraphOps.katzFixedPoint(g, iters = 2, alphaDen = 8L)
      .join(g.vertices, Seq("vid"))
      .select(col("nodeId"), col("katz_fp"))
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 1000000L, "b" -> 1125000L, "c" -> 1140625L))
  }

  test("katzFixedPoint is invariant under repartitioning") {
    val g0 = randomGraph(13, 30, 70)
    val g1 = graft.model.OnionGraph(g0.vertices.repartition(7),
      g0.edges.repartition(3))
    val a = GraphOps.katzFixedPoint(g0, 3).as[(Long, Long)].collect().toMap
    val b = GraphOps.katzFixedPoint(g1, 3).as[(Long, Long)].collect().toMap
    assert(a == b && a.nonEmpty)
  }

  test("deterministicWalks: md5-chosen steps follow real edges, end at sinks") {
    // star: hub 0 -> {1, 2, 3}; 1 -> {4}; 2, 3, 4 are sinks
    val nodes = Seq("0", "1", "2", "3", "4").map((_, "L0"))
      .toDF("node_id", "layer")
    val edges = Seq(("0", "1"), ("0", "2"), ("0", "3"), ("1", "4"))
      .map { case (a, b) => (a, "L0", b, "L0") }
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    val g = OnionBuilder.grow(nodes, edges, GrowOptions())
    val starts = g.vertices.filter(col("nodeId") === "0")
    val walks = GraphOps.deterministicWalks(g, starts, reps = 3, walkLen = 3)
      .as[(String, Int, Int, String, String)].collect()
    // reference walk: same md5 index arithmetic in plain Scala
    def md5Idx(start: String, rep: Int, step: Int, n: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$start:$rep:$step".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(15), 16) % n).toInt
    }
    val nbrs = Map("0" -> Vector("1", "2", "3"), "1" -> Vector("4"))
    for (rep <- 0 until 3) {
      var cur = "0"
      var step = 0
      val got = walks.filter(_._2 == rep).sortBy(_._3)
      assert(got.head == (("0", rep, 0, "L0", "0")))
      var expect = Vector(("0", rep, 0, "L0", "0"))
      var alive = true
      while (alive && step < 3) {
        nbrs.get(cur) match {
          case Some(ns) =>
            step += 1
            cur = ns(md5Idx("0", rep, step, ns.length))
            expect :+= (("0", rep, step, "L0", cur))
          case None => alive = false
        }
      }
      assert(got.toVector == expect, s"rep=$rep")
    }
    // partitioning invariance (retry/resize-safe walk corpus)
    val again = GraphOps.deterministicWalks(g, starts.repartition(3),
      reps = 3, walkLen = 3).as[(String, Int, Int, String, String)]
      .collect().toSet
    assert(again == walks.toSet)
    // skip-gram pairs at window 1 are exactly the adjacent-step pairs
    // of each walk, both directions, counted across walks
    val pairs = GraphOps.walkSkipGramPairs(
        GraphOps.deterministicWalks(g, starts, reps = 3, walkLen = 3), 1)
      .as[(String, String, String, String, Long)].collect()
      .map(r => (r._2, r._4) -> r._5).toMap
    val want = scala.collection.mutable.Map.empty[(String, String), Long]
    for (rep <- 0 until 3) {
      val seq = walks.filter(_._2 == rep).sortBy(_._3).map(_._5).toVector
      seq.sliding(2).foreach { case Vector(u, v) =>
        want((u, v)) = want.getOrElse((u, v), 0L) + 1
        want((v, u)) = want.getOrElse((v, u), 0L) + 1
      case _ => ()
      }
    }
    assert(pairs == want.toMap)
  }

  test("ppmiEmbeddings == brute-force ppm weights + md5-parity projection") {
    // hand co-occurrence table: a strongly-associated pair (A-X) and
    // background mass spreading X/Y across other centers
    val pairs = Seq(
      ("L", "A", "L", "X", 8L), ("L", "A", "L", "Y", 1L),
      ("L", "B", "L", "X", 1L), ("L", "B", "L", "Y", 4L),
      ("L", "C", "L", "Y", 6L)).toDF(
      "center_layer", "center_id", "context_layer", "context_id", "cnt")
    val dims = 4
    val got = GraphOps.ppmiEmbeddings(pairs, dims)
      .as[(String, String, Int, Long)].collect()
      .map(r => (r._2, r._3) -> r._4).toMap

    // brute reference: same integer arithmetic in plain Scala
    val raw = Seq(("A", "X", 8L), ("A", "Y", 1L), ("B", "X", 1L),
      ("B", "Y", 4L), ("C", "Y", 6L))
    val n = raw.map(_._3).sum
    val ct = raw.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val xt = raw.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    def sign(ctx: String, dim: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"L:$ctx:$dim".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (Integer.parseInt(hex.take(1), 16) % 2 == 0) 1L else -1L
    }
    val want = (for {
      (c, x, cnt) <- raw
      w = math.max(cnt * n * 1000000L / (ct(c) * xt(x)) - 1000000L, 0L)
      if w > 0
      dim <- 0 until dims
    } yield ((c, dim), w * sign(x, dim)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(got == want)
    // PPMI positivity: the anti-associated (B, X) pair contributes
    // nowhere — only positively-associated contexts shape a vector
    assert(math.max(1L * n * 1000000L / (ct("B") * xt("X")) - 1000000L, 0L) == 0L)
    // every emitted center has exactly `dims` coordinates
    got.keys.groupBy(_._1).foreach { case (c, ks) =>
      assert(ks.map(_._2).toSet == (0 until dims).toSet, s"center $c")
    }
    // partitioning invariance
    val again = GraphOps.ppmiEmbeddings(pairs.repartition(7), dims)
      .as[(String, String, Int, Long)].collect()
      .map(r => (r._2, r._3) -> r._4).toMap
    assert(again == got)
  }

  test("linkPredictionEval: rotated negatives, exact dot products, missing embeddings score 0") {
    // hand embedding table: A aligns with X (+1 on every dim), B with
    // Y (-1 on every dim); dims scaled so DIV 1000 keeps them alive
    val emb = (for {
      (node, v) <- Seq("A" -> 5000L, "B" -> -5000L,
        "X" -> 5000L, "Y" -> -5000L)
      dim <- 0 until 2
    } yield ("L", node, dim, v)).toDF("layer", "node_id", "dim", "value")
    val pairs = Seq(("L", "A", "L", "X", 3L), ("L", "B", "L", "Y", 3L))
      .toDF("center_layer", "center_id", "context_layer", "context_id",
        "cnt")
    val out = GraphOps.linkPredictionEval(emb, pairs, k = 2)
      .select("rn", "center_id", "context_id", "neg_id", "pos_score",
        "neg_score", "concordant")
      .as[(Int, String, String, String, Long, Long, Boolean)]
      .collect().sortBy(_._1)
    assert(out.length == 2)
    // rotation: pair 1's negative is pair 2's context and vice versa
    assert(out(0)._4 == out(1)._3 && out(1)._4 == out(0)._3)
    // aligned positives score +2*25 = 50, rotated negatives -50
    out.foreach { r =>
      assert(r._5 == 50L && r._6 == -50L && r._7, r.toString)
    }
    // a context with no embedding rows scores 0, not null
    val pairs2 = Seq(("L", "A", "L", "X", 3L), ("L", "A", "L", "Z", 3L))
      .toDF("center_layer", "center_id", "context_layer", "context_id",
        "cnt")
    val out2 = GraphOps.linkPredictionEval(emb, pairs2, k = 2)
      .select("context_id", "pos_score")
      .as[(String, Long)].collect().toMap
    assert(out2("Z") == 0L)
  }
}
