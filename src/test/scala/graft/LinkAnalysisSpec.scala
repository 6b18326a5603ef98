package graft

import graft.algos.LinkAnalysis
import graft.ext.TextOps
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hand-computed fixtures for the link-analysis operators. */
class LinkAnalysisSpec extends SparkSuite {
  import spark.implicits._

  private def edges(es: (Long, Long)*): DataFrame =
    es.toDF("a", "b")

  test("clusteringCoefficients on K4 plus a pendant") {
    // K4 on 1..4 (every node: 3 triangles, 3 wedges, coeff 1) plus a
    // pendant 5 hanging off node 1 (degree 4 -> 6 wedges, coeff 1/2;
    // node 5 has degree 1 -> excluded)
    val e = edges((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L))
    val got = rows(LinkAnalysis.clusteringCoefficients(e))
    assert(got === Set(
      Seq(1L, 3L, 6L, 0.5),
      Seq(2L, 3L, 3L, 1.0),
      Seq(3L, 3L, 3L, 1.0),
      Seq(4L, 3L, 3L, 1.0)))
  }

  test("triangle-free graph yields zero triangles, not zero rows") {
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L)) // path: wedges, no closure
    val got = rows(LinkAnalysis.clusteringCoefficients(e))
    assert(got === Set(Seq(2L, 0L, 1L, 0.0), Seq(3L, 0L, 1L, 0.0)))
  }

  test("cooccurrenceEdges canonicalizes and thresholds") {
    val df = Seq((10L, "x"), (10L, "y"), (20L, "y"), (20L, "x"),
      (30L, "x"), (30L, "z")).toDF("g", "i")
    // (x,y) share {10,20} -> w=2; (x,z) share {30} -> below minCount
    assert(rows(LinkAnalysis.cooccurrenceEdges(df, "g", "i", 2)) ===
      Set(Seq("x", "y", 2L)))
    // duplicate memberships must not inflate the count
    val dup = df.unionAll(df)
    assert(rows(LinkAnalysis.cooccurrenceEdges(dup, "g", "i", 2)) ===
      Set(Seq("x", "y", 2L)))
  }

  test("jaccardPairs exact rational") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"),
      (3L, "c")).toDF("g", "i")
    // (a,b): inter 2, deg(a)=3 deg(b)=2 -> union 3, j = 2/3
    val got = rows(LinkAnalysis.jaccardPairs(df, "g", "i", 2)
      .select("a", "b", "inter", "uni", "jaccard"))
    assert(got === Set(Seq("a", "b", 2L, 3L, 2.0 / 3.0)))
  }

  test("resourceAllocationPairs quantized harmonic weights") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "a"), (2L, "b"), (3L, "a"),
      (3L, "b"), (3L, "c")).toDF("g", "i")
    // (a,b) share g1 (deg 2), g2 (deg 2), g3 (deg 3):
    //   ra = 2*(1e9 DIV 2) + 1e9 DIV 3 = 1_000_000_000 + 333_333_333
    val got = rows(LinkAnalysis.resourceAllocationPairs(df, "g", "i", 2)
      .where(col("a") === "a" && col("b") === "b")
      .select("a", "b", "inter", "ra_score"))
    assert(got === Set(Seq("a", "b", 3L, 1333333333L)))
  }

  test("harmonicCentrality on a path graph, hand-computed") {
    // path a-b-c-d (undirected): ends reach {1,2,3} -> sum 6,
    // harmonic 1e6 + 5e5 + 333333; middles reach {1,1,2} -> sum 4,
    // harmonic 2*1e6 + 5e5
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("a", "b")
    val got = rows(LinkAnalysis.harmonicCentrality(e, 4))
    assert(got === Set(
      Seq("a", 3L, 6L, 3, 1833333L, 0.5),
      Seq("b", 3L, 4L, 2, 2500000L, 0.75),
      Seq("c", 3L, 4L, 2, 2500000L, 0.75),
      Seq("d", 3L, 6L, 3, 1833333L, 0.5)))
  }

  test("harmonicCentrality respects maxDepth truncation") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("a", "b")
    // depth 1: everyone sees only direct neighbors
    val got = rows(LinkAnalysis.harmonicCentrality(e, 1))
    assert(got === Set(
      Seq("a", 1L, 1L, 1, 1000000L, 1.0),
      Seq("b", 2L, 2L, 1, 2000000L, 1.0),
      Seq("c", 2L, 2L, 1, 2000000L, 1.0),
      Seq("d", 1L, 1L, 1, 1000000L, 1.0)))
  }

  test("betweenness hand-computed on path and star graphs") {
    // path a-b-c-d: b is interior of (a,c) and (a,d); c of (a,d),(b,d)
    // -> bc_q(b) = bc_q(c) = 2e6; endpoints 0 (omitted)
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("a", "b")
    assert(rows(LinkAnalysis.betweenness(path, 4)) ===
      Set(Seq("b", 2000000L), Seq("c", 2000000L)))
    // star with center x and leaves p,q,r: x interior of all 3 pairs
    val star = Seq(("x", "p"), ("x", "q"), ("x", "r")).toDF("a", "b")
    assert(rows(LinkAnalysis.betweenness(star, 4)) ===
      Set(Seq("x", 3000000L)))
    // diamond a-b-d, a-c-d: b and c each carry one of the two shortest
    // a-d paths (floor(1e6/2)); symmetrically a and d are each interior
    // of one of the two shortest b-c paths
    val diamond = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .toDF("a", "b")
    assert(rows(LinkAnalysis.betweenness(diamond, 4)) ===
      Set(Seq("a", 500000L), Seq("b", 500000L),
        Seq("c", 500000L), Seq("d", 500000L)))
  }

  private def randomEdges(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to m).map { _ =>
      val a = rnd.nextInt(n); val b = rnd.nextInt(n)
      (math.min(a, b).toLong, math.max(a, b).toLong)
    }.filter(p => p._1 != p._2).distinct
  }

  private def bfs(adj: Map[Long, Set[Long]], s: Long): Map[Long, Int] = {
    var dist = Map(s -> 0); var frontier = Set(s)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adj.getOrElse(_, Set.empty))
        .filterNot(dist.contains)
      next.foreach(v => dist += v -> (dist(frontier.find(u =>
        adj.getOrElse(u, Set.empty).contains(v)).get) + 1))
      frontier = next
    }
    dist
  }

  test("harmonicCentrality matches brute BFS on random graphs") {
    for (seed <- Seq(41, 42)) {
      val es = randomEdges(seed, 20, 30)
      val adj = (es ++ es.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val got = rows(LinkAnalysis.harmonicCentrality(edges(es: _*), 25))
      val exp = adj.keys.flatMap { s =>
        val d = bfs(adj, s) - s
        if (d.isEmpty) None
        else Some(Seq[Any](s, d.size.toLong,
          d.values.map(_.toLong).sum,
          d.values.max,
          d.values.map(v => 1000000L / v).sum,
          d.size.toDouble / d.values.sum))
      }.toSet
      assert(got === exp, s"seed=$seed")
    }
  }

  test("betweenness matches brute path counting on random graphs") {
    for (seed <- Seq(51, 52)) {
      val es = randomEdges(seed, 15, 22)
      val adj = (es ++ es.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      // brute sigma: BFS levels, sigma(v) = sum of sigma(preds)
      def sigmas(s: Long): (Map[Long, Int], Map[Long, Long]) = {
        val d = bfs(adj, s)
        val sig = scala.collection.mutable.Map(s -> 1L)
        d.toSeq.sortBy(_._2).foreach { case (v, dv) =>
          if (v != s)
            sig(v) = adj(v).toSeq.filter(u => d.get(u).contains(dv - 1))
              .map(u => sig(u)).sum
        }
        (d, sig.toMap)
      }
      val nodes = adj.keys.toSeq.sorted
      val sp = nodes.map(s => s -> sigmas(s)).toMap
      val acc = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for {
        s <- nodes; t <- nodes if s < t && sp(s)._1.contains(t)
        v <- nodes if v != s && v != t
        dsv <- sp(s)._1.get(v); dtv <- sp(t)._1.get(v)
        if dsv + dtv == sp(s)._1(t)
      } acc(v) += sp(s)._2(v) * sp(t)._2(v) * 1000000L / sp(s)._2(t)
      val exp = acc.filter(_._2 > 0)
        .map { case (v, q) => Seq[Any](v, q) }.toSet
      val got = rows(LinkAnalysis.betweenness(edges(es: _*), 20))
      assert(got === exp, s"seed=$seed")
    }
  }

  test("harmonicCentrality/betweenness: job budget of the shared sigma BFS") {
    val e = edges(randomEdges(61, 20, 30): _*)
    for (depth <- Seq(2, 4)) {
      val (_, hlog) = JobLog(spark) {
        LinkAnalysis.harmonicCentrality(e, depth).collect()
      }
      val (_, blog) = JobLog(spark) {
        LinkAnalysis.betweenness(e, depth).collect()
      }
      // checkpoints: the undirected projection, state 0 (its observed
      // row count is the gate's n), two lazy ones per round, and the
      // final state (its observed row count is the combination's
      // broadcast gate) — no count job
      val actions = Seq.fill(2 * depth + 3)("localCheckpoint") :+ "collect"
      assert(hlog.actions == actions, hlog.actions)
      assert(blog.actions == actions, blog.actions)
      // jobs, both kernels: the projection's distinct stage and
      // checkpoint, state 0's distinct stage and checkpoint, 4·depth − 2
      // adaptive query stages of the rounds' joins, anti-joins and σ
      // group-bys (run as each round's lazy checkpoint is planned), and
      // the final state checkpoint. Then harmonic: the read-out's
      // group-by stage and the collect; betweenness: the pair side's
      // round-robin stage, the two broadcast σ sides, the bc_q group-by
      // stage and the collect.
      assert(hlog.jobs.size <= 4 * depth + 5,
        s"${hlog.jobs.size} jobs:\n${hlog.jobs.mkString("\n")}")
      assert(blog.jobs.size <= 4 * depth + 8,
        s"${blog.jobs.size} jobs:\n${blog.jobs.mkString("\n")}")
    }
  }

  test("kmvCentrality with roomy k reproduces exact counts and sums") {
    // below k distinct reachables the KMV estimate IS the exact count,
    // so every column must agree with the exact operator on a graph of
    // < k nodes (harmonicCentrality column order differs: est columns
    // carry the _est suffix and there is no ecc)
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("b", "e")).toDF("a", "b")
    val exact = LinkAnalysis.harmonicCentrality(e, 4)
      .select("node", "n_reached", "dist_sum", "harmonic_q", "closeness")
    val est = LinkAnalysis.kmvCentrality(e, 4, k = 64)
      .select("node", "n_reached_est", "dist_sum_est", "harmonic_q_est",
        "closeness_est")
    assert(rows(est) === rows(exact))
  }

  test("kmvCentrality at capacity stays within KMV error bounds") {
    // 40 nodes, k = 16: estimates carry sketch error but must stay
    // within ~3/sqrt(k) relative error of the exact neighborhood size
    // on every node (KMV std error is ~1/sqrt(k-2))
    val es = randomEdges(7, 40, 90)
    val exact = rows(LinkAnalysis.harmonicCentrality(edges(es: _*), 25))
      .map(r => r.head -> r(1).asInstanceOf[Long]).toMap
    val est = rows(LinkAnalysis.kmvCentrality(edges(es: _*), 25, k = 16))
      .map(r => r.head -> r(1).asInstanceOf[Long]).toMap
    assert(est.keySet === exact.keySet)
    est.foreach { case (node, n) =>
      val truth = exact(node).toDouble
      assert(math.abs(n - truth) / truth <= 3.0 / math.sqrt(16.0),
        s"node $node: est $n vs exact $truth")
    }
  }

  test("kmvCentrality estimates are deterministic across partitionings") {
    val es = randomEdges(9, 30, 60)
    val e1 = edges(es: _*).repartition(1)
    val e8 = edges(es: _*).repartition(8)
    assert(rows(LinkAnalysis.kmvCentrality(e1, 10, k = 8)) ===
      rows(LinkAnalysis.kmvCentrality(e8, 10, k = 8)))
  }

  test("betweennessPivots with all nodes as pivots equals exact betweenness") {
    val es = randomEdges(51, 15, 22)
    val exact = rows(LinkAnalysis.betweenness(edges(es: _*), 20))
    val sampled = rows(LinkAnalysis.betweennessPivots(edges(es: _*), 20,
      numPivots = 1000))
    assert(sampled === exact)
  }

  test("betweennessPivots restricts to hash-chosen pivot pairs") {
    // path a-b-c-d: exact bc counts pairs (a,c),(a,d),(b,d). With 2
    // pivots only ONE (s,t) pair survives, so the result is exactly
    // the interior of that single pair's shortest path.
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("a", "b")
    // re-derive the pivot choice the operator makes: 2 smallest
    // (md5-48bit, name) pairs
    val h = Seq("a", "b", "c", "d").map { n =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(n.getBytes("UTF-8")).take(6)
      n -> md.foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    }.sortBy { case (n, hv) => (hv, n) }.take(2).map(_._1).sorted
    val Seq(s, t) = h
    val idx = Map("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 3)
    val interior = (idx(s).min(idx(t)) + 1) until idx(s).max(idx(t))
    val exp = interior.map(i => Seq[Any]("abcd" (i).toString, 1000000L)).toSet
    assert(rows(LinkAnalysis.betweennessPivots(e, 4, 2)) === exp)
  }

  test("kcore peels pendant chains but keeps the cycle") {
    // path 1-2-3-4 dissolves under k=2 peeling; triangle 5-6-7 stays
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (5L, 7L), (6L, 7L))
    val got = rows(LinkAnalysis.kcore(e, 2, 5))
    assert(got === Set(Seq(5L, 2L), Seq(6L, 2L), Seq(7L, 2L)))
  }

  test("corenessHIndex converges to brute-peel coreness") {
    // pendant path (coreness 1) + triangle (2) + K4 (3), bridged
    val e = edges((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L),
      (5L, 6L), (6L, 7L), (7L, 8L), (7L, 9L), (7L, 10L), (8L, 9L),
      (8L, 10L), (9L, 10L))
    val got = rows(LinkAnalysis.corenessHIndex(e, rounds = 6))
    // brute peel: repeatedly remove vertices of degree < k for k=1,2,…
    def brute(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val all = es.flatMap(p => Seq(p._1, p._2)).distinct
      var core = Map.empty[Long, Long]
      var live = es
      var k = 1L
      while (live.nonEmpty) {
        var changed = true
        while (changed) {
          val deg = live.flatMap(p => Seq(p._1, p._2))
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          val drop = deg.filter(_._2 < k).keySet
          changed = drop.nonEmpty
          if (changed) {
            drop.foreach(v => core += v -> (k - 1))
            live = live.filterNot(p => drop(p._1) || drop(p._2))
          }
        }
        if (live.nonEmpty) k += 1
      }
      // survivors of the last full peel hold the final k
      all.filterNot(core.contains).foreach(v => core += v -> (k - 1))
      core
    }
    val exp = brute(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (4L, 6L),
      (5L, 6L), (6L, 7L), (7L, 8L), (7L, 9L), (7L, 10L), (8L, 9L),
      (8L, 10L), (9L, 10L)))
    assert(got === exp.map { case (v, c) => Seq[Any](v, c) }.toSet)
    // monotone: extra rounds past fixpoint change nothing
    val more = rows(LinkAnalysis.corenessHIndex(e, rounds = 9))
    assert(more === got)
  }

  test("jaccardPairs matches a brute-force reference on random data") {
    for (seed <- Seq(11, 12)) {
      val rnd = new scala.util.Random(seed)
      val data = (1 to 400).map(_ =>
        (rnd.nextInt(40).toLong, "i" + rnd.nextInt(25)))
      val df = data.toDF("g", "i")
      val got = rows(LinkAnalysis.jaccardPairs(df, "g", "i", 1)
        .select("a", "b", "inter", "uni"))
      val sets = data.distinct.groupBy(_._2).view
        .mapValues(_.map(_._1).toSet).toMap
      val keys = sets.keys.toSeq.sorted
      val exp = (for {
        a <- keys; b <- keys if a < b
        inter = (sets(a) & sets(b)).size if inter >= 1
      } yield Seq[Any](a, b, inter.toLong,
        (sets(a).size + sets(b).size - inter).toLong)).toSet
      assert(got === exp, s"seed=$seed")
    }
  }

  test("clusteringCoefficients triangles match brute enumeration") {
    for (seed <- Seq(21, 22)) {
      val rnd = new scala.util.Random(seed)
      val es = (1 to 120).map { _ =>
        val a = rnd.nextInt(30); val b = rnd.nextInt(30)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2).distinct
      val got = rows(LinkAnalysis.clusteringCoefficients(edges(es: _*))
        .select("node", "triangles"))
      val adj = (es ++ es.map(_.swap)).groupBy(_._1).view
        .mapValues(_.map(_._2).toSet).toMap
      val exp = adj.collect { case (n, nbrs) if nbrs.size >= 2 =>
        val ns = nbrs.toSeq
        val tris = ns.map(u => ns.count(v => u < v && adj(u).contains(v))).sum
        Seq[Any](n, tris.toLong)
      }.toSet
      assert(got === exp, s"seed=$seed")
    }
  }

  test("bounded kcore equals peel-to-fixpoint reference on random graphs") {
    for (seed <- Seq(31, 32)) {
      val rnd = new scala.util.Random(seed)
      val es = (1 to 80).map { _ =>
        val a = rnd.nextInt(40); val b = rnd.nextInt(40)
        (math.min(a, b).toLong, math.max(a, b).toLong)
      }.filter(p => p._1 != p._2).distinct
      val got = rows(LinkAnalysis.kcore(edges(es: _*), 2, 20))
      // reference: peel until stable
      var e = es.toSet
      var stable = false
      while (!stable) {
        val deg = (e.toSeq ++ e.toSeq.map(_.swap)).groupBy(_._1).view
          .mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= 2).keySet
        val next = e.filter(p => keep(p._1) && keep(p._2))
        stable = next == e; e = next
      }
      val deg = (e.toSeq ++ e.toSeq.map(_.swap)).groupBy(_._1).view
        .mapValues(_.size.toLong).toMap
      val exp = deg.map { case (n, d) => Seq[Any](n, d) }.toSet
      assert(got === exp, s"seed=$seed")
    }
  }

  test("kcore bound is past fixpoint on the corpus projection") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val pe = LinkAnalysis.cooccurrenceEdges(li, "l_orderkey", "l_partkey", 1)
    val r4 = rows(LinkAnalysis.kcore(pe, 2, 4))
    val r5 = rows(LinkAnalysis.kcore(pe, 2, 5))
    assert(r4 === r5, "peeling must have converged by the documented bound")
    assert(r4.nonEmpty)
  }

  test("bestMatchCommunities: mutual argmax pairs cluster, weak links and loners stay out") {
    // orders o1..o6 over items 1..5: {1,2} share two orders (jac 0.5),
    // {3,4} share two (jac 2/3), (2,3) share only one -> below
    // minInter; item 5 appears once -> singleton
    val gi = Seq((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L),
      (12L, 3L), (12L, 4L), (13L, 3L), (13L, 4L),
      (14L, 2L), (14L, 3L), (15L, 5L), (15L, 1L))
      .toDF("g", "i")
    val got = LinkAnalysis.bestMatchCommunities(gi, minInter = 2)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
    // a chain where the best match is NOT mutual: u's best picks v,
    // but v's best is w -> u stays alone, v and w pair. Build items
    // 6,7,8: (7,8) jac > (6,7) jac > anything else for 6.
    val gi2 = Seq(
      // 6-7 share 2 of 5 orders; 7-8 share 3 of 4 -> 7 prefers 8
      (20L, 6L), (20L, 7L), (21L, 6L), (21L, 7L), (22L, 6L),
      (23L, 7L), (23L, 8L), (24L, 7L), (24L, 8L), (25L, 7L), (25L, 8L),
      (26L, 8L)).toDF("g", "i")
    val got2 = LinkAnalysis.bestMatchCommunities(gi2, minInter = 2)
      .as[(Long, Long)].collect().toMap
    assert(got2 == Map(6L -> 6L, 7L -> 7L, 8L -> 7L))
  }

  test("labelSpread: frozen seeds, majority + min-label tie-break, hop rounds") {
    // seeds: 1->label 1; 2,8->label 2. Vertex 5 ties (one neighbor
    // of each label) -> min label 1; vertex 9 sees label 2 twice and
    // label 1 once -> majority 2; vertex 6 is 2 hops out via 5.
    val edges = Seq((1L, 3L), (3L, 4L), (2L, 4L), (1L, 5L), (2L, 5L),
      (5L, 6L), (2L, 9L), (8L, 9L), (1L, 9L)).toDF("a", "b")
    val seeds = Seq((1L, 1), (2L, 2), (8L, 2)).toDF("id", "label")
    val got = LinkAnalysis.labelSpread(edges, seeds, 3)
      .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((1, 0)), 2L -> ((2, 0)), 8L -> ((2, 0)),
      3L -> ((1, 1)), 4L -> ((2, 1)), 5L -> ((1, 1)), 9L -> ((2, 1)),
      6L -> ((1, 2))))
    // rounds bound the reach: with 1 round, vertex 6 stays unlabeled
    val r1 = LinkAnalysis.labelSpread(edges, seeds, 1)
      .select("id").as[Long].collect().toSet
    assert(!r1.contains(6L) && r1.contains(5L))
  }

  test("associationRules: hand-computed confidence and lift in ppm") {
    // baskets: {1,2} {1,2} {1,3} {2,3} {3} -> only (1,2) has support 2
    val gi = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L), (4L, 2L), (4L, 3L), (5L, 3L)).toDF("g", "i")
    val got = rows(LinkAnalysis.associationRules(gi, minInter = 2))
    // conf both ways = 2/3; lift = 2*5/(3*3) = 10/9
    assert(got === Set(Seq(1L, 2L, 2L, 3L, 3L, 666666L, 666666L, 1111111L)))
    // items always bought together and never apart: conf 100%, lift 1
    val gi2 = Seq((6L, 7L), (6L, 8L), (7L, 7L), (7L, 8L)).toDF("g", "i")
    val got2 = rows(LinkAnalysis.associationRules(gi2, minInter = 2))
    assert(got2 === Set(Seq(7L, 8L, 2L, 2L, 2L, 1000000L, 1000000L, 1000000L)))
  }

  test("effectiveDiameter: exact ANF curve on a path graph, 90% bar at t=3") {
    // path 1-2-3-4-5; k=64 >> ball sizes, so every estimate is exact.
    // N(t) over ordered pairs: 0, 8, 14, 18, 20 — N(3)/N(4) = 90%
    // exactly, so the effective diameter is 3 (bar is >=).
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val out = LinkAnalysis.effectiveDiameter(edges, maxDepth = 4, k = 64)
      .as[(Int, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => (r._1, r._2, r._4)).toSeq == Seq(
      (0, 0L, false), (1, 8L, false), (2, 14L, false),
      (3, 18L, true), (4, 20L, false)))
    assert(out.find(_._1 == 3).get._3 == 900000L)
    // a complete graph reaches everything in one hop
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("a", "b")
    val k4out = LinkAnalysis.effectiveDiameter(k4, maxDepth = 2, k = 64)
      .as[(Int, Long, Long, Boolean)].collect().sortBy(_._1)
    assert(k4out.map(r => (r._1, r._4)).toSeq ==
      Seq((0, false), (1, true), (2, false)))
  }

  test("ktruss: 4-truss keeps K4, peels the pendant triangle; 3-truss keeps both") {
    // K4 on {1,2,3,4} + triangle {4,5,6} sharing vertex 4
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val t4 = rows(LinkAnalysis.ktruss(edges, k = 4, rounds = 3))
    // every K4 edge sits in exactly 2 triangles; triangle edges in 1
    assert(t4 === Set(
      Seq(1L, 2L, 2L), Seq(1L, 3L, 2L), Seq(1L, 4L, 2L),
      Seq(2L, 3L, 2L), Seq(2L, 4L, 2L), Seq(3L, 4L, 2L)))
    val t3 = rows(LinkAnalysis.ktruss(edges, k = 3, rounds = 3))
    assert(t3.size == 9 &&
      t3.count(_.last == 1L) == 3 && t3.count(_.last == 2L) == 6)
    // bounded rounds are past fixpoint: more rounds change nothing
    assert(rows(LinkAnalysis.ktruss(edges, k = 4, rounds = 6)) === t4)
    // cascade: a path of triangles sharing single edges unravels
    // entirely under k=4 — round 1 alone would keep the shared edges
    val chain = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (2L, 4L), (3L, 4L)).toDF("a", "b")
    assert(rows(LinkAnalysis.ktruss(chain, k = 4, rounds = 3)).isEmpty)
  }
}

/** Funnel / retention / bigram-LM analytics fixtures. */
class PipelineAnalyticsSpec extends SparkSuite {
  import spark.implicits._

  private val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
  private def t(min: Int) =
    new java.sql.Timestamp(ts0.getTime + min * 60000L)

  test("funnel counts strict first-occurrence chains") {
    val ev = Seq(
      // user 1 completes the whole funnel in order
      (1L, "signup", t(0)), (1L, "view", t(1)), (1L, "click", t(2)),
      (1L, "purchase", t(3)),
      // user 2 views BEFORE signing up -> only f_signup
      (2L, "view", t(0)), (2L, "signup", t(1)), (2L, "click", t(2)),
      // user 3 never signs up -> counted in n_users only
      (3L, "view", t(0)), (3L, "purchase", t(1)),
      // user 4: signup then view; click missing stops the chain even
      // though purchase follows
      (4L, "signup", t(0)), (4L, "view", t(1)), (4L, "purchase", t(2))
    ).toDF("user_id", "event_type", "ts")
    val got = EventStreams.funnel(ev, Seq("signup", "view", "click", "purchase"))
      .collect().head.toSeq
    assert(got === Seq(4L, 3L, 2L, 1L, 1L))
  }

  test("retention cohorts count activity days in windows") {
    def d(day: Int) = new java.sql.Timestamp(ts0.getTime + day * 86400000L)
    val ev = Seq(
      (1L, d(0)), (1L, d(8)),            // cohort day0, active in w1
      (2L, d(0)), (2L, d(15)),           // cohort day0, active in w2
      (3L, d(0)),                        // cohort day0, never again
      (4L, d(1)), (4L, d(8)), (4L, d(20))// cohort day1, w1 (+day19 in w2)
    ).toDF("user_id", "ts")
    val got = rows(EventStreams.retentionCohorts(ev))
    assert(got === Set(
      Seq(java.sql.Date.valueOf("2024-01-01"), 3L, 1L, 1L),
      Seq(java.sql.Date.valueOf("2024-01-02"), 1L, 1L, 1L)))
  }

  test("gapFillDaily zero-fills counts and forward-fills values") {
    def d(day: Int) = new java.sql.Timestamp(ts0.getTime + day * 86400000L)
    val ev = Seq(
      ("a", d(0), 1.5), ("a", d(0), 2.5), ("a", d(2), 1.0),
      ("b", d(1), 7.0)
    ).toDF("event_type", "ts", "value")
    def dt(day: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 1).plusDays(day))
    // default: span-bounded grid — key "b" (active only on day 1)
    // gets exactly its own one-day span, not the global day 0..2
    val got = rows(EventStreams.gapFillDaily(ev))
    assert(got === Set(
      Seq("a", dt(0), 2L, 4.0), Seq("a", dt(1), 0L, 4.0),
      Seq("a", dt(2), 1L, 1.0),
      Seq("b", dt(1), 1L, 7.0)))
    // opt-in dense grid: every key covers the global span, with
    // leading 0.0 fills and trailing forward fills
    val dense = rows(EventStreams.gapFillDaily(ev, spanPerKey = false))
    assert(dense === Set(
      Seq("a", dt(0), 2L, 4.0), Seq("a", dt(1), 0L, 4.0),
      Seq("a", dt(2), 1L, 1.0),
      Seq("b", dt(0), 0L, 0.0), Seq("b", dt(1), 1L, 7.0),
      Seq("b", dt(2), 0L, 7.0)))
  }

  test("scd2 closes changed rows, passes no-ops, inserts fresh keys") {
    import graft.ext.Upserts
    def dd(s: String) = java.sql.Date.valueOf(s)
    val cur = Seq(
      (1L, "x0", dd("2020-01-01"), Option(dd("2022-01-01")), false), // history
      (1L, "x1", dd("2022-01-01"), None, true),
      (2L, "y", dd("2020-01-01"), None, true)
    ).toDF("k", "v", "valid_from", "valid_to", "is_current")
    val upd = Seq((1L, "x2"), (2L, "y"), (3L, "z")).toDF("k", "v")
    val got = rows(Upserts.scd2(cur, upd, "k", Seq("v"),
      org.apache.spark.sql.functions.lit("2024-06-01")))
    assert(got === Set(
      Seq(1L, "x0", dd("2020-01-01"), dd("2022-01-01"), false), // untouched
      Seq(1L, "x1", dd("2022-01-01"), dd("2024-06-01"), false), // closed out
      Seq(1L, "x2", dd("2024-06-01"), null, true),              // new version
      Seq(2L, "y", dd("2020-01-01"), null, true),               // no-op
      Seq(3L, "z", dd("2024-06-01"), null, true)))              // fresh key
  }

  test("scd2AsOf reconstructs each epoch of a three-version history") {
    import graft.ext.Upserts
    import org.apache.spark.sql.functions.lit
    def dd(s: String) = java.sql.Date.valueOf(s)
    val hist = Seq(
      (1L, "x0", dd("2020-01-01"), Option(dd("2022-01-01")), false),
      (1L, "x1", dd("2022-01-01"), Option(dd("2024-01-01")), false),
      (1L, "x2", dd("2024-01-01"), None, true),
      (2L, "y", dd("2021-01-01"), None, true)
    ).toDF("k", "v", "valid_from", "valid_to", "is_current")
    def asOf(d: String) = rows(Upserts.scd2AsOf(hist, lit(d)))
    // mid-epoch, boundary-inclusive on valid_from, exclusive on valid_to
    assert(asOf("2021-06-01") === Set(
      Seq(1L, "x0", dd("2020-01-01"), dd("2022-01-01")),
      Seq(2L, "y", dd("2021-01-01"), null)))
    assert(asOf("2022-01-01") === Set(          // close date -> NEW version
      Seq(1L, "x1", dd("2022-01-01"), dd("2024-01-01")),
      Seq(2L, "y", dd("2021-01-01"), null)))
    assert(asOf("2025-01-01") === Set(          // open rows cover forever
      Seq(1L, "x2", dd("2024-01-01"), null),
      Seq(2L, "y", dd("2021-01-01"), null)))
    // before any insert: the key simply has no row
    assert(asOf("2019-01-01") === Set.empty)
  }

  test("louvainTwoLevel: coarsens level 1; bridged triangles stay separate") {
    // two triangles + one bridge: level 1 gives {1,2,3}->1, {4,5,6}->3;
    // the super-graph is two heavy self-loop vertices joined by w=1 —
    // merging LOWERS modularity (gain 2m*1 - 7*7 < 0), so level 2 must
    // keep them apart (hand-traced)
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val lvl1 = LinkAnalysis.louvainLocalMove(tri, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val lvl2 = LinkAnalysis.louvainTwoLevel(tri, 4, 4)
      .as[(Long, Long)].collect().toMap
    assert(lvl2 == lvl1)
    // aggregation fixture: intra edges become self-loops, inter keep counts
    val agg = LinkAnalysis.louvainAggregate(tri,
        lvl1.toSeq.toDF("id", "community"))
      .as[(Long, Long, Long)].collect().toSet
    assert(agg == Set((1L, 1L, 3L), (3L, 3L, 3L), (1L, 3L, 1L)))
    // coarsening invariant: every level-1 community maps wholly into
    // ONE level-2 community (never split)
    val groups = lvl1.groupBy(_._2).values
    assert(groups.forall(g => g.keys.map(lvl2).toSet.size == 1))
    // repartition-invariant
    val again = LinkAnalysis.louvainTwoLevel(tri.repartition(5), 4, 4)
      .as[(Long, Long)].collect().toMap
    assert(again == lvl2)
    // weighted kernel sanity: a heavy pair (w=5) against a light
    // chain-mate (w=1) adopts the heavy neighbor's label
    val w = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 1L, 2L))
      .toDF("a", "b", "w")
    val wa = LinkAnalysis.louvainLocalMoveWeighted(w, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(wa(2L) == 1L && wa(1L) == 1L && wa(3L) == 1L)
  }

  test("lubyMis: independent, maximal, equals an in-JVM Luby simulation") {
    // a 30-vertex circulant graph (i ~ i+1, i ~ i+3 mod 30)
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i + 3) % 30)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val got = LinkAnalysis.lubyMis(edges.toDF("a", "b"), rounds = 8)
      .as[(Long, String)].collect().toMap
    // independent: no edge inside the set; maximal: every excluded
    // vertex has a chosen neighbor; converged: nothing undecided
    assert(!got.values.exists(_ == "undecided"))
    assert(edges.forall { case (a, b) =>
      !(got(a) == "mis" && got(b) == "mis") })
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(got.collect { case (v, "excluded") => v }
      .forall(v => adj(v).exists(got(_) == "mis")))
    // equals the same algorithm run naively with the same md5 priorities
    def prio(v: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val st = scala.collection.mutable.Map(adj.keys.map(_ -> 0).toSeq: _*)
    for (_ <- 1 to 8) {
      val und = st.filter(_._2 == 0).keySet.toSet
      val winners = und.filter(v => adj(v).intersect(und)
        .forall(n => prio(v) < prio(n)))
      winners.foreach(st(_) = 1)
      winners.flatMap(adj).intersect(und).diff(winners)
        .foreach(st(_) = 2)
    }
    val want = st.map { case (v, s) =>
      v -> (if (s == 1) "mis" else if (s == 2) "excluded" else "undecided") }
    assert(got == want.toMap)
    // repartition-invariant
    val again = LinkAnalysis.lubyMis(edges.toDF("a", "b").repartition(5), 8)
      .as[(Long, String)].collect().toMap
    assert(again == got)
  }

  test("maximalMatching: a matching, maximal, equals sequential greedy") {
    // the same 30-vertex circulant graph as the Luby case
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i + 3) % 30)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val got = LinkAnalysis.maximalMatching(edges.toDF("a", "b"), rounds = 8)
      .as[(Long, Long, Int)].collect()
    // a matching: every vertex appears in at most one matched edge
    val touched = got.flatMap { case (a, b, _) => Seq(a, b) }
    assert(touched.distinct.length == touched.length)
    // matched edges come from the input
    assert(got.forall { case (a, b, _) => edges.contains((a, b)) })
    // maximal at convergence: every input edge has a matched endpoint
    val ts = touched.toSet
    assert(edges.forall { case (a, b) => ts(a) || ts(b) })
    // equals the sequential greedy matching by ascending (md5, a, b)
    def prio(a: Long, b: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a:$b".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
    val free = scala.collection.mutable.Set((0L until 30L): _*)
    val greedy = scala.collection.mutable.Set.empty[(Long, Long)]
    for ((a, b) <- edges.sortBy { case (a, b) => (prio(a, b), a, b) })
      if (free(a) && free(b)) { greedy += ((a, b)); free -= a; free -= b }
    assert(got.map { case (a, b, _) => (a, b) }.toSet == greedy.toSet)
    // repartition-invariant (rounds included)
    val again = LinkAnalysis
      .maximalMatching(edges.toDF("a", "b").repartition(5), rounds = 8)
      .as[(Long, Long, Int)].collect()
    assert(again.toSet == got.toSet)
  }

  test("boruvkaForest: a forest, spanning, equals Kruskal under the same order") {
    // weighted circulant graph: w cycles 1..5 deterministically
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i + 3) % 30)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      .map { case (a, b) => (a, b, (a * 7 + b * 3) % 5 + 1) }
    val got = LinkAnalysis
      .boruvkaForest(edges.toDF("a", "b", "w"), rounds = 6, jumps = 8)
      .as[(Long, Long, Long, Int)].collect()
    // forest: n_edges = n_vertices - n_components (here connected -> 29)
    assert(got.length == 29)
    // acyclic: union-find over the selected edges never closes a cycle
    val parent = scala.collection.mutable.Map((0L until 30L).map(v => v -> v): _*)
    def find(v: Long): Long =
      if (parent(v) == v) v else { parent(v) = find(parent(v)); parent(v) }
    got.foreach { case (a, b, _, _) =>
      assert(find(a) != find(b), s"cycle at ($a,$b)"); parent(find(a)) = find(b) }
    // equals Kruskal's maximum spanning forest under the SAME
    // (w DESC, a, b) total order — the unique-MSF argument
    def key(e: (Long, Long, Long)) = (-e._3, e._1, e._2)
    val p2 = scala.collection.mutable.Map((0L until 30L).map(v => v -> v): _*)
    def find2(v: Long): Long =
      if (p2(v) == v) v else { p2(v) = find2(p2(v)); p2(v) }
    val kruskal = edges.sortBy(key).filter { case (a, b, _) =>
      val (ra, rb) = (find2(a), find2(b))
      if (ra != rb) { p2(ra) = rb; true } else false
    }
    assert(got.map { case (a, b, w, _) => (a, b, w) }.toSet ==
      kruskal.toSet)
    // repartition-invariant
    val again = LinkAnalysis
      .boruvkaForest(edges.toDF("a", "b", "w").repartition(5), 6, 8)
      .as[(Long, Long, Long, Int)].collect()
    assert(again.toSet == got.toSet)
  }

  test("lubyMis: job budget — the gate's row counts ride the checkpoints") {
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i + 3) % 30)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      .toDF("a", "b")
    val rounds = 3
    val (_, log) = JobLog(spark) {
      LinkAnalysis.lubyMis(edges, rounds).collect()
    }
    // checkpoints: the edges (observed edge count), the symmetrized
    // edges, the state (observed vertex count), one per round — no
    // count job
    assert(log.actions ==
      Seq.fill(3 + rounds)("localCheckpoint") :+ "collect", log.actions)
    // the actions above are the pin; the job count gets one job of
    // headroom over today's 8·rounds + 5 — the three checkpoints and
    // the state's distinct (its shuffle stage, before the small-loop
    // scope turns AQE off); per round the seven broadcasts (the
    // undecided ids, their priorities, the neighbor minima, the
    // winners twice, the undecided ids again, the exclusions) and the
    // state checkpoint; the collect
    assert(log.jobs.size <= 8 * rounds + 6,
      s"${log.jobs.size} jobs:\n${log.jobs.mkString("\n")}")
  }

  test("rounds: every job of round r carries <kernel>/round r, nested " +
      "pointer jumps included, and the caller's description comes back") {
    val edges = (0L until 30L).flatMap(i =>
      Seq((i, (i + 1) % 30), (i, (i + 3) % 30)))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      .map { case (a, b) => (a, b, (a * 7 + b * 3) % 5 + 1) }
      .toDF("a", "b", "w")
    val (rounds, jumps) = (2, 3)
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, log) = JobLog(spark) {
        val forest = LinkAnalysis.boruvkaForest(edges, rounds, jumps)
        assert(sc.getLocalProperty("spark.job.description") == "caller")
        forest.collect()
      }
      val tags = (1 to rounds).map(r => s"boruvkaForest/round $r")
      // each job's round, 0 for the caller's jobs (the checkpoints
      // before round 1 and the collect)
      val round = log.jobs.map { j =>
        assert(j.desc == "caller" || tags.contains(j.desc), j)
        tags.indexOf(j.desc) + 1
      }
      val inside = round.dropWhile(_ == 0).reverse.dropWhile(_ == 0).reverse
      // the rounds run in order, each one contiguous block of jobs
      assert(inside.distinct == (1 to rounds) && inside == inside.sorted,
        log.jobs.mkString("\n"))
      // a round's block holds its nested pointer jumps: the best-edge,
      // pointer and component checkpoints plus one per jump
      for (r <- 1 to rounds) assert(inside.count(_ == r) >= jumps + 3)
      assert(round.head == 0 && round.last == 0)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("rounds: a lazy round chain's deferred jobs carry <kernel>/final") {
    import graft.algos.Traversals
    val es = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val vs = (0L to 12L).toDF("vid")
    val rounds = 3
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      val (_, log) = JobLog(spark) {
        Traversals.dagLevels(es, vs, rounds).collect()
      }
      val order = "caller" +: (1 to rounds).map(r => s"dagLevels/round $r") :+
        "dagLevels/final"
      val at = log.jobs.map(j => order.indexOf(j.desc))
      assert(!at.contains(-1), log.jobs.mkString("\n"))
      // the caller's input checkpoints, then the rounds' broadcasts,
      // then the checkpoint that runs the deferred chain, then the
      // caller's collect
      val inside = at.dropWhile(_ == 0).reverse.dropWhile(_ == 0).reverse
      assert(inside == inside.sorted && inside.last == order.size - 1,
        log.jobs.mkString("\n"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
  }

  test("weightedBernoulli is deterministic and monotone in weight") {
    import graft.ext.Sampling
    val df = (0L until 500L).toDF("doc_id")
    def kept(ppm: Long): Set[Seq[Any]] =
      rows(Sampling.weightedBernoulli(df, "doc_id", lit(ppm)))
    assert(kept(1000000L).size === 500)
    assert(kept(0L).isEmpty)
    val half = kept(500000L)
    assert(half === kept(500000L), "same keys survive every run")
    assert(half.subsetOf(kept(800000L)),
      "raising the weight only adds rows, never swaps them")
    assert(half.size > 175 && half.size < 325,
      s"ppm bucket should be roughly uniform, kept ${half.size}/500")
  }

  test("CountMin sketch: partition-invariant, estimates dominate true counts") {
    import graft.ext.Aggregators
    val words = Seq("a", "b", "c", "d", "e")
    val data = (0 until 2000).map(i => words(i % words.length) * (i % 3 + 1))
    val df = data.toDF("t")
    val agg = new Aggregators.CountMin(4, 32)
    def sketch(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.agg(Aggregators.countMin(4, 32)(col("t"))).head.getSeq[Long](0)
    val s1 = sketch(df.repartition(1))
    val s8 = sketch(df.repartition(8))
    assert(s1 === s8, "merge must be order/partitioning-invariant")
    assert(s1.sum === 4L * data.length, "every row increments each of d rows")
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    exact.foreach { case (tok, n) =>
      val est = agg.estimate(s1, tok)
      assert(est >= n, s"CM estimate must dominate true count for $tok")
      assert(est <= n + data.length / 8,
        s"estimate for $tok implausibly large: $est vs $n")
    }
  }

  test("containmentPairs flags subset-duplicates Jaccard misses") {
    import graft.ext.Dedup
    val docs = Seq(
      (1L, "a b c d e"), // superdoc: shingles {ab, bc, cd, de}
      (2L, "a b c"),     // chunk: {ab, bc} — fully contained in doc 1
      (3L, "x y z")      // unrelated: {xy, yz}
    ).toDF("doc_id", "text")
    val got = rows(Dedup.containmentPairs(docs, lit("blk"),
      minContainment = 0.9, w = 2))
    // cont(chunk in super) = 2/2 = 1.0; reverse = 2/4 = 0.5;
    // the symmetric Jaccard would be 2/4 = 0.5 — below a 0.7 dedup bar
    assert(got === Set(Seq(1L, 2L, 2L, 0.5, 1.0)))
  }

  test("noveltyScore hand-computed") {
    val docs = Seq(
      (1L, "a b c"),   // shingles {ab, bc}
      (2L, "a b d"),   // {ab, bd}
      (3L, "")         // no shingles -> excluded
    ).toDF("doc_id", "text")
    val got = rows(TextOps.noveltyScore(docs, w = 2))
    // ab appears in both docs (df 2); bc and bd are unique
    assert(got === Set(
      Seq(1L, 2L, 1L, 0.5),
      Seq(2L, 2L, 1L, 0.5)))
  }

  test("collocations: hand-computed PMI; frequent-but-independent pair ranks below") {
    import graft.ext.TextOps
    // "new york" always adjacent (3/3); "the" is everywhere but "the end"
    // appears once among many "the X" contexts
    val docs = Seq(
      (1L, "new york is the end"),
      (2L, "new york was the start"),
      (3L, "the city of new york")).toDF("doc_id", "text")
    val got = TextOps.collocations(docs, minCount = 3)
      .as[(String, String, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    // N = 15 tokens; new:3 york:3 pair:3 -> pmi = 1e6*3*15/(3*3) = 5e6
    assert(got(("new", "york")) == (("new", "york", 3L, 3L, 3L, 5000000L)))
    // only pairs with n_ab >= 3 survive
    assert(got.keySet == Set(("new", "york")))
  }

  test("bigramPredictability integer-exact scores") {
    val docs = Seq((1L, "a b a b"), (2L, "zz"), (3L, "")).toDF("doc_id", "text")
    // corpus bigrams: (a,b) x2, (b,a) x1 -> cp(a)=2, cp(b)=1
    // q(a,b) = 2*1e6 DIV 2 = 1e6; q(b,a) = 1e6
    // doc 1: three bigrams, sum 3e6, score 1e6; docs 2,3: no bigrams
    val got = rows(TextOps.bigramPredictability(docs))
    assert(got === Set(Seq(1L, 3L, 3000000L, 1000000.0)))
  }

  test("modularity: two triangles + bridge decomposes to the textbook Q") {
    // triangles {1,2,3} and {4,5,6} joined by edge 3-4: Q = 5/14
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("id", "community")
    val got = rows(LinkAnalysis.modularityByCommunity(edges, assign))
    // m=7; each community: e_intra=3, d_sum=7, contrib=4*7*3-49=35
    assert(got === Set(
      Seq(1L, 3L, 3L, 7L, 7L, 35L),
      Seq(4L, 3L, 3L, 7L, 7L, 35L)))
    // Q = (35+35)/(4*m^2) = 70/196 = 5/14
    assert(70.0 / 196.0 === 5.0 / 14.0)
  }

  test("modularity invariants: one community -> Q=0; singletons penalize by degree^2") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val one = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L)).toDF("id", "community")
    val oneRow = LinkAnalysis.modularityByCommunity(edges, one).collect()
    // all edges intra, d_sum = 2m -> contrib = 4m*m - 4m^2 = 0 exactly
    assert(oneRow.map(_.getAs[Long]("contrib")).sum == 0L)
    val solo = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L)).toDF("id", "community")
    val soloRows = LinkAnalysis.modularityByCommunity(edges, solo).collect()
    // no intra edges; each contrib = -d^2 (degrees 2,2,3,1)
    assert(soloRows.forall(_.getAs[Long]("e_intra") == 0L))
    assert(soloRows.map(_.getAs[Long]("contrib")).sum == -(4 + 4 + 9 + 1))
    // an isolated node (in the assignment, no edges) contributes 0
    val iso = Seq((1L, 1L), (2L, 2L), (3L, 3L), (4L, 4L), (9L, 9L))
      .toDF("id", "community")
    val isoRows = LinkAnalysis.modularityByCommunity(edges, iso).collect()
    assert(isoRows.find(_.getAs[Long]("community") == 9L)
      .exists(r => r.getAs[Long]("d_sum") == 0L && r.getAs[Long]("contrib") == 0L))
  }

  test("louvainLocalMove: two bridged triangles separate; monotone labels converge") {
    // hand-traced (m=7): r1 collapses {1,2,3}->1 and 4->3, 5->4, 6->5
    // (singleton merges with positive gain under the monotone-label
    // restriction); r2 pulls 5 into 3, 6 to 4; r3 pulls 6 into 3.
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val r3 = LinkAnalysis.louvainLocalMove(tri, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(r3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // converged: a fourth round changes nothing
    val r4 = LinkAnalysis.louvainLocalMove(tri, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(r4 == r3)
    // repartition-invariant (synchronous update, no visit order)
    val again = LinkAnalysis.louvainLocalMove(tri.repartition(5), rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(again == r3)
    // a 3-path has positive merge gain everywhere -> one community
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val p = LinkAnalysis.louvainLocalMove(path, rounds = 2)
      .as[(Long, Long)].collect().toMap
    assert(p == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("louvainLocalMove: job budget") {
    val rnd = new scala.util.Random(67)
    val e = Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .collect { case (a, b) if a != b => (a min b, a max b) }.distinct
      .toDF("a", "b")
    for (rounds <- Seq(2, 4)) {
      val (_, log) = JobLog(spark) {
        LinkAnalysis.louvainLocalMove(e, rounds).collect()
      }
      // checkpoints: the edges (observed row count), the symmetrized
      // edges, the assignment (observed vertex count and Σd), one per
      // round — no count or sum job
      assert(log.actions ==
        Seq.fill(3 + rounds)("localCheckpoint") :+ "collect", log.actions)
      // jobs: the edge checkpoint, the symmetrized checkpoint, the
      // degree group-by's stage and the assignment checkpoint; per round
      // the three broadcasts (the v-side and u-side assignment, the
      // community totals) and the checkpoint; the collect
      assert(log.jobs.size <= 4 * rounds + 5,
        s"${log.jobs.size} jobs:\n${log.jobs.mkString("\n")}")
    }
  }

  test("edgeStructureCard: hand-computed multiplicity/reciprocity/moments") {
    // 1->2 (twice: multiplicity), 2->1 (reciprocal pair), 2->3, 3->3
    // (self-loop). Distinct pairs: {1->2, 2->1, 2->3, 3->3} = 4;
    // non-self = 3; reciprocal = 2 (both directions of 1<->2);
    // reciprocity over non-self distinct = 2e6 DIV 3 = 666666.
    // Symmetrized simple degrees: deg(1)=1 {2}, deg(2)=2 {1,3},
    // deg(3)=1 {2}. Moments over the 3 non-self edges
    // (x,y) = (1,2), (2,1), (2,1):
    //  sum_x=5 sum_y=4 sum_xx=9 sum_yy=6 sum_xy=6
    val e = Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 3L))
      .toDF("src", "dst")
    val row = LinkAnalysis.edgeStructureCard(e).collect().head
    assert(row.getLong(0) == 5L)   // n_edge_rows
    assert(row.getLong(1) == 4L)   // n_distinct
    assert(row.getLong(2) == 1L)   // self_loops
    assert(row.getLong(3) == 2L)   // n_reciprocal
    assert(row.getLong(4) == 666666L)
    assert(row.getLong(5) == 3L)   // n_assort_edges
    // quadratic moments carry as DECIMAL(38,0) strings (Σ deg² crosses
    // 2^63 inside the 100 TB regime — the x52 sum_micros treatment)
    assert((row.getLong(6), row.getLong(7), row.getString(8),
      row.getString(9), row.getString(10)) == ((5L, 4L, "9", "6", "6")))
  }

  test("leidenRefine: disconnected communities split into connected parts; modularity never decreases") {
    // community 1 = {1,2,3,4} but only (1-2) and (3-4) edges exist —
    // internally disconnected, the exact defect Traag 2019 fixes;
    // community 5 = {5,6} is connected and must be untouched
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val assign = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L),
      (5L, 5L), (6L, 5L)).toDF("id", "community")
    val ref = LinkAnalysis.leidenRefine(pairs, assign)
      .as[(Long, Long, Long)].collect().toSet
    assert(ref == Set((1L, 1L, 1L), (2L, 1L, 1L), (3L, 1L, 3L),
      (4L, 1L, 3L), (5L, 5L, 5L), (6L, 5L, 5L)))
    // the refinement is a true refinement: each refined label lives
    // inside exactly one community
    assert(ref.groupBy(_._3).forall(_._2.map(_._2).size == 1))
    // exact modularity non-decrease via the g52 decomposition
    // (contrib = 4m·e_c − d_c²; splitting zero-cross parts adds
    // +2·d_A·d_B)
    def q(a: DataFrame) = LinkAnalysis.modularityByCommunity(pairs, a)
      .agg(sum("contrib")).head().getLong(0)
    val refAssign = LinkAnalysis.leidenRefine(pairs, assign)
      .select(col("id"), col("refined").as("community"))
    assert(q(refAssign) > q(assign))
    // every refined part induces a connected subgraph: re-refining the
    // refined assignment is a fixpoint
    val twice = LinkAnalysis.leidenRefine(pairs, refAssign)
      .as[(Long, Long, Long)].collect()
    assert(twice.forall(r => r._2 == r._3))
    // a vertex isolated within its community becomes a singleton
    val strayAssign = Seq((1L, 1L), (2L, 1L), (9L, 1L))
      .toDF("id", "community")
    val stray = LinkAnalysis.leidenRefine(
        Seq((1L, 2L)).toDF("a", "b"), strayAssign)
      .as[(Long, Long, Long)].collect().toSet
    assert(stray == Set((1L, 1L, 1L), (2L, 1L, 1L), (9L, 1L, 9L)))
  }

  test("leidenRefine: connected louvain communities are a fixpoint on the bridged triangles") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    val assign = LinkAnalysis.louvainLocalMove(tri, rounds = 4)
    val ref = LinkAnalysis.leidenRefine(tri, assign)
      .as[(Long, Long, Long)].collect()
    // both triangle communities are connected -> refinement keeps the
    // PARTITION (labels may differ: a louvain label is a drained
    // historical label, a refined label is the part's min member —
    // e.g. {4,5,6} can carry louvain label 3 after vertex 3 moved
    // away over the bridge, and refines to label 4)
    val byCommunity = ref.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val byRefined = ref.groupBy(_._3).values.map(_.map(_._1).toSet).toSet
    assert(byCommunity == byRefined, s"unexpected split: ${ref.toList}")
    // and each refined label IS its part's min member
    assert(ref.groupBy(_._3).forall { case (lbl, rows) =>
      lbl == rows.map(_._1).min })
  }

  test("butterflyCard: hand-computed census; degree cap excludes hub wedges") {
    // left {1,2}, right {10,20,30}; (1,10) duplicated -> 5 simple edges
    // deg(1)=3, deg(2)=2 -> wedges C(3,2)+C(2,2)=4
    // right pair (10,20) shares {1,2} -> C(2,2)=1 butterfly; others 0
    val e = Seq((1L, 10L), (1L, 10L), (1L, 20L), (1L, 30L),
      (2L, 10L), (2L, 20L)).toDF("a", "b")
    val full = LinkAnalysis.butterflyCard(e)
      .as[(Long, Long, Long, String, String)].collect().head
    assert(full == ((2L, 3L, 5L, "4", "1")))
    // cap 2 drops left hub 1 from the wedge census entirely (totals
    // still describe the whole simple graph)
    val capped = LinkAnalysis.butterflyCard(e, maxLeftDegree = 2)
      .as[(Long, Long, Long, String, String)].collect().head
    assert(capped == ((2L, 3L, 5L, "1", "0")))
  }
}
