package graft

import graft.builder.OnionBuilder
import graft.builder.OnionBuilder.GrowOptions
import graft.algos.Traversals
import graft.ext.{Dedup, Sampling}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck invariants over random small graphs/corpora
  * (SURVEY §5.2 #4). Few cases, each driving real Spark jobs. */
object InvariantProps extends Properties("GraftInvariants") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12).withWorkers(1)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val genGraph = for {
    n <- Gen.choose(2, 15)
    m <- Gen.choose(1, 30)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield (n, edges)

  private def build(n: Int, edges: List[(Int, Int)]) = {
    import spark.implicits._
    val nodes = (0 until n).map(i => (i.toString, s"L${i % 2}"))
      .toDF("node_id", "layer")
    val es = edges.map { case (a, b) =>
      (a.toString, s"L${a % 2}", b.toString, s"L${b % 2}") }
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    OnionBuilder.grow(nodes, es, GrowOptions())
  }

  property("induced subgraph never keeps a dangling edge") =
    forAll(genGraph) { case (n, edges) =>
      val g = build(n, edges)
      val v = g.filterVertices(col("nodeId").cast("int") % 2 === 0)
      val vids = v.vertices.select("vid").collect().map(_.getLong(0)).toSet
      v.edges.select("src", "dst").collect()
        .forall(r => vids(r.getLong(0)) && vids(r.getLong(1)))
    }

  property("weak components partition the vertex set") =
    forAll(genGraph) { case (n, edges) =>
      val g = build(n, edges)
      val comps = Traversals.weakComponents(g)
      comps.count() == n && comps.select("vid").distinct().count() == n
    }

  property("weak components agree exactly with a driver union-find") =
    forAll(genGraph) { case (n, edges) =>
      val g = build(n, edges)
      val a = Traversals.weakComponents(g)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      a == UnionFind.weakComponents(g)
    }

  property("frontier BFS and Pregel BFS agree exactly") =
    forAll(genGraph) { case (n, edges) =>
      val g = build(n, edges)
      val seed = g.vertices.orderBy("vid").limit(1).select("vid")
      val a = Traversals.bfsFrom(g.edges, seed, -1)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val b = graft.algos.GraphOps.pregelBfsSeeds(g, seed)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      a == b
    }

  property("BFS distance is monotone along followed edges") =
    forAll(genGraph) { case (n, edges) =>
      val g = build(n, edges)
      val seed = g.vertices.orderBy("vid").limit(1).select("vid")
      val d = Traversals.bfsFrom(g.edges, seed, -1)
      val dm = d.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      g.edges.select("src", "dst").collect().forall { r =>
        (dm.get(r.getLong(0)), dm.get(r.getLong(1))) match {
          case (Some(ds), Some(dd)) => dd <= ds + 1
          case (Some(_), None) => false // reachable src must reach dst
          case _ => true
        }
      }
    }

  private val genDocs = Gen.listOfN(12,
    Gen.zip(Gen.choose(0, 3), Gen.choose(0, 3), Gen.choose(0, 3)))

  private val genPairs = Gen.listOfN(10,
    Gen.zip(Gen.choose(0L, 8L), Gen.choose(0L, 8L))).map(_.filter(p => p._1 != p._2))

  property("nearDupClusters == reference union-find on random pair lists") =
    forAll(genPairs) { pairs =>
      import spark.implicits._
      pairs.isEmpty || {
        val out = Dedup.nearDupClusters(pairs.toDF("a", "b")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        // driver-side union-find ground truth: cluster labels must be
        // each component's MIN member id
        val expected = UnionFind.minLabels(
          pairs.flatMap(p => Seq(p._1, p._2)), pairs)
        out.toSet == expected.map { case (id, c) => (id, c, id == c) }.toSet
      }
    }

  property("mergeClusters(old assignment, new pairs) == clustering all pairs") =
    forAll(genPairs, genPairs) { (oldPairs, newPairs) =>
      import spark.implicits._
      val all = oldPairs ++ newPairs
      (oldPairs.isEmpty || newPairs.isEmpty || all.isEmpty) || {
        val assign = Dedup.nearDupClusters(oldPairs.toDF("a", "b"))
        val merged = Dedup.mergeClusters(assign, newPairs.toDF("a", "b"))
          .as[(Long, Long, Boolean)].collect().toSet
        val scratch = Dedup.nearDupClusters(all.toDF("a", "b"))
          .as[(Long, Long, Boolean)].collect().toSet
        merged == scratch
      }
    }

  // small alphabet so window repeats are common; docs below minLen
  // tokens must contribute nothing
  private val genCorpus = for {
    n <- Gen.choose(2, 6)
    docs <- Gen.listOfN(n, Gen.choose(0, 12).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("a", "b", "c", "d", "e"))))
  } yield docs.zipWithIndex.map { case (toks, i) => (i.toLong, toks) }

  property("repeatedSpans == brute-force window count + interval merge") =
    forAll(genCorpus) { corpus =>
      import spark.implicits._
      val L = 3
      val out = Dedup.repeatedSpans(
          corpus.map { case (id, t) => (id, t.mkString(" ")) }
            .toDF("doc_id", "text"),
          minLen = L)
        .as[(Long, Long, Long, Long)].collect().toSet
      // ground truth on the driver: count every L-window corpus-wide,
      // keep repeated positions, merge overlapping-or-adjacent spans
      val wins = corpus.flatMap { case (id, toks) =>
        toks.sliding(L).zipWithIndex.collect {
          case (w, i) if w.size == L => (id, i, w.mkString(" ")) } }
      val freq = wins.groupBy(_._3).map { case (k, v) => k -> v.size }
      val expected = wins.filter(w => freq(w._3) >= 2)
        .groupBy(_._1).toSeq.flatMap { case (id, ws) =>
          val ps = ws.map(_._2).sorted
          val islands = ps.tail.foldLeft(List(List(ps.head))) {
            case (acc @ (cur :: rest), p) =>
              if (p > cur.head + L) List(p) :: acc
              else (p :: cur) :: rest
            case (acc, _) => acc
          }
          islands.map(isl =>
            (id, isl.min.toLong, isl.max.toLong + L - 1, isl.size.toLong))
        }.toSet
      out == expected
    }

  property("sharedSpans == brute-force diagonal-run merge") =
    forAll(genCorpus, genCorpus) { (trainC, evalC) =>
      import spark.implicits._
      val L = 3
      def df(c: List[(Long, List[String])]) =
        c.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text")
      val out = Dedup.sharedSpans(df(trainC), df(evalC),
          minLen = L, maxDf = 1000)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      def wins(c: List[(Long, List[String])]) = c.flatMap { case (id, toks) =>
        toks.sliding(L).zipWithIndex.collect {
          case (w, i) if w.size == L => (id, i, w.mkString(" ")) } }
      val (tw, ew) = (wins(trainC), wins(evalC))
      val expected = (for {
        (eid, ep, w1) <- ew
        (tid, tp, w2) <- tw
        if w1 == w2
      } yield (eid, tid, ep, tp))
        .groupBy { case (eid, tid, ep, tp) => (eid, tid, ep - tp) }
        .toSeq.flatMap { case ((eid, tid, _), ms) =>
          val ps = ms.map(_._3).distinct.sorted
          val islands = ps.tail.foldLeft(List(List(ps.head))) {
            case (acc @ (cur :: rest), p) =>
              if (p > cur.head + 1) List(p) :: acc else (p :: cur) :: rest
            case (acc, _) => acc
          }
          islands.map { isl =>
            val tStart = ms.collect { case (_, _, ep, tp) if ep == isl.min => tp }.min
            (eid, tid, isl.min.toLong, tStart.toLong,
              isl.size.toLong + L - 1)
          }
        }.toSet
      out == expected
    }

  private val genVecs = for {
    n <- Gen.choose(4, 12)
    vs <- Gen.listOfN(n, Gen.listOfN(4, Gen.choose(-100, 100)))
  } yield vs.map(_.map(x => x / 100.0f).toArray)

  property("kmeans assigns every vector to its truly nearest centroid") =
    forAll(genVecs) { vecs =>
      import spark.implicits._
      val emb = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val k = 2
      val got = graft.ext.Clustering.kmeans(emb, k, iters = 1).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      // recompute the final centroids the same exact-integer way
      val q = vecs.map(_.map(v => math.floor(v.toDouble * 1000000).toLong))
      val seedIdx = (0 until k)
      def d2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val c0 = seedIdx.map(i => (i + 1) -> q(i)).toMap
      val assign1 = q.indices.map { i =>
        i -> c0.toSeq.map { case (c, cq) => (d2(q(i), cq), c) }.min._2 }
      val c1 = assign1.groupBy(_._2).map { case (c, members) =>
        val qs = members.map(m => q(m._1))
        c -> Array.tabulate(4) { d =>
          val s = qs.map(_(d)).sum; val n = qs.size
          Math.floorDiv(s, n)
        }
      }
      got.forall { case (vid, cluster, gd2) =>
        val best = c1.toSeq.map { case (c, cq) => (d2(q(vid.toInt), cq), c) }.min
        cluster == best._2 && gd2 == best._1
      }
    }

  property("on_shortest marks exactly {v : fwd(v)+bwd(v) = dist(source,target)}") =
    forAll(genGraph) { case (n, edges) =>
      import spark.implicits._
      val g = build(n, edges)
      // brute-force reference BFS over the same (layer-relabeled) graph
      val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      def dists(seeds: Seq[Int], reverse: Boolean): Map[Int, Int] = {
        val nbrs: Int => Seq[Int] =
          if (reverse) i => edges.filter(_._2 == i).map(_._1)
          else i => adj.getOrElse(i, Nil)
        var frontier = seeds.toSet
        var seen = seeds.map(_ -> 0).toMap
        var d = 0
        while (frontier.nonEmpty) {
          d += 1
          frontier = frontier.flatMap(nbrs).filterNot(seen.contains)
          seen ++= frontier.map(_ -> d)
        }
        seen
      }
      val source = 0
      val target = n - 1
      val fwd = dists(Seq(source), reverse = false)
      val bwd = dists(Seq(target), reverse = true)
      val expected = fwd.get(target) match {
        case None => Set.empty[Int] // unreachable -> nothing marked
        case Some(td) => (0 until n).filter(v =>
          fwd.get(v).zip(bwd.get(v)).exists { case (a, b) => a + b == td }).toSet
      }
      val marked = Traversals.onShortestPath(g,
          col("layer") === s"L${source % 2}" && col("nodeId") === source.toString,
          col("layer") === s"L${target % 2}" && col("nodeId") === target.toString)
        .join(g.vertices, Seq("vid"))
        .select($"nodeId").as[String].collect().map(_.toInt).toSet
      marked == expected
    }

  private val genFacts = for {
    n <- Gen.choose(1, 25)
    keys <- Gen.listOfN(n, Gen.choose(0, 4)) // few keys -> heavy hitters
    vals <- Gen.listOfN(n, Gen.choose(-1000, 1000))
    salts <- Gen.choose(1, 5)
  } yield (keys.zip(vals), salts)

  property("salted join == plain inner join; salted agg == direct group-by") =
    forAll(genFacts) { case (rows, salts) =>
      import spark.implicits._
      val big = rows.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k.toLong, v.toDouble) }
        .toDF("row_id", "key", "value")
      val small = (0 to 4).map(k => (k.toLong, s"dim$k")).toDF("key", "name")
      val salted = graft.ext.Skew.saltedJoin(big, small, "key", salts)
        .select("row_id", "key", "name").as[(Long, Long, String)]
        .collect().toSet
      val plain = big.join(small, Seq("key"))
        .select("row_id", "key", "name").as[(Long, Long, String)]
        .collect().toSet
      val aggd = graft.ext.Skew.saltedSum(big, "key", "value", salts)
        .as[(Long, Double)].collect().toMap
      val direct = big.groupBy("key")
        .agg(sum($"value".cast("decimal(38,6)")).cast("double"))
        .as[(Long, Double)].collect().toMap
      salted == plain && aggd == direct
    }

  private val genRetire = for {
    n <- Gen.choose(1, 22)
    dels <- Gen.listOf(Gen.choose(0, 21))
    shards <- Gen.choose(1, 5)
    batches <- Gen.choose(1, 2)
  } yield (n, dels.distinct, shards, batches)

  property("retireFromShards manifest == rebuild-on-remaining (random corpora, incl. retire-all)") =
    forAll(genRetire) { case (n, dels0, shards, batches) =>
      import spark.implicits._
      val docs = (0 until n).map(i => (i.toLong, s"tok$i words w${i % 3}"))
        .toDF("doc_id", "text")
      // content-keyed assignment: any pure function of the key works
      def sharded(d: org.apache.spark.sql.DataFrame) =
        d.withColumn("shard",
          pmod(col("doc_id") * 7919L, lit(shards.toLong)).cast("int"))
      val base = java.nio.file.Files
        .createTempDirectory("invprop_retire").toString
      sharded(docs).write.mode("overwrite").partitionBy("shard")
        .parquet(s"$base/live")
      val dels = dels0.filter(_ < n).map(_.toLong)
      // split the retirement across 1-2 batches (accumulation path)
      val (b1, b2) = dels.splitAt(dels.length / batches)
      Sampling.retireFromShards(spark, s"$base/live",
        b1.toDF("doc_id"), "doc_id", "text")
      val man = Sampling.retireFromShards(spark, s"$base/live",
          b2.toDF("doc_id"), "doc_id", "text")
        .as[(Int, Long, Long, Long)].collect().toSet
      val remaining = docs.filter(!col("doc_id").isin(dels: _*))
      sharded(remaining).write.mode("overwrite").partitionBy("shard")
        .parquet(s"$base/rebuild")
      val want =
        if (dels.size == n) Set.empty[(Int, Long, Long, Long)]
        else Sampling.shardManifest(
            spark.read.parquet(s"$base/rebuild"), "doc_id", "text")
          .as[(Int, Long, Long, Long)].collect().toSet
      man == want
    }

  private val genTopK = for {
    n <- Gen.choose(0, 40)
    rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 5), Gen.choose(-50, 50)))
    k <- Gen.choose(1, 4)
  } yield (rows, k)

  property("TopKPerGroup == window row_number on random data (incl. empty)") =
    forAll(genTopK) { case (rows, k) =>
      import spark.implicits._
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (g.toLong, i.toLong, v.toDouble) }
        .toDF("grp", "id", "v")
      val got = graft.plans.TopKPerGroup(df, Seq("grp"),
          Seq(("v", false), ("id", true)), k)
        .select("grp", "id").as[(Long, Long)].collect().toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("grp").orderBy(col("v").desc, col("id"))
      val want = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select("grp", "id").as[(Long, Long)].collect().toSet
      got == want
    }

  private val genBatched = for {
    n <- Gen.choose(2, 12)
    m <- Gen.choose(1, 25)
    edges <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    k <- Gen.choose(1, 3)
    nodeAssign <- Gen.listOfN(n, Gen.choose(0, k - 1))
    edgeAssign <- Gen.listOfN(m, Gen.choose(0, k - 1))
  } yield (n, edges, k, nodeAssign, edgeAssign)

  property("any k-batch incremental grow == the one-call build (g43 generalized)") =
    forAll(genBatched) { case (n, edges, k, nodeAssign, edgeAssign) =>
      import spark.implicits._
      // an edge may not precede its endpoints (edges dropped as
      // dangling by an EARLIER call stay dropped — reference append
      // semantics, builder.py:219-224), so place each edge at or after
      // both endpoints' batches; everything else is random.
      val nodeRows = (0 until n).map(i => (i.toString, s"L${i % 2}"))
      val edgeBatch = edges.zipWithIndex.map { case ((a, b), i) =>
        math.max(edgeAssign(i), math.max(nodeAssign(a), nodeAssign(b))) }
      val net = new OnionNet(spark)
      for (batch <- 0 until k) {
        // every third node is re-sent in EVERY later batch: existing
        // keys must win, so the duplicates are inert
        val ns = nodeRows.zipWithIndex.collect { case ((id, l), i)
          if nodeAssign(i) == batch ||
            (i % 3 == 0 && nodeAssign(i) < batch) => (id, l) }
        val es = edges.zipWithIndex.collect { case ((a, b), i)
          if edgeBatch(i) == batch =>
            (a.toString, s"L${a % 2}", b.toString, s"L${b % 2}") }
        net.growOnion(ns.toDF("node_id", "layer"),
          es.toDF("source_id", "source_layer", "target_id", "target_layer"))
        net.checkpoint() // fuzz the lineage-cut path between appends too
      }
      val one = build(n, edges)
      val vGot = rows(net.g.vertices.select("vid", "layer", "nodeId"))
      val vWant = rows(one.vertices.select("vid", "layer", "nodeId"))
      val eGot = rows(net.g.edges.select("src", "dst"))
      val eWant = rows(one.edges.select("src", "dst"))
      vGot == vWant && eGot == eWant
    }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private val genShrink = for {
    (n, edges) <- genGraph
    dels <- Gen.someOf(0 until n)
  } yield (n, edges, dels.toSet)

  property("grow ∘ shrink ∘ grow == direct build (g72 round-trip)") =
    forAll(genShrink) { case (n, edges, dels) =>
      import spark.implicits._
      val nodeRows = (0 until n).map(i => (i.toString, s"L${i % 2}"))
      val edgeRows = edges.map { case (a, b) =>
        (a.toString, s"L${a % 2}", b.toString, s"L${b % 2}") }
      val net = new OnionNet(spark)
      net.growOnion(nodeRows.toDF("node_id", "layer"),
        edgeRows.toDF("source_id", "source_layer", "target_id", "target_layer"))
      net.checkpoint()
      net.shrinkOnion(nodeRows.zipWithIndex
        .collect { case ((id, l), i) if dels(i) => (id, l) }
        .toDF("node_id", "layer"))
      // the shrunk graph == direct build on the remaining rows
      // (rebuild-on-remaining: induced-subgraph edge semantics)
      val remaining = build(n, edges).filterVertices(
        !col("nodeId").isin(dels.map(_.toString).toSeq: _*))
      val shrunkOk =
        rows(net.g.vertices.select("vid", "layer", "nodeId")) ==
          rows(remaining.vertices.select("vid", "layer", "nodeId")) &&
        rows(net.g.edges.select("src", "dst")) ==
          rows(remaining.edges.select("src", "dst"))
      // re-grow the removed nodes with the FULL original edge list
      // (dangling-dropped edges must be re-sent — append semantics);
      // cross-batch dedup makes the surviving edges inert
      net.growOnion(nodeRows.zipWithIndex
        .collect { case ((id, l), i) if dels(i) => (id, l) }
        .toDF("node_id", "layer"),
        edgeRows.toDF("source_id", "source_layer", "target_id", "target_layer"))
      val one = build(n, edges)
      shrunkOk &&
        rows(net.g.vertices.select("vid", "layer", "nodeId")) ==
          rows(one.vertices.select("vid", "layer", "nodeId")) &&
        rows(net.g.edges.select("src", "dst")) ==
          rows(one.edges.select("src", "dst"))
    }

  property("exact dedup is idempotent and canonical ids are minimal") =
    forAll(genDocs) { words =>
      import spark.implicits._
      val docs = words.zipWithIndex.map { case ((a, b, c), i) =>
        (i.toLong, s"w$a w$b w$c") }.toDF("doc_id", "text")
      val out = Dedup.exact(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      val byText = words.zipWithIndex.groupBy(_._1).values
      out.forall { case (id, canon, dup) => (canon <= id) && (dup == (canon != id)) } &&
        byText.forall { grp =>
          val ids = grp.map(_._2.toLong).toSet
          val canons = out.filter(o => ids(o._1)).map(_._2).toSet
          canons.size == 1 && canons.head == ids.min
        }
    }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  private def md5Ppm(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).take(15), 16) % 1000000L

  private val genMatchDist = for {
    nBins <- Gen.choose(1, 4)
    cur <- Gen.listOfN(nBins, Gen.choose(0, 30))
    ref <- Gen.listOfN(nBins, Gen.choose(0, 10))
    extra <- Gen.choose(0, 10) // cur rows in a bin with no ref mass
  } yield (cur, ref, extra)

  property("matchDistribution == full reference derivation (rates, md5, edge cases)") =
    forAll(genMatchDist) { case (cur, ref, extra) =>
      import spark.implicits._
      var id = -1L
      val curRows = cur.zipWithIndex.flatMap { case (n, b) =>
        (0 until n).map { _ => id += 1; (id, b * 100L + 5L) }
      } ++ (0 until extra).map { _ => id += 1; (id, 9900L) }
      val refRows = ref.zipWithIndex.flatMap { case (m, b) =>
        (0 until m).map { i => (100000L + b * 100 + i, b * 100L + 7L) }
      }
      val got = Sampling.matchDistribution(
          curRows.toDF("doc_id", "v"),
          refRows.toDF("doc_id", "v"), "v", 100L, "doc_id")
        .select("doc_id").as[Long].collect().toSet
      // reference: identical double-op order as the operator/oracle
      val tot = ref.sum.toDouble
      val shared = cur.zip(ref).zipWithIndex
        .filter { case ((n, m), _) => n > 0 && m > 0 }
      val want: Set[Long] =
        if (shared.isEmpty || tot == 0) Set.empty
        else {
          val kk = shared.map { case ((n, m), _) => n / (m / tot) }.min
          val ppm = shared.map { case ((n, m), b) =>
            b -> math.floor(m / tot * kk / n * 1000000).toLong
          }.toMap
          curRows.filter { case (i, v) =>
            val b = (v / 100).toInt
            ppm.contains(b) && md5Ppm(i.toString) < ppm(b)
          }.map(_._1).toSet
        }
      got == want
    }

  private val genShuffle = for {
    n <- Gen.choose(0, 40)
    epoch <- Gen.choose(0, 5)
    shards <- Gen.choose(1, 5)
  } yield (n, epoch, shards)

  property("epochShuffle == reference md5 permutation (shard + rank)") =
    forAll(genShuffle) { case (n, epoch, shards) =>
      import spark.implicits._
      val keys = (0L until n.toLong).map(i => i * 7 + 3)
      val got = Sampling.epochShuffle(keys.toDF("k"), "k", epoch, shards)
        .select("k", "shard", "pos").as[(Long, Int, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val hexes = keys.map(k => k -> md5Hex(s"$epoch:$k")).toMap
      val want = keys.groupBy(k =>
          (java.lang.Long.parseLong(hexes(k).take(15), 16) % shards).toInt)
        .flatMap { case (shard, ks) =>
          ks.sortBy(k => (hexes(k), k)).zipWithIndex.map { case (k, i) =>
            k -> ((shard, i + 1L))
          }
        }
      got == want
    }

  // small alphabet gives dense n-gram stats; 'x' in the score side is
  // never in training, forcing genuine backoff-level transitions
  private val genLmCorpus = for {
    nt <- Gen.choose(1, 4)
    train <- Gen.listOfN(nt,
      Gen.listOfN(6, Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
    ns <- Gen.choose(1, 5)
    score <- Gen.listOfN(ns, Gen.choose(1, 7)
      .flatMap(len => Gen.listOfN(len, Gen.oneOf("a", "b", "c", "x")))
      .map(_.mkString(" ")))
  } yield (train, score)

  property("trigramBackoffScore == brute slot-count stupid backoff") =
    forAll(genLmCorpus) { case (train, score) =>
      import spark.implicits._
      def tris(doc: String): List[(String, String, String)] =
        doc.split("\\s+").toList.sliding(3)
          .collect { case List(a, b, c) => (a, b, c) }.toList
      val ref = train.flatMap(tris)
      val n = ref.size.toLong
      val c3 = ref.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val c12 = ref.groupBy(t => (t._1, t._2))
        .map { case (k, v) => k -> v.size.toLong }
      val c23 = ref.groupBy(t => (t._2, t._3))
        .map { case (k, v) => k -> v.size.toLong }
      val c2 = ref.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
      val c1 = ref.groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
      def q(t: (String, String, String)): Long =
        c3.get(t).map(c => c * 1000000L / c12((t._1, t._2)))
          .orElse(c23.get((t._2, t._3)).map(c => c * 400000L / c2(t._2)))
          .orElse(c1.get(t._3).map(c => c * 160000L / n))
          .getOrElse(0L)
      val want = score.zipWithIndex.flatMap { case (doc, i) =>
        val ts = tris(doc)
        if (ts.isEmpty) None
        else {
          val s = ts.map(q).sum
          Some(i.toLong -> ((ts.size.toLong, s, s / ts.size)))
        }
      }.toMap
      val trainDf = train.zipWithIndex
        .map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      val scoreDf = score.zipWithIndex
        .map { case (d, i) => (i.toLong, d) }.toDF("doc_id", "text")
      val got = graft.ext.TextOps.trigramBackoffScore(trainDf, scoreDf)
        .select("doc_id", "n_trigrams", "score_sum", "mean_q")
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      got == want
    }

  private val genPairGraph = for {
    n <- Gen.choose(2, 12)
    m <- Gen.choose(1, 20)
    raw <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    rounds <- Gen.choose(1, 3)
  } yield (raw.collect { case (a, b) if a != b =>
    (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct, rounds)

  property("louvainLocalMove == brute synchronous monotone-label reference") =
    forAll(genPairGraph) { case (rawPairs, rounds) =>
      // re-canonicalize: ScalaCheck shrinking ignores generator
      // constraints and can produce pairs like (1, -1)
      val pairs = rawPairs.filter(p => p._1 < p._2).distinct
      pairs.isEmpty || {
        import spark.implicits._
        // brute: the same synchronous rule, computed naively
        val sym = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        val vs = sym.map(_._1).distinct
        val deg = vs.map(v => v -> sym.count(_._1 == v).toLong).toMap
        val m = pairs.size.toLong
        var c = vs.map(v => v -> v).toMap
        for (_ <- 1 to rounds) {
          // keysIterator, NOT keys.map: Set.map would collapse equal
          // degree values before the sum
          val tot = c.groupBy(_._2).map { case (cc, mem) =>
            cc -> mem.keysIterator.map(deg).sum }
          val prev = c
          c = vs.map { u =>
            val cur = prev(u)
            val kuc = sym.filter(_._1 == u).groupBy(e => prev(e._2))
              .map { case (cc, es) => cc -> es.size.toLong }
            val cands = (kuc.keySet + cur).filter(_ <= cur)
            val best = cands.map { cc =>
              val g = 2L * m * kuc.getOrElse(cc, 0L) - deg(u) *
                (tot(cc) - (if (cur == cc) deg(u) else 0L))
              (cc, g)
            }.toSeq.sortBy { case (cc, g) => (-g, cc) }.head._1
            u -> best
          }.toMap
        }
        val got = graft.algos.LinkAnalysis
          .louvainLocalMove(pairs.toDF("a", "b"), rounds)
          .as[(Long, Long)].collect().toMap
        got == c
      }
    }

  // small alphabet forces dense pair statistics and deep merge chains
  private val genBpeCorpus = for {
    n <- Gen.choose(2, 6)
    words <- Gen.listOfN(n, Gen.listOfN(5,
      Gen.oneOf("a", "b", "c")).map(_.mkString))
    rounds <- Gen.choose(1, 6)
  } yield (words, rounds)

  property("BPE merges always reconstruct every word (lossless round trip)") =
    forAll(genBpeCorpus) { case (words, rounds) =>
      import spark.implicits._
      val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("doc_id", "text")
      val merges = graft.ext.TextOps.learnBpeMerges(docs, rounds)
        .orderBy("round")
        .as[(Int, String, String, String, Long)].collect()
      // apply the merge table with a reference greedy fold and check
      // (a) concatenation is lossless, (b) the distributed encoder's
      // token counts equal the reference fold's
      def fold(syms: Vector[String], a: String, b: String): Vector[String] =
        syms.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == a && x == b)
            acc.init :+ (a + b)
          else acc :+ x
        }
      val encoded = words.map { w =>
        w -> merges.foldLeft(w.split("").toVector) { case (s, m) =>
          fold(s, m._2, m._3)
        }
      }.toMap
      val lossless = encoded.forall { case (w, syms) => syms.mkString == w }
      val counts = graft.ext.TextOps.applyBpe(docs,
          merges.toIndexedSeq.toDF("round", "lhs", "rhs", "merged", "cnt"))
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> r._3).toMap
      val agrees = words.zipWithIndex.forall { case (w, i) =>
        counts(i.toLong) == encoded(w).length.toLong
      }
      lossless && agrees
    }

  private val genBudget = for {
    n <- Gen.choose(0, 60)
    scoreMod <- Gen.choose(1, 6) // heavy score ties -> boundary strata
    tokMod <- Gen.choose(1, 8)
    budget <- Gen.choose(0L, 300L)
  } yield (n, scoreMod, tokMod, budget)

  property("selectByBudget == global cumsum rule on random corpora/budgets") =
    forAll(genBudget) { case (n, scoreMod, tokMod, budget) =>
      import spark.implicits._
      val rows = (0L until n.toLong).map(i =>
        (i, i % scoreMod, i % tokMod)) // zero-token rows included
      val got = Sampling.selectByBudget(rows.toDF("id", "score", "tk"),
          "id", "score", "tk", budget)
        .select("id", "kept").as[(Long, Boolean)].collect().toMap
      var cum = 0L
      val want = rows.sortBy { case (id, s, _) =>
          (-s, md5Hex(id.toString), id) }
        .map { case (id, _, tk) => cum += tk; id -> (cum <= budget) }
        .toMap
      got == want
    }

  private val genResize = for {
    n <- Gen.choose(1, 50)
    shards <- Gen.choose(1, 7)
  } yield (n, shards)

  private val genGi = for {
    groups <- Gen.choose(3, 10)
    items <- Gen.choose(3, 8)
    m <- Gen.choose(5, 30)
    pairs <- Gen.listOfN(m,
      Gen.zip(Gen.choose(0, groups - 1), Gen.choose(0, items - 1)))
  } yield pairs.distinct

  property("bestMatchCommunities == brute mutual-argmax closure on random bipartite data") =
    forAll(genGi) { pairs =>
      import spark.implicits._
      val gi = pairs.map { case (g, i) => (g.toLong, i.toLong) }
        .toDF("g", "i")
      val got = graft.algos.LinkAnalysis.bestMatchCommunities(gi, 2)
        .as[(Long, Long)].collect().toMap
      // brute reference
      val byItem = pairs.groupBy(_._2).view
        .mapValues(_.map(_._1).toSet).toMap
      val items = byItem.keys.map(_.toLong).toSet
      val jac = (for {
        a <- byItem.keys; b <- byItem.keys if a < b
        inter = (byItem(a) & byItem(b)).size if inter >= 2
      } yield (a.toLong, b.toLong) ->
        inter.toDouble / (byItem(a) | byItem(b)).size).toMap
      val best = items.flatMap { u =>
        val cands = jac.collect {
          case ((a, b), j) if a == u => (b, j)
          case ((a, b), j) if b == u => (a, j)
        }
        if (cands.isEmpty) None
        else Some(u -> cands.maxBy { case (v, j) => (j, -v) }._1)
      }.toMap
      val mutual = best.collect {
        case (u, v) if u < v && best.get(v).contains(u) => (u, v)
      }.toSet
      // min-label components over mutual edges
      var label = items.map(i => i -> i).toMap
      var changed = true
      while (changed) {
        changed = false
        mutual.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m || label(b) != m) {
            label += a -> m; label += b -> m; changed = true
          }
        }
      }
      got == label
    }

  private val genUndirectedEdges = for {
    n <- Gen.choose(3, 12)
    m <- Gen.choose(1, 25)
    raw <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
  } yield raw.collect { case (a, b) if a != b =>
    (math.min(a, b).toLong, math.max(a, b).toLong) }.distinct

  property("ktruss == brute support-peeling fixpoint on random graphs") =
    forAll(genUndirectedEdges, Gen.choose(3, 5)) { (edges, k) =>
      import spark.implicits._
      // brute: iterate support-and-peel to the true fixpoint
      var cur = edges.toSet
      var sup = Map.empty[(Long, Long), Int]
      var roundsUsed = 0
      var stable = false
      while (!stable) {
        roundsUsed += 1
        val nbrs = cur.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupMap(_._1)(_._2).map { case (x, ys) => x -> ys.toSet }
        sup = cur.map { case e @ (a, b) =>
          e -> (nbrs.getOrElse(a, Set.empty) & nbrs.getOrElse(b, Set.empty)).size
        }.toMap
        val keep = sup.filter(_._2 >= k - 2).keySet
        if (keep == cur) stable = true else cur = keep
      }
      val expect = cur.map(e => Seq[Any](e._1, e._2, sup(e).toLong))
      val df =
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
        else edges.toDF("a", "b")
      val got = graft.algos.LinkAnalysis.ktruss(df, k, roundsUsed + 1)
        .collect().map(_.toSeq).toSet
      got == expect
    }

  property("associationRules == brute confidence/lift on random baskets") =
    forAll(for {
      ng <- Gen.choose(2, 8); ni <- Gen.choose(2, 6); m <- Gen.choose(2, 25)
      raw <- Gen.listOfN(m, Gen.zip(Gen.choose(0, ng - 1), Gen.choose(0, ni - 1)))
    } yield raw.map { case (g, i) => (g.toLong, i.toLong) }.distinct) { gi =>
      import spark.implicits._
      val byItem = gi.groupMap(_._2)(_._1).map { case (i, gs) => i -> gs.toSet }
      val nOrders = gi.map(_._1).distinct.size.toLong
      val expect = (for {
        a <- byItem.keys; b <- byItem.keys if a < b
        w = (byItem(a) & byItem(b)).size.toLong if w >= 2
      } yield {
        val (na, nb) = (byItem(a).size.toLong, byItem(b).size.toLong)
        Seq[Any](a, b, w, na, nb, 1000000L * w / na, 1000000L * w / nb,
          1000000L * w * nOrders / (na * nb))
      }).toSet
      val got = graft.algos.LinkAnalysis
        .associationRules(gi.toDF("g", "i"), 2).collect().map(_.toSeq).toSet
      got == expect
    }

  property("effectiveDiameter == exact BFS curve when k exceeds every ball") =
    forAll(genUndirectedEdges.suchThat(_.nonEmpty)) { edges =>
      import spark.implicits._
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupMap(_._1)(_._2).map { case (x, ys) => x -> ys.toSet }
      def ball(src: Long, h: Int): Int = {
        var seen = Set(src)
        var frontier = Set(src)
        for (_ <- 1 to h) {
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
          seen ++= frontier
        }
        seen.size
      }
      val maxDepth = 4
      val nf = (0 to maxDepth).map(t => nodes.map(ball(_, t) - 1L).sum)
      val nmax = math.max(nf(maxDepth), 1L)
      val ppm = nf.map(v => 1000000L * v / nmax)
      val rb = ppm.map(_ >= 900000L)
      val flags = rb.zipWithIndex.map { case (r, t) =>
        r && (t == 0 || !rb(t - 1)) }
      val expect = (0 to maxDepth).map(t =>
        Seq[Any](t, nf(t), ppm(t), flags(t))).toSet
      val got = graft.algos.LinkAnalysis
        .effectiveDiameter(edges.toDF("a", "b"), maxDepth, k = 64)
        .collect().map(_.toSeq).toSet
      got == expect
    }

  // ---- behavioral-analytics brute pack: random per-user event logs

  private val genEventLog = for {
    nUsers <- Gen.choose(1, 4)
    n <- Gen.choose(1, 30)
    evs <- Gen.listOfN(n, for {
      u <- Gen.choose(1, nUsers)
      day <- Gen.choose(1, 12)
      hourOffset <- Gen.choose(0, 47)   // some events share a day
      typ <- Gen.oneOf("a", "b", "c")
    } yield (u.toLong, day, hourOffset, typ))
  } yield evs.zipWithIndex.map { case ((u, d, h, t), i) =>
    // half-hour grid inside a 12-day January window, unique event ids
    (i.toLong,
      java.sql.Timestamp.valueOf(f"2026-01-$d%02d ${h / 2}%02d:${h % 2 * 30}%02d:00"),
      u, t)
  }

  private def logDf(evs: List[(Long, java.sql.Timestamp, Long, String)]) = {
    import spark.implicits._
    evs.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
  }

  property("transitionMatrix == brute LEAD counts over (ts, event_id) order") =
    forAll(genEventLog) { evs =>
      val seqs = evs.groupBy(_._3).view.mapValues(
        _.sortBy(e => (e._2.getTime, e._1)).map(_._4))
      val trans = seqs.values.toSeq.flatMap(s => s.zip(s.drop(1)))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val expect = trans.map { case ((src, dst), n) =>
        val tot = trans.collect { case ((s, _), m) if s == src => m }.sum
        Seq[Any](src, dst, n, 1000000L * n / tot)
      }.toSet
      val got = graft.streaming.EventStreams.transitionMatrix(logDf(evs))
        .collect().map(_.toSeq).toSet
      got == expect
    }

  property("activityStreaks == brute consecutive-day runs") =
    forAll(genEventLog) { evs =>
      val expect = evs.groupBy(_._3).map { case (u, es) =>
        val days = es.map(_._2.toLocalDateTime.toLocalDate).distinct.sorted
        val runs = days.foldLeft(List.empty[List[java.time.LocalDate]]) {
          case (acc, d) => acc match {
            case (run @ (h :: _)) :: rest if h.plusDays(1) == d =>
              (d :: run) :: rest
            case _ => List(d) :: acc
          }
        }.map(_.reverse).reverse
        val best = runs.map(r => (r.length.toLong, r.head)).sortBy {
          case (len, st) => (-len, st.toEpochDay) }.head
        Seq[Any](u, runs.size.toLong, days.size.toLong, best._1,
          java.sql.Date.valueOf(best._2))
      }.toSet
      val got = graft.streaming.EventStreams.activityStreaks(logDf(evs))
        .collect().map(_.toSeq).toSet
      got == expect
    }

  property("rollingActives == brute window distinct over the calendar spine") =
    forAll(genEventLog) { evs =>
      val ud = evs.map(e => (e._3, e._2.toLocalDateTime.toLocalDate)).distinct
      val days = ud.map(_._2)
      val (lo, hi) = (days.min, days.max)
      val spine = Iterator.iterate(lo)(_.plusDays(1)).takeWhile(!_.isAfter(hi)).toList
      val expect = spine.map { d =>
        val dau = ud.count(_._2 == d).toLong
        val wau = ud.filter { case (_, ad) =>
          !ad.isAfter(d) && ad.isAfter(d.minusDays(7)) }.map(_._1).distinct.size.toLong
        Seq[Any](java.sql.Date.valueOf(d), dau, wau,
          1000000L * dau / math.max(wau, 1L))
      }.toSet
      val got = graft.streaming.EventStreams.rollingActives(logDf(evs))
        .collect().map(_.toSeq).toSet
      got == expect
    }

  property("sessionPaths == brute gap splitting + ordered concatenation") =
    forAll(genEventLog, Gen.choose(1, 90)) { (evs, gapMin) =>
      val expect = evs.groupBy(_._3).values.toSeq.flatMap { es =>
        val sorted = es.sortBy(e => (e._2.getTime, e._1))
        val sessions = sorted.foldLeft(
          List.empty[List[(Long, java.sql.Timestamp, Long, String)]]) {
          case (acc, e) => acc match {
            case (cur @ (last :: _)) :: rest
              if e._2.getTime - last._2.getTime <= gapMin * 60000L =>
              (e :: cur) :: rest
            case _ => List(e) :: acc
          }
        }
        sessions.map(_.reverse.map(_._4).mkString(">"))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = graft.streaming.EventStreams
        .sessionPaths(logDf(evs), gapMinutes = gapMin)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      got == expect
    }

  property("dailyAnomalies == brute trailing-window rule on the filled grid") =
    forAll(genEventLog, Gen.choose(1, 9)) { (evs, trailing) =>
      val byKey = evs.groupBy(_._4)
      // span-bounded grid (r12 verdict #3): each key's spine covers
      // its OWN [min, max] active days, not the global span
      val expect = byKey.keys.flatMap { k =>
        val keyDays = byKey(k).map(_._2.toLocalDateTime.toLocalDate)
        val (lo, hi) = (keyDays.min, keyDays.max)
        val spine = Iterator.iterate(lo)(_.plusDays(1))
          .takeWhile(!_.isAfter(hi)).toList
        val counts = spine.map(d =>
          byKey(k).count(_._2.toLocalDateTime.toLocalDate == d).toLong)
        spine.zipWithIndex.map { case (d, i) =>
          val win = counts.slice(math.max(0, i - trailing), i)
          val (tSum, tDays) = (win.sum, win.size.toLong)
          Seq[Any](k, java.sql.Date.valueOf(d), counts(i), tSum, tDays,
            tDays > 0 && counts(i) * tDays > 2 * tSum)
        }
      }.toSet
      val got = graft.streaming.EventStreams
        .dailyAnomalies(logDf(evs), trailing = trailing)
        .collect().map(_.toSeq).toSet
      got == expect
    }

  property("labelSpread == brute ALL-labeled-neighbor majority (frontier theorem)") =
    forAll(genUndirectedEdges.suchThat(_.nonEmpty), Gen.choose(1, 3)) {
      (edges, rounds) =>
        import spark.implicits._
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
        val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
          .groupMap(_._1)(_._2).map { case (x, ys) => x -> ys.toSet }
        val seedIds = nodes.take(2)
        val seeds = seedIds.zipWithIndex.map { case (id, i) => (id, i + 1) }
        // brute: count over ALL labeled neighbors each round — the
        // implementation counts the last frontier only; they must
        // agree (an unlabeled vertex cannot neighbor older labels)
        var lab = seeds.map { case (id, l) => id -> ((l, 0)) }.toMap
        for (t <- 1 to rounds) {
          val newly = nodes.filterNot(lab.contains).flatMap { v =>
            val counts = adj.getOrElse(v, Set.empty).toSeq
              .flatMap(n => lab.get(n).map(_._1))
              .groupBy(identity).view.mapValues(_.size).toMap
            if (counts.isEmpty) None
            else {
              val best = counts.toSeq.map { case (l, n) => (n, -l) }.max
              Some(v -> ((-best._2, t)))
            }
          }
          lab = lab ++ newly
        }
        val got = graft.algos.LinkAnalysis.labelSpread(
            edges.toDF("a", "b"), seeds.toDF("id", "label"), rounds)
          .as[(Long, Int, Int)].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        got == lab
    }

  property("mutualKnnClusters == brute kNN + mutual filter + union-find (cells=1)") =
    forAll(for {
      n <- Gen.choose(2, 10)
      k <- Gen.choose(1, 3)
      vecs <- Gen.listOfN(n, Gen.listOfN(3, Gen.choose(-8, 8)))
    } yield (k, vecs.zipWithIndex.map { case (v, i) =>
      (i.toLong, v.map(x => x.toFloat / 4).toArray) })) { case (k, vecs) =>
      import spark.implicits._
      def cos(a: Array[Float], b: Array[Float]): Double = {
        // mirror the native kernel: double accumulate, 0 on zero norm
        val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
        val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
        val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
        if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
      }
      val byId = vecs.toMap
      val ids = vecs.map(_._1)
      val knn = ids.map { a =>
        a -> ids.filter(_ != a)
          .map(b => (b, cos(byId(a), byId(b))))
          .sortBy { case (b, c) => (-c, b) }.take(k).map(_._1).toSet
      }.toMap
      val mutual = (for {
        a <- ids; b <- ids if a < b
        if knn(a).contains(b) && knn(b).contains(a)
      } yield (a, b)).toList
      var label = ids.map(i => i -> i).toMap
      var changed = true
      while (changed) {
        changed = false
        mutual.foreach { case (a, b) =>
          val m = math.min(label(a), label(b))
          if (label(a) != m || label(b) != m) {
            label += a -> m; label += b -> m; changed = true
          }
        }
      }
      val got = graft.ext.Similarity.mutualKnnClusters(
          vecs.toDF("vec_id", "embedding"), k, cells = 1, iters = 0)
        .as[(Long, Long)].collect().toMap
      got == label
    }

  // tiny alphabet + punctuation noise: merge-count ties and
  // normalization edges are the interesting BPE inputs
  private val genBpe = for {
    nDocs <- Gen.choose(1, 5)
    docs <- Gen.listOfN(nDocs, Gen.choose(0, 8).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf("ab", "ba", "abab", "a", "b", "bb",
        "aab!", "b.a", "AB", "aa"))).map(_.mkString(" ")))
    rounds <- Gen.choose(1, 5)
  } yield (docs, rounds)

  /** The in-JVM brute BPE: same normalize/tokenize, word histogram,
    * (count DESC, lhs, rhs) argmax, greedy left-to-right fold. */
  private def bruteBpeWords(text: String): Seq[String] = text.toLowerCase
    .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
    .split("\\s+").toSeq.filter(_.nonEmpty)

  private def bruteBpeFold(syms: Vector[String], a: String,
                           b: String): Vector[String] =
    syms.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
      else acc :+ x
    }

  private def bruteBpeTrain(docs: Seq[String], rounds: Int)
      : (List[(Int, String, String, String, Long)], Map[String, Vector[String]]) = {
    var state = docs.flatMap(bruteBpeWords).groupBy(identity).toSeq
      .map { case (w, occ) => (w, w.split("").toVector, occ.size.toLong) }
    val merges = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((_, syms, c) <- state; i <- 0 until syms.length - 1)
        pc((syms(i), syms(i + 1))) += c
      if (pc.isEmpty) exhausted = true
      else {
        val ((a, b), c) = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((r, a, b, a + b, c))
        state = state.map { case (w, syms, cnt) =>
          (w, bruteBpeFold(syms, a, b), cnt) }
        r += 1
      }
    }
    (merges.toList, state.map { case (w, syms, _) => w -> syms }.toMap)
  }

  property("BPE train + encode == in-JVM brute reference") =
    forAll(genBpe) { case (docs, rounds) =>
      import spark.implicits._
      val df = docs.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val merges = graft.ext.TextOps.learnBpeMerges(df, rounds)
      val gotMerges = merges.as[(Int, String, String, String, Long)]
        .collect().toList.sortBy(_._1)
      val (wantMerges, vocab) = bruteBpeTrain(docs, rounds)
      val gotEnc = graft.ext.TextOps.applyBpe(df, merges)
        .as[(Long, Long, Long)].collect()
        .map { case (id, nw, nb) => id -> ((nw, nb)) }.toMap
      val wantEnc = docs.zipWithIndex.map { case (t, i) =>
        val ws = bruteBpeWords(t)
        i.toLong -> (ws.size.toLong,
          ws.map(w => vocab.getOrElse(w, w.split("").toVector).size.toLong).sum)
      }.toMap
      gotMerges == wantMerges && gotEnc == wantEnc
    }

  property("rendezvousShard: brute argmax; resize moves keys only TO the new shard") =
    forAll(genResize) { case (n, shards) =>
      import spark.implicits._
      def w(k: Long, s: Int): Long =
        java.lang.Long.parseLong(md5Hex(s"$k:$s").take(15), 16)
      val keys = (0L until n.toLong).map(_ * 13 + 1)
      val got = keys.toDF("k").select(col("k"),
          Sampling.rendezvousShard(col("k"), shards).as("a"),
          Sampling.rendezvousShard(col("k"), shards + 1).as("b"))
        .as[(Long, Int, Int)].collect()
      got.forall { case (k, a, b) =>
        a == (0 until shards).maxBy(s => (w(k, s), -s)) &&
          (b == a || b == shards)
      }
    }

  private val fuzzyVocab = Vector("acme", "globex", "widget", "corp",
    "inc", "trading", "united", "pacific")
  private val genFuzzy = for {
    nl <- Gen.choose(2, 6)
    left <- Gen.listOfN(nl, Gen.choose(1, 3)
      .flatMap(kw => Gen.listOfN(kw, Gen.oneOf(fuzzyVocab))
        .map(_.mkString(" "))))
    nr <- Gen.choose(1, 6)
    right <- Gen.listOfN(nr, Gen.oneOf(
      Gen.oneOf(left).map(k => k.toUpperCase.replace(" ", "-") + "!!"),
      Gen.listOfN(2, Gen.oneOf(fuzzyVocab)).map(_.mkString(" "))))
  } yield (left, right)

  // SOUNDNESS is exact (every emitted pair's jaccard_ppm equals the
  // brute hashed-trigram value and clears the threshold); banding
  // COMPLETENESS is probabilistic by design, but identical normalized
  // keys share the whole signature and MUST always be found at 1e6.
  property("fuzzyJoin: exact sound; identical-key pairs always found") =
    forAll(genFuzzy) { case (left, right) =>
      import spark.implicits._
      val p = 2147483647L
      def norm(s: String) = s.toLowerCase
        .replaceAll("[^a-z0-9\\s]", " ").replaceAll("\\s+", " ").trim
      def grams(s: String): Set[Long] = {
        val nk = norm(s)
        if (nk.length < 3) Set.empty[Long]
        else (0 to nk.length - 3).map(i => nk.substring(i, i + 3)).toSet
          .map((g: String) =>
            java.lang.Long.parseLong(md5Hex(g).take(15), 16) % p)
      }
      def jac(a: Set[Long], b: Set[Long]): Long =
        if (a.isEmpty || b.isEmpty) 0L
        else 1000000L * a.intersect(b).size / a.union(b).size
      val ldf = left.zipWithIndex.map { case (k2, i) => (i.toLong, k2) }
        .toDF("lid", "lkey")
      val rdf = right.zipWithIndex.map { case (k2, i) => (100L + i, k2) }
        .toDF("rid", "rkey")
      val got = Dedup.fuzzyJoin(ldf, rdf, "lid", "lkey", "rid", "rkey",
          minJaccardPpm = 500000L)
        .as[(Long, Long, Long)].collect().toSet
      val lg = left.zipWithIndex
        .map { case (k2, i) => i.toLong -> grams(k2) }.toMap
      val rg = right.zipWithIndex
        .map { case (k2, i) => (100L + i) -> grams(k2) }.toMap
      val sound = got.forall { case (a, b, j) =>
        j == jac(lg(a), rg(b)) && j >= 500000L }
      val mustFind = (for {
        (a, ga) <- lg; (b, gb) <- rg
        if ga.nonEmpty && ga == gb
      } yield (a, b, 1000000L)).toSet
      sound && mustFind.subsetOf(got)
    }

  property("corenessHIndex fixpoint == brute peel on random graphs") =
    forAll(genGraph) { case (n, edges) =>
      import spark.implicits._
      val simple = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2).toLong, math.max(e._1, e._2).toLong))
        .distinct
      simple.isEmpty || {
        val e = simple.toDF("a", "b")
        // rounds-to-fixpoint from an in-JVM h-index simulation (the
        // TRUTH below stays the independent brute peel)
        val adj = (simple.map(p => p._1 -> p._2) ++
          simple.map(p => p._2 -> p._1))
          .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
        var vals = adj.view.mapValues(_.size.toLong).toMap
        var r = 0
        var stable = false
        while (!stable) {
          val next = vals.map { case (u, vu) =>
            val nv = adj(u).map(vals).sortBy(-_)
            val h = nv.zipWithIndex
              .map { case (x, i) => math.min(x, i + 1L) }.max
            u -> math.min(vu, h)
          }
          stable = next == vals
          if (!stable) { vals = next; r += 1 }
        }
        val got = graft.algos.LinkAnalysis
          .corenessHIndex(e, rounds = r.max(1))
          .as[(Long, Long)].collect().toMap
        // brute peel: phase k removes everything of degree < k
        // (INCLUDING vertices isolated mid-phase — degree 0 < k);
        // a vertex removed in phase k has coreness k-1
        var core = Map.empty[Long, Long]
        var remaining = simple.flatMap(p => Seq(p._1, p._2)).distinct.toSet
        var live = simple
        var k = 1L
        while (remaining.nonEmpty) {
          var changed = true
          while (changed) {
            val deg = live.flatMap(p => Seq(p._1, p._2))
              .groupBy(identity).view.mapValues(_.size.toLong).toMap
            val drop = remaining.filter(v => deg.getOrElse(v, 0L) < k)
            changed = drop.nonEmpty
            if (changed) {
              drop.foreach(v => core += v -> (k - 1))
              remaining --= drop
              live = live.filterNot(p => drop(p._1) || drop(p._2))
            }
          }
          if (remaining.nonEmpty) k += 1
        }
        got == core
      }
    }

  property("dagLevels fixpoint == brute longest-path DP on random DAGs") =
    forAll(genGraph) { case (n, edges) =>
      import spark.implicits._
      // orient every edge low -> high: always a DAG
      val dag = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2).toLong, math.max(e._1, e._2).toLong))
        .distinct
      val vs = (0 until n).map(_.toLong).toDF("vid")
      val got = Traversals.dagLevels(
          dag.toDF("src", "dst"), vs, rounds = n.max(1))
        .as[(Long, Long)].collect().toMap
      // DP in topological (numeric) order
      val lvl = scala.collection.mutable.Map((0 until n)
        .map(_.toLong -> 0L): _*)
      dag.sorted.foreach { case (a, b) =>
        lvl(b) = math.max(lvl(b), lvl(a) + 1) }
      // one extra sweep guards multi-hop chains arriving out of order
      var changed = true
      while (changed) {
        changed = false
        dag.foreach { case (a, b) =>
          if (lvl(a) + 1 > lvl(b)) { lvl(b) = lvl(a) + 1; changed = true } }
      }
      got == lvl.toMap
    }

  private val genWordDocs = for {
    n <- Gen.choose(1, 12)
    docs <- Gen.listOfN(n, Gen.listOf(Gen.oneOf(
      "ant", "bee", "cat", "dog", "elk", "fox", "gnu", "hen")))
  } yield docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }

  property("heapsCurve == brute prefix-distinct on random corpora") =
    forAll(genWordDocs) { docs =>
      import spark.implicits._
      val got = graft.ext.TextOps.heapsCurve(
          docs.toDF("doc_id", "text"), buckets = 3)
        .as[(Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val span = docs.map(_._1).max / 3 + 1
      val toks = docs.map { case (id, t) =>
        (id / span, t.trim.split("\\s+").filter(_.nonEmpty).toSeq) }
      // checkpoints appear only once they carry at least one token
      val buckets = toks.filter(_._2.nonEmpty).map(_._1).distinct.sorted
      var seen = Set.empty[String]
      var (ct, cv) = (0L, 0L)
      val exp = buckets.map { b =>
        val ws = toks.filter(_._1 == b).flatMap(_._2)
        ct += ws.size
        val fresh = ws.toSet -- seen
        seen ++= fresh; cv += fresh.size
        b -> ((ct, cv, if (ct == 0) cv * 1000000L
          else cv * 1000000L / ct))
      }.toMap
      got == exp
    }

  property("zipfCard == brute rank-frequency on random corpora") =
    forAll(genWordDocs) { docs =>
      import spark.implicits._
      val got = graft.ext.TextOps.zipfCard(
          docs.toDF("doc_id", "text"), maxLogRank = 3)
        .as[(Long, Long, Long)].collect().toSet
      val counts = docs.flatMap(_._2.trim.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).values.map(_.size.toLong).toSeq.sortBy(-_)
      val exp = Seq(1L, 2L, 4L, 8L).filter(_ <= counts.size)
        .map(r => (r, counts(r.toInt - 1), r * counts(r.toInt - 1))).toSet
      got == exp
    }

  property("robustOutliers == brute sorted-median/MAD flag counts") =
    forAll(Gen.listOfN(9, Gen.zip(Gen.oneOf("a", "b"),
      Gen.choose(0L, 40L)))) { rows =>
      import spark.implicits._
      val got = graft.ext.Profiling.robustOutliers(
          rows.toDF("grp", "v"), "grp", "v", madK = 2L)
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      def disc(xs: Seq[Long]): Long = {
        val s = xs.sorted
        s(math.ceil(0.5 * s.size).toInt - 1)
      }
      val exp = rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.map(_._2)
        val med = disc(vs)
        val mad = disc(vs.map(v => math.abs(v - med)))
        val out = vs.count(v => math.abs(v - med) > 2 * mad).toLong
        g -> ((vs.size.toLong, med, mad, out))
      }
      got == exp
    }

  property("unimaxBudgets: caps respected, budget never exceeded, waterfill exhausts") =
    forAll(Gen.listOfN(5, Gen.choose(1L, 50L)), Gen.choose(0L, 300L)) {
      (sizes, budget) =>
      import spark.implicits._
      val df = sizes.zipWithIndex.map { case (c, i) => (s"g$i", c) }
        .toDF("g", "w")
      val rowsOut = graft.ext.Sampling.unimaxBudgets(df, "g", "w",
          totalBudget = budget, maxEpochs = 2L)
        .as[(String, Long, Long, Long)].collect()
      val capOk = rowsOut.forall(r => r._3 <= r._2 * 2 && r._3 >= 0)
      val sumOk = rowsOut.map(_._3).sum <= budget
      // either the budget is exhausted (to integer-division remainders,
      // < #groups per sweep step) or every group hit its epoch cap
      val allCapped = rowsOut.forall(r => r._3 == r._2 * 2)
      val spent = rowsOut.map(_._3).sum
      val exhausted = budget - spent < rowsOut.length.toLong.max(1L) *
        rowsOut.length
      capOk && sumOk && (allCapped || exhausted)
    }

  property("applyChangelog == sequential fold of the ordered log") =
    forAll(
      Gen.listOfN(8, Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 99L))),
      Gen.listOfN(12, Gen.zip(Gen.choose(0L, 7L), Gen.choose(1, 4),
        Gen.choose(1, 3), Gen.oneOf("I", "U", "D"), Gen.choose(0L, 99L)))) {
      (baseRaw, logRaw) =>
      import spark.implicits._
      val base = baseRaw.toMap.toSeq // unique keys
      // unique (key, ts, seq) — the operator's stated CDC contract
      val log = logRaw.groupBy(r => (r._1, r._2, r._3))
        .map(_._2.head).toSeq
      val out = graft.ext.Upserts.applyChangelog(
          base.toDF("k", "v"), log.toDF("k", "ts", "seq", "op", "v"), "k")
        .as[(Long, Long)].collect().toMap
      val expected = {
        val m = scala.collection.mutable.Map(base: _*)
        log.sortBy(r => (r._2, r._3)).foreach { case (k2, _, _, op, v) =>
          if (op == "D") m.remove(k2) else m(k2) = v }
        // winner-only semantics: a D that is NOT last doesn't resurrect
        // order; the sequential fold applies ops in (ts, seq) order and
        // therefore agrees with last-writer-wins exactly
        m.toMap
      }
      out == expected
    }

  // ---- round-10: fuzz the round-9 pairing kernels (r9 verdict #4) ----

  /** Brute md5 minhash machinery mirroring the portable family:
    * tokens → w-shingles → md5-mod-p gram hashes → k seeded minima →
    * banded keys. Shared by the estimator and calibration properties. */
  private def bruteSig(text: String, k: Int, w: Int): Option[Vector[Long]] = {
    val p = 2147483647L
    val toks = text.trim.split("\\s+") // split(trim(t), "\\s+") incl. [""]
    if (toks.length < w) return None
    val sh = (0 to toks.length - w).map(i =>
      toks.slice(i, i + w).mkString(" ")).distinct
    val hs = sh.map(s =>
      java.lang.Long.parseLong(md5Hex(s).take(15), 16) % p)
    Some((0 until k).map(s =>
      hs.map(h => (h * (2L * s + 1) + s) % p).min).toVector)
  }

  private def bruteBandCands(sigs: Map[Long, Vector[Long]], k: Int,
                             bands: Int): Set[(Long, Long)] = {
    val r = k / bands
    val buckets = for {
      (id, sig) <- sigs.toSeq
      b <- 0 until bands
    } yield ((b, sig.slice(b * r, b * r + r).mkString(",")), id)
    buckets.groupBy(_._1).values.flatMap { grp =>
      val ids = grp.map(_._2)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  private val genEstDocs = Gen.listOfN(10, Gen.listOfN(5,
    Gen.choose(0, 2)).map(_.map(i => s"t$i").mkString(" ")))

  property("minhashEstimatePortable == brute banded matches/k estimator") =
    forAll(genEstDocs) { texts =>
      import spark.implicits._
      val k = 8; val bands = 4; val w = 3
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.minhashEstimatePortable(docs, k, bands, w)
        .as[(Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
      val sigs = texts.zipWithIndex.flatMap { case (t, i) =>
        bruteSig(t, k, w).map(i.toLong -> _) }.toMap
      val want = bruteBandCands(sigs, k, bands).map { case (a, b) =>
        val m = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
        (a, b) -> (1000000L * m / k)
      }.toMap
      got == want
    }

  property("estimatorCalibration == brute confusion over the shared candidates") =
    forAll(genEstDocs, Gen.choose(0.2, 0.8)) { (texts, gt) =>
      import spark.implicits._
      val k = 8; val bands = 4; val w = 3
      val thresholds = Seq(0L, 250000L, 500000L, 750000L, 1000000L)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.estimatorCalibration(docs, thresholds, gt, k, bands, w)
        .select("thr_ppm", "tp", "fp", "fn", "precision_ppm", "recall_ppm")
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
      // brute legs: estimator from brute signatures; exact jaccard from
      // the STRING shingle sets (minhashLshPortable verifies on strings)
      def hset(t: String): Set[String] = {
        val toks = t.trim.split("\\s+")
        if (toks.length < w) Set.empty
        else (0 to toks.length - w).map(i =>
          toks.slice(i, i + w).mkString(" ")).toSet
      }
      val sigs = texts.zipWithIndex.flatMap { case (t, i) =>
        bruteSig(t, k, w).map(i.toLong -> _) }.toMap
      val sets = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> hset(t) }.toMap
      val prs = bruteBandCands(sigs, k, bands).toSeq.map { case (a, b) =>
        val est = 1000000L *
          sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / k
        val inter = sets(a).intersect(sets(b)).size
        val jac = inter.toDouble / (sets(a).size + sets(b).size - inter)
        (est, jac >= gt)
      }
      val want = thresholds.map { thr =>
        val tp = prs.count { case (e, g) => e >= thr && g }.toLong
        val fp = prs.count { case (e, g) => e >= thr && !g }.toLong
        val fn = prs.count { case (e, g) => e < thr && g }.toLong
        thr -> ((tp, fp, fn,
          tp * 1000000L / math.max(tp + fp, 1L),
          tp * 1000000L / math.max(tp + fn, 1L)))
      }.toMap
      got == want
    }

  private val genProbeVecs = for {
    n <- Gen.choose(3, 10)
    vecs <- Gen.listOfN(n, Gen.listOfN(4,
      Gen.oneOf(-1.0, -0.5, 0.25, 0.5, 1.0)))
    nq <- Gen.choose(1, 3)
    qs <- Gen.listOfN(nq, Gen.listOfN(4,
      Gen.oneOf(-1.0, -0.5, 0.25, 0.5, 1.0)))
  } yield (vecs, qs)

  property("searchIndexBm25 == brute integer BM25 on random corpora") =
    forAll(genEstDocs) { texts =>
      import spark.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      graft.ext.TextOps.writeInvertedIndex(docs, "prop_bm25", buckets = 2)
      val got = graft.ext.TextOps.searchIndexBm25(spark, "prop_bm25",
          Seq("t0", "t1"), k = 20)
        .as[(Long, Long, Long)].collect().toList
      // brute: postings/df/dl/stats + the exact integer formula
      val toks = texts.map(_.trim.split("\\s+").filter(_.nonEmpty))
      val tf = toks.zipWithIndex
        .flatMap { case (ts, i) => ts.map(t => (t, i.toLong)) }
        .groupBy(identity).map { case (k2, v) => k2 -> v.size.toLong }
      val dfq = tf.keys.toSeq.groupBy(_._1)
        .map { case (t, v) => t -> v.size.toLong }
      val dl = toks.zipWithIndex.filter(_._1.nonEmpty)
        .map { case (ts, i) => i.toLong -> ts.length.toLong }.toMap
      val n = dl.size.toLong
      val avgdl = math.max(if (n == 0) 1L else dl.values.sum / n, 1L)
      val terms = Seq("t0", "t1")
      val scores = dl.keys.toSeq.flatMap { d =>
        val hits = terms.filter(t => tf.contains((t, d)))
        if (hits.isEmpty) None
        else {
          val s = hits.map { t =>
            val idf = (n - dfq(t)) * 1000000L / dfq(t)
            (BigInt(idf) * (22L * tf((t, d)) * avgdl) /
              BigInt(10L * avgdl * tf((t, d)) + 3L * avgdl + 9L * dl(d)))
              .toLong
          }.sum
          Some((d, s, hits.size.toLong))
        }
      }
      val want = scores.sortBy { case (d, s, _) => (-s, d) }.take(20).toList
      got == want
    }

  private val genAttr = for {
    n <- Gen.choose(3, 14)
    evs <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 2), // user
      Gen.oneOf("click", "purchase", "view"), Gen.choose(0, 40))) // ts sec
  } yield evs

  property("lastTouchAttribution == brute latest-in-window scan") =
    forAll(genAttr) { evs =>
      import spark.implicits._
      val lookbackMs = 10000L // 10 s window over 0..40 s of events
      def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
      val rows = evs.zipWithIndex.map { case ((u, ty, t), i) =>
        (i.toLong, ts(t), u.toLong, ty) }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.streaming.EventStreams.lastTouchAttribution(
          df, "click", "purchase", lookbackMs)
        .select("conv_id", "touch_id", "attributed")
        .as[(Long, Option[Long], Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      // brute: same-ts clicks collapse to max id, then latest ts wins
      val clicks = rows.filter(_._4 == "click")
        .groupBy(r => (r._3, r._2)).map { case ((u, t), v) =>
          (u, t, v.map(_._1).max) }.toSeq
      val want = rows.filter(_._4 == "purchase").map { c =>
        val cand = clicks.filter(k => k._1 == c._3 && !k._2.after(c._2))
        if (cand.isEmpty) c._1 -> ((Option.empty[Long], false))
        else {
          val best = cand.maxBy(k => (k._2.getTime, k._3))
          val inw = c._2.getTime - best._2.getTime <= lookbackMs
          c._1 -> ((if (inw) Some(best._3) else None, inw))
        }
      }.toMap
      got == want
    }

  property("edgeStructureCard == brute multigraph audit") =
    forAll(Gen.listOfN(14,
      Gen.zip(Gen.choose(0L, 5L), Gen.choose(0L, 5L)))) { es =>
      import spark.implicits._
      es.isEmpty || {
        val row = graft.algos.LinkAnalysis.edgeStructureCard(
          es.toDF("src", "dst")).collect().head
        val dd = es.distinct
        val ns = dd.filter(e => e._1 != e._2)
        val deg = ns.flatMap(e => Seq(e._1 -> e._2, e._2 -> e._1))
          .distinct.groupBy(_._1).map { case (v, u) => v -> u.size.toLong }
        val recip = ns.count(e => ns.contains((e._2, e._1))).toLong
        val xy = ns.map(e => (deg(e._1), deg(e._2)))
        val nonSelf = (dd.size - ns.size).toLong // self loop count check aid
        row.getLong(0) == es.size.toLong &&
          row.getLong(1) == dd.size.toLong &&
          row.getLong(2) == nonSelf &&
          row.getLong(3) == recip &&
          row.getLong(4) == recip * 1000000L / math.max(ns.size.toLong, 1L) &&
          row.getLong(5) == ns.size.toLong &&
          row.getLong(6) == xy.map(_._1).sum &&
          row.getLong(7) == xy.map(_._2).sum &&
          // quadratic moments carry as DECIMAL(38,0) strings (the x52
          // overflow treatment — Σ deg² crosses 2^63 at 100 TB)
          row.getString(8) == xy.map(p => p._1 * p._1).sum.toString &&
          row.getString(9) == xy.map(p => p._2 * p._2).sum.toString &&
          row.getString(10) == xy.map(p => p._1 * p._2).sum.toString
      }
    }

  private val genUrl = for {
    scheme <- Gen.oneOf("http://", "https://", "HTTPS://", "HtTp://", "")
    www <- Gen.oneOf("", "www.", "WWW.")
    host <- Gen.listOfN(2, Gen.oneOf("Alpha", "beta", "G2")).map(_.mkString("."))
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    path <- Gen.oneOf("", "/", "/A/b", "/A/b/", "/x//")
    qs <- Gen.someOf(Seq("utm_source=g", "a=1", "utm_medium=m", "B=2", ""))
    frag <- Gen.oneOf("", "#f", "#a/b?c")
    pad <- Gen.oneOf("", "  ")
  } yield pad + scheme + www + host + ".com" + port + path +
    (if (qs.nonEmpty) "?" + qs.mkString("&") else "") + frag + pad

  property("canonicalUrls == brute JVM chain on random URLs") =
    forAll(Gen.listOfN(6, genUrl)) { urls =>
      import spark.implicits._
      val df = urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
        .toDF("id", "url")
      val got = graft.ext.TextOps.canonicalUrls(df, "id", "url")
        .as[(Long, String, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      def brute(u0: String): (String, String) = {
        val t1 = u0.trim.replaceAll("#.*", "")
          .replaceAll("(?i)^https?://", "")
        val m = java.util.regex.Pattern.compile("^([^/?#]*)")
          .matcher(t1); m.find()
        val host0 = m.group(1)
        val host = host0.toLowerCase.replaceAll("^www\\.", "")
          .replaceAll(":(80|443)$", "")
        val rest = t1.substring(host0.length)
        val q = rest.indexOf('?')
        val path = (if (q < 0) rest else rest.substring(0, q))
          .replaceAll("/+$", "")
        val params = (if (q < 0) "" else rest.substring(q + 1))
          .split("&", -1).filter(p => p.nonEmpty && !p.startsWith("utm_"))
        (host, host + path +
          (if (params.nonEmpty) "?" + params.mkString("&") else ""))
      }
      urls.zipWithIndex.forall { case (u, i) => got(i.toLong) == brute(u) }
    }

  property("probeBucketedNearDup == blocked rebuild restricted to batch pairs") =
    forAll(genProbeVecs) { case (vecs, qs) =>
      import spark.implicits._
      val planes = 4
      val corpus = vecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(_.toFloat).toArray) }.toDF("vec_id", "embedding")
      val batch = qs.zipWithIndex.map { case (v, i) =>
        (100L + i, v.map(_.toFloat).toArray) }.toDF("vec_id", "embedding")
      val dir = java.nio.file.Files.createTempDirectory("prop_ann").toString
      graft.ext.Similarity.writeBucketed(corpus, dir, planes,
        portable = true)
      val got = graft.ext.Similarity.probeBucketedNearDup(
          spark, dir, batch, 0.0, planes)
        .select("a", "b").as[(Long, Long)].collect().toSet
      val want = graft.ext.Dedup.embeddingNearDupBlocked(
          corpus.unionByName(batch), 0.0, planes, reps = 1)
        .select("a", "b").as[(Long, Long)].collect().toSet
        .filter(p => p._1 >= 100L || p._2 >= 100L)
      got == want
    }

  property("lshTopKMultiProbe candidates == single-probe ∪ Hamming-1 buckets") =
    forAll(genProbeVecs) { case (vecs, qs) =>
      import spark.implicits._
      val planes = 4; val dim = 4
      // brute portable bucket: bit p set iff Σ floor(x·1e6)·sign(p,i) ≥ 0,
      // sign(p,i) = parity of the first md5 hex digit of "p:i" (i 1-based)
      def sign(p: Int, i: Int): Long =
        if (Integer.parseInt(md5Hex(s"$p:$i").take(1), 16) % 2 == 0) 1L else -1L
      def bucket(v: List[Double]): Long =
        (0 until planes).map { p =>
          val proj = v.zipWithIndex.map { case (x, i) =>
            math.floor(x * 1e6).toLong * sign(p, i + 1) }.sum
          if (proj >= 0) 1L << p else 0L
        }.sum
      val corpus = vecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(_.toFloat).toArray) }.toDF("vec_id", "embedding")
      val queries = qs.zipWithIndex.map { case (v, i) =>
        (100L + i, v.map(_.toFloat).toArray) }.toDF("vec_id", "embedding")
      // k ≥ corpus size surfaces EVERY candidate the probe policy sees
      val got = graft.ext.Similarity.lshTopKMultiProbe(
          corpus, queries, k = vecs.size + 1, planes = planes)
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      val want = (for {
        (q, qi) <- qs.zipWithIndex
        b0 = bucket(q)
        probeSet = Set(b0) ++ (0 until planes).map(p => b0 ^ (1L << p))
        (v, vi) <- vecs.zipWithIndex
        if probeSet(bucket(v))
      } yield (100L + qi, vi.toLong)).toSet
      got == want
    }

  property("multiTouchAttribution credits == brute largest-remainder apportionment") =
    forAll(genAttr) { evs =>
      import spark.implicits._
      val lookbackMs = 10000L
      def ts(sec: Int) = new java.sql.Timestamp(1700000000000L + sec * 1000L)
      val rows = evs.zipWithIndex.map { case ((u, ty, t), i) =>
        (i.toLong, ts(t), u.toLong, ty) }
      val df = rows.toDF("event_id", "ts", "user_id", "event_type")
      val got = graft.streaming.EventStreams.multiTouchAttribution(
          df, "click", "purchase", lookbackMs)
        .select("conv_id", "touch_id", "position", "n_touches",
          "credit_linear_ppm", "credit_position_ppm", "credit_last_ppm")
        .as[(Long, Option[Long], Option[Long], Long, Option[Long],
          Option[Long], Option[Long])].collect().toSet
      // brute: same-ts clicks collapse to max id; in-window =
      // touch_ts <= conv_ts && conv_ts - touch_ts <= lookback;
      // position order (ts, id); integer largest-remainder shares
      val clicks = rows.filter(_._4 == "click")
        .groupBy(r => (r._3, r._2)).map { case ((u, t), v) =>
          (u, t, v.map(_._1).max) }.toSeq
      val want = rows.filter(_._4 == "purchase").flatMap { c =>
        val inw = clicks.filter(k => k._1 == c._3 && !k._2.after(c._2) &&
            c._2.getTime - k._2.getTime <= lookbackMs)
          .sortBy(k => (k._2.getTime, k._3))
        if (inw.isEmpty)
          Seq((c._1, None, None, 0L, None, None, None))
        else {
          val n = inw.size.toLong
          inw.zipWithIndex.map { case (k, i0) =>
            val pos = i0 + 1L
            val lin = 1000000L / n + (if (pos <= 1000000L % n) 1L else 0L)
            val posCr =
              if (n == 1) 1000000L
              else if (n == 2) 500000L
              else if (pos == 1 || pos == n) 400000L
              else 200000L / (n - 2) +
                (if (pos - 1 <= 200000L % (n - 2)) 1L else 0L)
            val last = if (pos == n) 1000000L else 0L
            (c._1, Some(k._3), Some(pos), n, Some(lin), Some(posCr),
              Some(last))
          }
        }
      }.toSet
      got == want
    }

  property("leidenRefine == brute per-community union-find") =
    forAll(genGraph) { case (n, edges) =>
      import spark.implicits._
      val pairs = edges.filter(e => e._1 != e._2)
        .map(e => (e._1.toLong, e._2.toLong))
      pairs.isEmpty || {
        // arbitrary assignment: community = id % 3 of the min member
        val ids = pairs.flatMap(e => Seq(e._1, e._2)).distinct
        val assign = ids.map(i => (i, i % 3))
        val got = graft.algos.LinkAnalysis.leidenRefine(
            pairs.toDF("a", "b"), assign.toDF("id", "community"))
          .as[(Long, Long, Long)].collect().toSet
        // brute union-find over intra-community edges only
        val comm = assign.toMap
        val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
        def find(x: Long): Long =
          if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
        for ((a, b) <- pairs if comm(a) == comm(b)) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = ids.map { i =>
          // path-compress fully: root is the min member by construction
          (i, comm(i), find(i))
        }.toSet
        got == want
      }
    }

  property("mergeExpectations over random slices == one-shot expectationsCard") =
    forAll(for {
      n <- Gen.choose(1, 24)
      vals <- Gen.listOfN(n, Gen.choose(-50L, 150L))
      th <- Gen.choose(0L, 100L)
    } yield (vals, th)) { case (vals, th) =>
      import spark.implicits._
      val rules = Seq(
        "positive" -> (col("v") > 0L),
        "below_th" -> (col("v") < th))
      val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("id", "v")
      // three hash slices (some possibly empty — a zero-row state must
      // merge as zeros, not NULLs)
      val parts = (0 until 3).map(i =>
        graft.ext.Profiling.expectationsState(
          df.where(pmod(col("id"), lit(3)) === i), rules))
      val merged = graft.ext.Profiling.mergeExpectations(
          parts.reduce(_ unionAll _))
        .collect().map(_.toSeq).toSet
      val one = graft.ext.Profiling.expectationsCard(df, rules)
        .collect().map(_.toSeq).toSet
      merged == one
    }

  property("exactL2TopK == brute integer L2 ranking") =
    forAll(genVecs) { vecs =>
      import spark.implicits._
      val corpus = vecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v) }.toDF("vec_id", "embedding")
      val qs = vecs.take(2)
      val queries = qs.zipWithIndex.map { case (v, i) =>
        (100L + i, v) }.toDF("vec_id", "embedding")
      val k = 3
      val got = graft.ext.Clustering.exactL2TopK(corpus, queries, k)
        .select("query_id", "neighbor_id", "d2", "rank")
        .as[(Long, Long, Long, Int)].collect().toSet
      def quant(v: Array[Float]): Array[Long] =
        v.map(x => math.floor(x.toDouble * 1e6).toLong)
      val want = (for ((q, qi) <- qs.zipWithIndex) yield {
        val qq = quant(q)
        vecs.zipWithIndex.map { case (v, vi) =>
          val d2 = quant(v).zip(qq).map { case (a, b) =>
            (a - b) * (a - b) }.sum
          (vi.toLong, d2)
        }.sortBy { case (id, d2) => (d2, id) }.take(k).zipWithIndex
          .map { case ((id, d2), r) => (100L + qi, id, d2, r + 1) }
      }).flatten.toSet
      got == want
    }

  property("mmrRerank == brute greedy maximal-marginal-relevance") =
    forAll(genVecs, Gen.oneOf(0L, 300L, 700L, 1000L)) { (vecs, lam) =>
      import spark.implicits._
      val corpus = vecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v) }.toDF("vec_id", "embedding")
      val qs = vecs.take(2)
      val queries = qs.zipWithIndex.map { case (v, i) =>
        (100L + i, v) }.toDF("vec_id", "embedding")
      val (candN, k) = (4, 3)
      val got = graft.ext.Similarity
        .mmrRerank(corpus, queries, k, candN, lam)
        .select("query_id", "neighbor_id", "mmr_rank")
        .as[(Long, Long, Int)].collect().toSet
      def quant(v: Array[Float]): Array[Long] =
        v.map(x => math.floor(x.toDouble * 1e6).toLong)
      def d2(a: Array[Float], b: Array[Float]): Long =
        quant(a).zip(quant(b)).map { case (x, y) => (x - y) * (x - y) }.sum
      val want = (for ((q, qi) <- qs.zipWithIndex) yield {
        val cand = vecs.zipWithIndex
          .map { case (v, vi) => (vi.toLong, d2(q, v)) }
          .sortBy { case (id, d) => (d, id) }.take(candN)
        var selected = Vector(cand.head._1)
        for (_ <- 2 to k) {
          val next = cand.filterNot { case (id, _) => selected.contains(id) }
            .map { case (id, dq) =>
              val minSel = selected
                .map(s => d2(vecs(id.toInt), vecs(s.toInt))).min
              (id, (1000L - lam) * minSel - lam * dq)
            }
            .sortBy { case (id, score) => (-score, id) }.head._1
          selected = selected :+ next
        }
        selected.zipWithIndex.map { case (id, r) => (100L + qi, id, r + 1) }
      }).flatten.toSet
      got == want
    }

  private val genBipartite = for {
    la <- Gen.choose(1, 6)
    lb <- Gen.choose(1, 6)
    m <- Gen.choose(1, 25)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, la - 1), Gen.choose(0, lb - 1)))
  } yield es

  property("butterflyCard == brute 4-cycle census (incl. degree cap)") =
    forAll(genBipartite, Gen.oneOf(2L, 3L, 10000L)) { (es, cap) =>
      import spark.implicits._
      val df = es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("a", "b")
      val row = graft.algos.LinkAnalysis.butterflyCard(df, cap)
        .as[(Long, Long, Long, String, String)].collect().head
      val e = es.distinct
      val deg = e.groupBy(_._1).map { case (a, l) => a -> l.size.toLong }
      val kept = e.filter(p => deg(p._1) <= cap)
      val wedges = deg.values.filter(_ <= cap).map(d => d * (d - 1) / 2).sum
      val byA = kept.groupBy(_._1).map { case (_, l) => l.map(_._2).toSet }
      val rights = kept.map(_._2).distinct.sorted
      val bf = (for {
        i <- rights; j <- rights if i < j
        w = byA.count(s => s(i) && s(j)).toLong
      } yield w * (w - 1) / 2).sum
      row == ((e.map(_._1).distinct.size.toLong,
        e.map(_._2).distinct.size.toLong, e.size.toLong,
        wedges.toString, bf.toString))
    }

  property("kcenterSeeds == brute farthest-first traversal") =
    forAll(genVecs, Gen.choose(1, 4)) { (vecs, k) =>
      import spark.implicits._
      val corpus = vecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v) }.toDF("vec_id", "embedding")
      val got = graft.ext.Clustering.kcenterSeeds(corpus, k)
        .as[(Long, Int, Long)].collect().sortBy(_._2).toVector
      def quant(v: Array[Float]): Array[Long] =
        v.map(x => math.floor(x.toDouble * 1e6).toLong)
      def d2(a: Int, b: Int): Long =
        quant(vecs(a)).zip(quant(vecs(b))).map { case (x, y) =>
          (x - y) * (x - y) }.sum
      var sel = Vector(0L)
      var want = Vector((0L, 1, 0L))
      for (step <- 2 to k) {
        val (id, md) = vecs.indices.map(_.toLong).filterNot(sel.contains)
          .map(c => (c, sel.map(s => d2(c.toInt, s.toInt)).min))
          .sortBy { case (c, m) => (-m, c) }.head
        sel = sel :+ id
        want = want :+ ((id, step, md))
      }
      got == want
    }

  property("hardNegatives == brute label-filtered exact ranking") =
    forAll(genVecs) { vecs =>
      import spark.implicits._
      val labeled = vecs.zipWithIndex.map { case (v, i) =>
        (i.toLong, v, (i % 3).toLong) }
      val corpus = labeled.toDF("vec_id", "embedding", "label")
      val queries = labeled.take(2).map { case (id, v, l) =>
        (100L + id, v, l) }.toDF("vec_id", "embedding", "label")
      val k = 2
      val got = graft.ext.Similarity.hardNegatives(corpus, queries, k)
        .as[(Long, Long, Long, Long, Int)].collect().toSet
      def quant(v: Array[Float]): Array[Long] =
        v.map(x => math.floor(x.toDouble * 1e6).toLong)
      val want = (for (((q, ql), qi) <- labeled.take(2)
          .map(t => (t._2, t._3)).zipWithIndex) yield {
        val qq = quant(q)
        labeled.filter(_._3 != ql).map { case (vi, v, vl) =>
          val d2 = quant(v).zip(qq).map { case (a, b) =>
            (a - b) * (a - b) }.sum
          (vi, vl, d2)
        }.sortBy { case (id, _, d) => (d, id) }.take(k).zipWithIndex
          .map { case ((id, vl, d), r) => (100L + qi, id, vl, d, r + 1) }
      }).flatten.toSet
      got == want
    }
}
