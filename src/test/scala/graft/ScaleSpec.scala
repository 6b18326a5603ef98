package graft

import graft.builder.OnionBuilder
import graft.builder.OnionBuilder.GrowOptions
import graft.ext.Skew
import graft.sources.BucketedStore
import org.apache.spark.sql.functions._

/** Scale-path mechanics: bucketed co-located joins (no exchange) and
  * salted skew handling produce the same answers as the plain ops. */
class ScaleSpec extends SparkSuite {
  import spark.implicits._

  test("bucketed graph store: co-bucketed join plans without exchange on the bucketed side") {
    // remove orphaned table locations left by a previous test JVM
    // (files survive, in-memory catalog does not)
    Seq("scalespec_vertices", "scalespec_edges").foreach { t =>
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        dir.listFiles().foreach(_.delete()); dir.delete()
      }
    }
    val nodes = (0 until 100).map(i => (i.toString, "L0")).toDF("node_id", "layer")
    val edges = (0 until 300).map(i => ((i % 100).toString, "L0",
      ((i * 7) % 100).toString, "L0"))
      .toDF("source_id", "source_layer", "target_id", "target_layer")
    val g = OnionBuilder.grow(nodes, edges, GrowOptions())
    BucketedStore.save(g, "scalespec", buckets = 4)
    val loaded = BucketedStore.load(spark, "scalespec")

    // counts survive the roundtrip
    assert(loaded.numVertices == g.numVertices && loaded.numEdges == g.numEdges)

    // vid==src co-bucketed join: the edges (bucketed) side needs no shuffle
    val joined = loaded.edges.join(loaded.vertices
      .withColumnRenamed("vid", "src"), Seq("src"))
    val plan = joined.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected at most one exchange, plan:\n$plan")
    assert(joined.count() == g.numEdges)
  }

  test("applyChangelog: a bucketed base anti-joins with NO base-side exchange") {
    val dir = new java.io.File("spark-warehouse/scalespec_cdc_base")
    if (dir.exists()) { dir.listFiles().foreach(_.delete()); dir.delete() }
    spark.sql("DROP TABLE IF EXISTS scalespec_cdc_base")
    (0L until 1000L).map(k => (k, k * 10)).toDF("k", "v")
      .write.bucketBy(4, "k").sortBy("k")
      .saveAsTable("scalespec_cdc_base")
    val base = spark.table("scalespec_cdc_base")
    val log = Seq((1L, 1, 0, "U", 111L), (2L, 1, 0, "D", 0L), (3L, 2, 0, "U", 333L))
      .toDF("k", "ts", "seq", "op", "v")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the SMJ shape (broadcast would hide the exchange question)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val out = graft.ext.Upserts.applyChangelog(base, log, "k")
      val plan = out.queryExecution.executedPlan.toString
      // expected exchanges: the winner aggregation (1) and the LOG side
      // of the anti join (1). The bucketed base contributes NONE.
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 2, s"base side must not shuffle, plan:\n$plan")
      val got = out.as[(Long, Long)].collect().toMap
      assert(got(1L) == 111L && !got.contains(2L) && got(3L) == 333L
        && got(4L) == 40L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("asofJoin plans a single shuffle — never a nested-loop join") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:02:00"), "t"))
      .toDF("key", "ts", "tag")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 1.0))
      .toDF("key", "ts", "px")
    val joined = graft.ext.TemporalJoins.asofJoin(left, right, "key", "ts", Seq("px"))
    joined.collect() // materialize so AQE finalizes the plan
    // AQE's toString prints final AND initial plans — count the final only
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"as-of join must not plan a nested-loop/cartesian join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected at most one hash exchange, got $exchanges:\n$plan")
  }

  test("intervalJoin plans an equi-join on (key, bucket), not an inequality join") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    val left = Seq((1L, ts("2024-01-01 10:02:00"), "t")).toDF("key", "ts", "tag")
    val right = Seq((1L, ts("2024-01-01 10:00:00"), 1.0)).toDF("key", "ts", "px")
    val joined = graft.ext.TemporalJoins.intervalJoin(left, right, "key", "ts",
      Seq("px"), lookbackMs = 3600 * 1000)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"interval join must stay an equi-join:\n$plan")
  }

  test("salted join equals plain join on skewed data") {
    val big = (0 until 2000).map(i => (if (i % 10 == 0) 1 else i % 5, i.toDouble))
      .toDF("k", "v")
    val small = Seq((1, "one"), (2, "two"), (3, "three"), (4, "four"), (0, "zero"))
      .toDF("k", "name")
    val plain = big.join(small, Seq("k")).groupBy("name").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedJoin(big, small, "k", salts = 4)
      .groupBy("name").count().as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("salted two-phase sum equals direct sum") {
    val df = (0 until 1000).map(i => (i % 3, (i % 7).toDouble)).toDF("k", "v")
    val direct = df.groupBy("k")
      .agg(sum(col("v").cast("decimal(38,6)")).cast("double").as("sum_v"))
      .as[(Int, Double)].collect().toMap
    val salted = Skew.saltedSum(df, "k", "v", salts = 4)
      .as[(Int, Double)].collect().toMap
    assert(salted == direct)
  }

  test("funnel plans a single aggregation pass — no self-joins") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val ev = Seq((1L, "a", ts0), (1L, "b", ts0), (2L, "a", ts0))
      .toDF("user_id", "event_type", "ts")
    val plan = graft.streaming.EventStreams
      .funnel(ev, Seq("a", "b", "c"))
      .queryExecution.optimizedPlan.toString
    // the k-way join formulation would scan the event table per step;
    // the min-per-step pivot must compile to aggregations only
    assert(!plan.contains("Join"), s"funnel must not join:\n$plan")
  }

  test("scd2 never degenerates into a nested-loop or cartesian join") {
    val cur = Seq((1L, "x", java.sql.Date.valueOf("2020-01-01"),
      Option.empty[java.sql.Date], true))
      .toDF("k", "v", "valid_from", "valid_to", "is_current")
    val upd = Seq((1L, "y")).toDF("k", "v")
    val plan = graft.ext.Upserts
      .scd2(cur, upd, "k", Seq("v"), lit("2024-01-01"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"scd2 must stay equi-joined on the dimension key:\n$plan")
  }

  test("repeatedSpans: exactly two hash exchanges — window hash, then doc merge") {
    val d = (0 until 30).map(i => (i.toLong, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    val plan = graft.ext.Dedup.repeatedSpans(d, minLen = 5)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // count on the 8-byte wh rides one exchange; the islands merge +
    // (doc_id, island) groupBy share the doc_id exchange (hash(doc_id)
    // satisfies the grouping's clustering) — text shuffles in neither
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected exactly two hash exchanges:\n$plan")
  }

  test("band index: bucketed on bk — a probe join needs no index-side exchange") {
    val docs = (0 until 40).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon zeta token${i % 7}"))
      .toDF("doc_id", "text")
    graft.ext.Dedup.writeBandIndex(docs, "scalespec_x42", buckets = 4)
    // a band probe against the persisted index: the index side arrives
    // pre-partitioned on bk (bucketed scan), so only the probe side
    // may shuffle — the corpus never moves, which is what makes the
    // daily-increment workflow batch-cost at 100 TB
    val probe = (0 until 10).map(i => (s"0,$i,$i,$i", 1000L + i)).toDF("bk", "id")
    val joined = spark.table("scalespec_x42_bands")
      .join(probe.repartition(4, $"bk"), Seq("bk"))
    val plan = joined.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected at most one exchange (probe side only):\n$plan")
  }

  test("bucketed ANN probe: partition-pruned corpus scan, corpus side never shuffles") {
    // the x130 probe economics (r9 verdict #6): the batch's ≤2^planes
    // buckets must land as a PLANNING-TIME partition filter on the
    // layout scan, and the candidate join must broadcast the batch
    // side — the corpus contributes no hash exchange
    val corpus = (0 until 300).map { i =>
      (i.toLong, Array((i % 13 - 6).toFloat, (i % 7 - 3).toFloat,
        (i % 5 - 2).toFloat, 1.0f))
    }.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("scalespec_ann").toString
    graft.ext.Similarity.writeBucketed(corpus, path, planes = 4, portable = true)
    val batch = (0 until 5).map { i =>
      (1000L + i, Array((i - 2).toFloat, 1.0f, 0.5f, 1.0f))
    }.toDF("vec_id", "embedding")
    val probe = graft.ext.Similarity.probeBucketedNearDup(
      spark, path, batch, 0.5, planes = 4)
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*bucket[^\\]]*".r.findFirstIn(plan).isDefined,
      s"layout scan must carry a bucket partition filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"batch side must broadcast into the corpus join:\n$plan")
    // exchanges belong to the batch self-join + pair dedup only — the
    // corpus side (broadcast join over the pruned scan) adds none
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3, s"corpus side must not shuffle:\n$plan")
  }

  test("scoreLinear: the weight table joins BROADCAST — the corpus never shuffles pre-agg") {
    val docs = (0 until 500).map(i => (i.toLong, s"tok${i % 7} tok${i % 5} filler"))
      .toDF("doc_id", "text")
    val w = (0 until 7).map(i => (s"tok$i", 2L, (i * 1000).toLong))
      .toDF("term", "df", "weight_ppm")
    val scored = graft.ext.TextOps.scoreLinear(docs, w)
    scored.collect()
    val plan = (scored.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"weights must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-side shuffle join:\n$plan")
    // exactly the per-doc aggregation's exchange, nothing else
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"one exchange (final agg only):\n$plan")
  }

  test("matchDistribution: corpus keep-pass is map-only — rates broadcast back") {
    val cur = (0 until 400).map(i => (i.toLong, (i % 3) * 200L + 10L))
      .toDF("doc_id", "v")
    val ref = (0 until 60).map(i => (i.toLong, (i % 2) * 200L + 10L))
      .toDF("doc_id", "v")
    val kept = graft.ext.Sampling.matchDistribution(cur, ref, "v", 200L,
      "doc_id")
    kept.collect()
    val plan = (kept.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"rates must broadcast onto the corpus:\n$plan")
    // exchanges exist only BELOW the tiny histogram aggregations; the
    // corpus branch (scan -> filter -> broadcast join -> ppm filter)
    // must carry none. The histogram side aggregates <= bins rows, so
    // asserting "every SortMergeJoin absent" + "kept-path rows never
    // hash-exchange" reduces to: no SMJ anywhere, and the top stage
    // (above the last broadcast) is exchange-free.
    assert(!plan.contains("SortMergeJoin"), s"no shuffle joins:\n$plan")
    val topStage = plan.split("BroadcastHashJoin").head
    assert(!topStage.contains("Exchange hashpartitioning"),
      s"corpus keep-path must be map-only above the broadcast:\n$plan")
  }

  test("keepBestPerCluster: the corpus-wide kept flag is a broadcast join — corpus never shuffles") {
    val d = (0L until 500L).map(i => (i, i % 17)).toDF("doc_id", "q")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("a", "b")
    val out = graft.ext.Dedup.keepBestPerCluster(d, pairs, "q")
    out.collect()
    val plan = (out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    // the final verdict join must be broadcast; the corpus branch above
    // it carries no hash exchange (all shuffles live on the tiny
    // pair-graph side below the broadcast)
    assert(plan.contains("BroadcastHashJoin"), s"verdict must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no shuffle joins:\n$plan")
    val topStage = plan.split("BroadcastHashJoin").head
    assert(!topStage.contains("Exchange hashpartitioning"),
      s"corpus branch must be map-only above the broadcast:\n$plan")
  }

  test("snapshotDiff: both sides reduce to (key, md5) BEFORE the exchange") {
    val a = (0L until 300L).map(i => (i, s"text $i" * 10, "en"))
      .toDF("doc_id", "text", "lang")
    val b = (5L until 305L).map(i => (i, s"text $i" * 10, "en"))
      .toDF("doc_id", "text", "lang")
    val out = graft.ext.Upserts.snapshotDiff(a, b, "doc_id",
      Seq("text", "lang"))
    out.collect()
    val exec = out.queryExecution.executedPlan match {
      case ap: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        ap.executedPlan
      case p => p
    }
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(allNodes)) ++ (p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allNodes(q.plan)
        case _ => Nil
      })
    val shuffles = allNodes(exec).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one exchange per side, and the md5 projection sits BELOW it:
    // each exchange ships (key, digest) only — the payload columns
    // never ride the wire
    assert(shuffles.length == 2,
      s"want 2 exchanges (one per side), got ${shuffles.length}:\n$exec")
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      assert(names.length == 2 && names.exists(_.contains("md5")),
        s"exchange must carry (key, digest) only, got $names")
      assert(!names.contains("text") && !names.contains("lang"),
        s"payload columns must not shuffle, got $names")
    }
  }

  test("searchIndexBm25: few-term search broadcasts the postings side — doclen scan stays map-only (r10 advice)") {
    // the doclen leg was the one index join without a plan pin: a
    // few-term query's matched postings are tiny next to the
    // corpus-sized doclen table, so the doc_id join must resolve as a
    // BROADCAST of the postings side — doclen is scanned in place,
    // never exchanged (at 100 TB an exchange there would move the
    // whole corpus's length table per query)
    val corpus = (0 until 400).map { i =>
      val rare = if (i < 3) " needle" else ""
      (i.toLong, s"w$i filler token$rare")
    }.toDF("doc_id", "text")
    graft.ext.TextOps.writeInvertedIndex(corpus, "scalespec_bm25dl",
      buckets = 4)
    val out = graft.ext.TextOps.searchIndexBm25(spark, "scalespec_bm25dl",
      Seq("needle"), k = 10)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the doc_id join must resolve BROADCAST (at test scale AQE picks
    // whichever side is tinier; at corpus scale the stats make it the
    // matched postings) — a SortMergeJoin would shuffle doclen
    assert("BroadcastHashJoin \\[doc_id".r.findFirstIn(plan).isDefined,
      s"the doc_id join must be a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffle join anywhere in a few-term search:\n$plan")
    // exactly ONE doc_id exchange survives: the final per-doc score
    // aggregate over MATCHED postings (term-filtered — matched-sized,
    // never the doclen table)
    val docIdExchanges =
      "Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length
    assert(docIdExchanges == 1,
      s"only the matched-docs score agg may exchange on doc_id:\n$plan")
  }

  test("probeIvfPq: partition-pruned code scan, corpus never shuffles (r10 verdict #1)") {
    import graft.ext.Clustering
    // the fix for x135's weak plan: codes persist WITH their coarse
    // cell, partitioned by it, so the probe's nProbe cells land as a
    // PLANNING-TIME partition filter and the candidate joins broadcast
    // the probe/LUT side — the corpus-side plan has no exchange before
    // the per-query score aggregation
    val emb = (0 until 400).map(i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 7 + d) * 4).toFloat)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("scalespec_ivfpq")
      .toString
    Clustering.writeIvfPq(emb, path, dims = 8, cells = 4, m = 2, k = 4,
      iters = 1)
    val out = Clustering.probeIvfPq(spark, path,
      emb.filter(col("vec_id") < 3), dims = 8, nProbe = 2, m = 2, topK = 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*".r.findFirstIn(plan)
      .isDefined,
      s"code scan must carry a cell partition filter:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"probes + LUT must broadcast onto the code scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the probe join:\n$plan")
    // the LAST BroadcastHashJoin printed sits directly above the code
    // scan: nothing below it may exchange
    val belowJoin = plan.split("BroadcastHashJoin").last
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"code scan must not shuffle before the probe joins:\n$plan")
    // the probe == in-memory x135 equality is the x137 oracle's job;
    // here pin it cheaply on the fixture too
    val inMem = Clustering.ivfPqTopK(emb, emb.filter(col("vec_id") < 3),
      dims = 8, cells = 4, nProbe = 2, m = 2, k = 4, iters = 1, topK = 5)
    assert(rows(out) == rows(inMem),
      "persisted-layout probe must equal the in-memory retrieval")
  }

  test("bench top-5 plans stay lean: no shuffle joins, pinned exchange counts (r11 verdict #8)") {
    // the five queries that dominate the bench budget (r11 medians:
    // x142 8.6 s, g68 8.2 s, g39 8.0 s, x93 7.4 s, x155 7.1 s): a
    // Spark upgrade or refactor that silently fattens their SERVING
    // plans (the final subtree after the checkpointed build stages)
    // must fail here, not in the round's one timed bench run. Pinned
    // at today's counts as <= (slimmer plans pass); SMJ/BNLJ pinned
    // at zero absolutely.
    val sfDir = "/root/testdata/sf0.001"
    val pins = Seq( // (name, max hash exchanges, min broadcast joins)
      ("x142_ivf_pq_append", 2, 2),
      ("g68_leiden_two_level", 2, 1),
      ("g39_betweenness", 1, 2),
      ("x93_mutual_knn_clusters", 2, 1),
      ("x155_hybrid_diversified", 0, 0))
    pins.foreach { case (name, maxEx, minBhj) =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      def c(p: String) = p.r.findAllIn(plan).length
      assert(c("SortMergeJoin") == 0,
        s"$name: a shuffle join appeared in the serving plan:\n$plan")
      assert(c("BroadcastNestedLoopJoin") == 0,
        s"$name: a nested-loop join appeared:\n$plan")
      assert(c("Exchange hashpartitioning") <= maxEx,
        s"$name: serving plan fattened past $maxEx exchanges:\n$plan")
      assert(c("BroadcastHashJoin") >= minBhj,
        s"$name: expected >= $minBhj broadcast joins:\n$plan")
    }
  }

  test("searchIndexBm25 with live tombstones: the delete anti-join broadcasts — the postings scan gains no exchange (r12)") {
    val corpus = (0 until 400).map { i =>
      val rare = if (i < 6) " needle" else ""
      (i.toLong, s"w$i filler token$rare")
    }.toDF("doc_id", "text")
    graft.ext.TextOps.writeInvertedIndex(corpus, "scalespec_bm25del",
      buckets = 4)
    graft.ext.TextOps.deleteIndexDocs(spark, "scalespec_bm25del",
      Seq(2L, 4L).toDF("doc_id"))
    val out = graft.ext.TextOps.searchIndexBm25(spark, "scalespec_bm25del",
      Seq("needle"), k = 10)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the tombstone side must broadcast into the anti-join — a
    // shuffled anti-join would exchange the term-pruned postings
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
      s"tombstones must broadcast into a LeftAnti join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffle join may appear in a few-term search:\n$plan")
    // still exactly ONE doc_id exchange (the matched-docs score agg) —
    // the delete leg must not add one (same pin as the r10 doclen test)
    val docIdExchanges =
      "Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length
    assert(docIdExchanges == 1,
      s"the tombstone anti-join must not add a doc_id exchange:\n$plan")
  }

  test("probeIvfPq with live tombstones: anti-join broadcasts AFTER the cell prune (r12 verdict #7)") {
    import graft.ext.Clustering
    // the x160 probe shape pinned structurally: deletes must not cost
    // the scan its planning-time partition filter, and the tombstone
    // side must broadcast — a shuffled anti-join would exchange the
    // pruned code scan, turning every delete into a corpus move
    val emb = (0 until 400).map(i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 7 + d) * 4).toFloat)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("scalespec_ivfdel").toString
    Clustering.writeIvfPq(emb, path, dims = 8, cells = 4, m = 2, k = 4,
      iters = 1)
    Clustering.deleteIvfPq(spark, path,
      emb.filter(col("vec_id") % 7 === 6).select("vec_id"))
    val out = Clustering.probeIvfPq(spark, path,
      emb.filter(col("vec_id") < 3), dims = 8, nProbe = 2, m = 2, topK = 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*".r.findFirstIn(plan)
      .isDefined,
      s"the cell prune must survive the delete leg:\n$plan")
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(plan).isDefined,
      s"tombstones must broadcast into a LeftAnti join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the tombstoned probe:\n$plan")
  }

  test("probeBandIndex with live tombstones: both index sides anti-join broadcast; index never exchanges (r12 verdict #7)") {
    import graft.ext.Dedup
    // the x161 probe shape pinned structurally (the r12 verdict's one
    // weak row): bands and stored hash sets each anti-join the
    // broadcast tombstones, the bucketed index side contributes no
    // hash exchange, and no shuffle join appears anywhere
    val docs = (0 until 40).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon zeta token${i % 7}"))
      .toDF("doc_id", "text")
    Dedup.writeBandIndex(docs, "scalespec_banddel", buckets = 4)
    Dedup.deleteBandIndex(spark, "scalespec_banddel",
      Seq(3L, 9L).toDF("doc_id"))
    val batch = (0 until 6).map(i =>
        (1000L + i, s"alpha beta gamma delta epsilon zeta token${i % 7}"))
      .toDF("doc_id", "text")
    val out = Dedup.probeBandIndex("scalespec_banddel", batch,
      threshold = 0.5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val antiJoins = "BroadcastHashJoin.*LeftAnti".r.findAllIn(plan).length
    assert(antiJoins >= 2,
      s"both index sides (bands + hash sets) must broadcast-anti the " +
        s"tombstones, found $antiJoins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no shuffle join may appear in the tombstoned probe:\n$plan")
    // the bucketed index side arrives pre-partitioned: every hash
    // exchange in the plan keys on batch-derived ids/pairs, never bk
    assert(!"Exchange hashpartitioning\\(bk#".r.findFirstIn(plan).isDefined,
      s"the index's band key must never exchange (bucketed layout):\n$plan")
  }

  test("gapFillDaily: the default grid is span-bounded — sum of per-key spans, not keys x days (r12 verdict #3)") {
    import graft.streaming.EventStreams
    // 50 keys, key k active only on days [k, k+1] of the 51-day
    // global span (days 0..50): the dense grid would be 50 x 51 =
    // 2550 rows; the span-bounded default must emit exactly
    // sum(2) = 100
    val ev = (0 until 50).flatMap { k =>
      Seq((s"k$k", new java.sql.Timestamp(1700000000000L + k * 86400000L), 1.0),
        (s"k$k", new java.sql.Timestamp(1700000000000L + (k + 1) * 86400000L), 1.0))
    }.toDF("event_type", "ts", "value")
    assert(EventStreams.gapFillDaily(ev).count() == 100L,
      "span-bounded grid must be output-sized")
    assert(EventStreams.gapFillDaily(ev, spanPerKey = false).count() == 2550L,
      "the dense grid stays available as the opt-in")
  }

  test("lastTouchAttribution: the as-of kernel partitions by (user, bucket), never bare user (r11 verdict #3)") {
    import graft.streaming.EventStreams
    val ev = (0 until 200).map { i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 3600L * 1000),
        (i % 7).toLong, if (i % 3 == 0) "purchase" else "click", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = EventStreams.lastTouchAttribution(ev, "click", "purchase",
      lookbackMs = 86400000L)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the hot-key valve: no exchange may key on user_id ALONE — the
    // as-of sort must carry the bucket (the touch collapse keys
    // (user, ts), which splits a hot user even finer)
    val userOnly = "Exchange hashpartitioning\\(user_id#\\d+L?, \\d+\\)"
      .r.findAllIn(plan).toList
    assert(userOnly.isEmpty,
      s"an exchange keyed on bare user_id survived: $userOnly\n$plan")
    // and the as-of window itself partitions by (user, bucket)
    assert("windowspecdefinition\\(user_id#\\d+L?, __bkt".r
      .findFirstIn(plan).isDefined,
      s"the as-of window must partition by (user_id, __bkt):\n$plan")
  }

  test("ivfPqTopK: codes carry their coarse cell from encode time — no serving-time codes-assign corpus exchange (r11 verdict #4)") {
    import graft.ext.Clustering
    // the in-memory twin of x137's layout fix: the PQ codes come out
    // of encode WITH their cell (kmeansModelOnQuant rider), so the
    // serving subtree is codes → BHJ(probes) → BHJ(LUT) → agg — the
    // old plan exchanged two corpus-sized tables (codes ⋈ assign on
    // vec_id) before the nProbe prune could drop a row
    val emb = (0 until 400).map(i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 7 + d) * 4).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Clustering.ivfPqTopK(emb, emb.filter(col("vec_id") < 3),
      dims = 8, cells = 4, nProbe = 2, m = 2, k = 4, iters = 1, topK = 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle-join at serve time:\n$plan")
    assert(!"Exchange hashpartitioning\\(vec_id".r.findFirstIn(plan)
      .isDefined,
      s"no codes-assign exchange keyed on vec_id may survive:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"probes and LUT must both broadcast onto the code scan:\n$plan")
  }

  test("probeBinaryIndex: 16-byte code scan stays map-only — query codes broadcast, no corpus exchange before the bounded tail (r11)") {
    import graft.ext.Clustering
    // the binary rung's index-is-the-layout treatment: the Hamming
    // pass must scan the persisted code WORDS (not re-derive codes —
    // no corpus-wide pack exchange per probe) with the query codes
    // broadcast in, and the exact rerank must broadcast the candidate
    // set onto the vector scan
    val emb = (0 until 400).map(i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 7 + d) * 4).toFloat)))
      .toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("scalespec_binidx")
      .toString
    Clustering.writeBinaryIndex(emb, path, dims = 8)
    val out = Clustering.probeBinaryIndex(spark, path, emb,
      emb.filter(col("vec_id") < 3), dims = 8, rerankR = 20, topK = 5)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // query codes arrive by broadcast (nested-loop: the probe is a
    // broadcast cross join filtered on id), never a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin")
        || plan.contains("BroadcastHashJoin"),
      s"query codes must broadcast into the code scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the probe:\n$plan")
    // exchanges: the rerank d2 agg + the final rank window + the tiny
    // query-code pack — the corpus-sized code scan itself adds none
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 4, s"code scan side must not shuffle:\n$plan")
  }

  test("runtime bloom-filter pruning: a selective dim filter reaches the fact scan as a row-level filter (r11)") {
    // the shuffle-join analogue of broadcast pruning: when the small
    // side is too big to broadcast but carries a selective filter,
    // Catalyst's runtime bloom filter cuts the fact side BEFORE the
    // exchange — at 100 TB this is the difference between shuffling
    // the table and shuffling the matching slice. Thresholds are
    // production-scale; lower them to exercise the rewrite here.
    val dim = (0 until 2000).map(i => (i.toLong, s"cat${i % 40}"))
      .toDF("dim_id", "cat")
    val fact = (0 until 20000).map(i => (i.toLong, (i % 2000).toLong))
      .toDF("fact_id", "dim_id")
    dim.write.mode("overwrite").parquet("/tmp/scalespec_bf_dim")
    fact.write.mode("overwrite").parquet("/tmp/scalespec_bf_fact")
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val joined = spark.read.parquet("/tmp/scalespec_bf_fact")
        .join(spark.read.parquet("/tmp/scalespec_bf_dim")
          .filter(col("cat") === "cat7"), Seq("dim_id"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("might_contain"),
        s"fact scan must carry the runtime bloom filter:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pqAdcTopK: the LUT broadcasts — the code scan joins without a corpus shuffle") {
    import graft.ext.Clustering
    val emb = (0 until 400).map(i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 7 + d) * 4).toFloat)))
      .toDF("vec_id", "embedding")
    val (codes, codebook) = Clustering.pqModel(emb, dims = 8, m = 2, k = 4, iters = 1)
    // persist the compressed corpus as a table (the standing-index
    // shape: ADC runs against CODES on disk, not the vectors)
    val c = codes.localCheckpoint()
    val out = Clustering.pqAdcTopK(c, codebook,
      emb.filter(col("vec_id") < 3), dims = 8, m = 2, topK = 5)
    out.collect()
    val plan = (out.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the query LUT must broadcast onto the code scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the corpus must never shuffle for the probe join:\n$plan")
    // below the broadcast join (printed after it) sits the code scan:
    // no hash exchange there — the only two exchanges in the whole
    // plan are the (query, neighbor) score agg and the TopK final
    val belowJoin = plan.split("BroadcastHashJoin").last
    assert(!belowJoin.contains("Exchange hashpartitioning"),
      s"code scan must not shuffle before the LUT probe:\n$plan")
    // The invariant that matters at 100 TB is not a global exchange
    // COUNT (r14 shipped red on a stale `== 3` pin) but that every
    // remaining exchange is query-keyed: the LUT build agg and the
    // TopK final partition on query_id, so their payloads are
    // |queries|-proportional (or heap-capped at partitions×queries×k),
    // never a reshuffle of the corpus. The historical third exchange —
    // the (query, neighbor) score agg — disappeared when pqModel began
    // localCheckpointing its small-path assignments: the checkpointed
    // code scan carries its captured vec_id hash partitioning through
    // the broadcast probe join, and hashpartitioning(vec_id) already
    // satisfies the (query_id, vec_id) score-agg distribution.
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 3,
      s"at most three exchanges (LUT agg [+ score agg] + TopK final):\n$plan")
    val nonQueryKeyed = "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).filterNot(_.group(1).contains("query_id")).toList
    assert(nonQueryKeyed.isEmpty,
      s"every exchange must be query-keyed, got $nonQueryKeyed in:\n$plan")
  }

  test("maybeSmallLoop: engages below SmallLoopRows, DISENGAGES at the " +
      "bound — big inputs keep the adaptive path (r15)") {
    val aqe = "spark.sql.adaptive.enabled"
    val parts = "spark.sql.shuffle.partitions"
    val before = (spark.conf.get(aqe), spark.conf.get(parts))
    graft.SparkConfs.maybeSmallLoop(spark, graft.SparkConfs.SmallLoopRows - 1) {
      assert(spark.conf.get(aqe) == "false", "gate must disable AQE")
      assert(spark.conf.get(parts) == "4", "gate must right-size partitions")
      // re-entrant scope: nested gate is a no-op, exit restores nothing
      graft.SparkConfs.maybeSmallLoop(spark, 1L) {
        assert(spark.conf.get(aqe) == "false")
      }
      assert(spark.conf.get(aqe) == "false", "nested exit must not restore")
    }
    assert((spark.conf.get(aqe), spark.conf.get(parts)) == before,
      "outermost exit must restore the session confs")
    graft.SparkConfs.maybeSmallLoop(spark, graft.SparkConfs.SmallLoopRows) {
      assert(spark.conf.get(aqe) == before._1,
        "at/above the bound the gate must not engage (AQE stays)")
      assert(spark.conf.get(parts) == before._2)
    }
    // the broadcast/small-loop bound is deliberately FAR below the
    // codegen bound: it prices per-round explicit broadcasts (bytes),
    // not Janino compile economics (r14 verdict #4)
    assert(graft.SparkConfs.SmallLoopRows * 5 <=
      graft.SparkConfs.InterpretedRows)
  }

  test("rounds: wherever the scope engages, the hint engages") {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
    val df = spark.range(3).toDF("id")
    def hinted(d: org.apache.spark.sql.DataFrame): Boolean =
      d.queryExecution.analyzed match {
        case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
        case _ => false
      }
    val bound = graft.SparkConfs.SmallLoopRows
    def under(rows: Long) = rows >= 0 && rows < bound
    val sizes = Seq(-1L, 0L, bound - 1, bound, Long.MaxValue)
    for (state <- sizes; work <- sizes)
      graft.SparkConfs.rounds(spark, "probe", state, work) { rs =>
        assert(rs.scoped == under(work), (state, work))
        assert(rs.scoped ==
          (spark.conf.get("spark.sql.adaptive.enabled") == "false"))
        assert(rs.hinted == (rs.scoped || under(state)), (state, work))
        assert(hinted(rs.bc(df)) == rs.hinted)
      }
    val tagOnly = graft.SparkConfs.rounds(spark, "probe")
    assert(!tagOnly.scoped && !hinted(tagOnly.bc(df)))
  }

  test("scopedConfs: a conf that refuses to set rolls the whole scope back") {
    val parts = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(parts)
    // a static conf cannot change at runtime, so its set throws after
    // the partitions override has already landed
    intercept[org.apache.spark.sql.AnalysisException] {
      graft.SparkConfs.scopedConfs(spark, "rollback", Map(
        parts -> "3", "spark.sql.warehouse.dir" -> "/nowhere"))(())
    }
    assert(spark.conf.get(parts) == before, "landed overrides are restored")
    // the depth was undone too: the next scope saves and restores again
    graft.SparkConfs.scopedConfs(spark, "rollback", Map(parts -> "5")) {
      assert(spark.conf.get(parts) == "5")
    }
    assert(spark.conf.get(parts) == before)
  }

  test("withoutConstraintPropagation: overlapping scopes restore the session value") {
    val key = "spark.sql.constraintPropagation.enabled"
    assert(spark.conf.get(key) == "true")
    val aIn, bIn, aOut = new java.util.concurrent.CountDownLatch(1)
    // bounded waits: a scope that throws must fail the test, not hang it
    def await(l: java.util.concurrent.CountDownLatch): Unit =
      assert(l.await(1, java.util.concurrent.TimeUnit.MINUTES))
    def scope(body: => Unit): Thread = {
      val t = new Thread(() =>
        graft.SparkConfs.withoutConstraintPropagation(spark)(body))
      t.start(); t
    }
    try {
      // A enters, B enters, A exits while B still runs, then B exits
      val a = scope { aIn.countDown(); await(bIn) }
      await(aIn)
      val b = scope { bIn.countDown(); await(aOut) }
      a.join(); aOut.countDown(); b.join()
      assert(spark.conf.get(key) == "true")
    } finally spark.conf.unset(key)
  }
}
