package graft

import graft.ext.Sampling
import org.apache.spark.sql.functions._

/** Deterministic-sampling invariants: splits are disjoint+exhaustive,
  * stable across partitionings, and stratified sampling respects the
  * per-stratum fractions. */
class SamplingSpec extends SparkSuite {
  import spark.implicits._

  private lazy val rows = (0L until 2000L).map(i => (i, if (i % 3 == 0) "en" else "es"))
    .toDF("id", "lang")

  test("hashSplit covers every row with exactly one split") {
    val out = Sampling.hashSplit(rows, "id",
      Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
    assert(out.count() == 2000)
    val counts = out.groupBy("split").count().as[(String, Long)].collect().toMap
    assert(counts.keySet == Set("train", "eval", "test"))
    assert(counts.values.sum == 2000)
    // roughly proportional (hash-uniform): train within 75-85%
    assert(counts("train") > 1500 && counts("train") < 1700)
  }

  test("kfold partitions the corpus; kfoldCard audits balance exactly") {
    val out = Sampling.kfold(rows, "id", k = 5)
    assert(out.count() == 2000)
    val folds = out.select("fold").distinct().as[Int].collect().toSet
    assert(folds == (0 until 5).toSet)
    val a = out.select("id", "fold").as[(Long, Int)].collect().toMap
    val b = Sampling.kfold(rows.repartition(7), "id", 5)
      .select("id", "fold").as[(Long, Int)].collect().toMap
    assert(a == b, "fold assignment is partition-independent")
    // card equals a brute in-JVM derivation over the same md5 buckets
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 5).toInt
    }
    val data = (0L until 2000L).map(i => (i, if (i % 3 == 0) "en" else "es"))
    val cell = data.groupBy { case (i, l) => (bucket(i), l) }
      .view.mapValues(_.size.toLong).toMap
    val nf = cell.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val ns = cell.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val want = cell.map { case ((f, l), n) =>
      (f, l, n, n * 1000000L / nf(f),
        math.abs(n * 1000000L / nf(f) - ns(l) * 1000000L / 2000L)) }.toSet
    val got = Sampling.kfoldCard(rows, "id", "lang", 5)
      .as[(Int, String, Long, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("hashSplit assignment is stable under repartitioning") {
    val a = Sampling.hashSplit(rows, "id", Seq("a" -> 0.5, "b" -> 0.5))
      .select("id", "split").as[(Long, String)].collect().toMap
    val b = Sampling.hashSplit(rows.repartition(7), "id", Seq("a" -> 0.5, "b" -> 0.5))
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
  }

  test("md5Bucket: in range, stable, and uniform-ish") {
    val b = rows.select(Sampling.md5Bucket(col("id"), 10).as("b"))
      .as[Int].collect()
    assert(b.forall(x => x >= 0 && x < 10))
    // uniform-ish: every bucket hit, none over 2x the mean
    val hist = b.groupBy(identity).view.mapValues(_.length)
    assert(hist.size == 10 && hist.values.max < 400)
    // md5 family plugs into hashSplit and stays stable
    val m1 = Sampling.hashSplit(rows, "id", Seq("a" -> 0.5, "b" -> 0.5),
      bucketFn = Sampling.md5Bucket(_, _))
      .select("id", "split").as[(Long, String)].collect().toMap
    val m2 = Sampling.hashSplit(rows.repartition(5), "id",
      Seq("a" -> 0.5, "b" -> 0.5), bucketFn = Sampling.md5Bucket(_, _))
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(m1 == m2)
  }

  test("hashSplit rejects fractions that do not sum to 1") {
    intercept[IllegalArgumentException] {
      Sampling.hashSplit(rows, "id", Seq("a" -> 0.5, "b" -> 0.2))
    }
  }

  test("stratifiedSample keeps ~fraction per stratum and drops unknown strata") {
    val out = Sampling.stratifiedSample(rows, "lang", "id",
      Map("en" -> 0.5))
    val langs = out.select("lang").distinct().as[String].collect().toSet
    assert(langs == Set("en"))
    val n = out.count().toDouble
    val total = rows.filter($"lang" === "en").count().toDouble
    assert(n / total > 0.4 && n / total < 0.6)
    // deterministic: same rows every time
    assert(out.select("id").as[Long].collect().sorted.sameElements(
      Sampling.stratifiedSample(rows, "lang", "id", Map("en" -> 0.5))
        .select("id").as[Long].collect().sorted))
  }

  test("mixtureSample: largest subsample hitting target shares; binding category keeps all") {
    val d = Seq((0L, "A"), (1L, "A"), (2L, "A"), (3L, "A"),
      (4L, "B"), (5L, "B"), (6L, "C")).toDF("doc_id", "lang")
    val out = Sampling.mixtureSample(d, "lang", "doc_id",
        Seq("A" -> 0.5, "B" -> 0.5))
      .as[(Long, String)].collect().toSet
    // K = min(4/.5, 2/.5) = 4 -> A rate ppm = 500000, B rate = 1.0
    // (binding category keeps ALL); C is unweighted -> dropped
    assert(out.filter(_._2 == "B").map(_._1) == Set(4L, 5L))
    assert(!out.exists(_._2 == "C"))
    // A's kept set is exactly the md5-ppm filter at the derived rate —
    // the same decision weightedBernoulli makes with ppm = 500000
    val expectA = Sampling.weightedBernoulli(
        d.filter($"lang" === "A"), "doc_id", lit(500000L))
      .select("doc_id").as[Long].collect().toSet
    assert(out.filter(_._2 == "A").map(_._1) == expectA)
    // stable under repartitioning (content-keyed, not rand())
    val again = Sampling.mixtureSample(d.repartition(5), "lang", "doc_id",
        Seq("A" -> 0.5, "B" -> 0.5))
      .as[(Long, String)].collect().toSet
    assert(again == out)
    // a weighted category with no rows makes the mixture unsatisfiable
    // -> refuse, don't silently renormalize
    val e = intercept[IllegalArgumentException] {
      Sampling.mixtureSample(d, "lang", "doc_id",
        Seq("A" -> 0.5, "ZZ" -> 0.5))
    }
    assert(e.getMessage.contains("ZZ"))
  }

  test("capPerGroup: == window formulation, stable, untouched small groups") {
    // 3 groups: g0 has 40 rows, g1 has 10, g2 has 3 — cap at 10
    val d = (0L until 53L).map { i =>
      val g = if (i < 40) "g0" else if (i < 50) "g1" else "g2"
      (i, g)
    }.toDF("id", "grp")
    val got = Sampling.capPerGroup(d, "grp", "id", 10)
      .as[(Long, String)].collect().toSet
    // oracle: row_number over md5 order (the window spelling the
    // operator avoids at scale)
    val want = d.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("grp")
          .orderBy(md5($"id".cast("string")), $"id")))
      .filter($"rk" <= 10).select("id", "grp")
      .as[(Long, String)].collect().toSet
    assert(got == want)
    assert(got.count(_._2 == "g0") == 10)
    assert(got.count(_._2 == "g1") == 10) // exactly at cap: all kept
    assert(got.count(_._2 == "g2") == 3)  // under cap: untouched
    // survivor set is content-keyed -> partitioning-invariant
    val again = Sampling.capPerGroup(d.repartition(7), "grp", "id", 10)
      .as[(Long, String)].collect().toSet
    assert(again == got)
    // temp ordering column must not leak into the output schema
    assert(Sampling.capPerGroup(d, "grp", "id", 10).columns.toSeq
      == Seq("id", "grp"))
  }

  test("capPerGroup rides the TopKPerGroup exec: one exchange, no window sort") {
    val d = (0L until 100L).map(i => (i, s"g${i % 4}")).toDF("id", "grp")
    val got = Sampling.capPerGroup(d, "grp", "id", 5)
    got.collect()
    val plan = (got.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
    assert("TopKPerGroup".r.findAllMatchIn(plan).size == 2, s"2 phases:\n$plan")
    assert("Exchange".r.findAllMatchIn(plan).size == 1, s"1 exchange:\n$plan")
    assert(!plan.contains("Window"), s"no window:\n$plan")
  }

  test("matchDistribution: binding bin keeps all, shape matches, drift drops") {
    // cur: 100 rows in bin 0, 300 in bin 200, 10 in bin 400;
    // ref is 50/50 over bins 0 and 200 -> K = min(100/.5, 300/.5)
    // = 200: bin 0 binds (keeps ALL 100), bin 200 keeps ~1/3,
    // bin 400 has no ref mass -> dropped entirely
    val cur = ((0L until 100L).map((_, 10L)) ++
      (100L until 400L).map((_, 210L)) ++
      (400L until 410L).map((_, 410L))).toDF("doc_id", "v")
    val ref = ((0L until 20L).map((_, 10L)) ++
      (20L until 40L).map((_, 250L))).toDF("doc_id", "v")
    val kept = Sampling.matchDistribution(cur, ref, "v", 200L, "doc_id")
      .as[(Long, Long)].collect()
    val byBin = kept.groupBy(r => (r._2 / 200) * 200)
      .view.mapValues(_.length).toMap
    assert(byBin.getOrElse(0L, 0) == 100)       // binding bin: all kept
    assert(!byBin.contains(400L))               // unreferenced bin: dropped
    val b200 = byBin.getOrElse(200L, 0)
    assert(b200 > 70 && b200 < 130, s"~100 expected, got $b200")
    // the repair actually repairs: TV distance to the target shape
    // shrinks vs the unmatched corpus
    val before = graft.ext.Profiling.tvDistancePpm(
      graft.ext.Profiling.histogramDrift(cur, ref, "v", 200L))
    val after = graft.ext.Profiling.tvDistancePpm(
      graft.ext.Profiling.histogramDrift(
        Sampling.matchDistribution(cur, ref, "v", 200L, "doc_id"),
        ref, "v", 200L))
    assert(after < before / 4, s"drift $before -> $after")
    // content-keyed -> partitioning-invariant
    val again = Sampling.matchDistribution(cur.repartition(7), ref, "v",
      200L, "doc_id").as[(Long, Long)].collect()
    assert(again.toSet == kept.toSet)
  }

  test("writeTrainingShards: manifest from disk == planned assignment; loss detected") {
    val d = (0L until 200L).map(i => (i, s"doc $i words here"))
      .toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("shards").toString
    val manifest = Sampling.writeTrainingShards(d, path, "doc_id", "text",
        epoch = 1, shards = 4)
      .as[(Int, Long, Long, Long)].collect().toSet
    // disk manifest equals the one computed from the in-memory
    // assignment (what landed == what the shuffle dealt)
    val planned = Sampling.shardManifest(
        Sampling.epochShuffle(d, "doc_id", 1, 4), "doc_id", "text")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(manifest == planned && manifest.map(_._1) == Set(0, 1, 2, 3))
    assert(manifest.toSeq.map(_._2).sum == 200L)
    // the layout is one directory per shard
    val dirs = new java.io.File(path).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("shard=0", "shard=1", "shard=2", "shard=3"))
    // shard loss is visible: drop one shard's files, recompute
    val victim = new java.io.File(path, "shard=2")
    victim.listFiles().foreach(_.delete()); victim.delete()
    val after = Sampling.shardManifest(
        spark.read.parquet(path), "doc_id", "text")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(after != manifest && !after.exists(_._1 == 2))
  }

  test("shard export + compaction: manifests from disk, no footer reads of what was just written, a parallel write") {
    val d = (0L until 300L).map(i => (i, s"doc $i " + ("w " * (i % 7).toInt)))
      .toDF("doc_id", "text")
    val src = java.nio.file.Files.createTempDirectory("x159src").toString
    val dst = java.nio.file.Files.createTempDirectory("x159dst").toString
    val (manifest, writeLog) = JobLog(spark) {
      Sampling.writeTrainingShards(d, src, "doc_id", "text", epoch = 2,
        shards = 8).as[(Int, Long, Long, Long)].collect().toSet
    }
    val planned = Sampling.shardManifest(
        Sampling.epochShuffle(d, "doc_id", 2, 8), "doc_id", "text")
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(manifest == planned && manifest.size == 8)
    assert(!writeLog.jobs.exists(_.schemaJob), writeLog.jobs)
    // the partitioned write itself runs in more than one task
    assert(writeLog.writeTasks > 1, writeLog)
    // the read-back schema is the one footer inference would give
    assert(Sampling.readWritten(Sampling.epochShuffle(d, "doc_id", 2, 8), src)
      .schema == spark.read.parquet(src).schema)
    val plan = Sampling.planCompaction(
      manifest.toSeq.toDF("shard", "n_rows", "n_tokens", "checksum"),
      "n_tokens", target = 200L)
    val (merged, compactLog) = JobLog(spark) {
      Sampling.runCompaction(spark, src, dst, plan, "doc_id", "text")
        .as[(Int, Long, Long, Long)].collect().toSet
    }
    // only the source layout's schema is inferred; the merged one is not
    assert(compactLog.jobs.count(_.schemaJob) == 1, compactLog.jobs)
    val bins = plan.select("shard", "bin").as[(Int, Long)].collect().toMap
    val expect = manifest.groupBy(m => bins(m._1).toInt).map { case (b, ms) =>
      (b, ms.toSeq.map(_._2).sum, ms.toSeq.map(_._3).sum, ms.toSeq.map(_._4).sum)
    }.toSet
    assert(merged == expect)
    assert(Sampling.shardManifest(spark.read.parquet(dst), "doc_id", "text")
      .as[(Int, Long, Long, Long)].collect().toSet == merged)
  }

  test("epochShuffle: per-shard 1..n positions, epoch-fresh permutation, stable") {
    val d = (0L until 500L).map(i => (i, s"t$i")).toDF("id", "payload")
    val out = Sampling.epochShuffle(d, "id", epoch = 3, shards = 4)
    assert(out.columns.toSeq == Seq("id", "payload", "shard", "pos"))
    val rows = out.select("id", "shard", "pos")
      .as[(Long, Int, Long)].collect()
    assert(rows.length == 500 && rows.map(_._1).toSet.size == 500)
    // within each shard, pos is exactly 1..n
    rows.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // a different epoch deals a different permutation
    val other = Sampling.epochShuffle(d, "id", epoch = 4, shards = 4)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(other.map(r => r._1 -> (r._2, r._3)).toMap
      != rows.map(r => r._1 -> (r._2, r._3)).toMap)
    // same epoch is partitioning-invariant (retry/resize-safe)
    val again = Sampling.epochShuffle(d.repartition(9), "id", 3, 4)
      .select("id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(again.map(r => r._1 -> (r._2, r._3)).toMap
      == rows.map(r => r._1 -> (r._2, r._3)).toMap)
  }

  test("rendezvousShard: in range; resize moves only ~1/(N+1) of keys, all to the NEW shard") {
    val d = (0L until 3000L).toDF("id")
    val out = d.select(col("id"),
        Sampling.rendezvousShard(col("id"), 8).as("s8"),
        Sampling.rendezvousShard(col("id"), 9).as("s9"))
      .as[(Long, Int, Int)].collect()
    assert(out.forall(r => r._2 >= 0 && r._2 < 8 && r._3 >= 0 && r._3 < 9))
    val moved = out.filter(r => r._2 != r._3)
    // the defining HRW property: a key's argmax over shards 0..8 either
    // stays its argmax over 0..7 or IS the new shard 8 — no churn
    // between surviving shards
    assert(moved.forall(_._3 == 8))
    // ~1/9 of keys relocate (binomial around 333; generous bounds)
    assert(moved.length > 220 && moved.length < 460, s"moved=${moved.length}")
    // every shard populated, roughly uniformly
    val hist = out.groupBy(_._3).view.mapValues(_.size)
    assert(hist.size == 9 && hist.values.max < 2 * 3000 / 9)
  }

  test("rendezvousShard matches a brute-force argmax of the md5 weights") {
    def w(k: Long, s: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$k:$s".getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val got = (0L until 50L).toDF("id")
      .select(col("id"), Sampling.rendezvousShard(col("id"), 5).as("s"))
      .as[(Long, Int)].collect().toMap
    (0L until 50L).foreach { k =>
      val want = (0 until 5).maxBy(s => (w(k, s), -s))
      assert(got(k) == want, s"key $k")
    }
  }

  test("leakFreeSplit: no near-dup cluster straddles splits; singletons split by own key") {
    val d = (0L until 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // pair chains 0-1-2, 10-11, 20-21 into clusters
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L), (20L, 21L)).toDF("a", "b")
    val out = Sampling.leakFreeSplit(d, pairs, "doc_id",
        Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1))
      .select("doc_id", "grp", "split")
      .as[(Long, Long, String)].collect()
    assert(out.length == 300)
    // cluster members share group AND split
    out.groupBy(_._2).foreach { case (g, rows) =>
      assert(rows.map(_._3).toSet.size == 1, s"group $g straddles splits")
    }
    assert(Set(0L, 1L, 2L).map(id => out.find(_._1 == id).get._3).size == 1)
    // a singleton's assignment equals the plain md5-family hashSplit
    val plain = Sampling.hashSplit(d.filter(col("doc_id") === 100L),
        "doc_id", Seq("train" -> 0.8, "eval" -> 0.1, "test" -> 0.1),
        bucketFn = Sampling.md5Bucket(_, _))
      .select("split").as[String].head()
    assert(out.find(_._1 == 100L).get._3 == plain)
  }

  test("calibrateByGroup: within-group empirical CDF in ppm, ties share ranks") {
    import graft.ext.TextOps
    val d = Seq((1L, "a", 10L), (2L, "a", 10L), (3L, "a", 20L),
      (4L, "a", 30L), (5L, "b", 5L), (6L, "b", 500L))
      .toDF("id", "grp", "score")
    val out = TextOps.calibrateByGroup(d, "grp", "score")
      .select("id", "pct_ppm").as[(Long, Long)].collect().toMap
    // group a: scores 10,10,20,30 -> below-counts 0,0,2,3 of 4
    assert(out(1L) == 0L && out(2L) == 0L)
    assert(out(3L) == 500000L && out(4L) == 750000L)
    // group b: raw scores differ 100x, percentiles are comparable
    assert(out(5L) == 0L && out(6L) == 500000L)
    // "top decile of every source" cuts per group, not globally
    val big = (0L until 1000L).map(i =>
      (i, if (i % 2 == 0) "lo" else "hi",
        if (i % 2 == 0) i % 100 else 10000L + i % 100))
      .toDF("id", "grp", "score")
    val gated = TextOps.calibrateByGroup(big, "grp", "score")
      .filter(col("pct_ppm") >= 900000L)
      .groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(gated("lo") == gated("hi")) // each source keeps its own top 10%
  }

  test("manifest snapshotDiff pinpoints exactly the changed shard") {
    // the audit loop closed: export manifests are themselves
    // snapshot-diffable — a silent single-shard corruption between
    // two exports surfaces as exactly one 'changed' row
    val d = (0L until 300L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val before = Sampling.shardManifest(
      Sampling.epochShuffle(d, "doc_id", epoch = 1, shards = 8),
      "doc_id", "text")
    val corrupted = d.withColumn("text",
      when(col("doc_id") === 42L, lit("flipped bits")).otherwise(col("text")))
    val after = Sampling.shardManifest(
      Sampling.epochShuffle(corrupted, "doc_id", epoch = 1, shards = 8),
      "doc_id", "text")
    val hitShard = Sampling.epochShuffle(d, "doc_id", 1, 8)
      .filter(col("doc_id") === 42L).select("shard").as[Int].head()
    val diff = graft.ext.Upserts.snapshotDiff(before, after, "shard",
        Seq("n_rows", "n_tokens", "checksum"))
      .select("shard", "status").as[(Int, String)].collect()
    assert(diff.toSeq == Seq((hitShard, "changed")))
  }

  test("planCompaction: consecutive quota bins, every shard exactly once") {
    val manifest = Seq((0, 10L), (1, 35L), (2, 5L), (3, 40L), (4, 8L),
      (5, 12L)).toDF("shard", "n_tokens")
    val out = Sampling.planCompaction(manifest, "n_tokens", target = 40L)
      .select("shard", "bin", "bin_weight")
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq == (0 to 5))
    // cum-before: 0,10,45,50,90,98 -> bins 0,0,1,1,2,2
    assert(out.map(_._2).toSeq == Seq(0L, 0L, 1L, 1L, 2L, 2L))
    assert(out.map(_._3).toSeq == Seq(45L, 45L, 45L, 45L, 20L, 20L))
    // bins hold consecutive shards only
    out.groupBy(_._2).values.foreach { rows =>
      val ids = rows.map(_._1).sorted
      assert(ids.last - ids.head == ids.length - 1)
    }
  }

  test("leakFreeSplit after mergeClusters == from-scratch split of the pair union") {
    val d = (0L until 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val day1 = Seq((0L, 1L), (5L, 6L), (10L, 11L)).toDF("a", "b")
    val day2 = Seq((1L, 5L), (20L, 21L)).toDF("a", "b") // bridges {0,1},{5,6}
    val fractions = Seq("train" -> 0.8, "eval" -> 0.2)
    // incremental loop: standing assignment + new pairs -> merged
    // clusters; splitting on the merged canonicals must equal the
    // from-scratch split over the pair union (canonical ids are
    // preserved minima, so the md5 split keys are identical)
    val merged = graft.ext.Dedup.mergeClusters(
      graft.ext.Dedup.nearDupClusters(day1), day2)
    val viaMerge = d
      .join(broadcast(merged.select(col("doc_id"), col("cluster"))),
        Seq("doc_id"), "left")
      .withColumn("grp", coalesce(col("cluster"), col("doc_id")))
      .drop("cluster")
    val got = Sampling.hashSplit(viaMerge, "grp", fractions,
        bucketFn = Sampling.md5Bucket(_, _))
      .select("doc_id", "grp", "split").as[(Long, Long, String)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    val scratch = Sampling.leakFreeSplit(d, day1.unionByName(day2),
        "doc_id", fractions)
      .select("doc_id", "grp", "split").as[(Long, Long, String)]
      .collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(got == scratch)
  }

  /** Brute-force reference for selectByBudget: the naive global rule
    * — order by (score DESC, md5(key), key), keep while the running
    * token total stays <= budget. */
  private def bruteBudget(rows: Seq[(Long, Long, Long)],
                          budget: Long): Map[Long, Boolean] = {
    def m(k: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    var cum = 0L
    rows.sortBy { case (id, s, _) => (-s, m(id), id) }
      .map { case (id, _, tk) => cum += tk; id -> (cum <= budget) }
      .toMap
  }

  test("selectByBudget == the naive global cumsum rule (ties, strata)") {
    // scores collide heavily so the boundary stratum holds many rows
    val data = (0L until 800L).map(i => (i, i % 7, (i % 13) + 1))
    val df = data.toDF("id", "score", "tk")
    for (budget <- Seq(0L, 123L, 1700L, 10000L, Long.MaxValue)) {
      val got = Sampling.selectByBudget(df, "id", "score", "tk", budget)
        .select("id", "kept").as[(Long, Boolean)].collect().toMap
      assert(got == bruteBudget(data, budget), s"budget=$budget")
    }
  }

  test("selectByBudget: zero-token rows at an exhausted budget still follow the global rule") {
    // stratum 5 fills the budget EXACTLY; stratum 4's md5-first row
    // (doc 4 — md5("4") < md5("3")) carries zero tokens, which the
    // global rule keeps (cum stays == budget)
    val rows = Seq((1L, 5L, 10L), (2L, 5L, 10L),
      (3L, 4L, 7L), (4L, 4L, 0L), (5L, 3L, 0L))
    val got = Sampling.selectByBudget(rows.toDF("id", "score", "tk"),
        "id", "score", "tk", 20L)
      .select("id", "kept").as[(Long, Boolean)].collect().toMap
    assert(got == bruteBudget(rows, 20L))
    assert(got(4L)) // the zero-token row fits an exactly-spent budget
    assert(!got(3L))
  }

  test("selectByBudgetByGroup == per-group brute rule; unbudgeted groups dropped") {
    val data = (0L until 600L).map(i =>
      (i, if (i % 3 == 0) "web" else if (i % 3 == 1) "code" else "books",
        i % 5, (i % 9) + 1))
    val df = data.toDF("id", "grp", "score", "tk")
    val budgets = Seq(("web", 300L), ("code", 120L)).toDF("grp", "budget")
    val got = Sampling.selectByBudgetByGroup(df, "grp", "id", "score",
        "tk", budgets)
      .select("id", "grp", "kept").as[(Long, String, Boolean)].collect()
    // books has no budget -> dropped entirely
    assert(!got.exists(_._2 == "books"))
    val byGroup = got.groupBy(_._2)
    for ((g, budget) <- Seq("web" -> 300L, "code" -> 120L)) {
      val rows = data.filter(_._2 == g).map(t => (t._1, t._3, t._4))
      val want = bruteBudget(rows, budget)
      assert(byGroup(g).map(t => t._1 -> t._3).toMap == want, s"group $g")
    }
    // single-group degenerate case equals the ungrouped operator
    val one = df.filter(col("grp") === "web")
    val grouped = Sampling.selectByBudgetByGroup(one, "grp", "id",
        "score", "tk", Seq(("web", 300L)).toDF("grp", "budget"))
      .select("id", "kept").as[(Long, Boolean)].collect().toMap
    val flat = Sampling.selectByBudget(one, "id", "score", "tk", 300L)
      .select("id", "kept").as[(Long, Boolean)].collect().toMap
    assert(grouped == flat)
  }

  test("selectByBudget is partitioning-invariant and keeps every input row once") {
    val data = (0L until 400L).map(i => (i, i % 5, (i % 11) + 1))
    val df = data.toDF("id", "score", "tk")
    val a = Sampling.selectByBudget(df, "id", "score", "tk", 500L)
      .select("id", "kept").as[(Long, Boolean)].collect()
    assert(a.length == 400 && a.map(_._1).toSet.size == 400)
    val b = Sampling.selectByBudget(df.repartition(13), "id", "score",
        "tk", 500L)
      .select("id", "kept").as[(Long, Boolean)].collect()
    assert(a.toMap == b.toMap)
  }

  test("selectByBudget sorts only the boundary stratum, never the corpus") {
    val df = (0L until 300L).map(i => (i, i % 5, (i % 11) + 1))
      .toDF("id", "score", "tk")
    val plan = Sampling.selectByBudget(df, "id", "score", "tk", 300L)
      .queryExecution.optimizedPlan
    // every window sort in the plan is either over the tiny score
    // histogram (no partition spec -> rows are |distinct scores|) or
    // partitioned by the score column AFTER the boundary filter; the
    // corpus branch itself must carry no Window at all
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val byScore = w.partitionSpec.nonEmpty
      if (byScore)
        // boundary branch: a Filter on the boundary condition sits
        // below the window, so the sort sees one stratum only
        assert(w.child.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.references.map(_.name).exists(n =>
              n.contains("__open") || n.contains("__full") ||
                n.contains("__before") || n.contains("__tk")) => f
        }.nonEmpty, s"boundary window has no stratum filter below it:\n$w")
    }
  }

  test("temperatureMixture: sqrt flattening — smallest source binds and keeps all") {
    // sizes 100/16/4 -> sqrt weights 10/4/2 -> K = min(sqrt n) = 2 ->
    // ppm rates 200000 / 500000 / 1000000
    val docs = ((0 until 100).map(i => (i.toLong, "big")) ++
        (200 until 216).map(i => (i.toLong, "small")) ++
        (300 until 304).map(i => (i.toLong, "tiny")))
      .toDF("doc_id", "source")
    val kept = Sampling.temperatureMixture(docs, "source", "doc_id")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(kept("tiny") == 4L)                  // binding group keeps all
    assert(kept("big") < 100L && kept("big") > 0L)
    // flattening: the kept RATE rises as the source shrinks
    assert(kept("big") / 100.0 < kept.getOrElse("small", 0L) / 16.0 + 0.2)
    // deterministic under repartitioning
    val again = Sampling.temperatureMixture(docs.repartition(7), "source", "doc_id")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(again == kept)
  }

  test("curriculumShuffle: phase buckets, per-(phase,shard) permutations, epoch freshness") {
    val docs = (1 to 40).map(i => (i.toLong, i * 50L)).toDF("doc_id", "n_chars")
    val out = Sampling.curriculumShuffle(docs, "doc_id", "n_chars",
        Seq(200L, 1000L), epoch = 1, shards = 3)
      .select("doc_id", "n_chars", "phase", "shard", "pos")
      .as[(Long, Long, Int, Int, Long)].collect()
    // boundary inclusive low: n_chars == 200 stays phase 0
    assert(out.forall { case (_, n, p, _, _) =>
      p == (if (n <= 200) 0 else if (n <= 1000) 1 else 2) })
    // positions are a 1..k permutation within every (phase, shard)
    out.groupBy(r => (r._3, r._4)).foreach { case (_, g) =>
      assert(g.map(_._5).sorted.toSeq == (1L to g.length).toSeq) }
    // a new epoch deals a different permutation (phases stay put)
    val out2 = Sampling.curriculumShuffle(docs, "doc_id", "n_chars",
        Seq(200L, 1000L), epoch = 2, shards = 3)
      .select("doc_id", "phase", "shard", "pos")
      .as[(Long, Int, Int, Long)].collect().toSet
    assert(out.map(r => (r._1, r._3, r._4, r._5)).toSet != out2)
    assert(out.map(r => (r._1, r._3)).toSet == out2.map(r => (r._1, r._2)))
  }

  test("apportionQuotas + quotaSample: exact-N largest remainder") {
    // weights 5/3/2, n=7: floors 3/2/1 (remainders 5/1/4), one short
    // slot -> largest remainder a: quotas 4/2/1
    val w = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("g", "w")
    val q = Sampling.apportionQuotas(w, "g", "w", n = 7L)
      .as[(String, Long)].collect().toMap
    assert(q == Map("a" -> 4L, "b" -> 2L, "c" -> 1L))
    // remainder tie -> group order
    val t = Sampling.apportionQuotas(
        Seq(("a", 1L), ("b", 1L)).toDF("g", "w"), "g", "w", n = 3L)
      .as[(String, Long)].collect().toMap
    assert(t == Map("a" -> 2L, "b" -> 1L))
    // the draw honors quotas exactly and is content-keyed
    val rows = (0L until 90L).map(i => (i, Seq("a", "b", "c")(i.toInt % 3)))
      .toDF("id", "g")
    val picked = Sampling.quotaSample(rows, "g", "id",
        q.toSeq.toDF("g", "quota"))
      .as[(Long, String)].collect()
    assert(picked.length == 7)
    assert(picked.groupBy(_._2).view.mapValues(_.length).toMap ==
      Map("a" -> 4, "b" -> 2, "c" -> 1))
    val again = Sampling.quotaSample(rows.repartition(5), "g", "id",
        q.toSeq.toDF("g", "quota"))
      .as[(Long, String)].collect()
    assert(again.toSet == picked.toSet)
    // zero-quota group contributes nothing; zero-n draws nothing
    val z = Sampling.quotaSample(rows, "g", "id",
      Seq(("a", 0L), ("b", 0L), ("c", 0L)).toDF("g", "quota"))
    assert(z.count() == 0L)
  }

  test("weightedDraws: k per draw, weight-proportional, no rand()") {
    val items = Seq(("a", 1L), ("b", 0L), ("c", 3L)).toDF("item", "w")
    val draws = (0L until 200L).toDF("id")
    val out = Sampling.weightedDraws(items, "item", "w", draws, "id", k = 2)
      .as[(Long, Int, String)].collect()
    assert(out.length == 400) // exactly k rows per draw
    assert(out.groupBy(r => (r._1, r._2)).forall(_._2.length == 1))
    val byItem = out.groupBy(_._3).view.mapValues(_.length).toMap
    assert(!byItem.contains("b"), "zero-weight item must never be drawn")
    assert(byItem("c") > 250 && byItem("c") < 350, // ~75% of 400
      s"c should take ~3/4 of draws, got ${byItem("c")}")
    // same keys -> same negatives, any partitioning
    val again = Sampling.weightedDraws(items, "item", "w",
        draws.repartition(5), "id", k = 2)
      .as[(Long, Int, String)].collect()
    assert(again.toSet == out.toSet)
  }

  test("zorderValue: exact bit interleave") {
    // qa=3 (11b) at odd positions -> 8+2; qb=1 (01b) at even -> 1
    val z = Seq((3L, 1L)).toDF("qa", "qb")
      .select(Sampling.zorderValue(col("qa"), col("qb"), 2).as("z"))
      .as[Long].head()
    assert(z == 11L)
  }

  test("zorderPlan: fixed-width shards are Z-curve quadrants") {
    // the 4x4 grid at bits=2, shards=4: quantization is the identity
    // ((v-0)*3 DIV 3 = v for v in 0..3), so shards must be exactly
    // the four quadrants with tight bounding boxes
    val pts = for { a <- 0L to 3L; b <- 0L to 3L } yield (a, b)
    val out = Sampling.zorderPlan(pts.toDF("a", "b"), "a", "b",
        bits = 2, shards = 4)
      .select("shard", "n_rows", "a_min", "a_max", "b_min", "b_max")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    assert(out(0L) == ((0L, 4L, 0L, 1L, 0L, 1L)))
    assert(out(1L) == ((1L, 4L, 0L, 1L, 2L, 3L)))
    assert(out(2L) == ((2L, 4L, 2L, 3L, 0L, 1L)))
    assert(out(3L) == ((3L, 4L, 2L, 3L, 2L, 3L)))
    // repartition-invariant
    val again = Sampling.zorderPlan(pts.toDF("a", "b").repartition(7),
        "a", "b", bits = 2, shards = 4)
      .select("shard", "n_rows", "a_min", "a_max", "b_min", "b_max")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("retireFromShards: affected-only rewrite, emptied shard stays gone, replay is a no-op (r12 verdict #6)") {
    val base = java.nio.file.Files
      .createTempDirectory("sampspec_retire").toString
    val path = s"$base/layout"
    val docs = Seq((1L, "a b"), (2L, "c d e"), (3L, "f"),
      (4L, "g h"), (5L, "i")).toDF("doc_id", "text")
    // hand-assigned shards so one shard empties entirely under the
    // retirement: shard 0 = {1,2}, shard 1 = {3,4}, shard 2 = {5}
    docs.withColumn("shard",
        when($"doc_id" <= 2L, 0).when($"doc_id" <= 4L, 1).otherwise(2))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    def files(sh: Int): Set[String] = {
      val d = new java.io.File(s"$path/shard=$sh")
      if (!d.exists) Set.empty
      else d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val shard0Before = files(0)
    val shard2Before = files(2)
    // retire {3,4}: shard 1 empties; shards 0 and 2 must not rewrite
    val man = Sampling.retireFromShards(spark, path,
        Seq(3L, 4L).toDF("doc_id"), "doc_id", "text")
      .select("shard", "n_rows").as[(Int, Long)].collect().toMap
    assert(man == Map(0 -> 2L, 2 -> 1L),
      "manifest must equal rebuild-on-remaining")
    assert(!new java.io.File(s"$path/shard=1").exists,
      "an emptied shard's directory must be gone")
    assert(files(0) == shard0Before && files(2) == shard2Before,
      "unaffected shards must keep their exact files (affected-only rewrite)")
    // replay of the completed batch: no-op, manifest unchanged
    val replay = Sampling.retireFromShards(spark, path,
        Seq(3L, 4L).toDF("doc_id"), "doc_id", "text")
      .select("shard", "n_rows").as[(Int, Long)].collect().toMap
    assert(replay == man, "replayed retirement must be a no-op")
    assert(files(0) == shard0Before && files(2) == shard2Before,
      "a replay must not rewrite anything")
    // a second batch hits a PARTIALLY-retired shard: survivors keep
    // flowing, tombstones accumulate
    val man2 = Sampling.retireFromShards(spark, path,
        Seq(2L, 4L).toDF("doc_id"), "doc_id", "text")
      .select("shard", "n_rows").as[(Int, Long)].collect().toMap
    assert(man2 == Map(0 -> 1L, 2 -> 1L))
    assert(files(2) == shard2Before, "shard 2 still untouched")
  }

  test("retireFromShards: a torn run (some shards purged, tombstones never committed) is repaired by the replay") {
    // post-crash state of retiring {2, 3}: shard 0 was already
    // rewritten without doc 2, shard 1 is still dirty (doc 3
    // present), and the crash landed before the tombstone append —
    // the replay must re-derive the still-dirty shard set from the
    // CURRENT files, rewrite only shard 1, and commit the sidecar
    val base = java.nio.file.Files
      .createTempDirectory("sampspec_torn").toString
    val path = s"$base/layout"
    Seq((1L, "a b", 0), (3L, "f", 1), (4L, "g h", 1), (5L, "i", 2))
      .toDF("doc_id", "text", "shard")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    def files(sh: Int): Set[String] = {
      val d = new java.io.File(s"$path/shard=$sh")
      if (!d.exists) Set.empty
      else d.listFiles.map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val s0 = files(0); val s2 = files(2)
    val man = Sampling.retireFromShards(spark, path,
        Seq(2L, 3L).toDF("doc_id"), "doc_id", "text")
      .select("shard", "n_rows").as[(Int, Long)].collect().toMap
    assert(man == Map(0 -> 1L, 1 -> 1L, 2 -> 1L),
      "the repaired layout must equal rebuild-on-remaining")
    assert(files(0) == s0 && files(2) == s2,
      "already-purged and unaffected shards must not rewrite")
    val replay = Sampling.retireFromShards(spark, path,
        Seq(2L, 3L).toDF("doc_id"), "doc_id", "text")
      .select("shard", "n_rows").as[(Int, Long)].collect().toMap
    assert(replay == man, "post-repair replay must be a no-op")
  }

  test("retireFromShards: replay after a delete-live-then-crash heals from the _retiring twin (r13 recovery-first)") {
    val base = java.nio.file.Files
      .createTempDirectory("sampspec_crash").toString
    val path = s"$base/layout"
    Seq((1L, "a b", 0), (2L, "c", 0), (3L, "d", 1), (4L, "e f", 1))
      .toDF("doc_id", "text", "shard")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    // simulate the narrowest crash window of retiring {2, 3}: the
    // survivor twins are fully staged under _retiring, live shard=0
    // is deleted, and the crash lands before the twin renames in and
    // before any tombstone commits — the state where the old replay
    // re-derived dirty shards from current files, missed shard 0
    // entirely, and destroyed its twin in the staging cleanup
    val dels = Seq(2L, 3L).toDF("doc_id")
    spark.read.parquet(path).where($"shard".isin(0, 1))
      .join(dels, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").partitionBy("shard")
      .parquet(s"$path/_retiring")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/shard=0"), true)
    // a PLAIN replay must heal: shard 0's twin renames in (survivor
    // doc 1 recovered), shard 1 re-derives as dirty and rewrites
    val man = Sampling.retireFromShards(spark, path, dels,
        "doc_id", "text")
      .select("shard", "n_rows").as[(Int, Long)].collect().toMap
    assert(man == Map(0 -> 1L, 1 -> 1L),
      "replay must heal the crash window with no survivor loss")
    assert(spark.read.parquet(path).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 4L))
    // post-heal replay: a completed batch, no-op
    val replay = Sampling.retireFromShards(spark, path, dels,
        "doc_id", "text")
      .select("shard", "n_rows").as[(Int, Long)].collect().toMap
    assert(replay == man, "post-heal replay must be a no-op")
  }

  test("retireFromShards: retiring the last shard leaves a sidecar-only layout that replays cleanly (r13 advice)") {
    val base = java.nio.file.Files
      .createTempDirectory("sampspec_empty").toString
    val path = s"$base/layout"
    Seq((1L, "a", 0), (2L, "b", 0)).toDF("doc_id", "text", "shard")
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    val all = Seq(1L, 2L).toDF("doc_id")
    val man = Sampling.retireFromShards(spark, path, all,
      "doc_id", "text")
    assert(man.head(1).isEmpty, "retire-all must yield an empty manifest")
    assert(!new java.io.File(s"$path/shard=0").exists)
    // the old code crashed HERE: spark.read.parquet on a directory
    // holding only underscore sidecars throws UNABLE_TO_INFER_SCHEMA
    val replay = Sampling.retireFromShards(spark, path, all,
      "doc_id", "text")
    assert(replay.head(1).isEmpty, "replay on the emptied layout must no-op")
    // a NEW batch against the emptied layout still commits tombstones
    val more = Sampling.retireFromShards(spark, path,
      Seq(9L).toDF("doc_id"), "doc_id", "text")
    assert(more.head(1).isEmpty)
    assert(spark.read.parquet(s"$path/_tombstones").select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L, 9L),
      "the governance record must stay complete on an emptied layout")
  }

  test("unimaxBudgets: hand-computed waterfill, both cap branches") {
    // sizes 10/20/100, budget 100, maxEpochs 3 — ascending sweep:
    //   10: min(30, 100/3=33) = 30  (EPOCH-capped)
    //   20: min(60,  70/2=35) = 35  (waterfilled)
    //  100: min(300, 35/1=35) = 35  (waterfilled)
    val df = (Seq.fill(1)(("a", 10L)) ++ Seq(("b", 20L), ("c", 100L)))
      .toDF("g", "w")
    val out = Sampling.unimaxBudgets(df, "g", "w",
        totalBudget = 100L, maxEpochs = 3L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out("a") == ((10L, 30L, 3000000L)))
    assert(out("b") == ((20L, 35L, 1750000L)))
    assert(out("c") == ((100L, 35L, 350000L)))
    // a budget big enough for everyone: every group epoch-caps
    val all = Sampling.unimaxBudgets(df, "g", "w",
        totalBudget = 1000L, maxEpochs = 3L)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(all.values.forall(_._3 == 3000000L))
  }

  test("driver-side sweeps refuse high-cardinality group columns") {
    // apportionQuotas/unimaxBudgets collect one row per group; past
    // spark.graft.sweep.maxGroups they must refuse with an actionable
    // message instead of silently OOMing the driver (r9 verdict #8)
    spark.conf.set("spark.graft.sweep.maxGroups", "3")
    try {
      val wide = (1 to 10).map(i => (s"g$i", 1L)).toDF("g", "w")
      val e1 = intercept[IllegalArgumentException] {
        Sampling.unimaxBudgets(wide, "g", "w", 100L, 2L)
      }
      assert(e1.getMessage.contains("spark.graft.sweep.maxGroups"))
      assert(e1.getMessage.contains("unimaxBudgets"))
      val e2 = intercept[IllegalArgumentException] {
        Sampling.apportionQuotas(wide, "g", "w", 5L).collect()
      }
      assert(e2.getMessage.contains("spark.graft.sweep.maxGroups"))
      // under the bound both still run
      spark.conf.set("spark.graft.sweep.maxGroups", "1000000")
      assert(Sampling.unimaxBudgets(wide, "g", "w", 100L, 2L).count() == 10)
    } finally spark.conf.unset("spark.graft.sweep.maxGroups")
  }

  test("zorderKey: hand-computed Morton interleave + brute parity on random pairs (r11)") {
    import org.apache.spark.sql.functions.col
    // a=3 (0011), b=5 (0101): bits of a land at even positions, b at
    // odd -> 1 + 2 + 4 + 32 = 39
    val hand = Seq((3L, 5L)).toDF("a", "b")
      .select(Sampling.zorderKey(col("a"), col("b"), bits = 4))
      .as[Long].head()
    assert(hand == 39L)
    def brute(a: Long, b: Long, bits: Int): Long =
      (0 until bits).map(i =>
        (((a >> i) & 1L) << (2 * i)) + (((b >> i) & 1L) << (2 * i + 1))).sum
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 64).map(_ => (rnd.nextInt(1024).toLong,
      rnd.nextInt(1024).toLong))
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        Sampling.zorderKey(col("a"), col("b"), bits = 10).as("z"))
      .as[(Long, Long, Long)].collect()
    assert(got.forall { case (a, b, z) => z == brute(a, b, 10) })
    // Z-order locality: any fixed-prefix bucket is a rectangle of
    // side 2^(bits - prefix/2): check the 4-bit-prefix spans
    val spans = got.groupBy(_._3 >> 16).values.map { rows =>
      (rows.map(_._1).max - rows.map(_._1).min,
        rows.map(_._2).max - rows.map(_._2).min)
    }
    assert(spans.forall { case (sa, sb) => sa <= 255 && sb <= 255 })
  }
}
