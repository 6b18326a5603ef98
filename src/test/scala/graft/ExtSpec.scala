package graft

import graft.ext.{Clustering, Dedup, Multimodal, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** X1-X4 LLM-pipeline extensions: dedup, similarity, text, multimodal. */
class ExtSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en"),
    (1L, "the quick brown fox jumps over the lazy dog", "en"),  // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat", "en"),  // near dup
    (3L, "completely different words entirely here now", "en"),
    (4L, "el perro come la comida de la casa", "es"))
    .toDF("doc_id", "text", "lang")

  test("exact dedup: canonical = min doc_id per text (X1)") {
    val out = Dedup.exact(docs)
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(out(0L) == (0L, false) && out(1L) == (0L, true))
    assert(out(2L) == (2L, false))
  }

  test("shingling produces distinct w-grams") {
    val sh = docs.filter($"doc_id" === 0)
      .select(Dedup.shingles($"text", 3).as("sh"))
      .as[Seq[String]].head()
    assert(sh.contains("the quick brown") && sh.contains("the lazy dog"))
    assert(sh.length == 7)
  }

  test("minhash LSH finds exact and near dups, not distinct docs (X1)") {
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))   // identical -> jaccard 1
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("portable md5 minhash LSH agrees with the xxhash64 family on verified pairs (X1)") {
    // different hash families -> possibly different CANDIDATES, but
    // the exact-jaccard verification makes surviving pairs a property
    // of the documents; identical docs always share every band bucket
    val a = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    val b = Dedup.minhashLshPortable(docs, threshold = 0.5)
      .select("a", "b", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(b.contains((0L, 1L, 1.0)))
    assert(!b.exists(p => p._1 == 3L || p._2 == 3L))
    // exact dups surface in both families with jaccard 1
    assert(a.filter(_._3 == 1.0).map(p => (p._1, p._2))
      == b.filter(_._3 == 1.0).map(p => (p._1, p._2)))
  }

  test("simhash: identical fingerprints for identical docs, near for near") {
    val fp = docs.select($"doc_id", Dedup.simhash($"text").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(1L))
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(2L)) <
      java.lang.Long.bitCount(fp(0L) ^ fp(3L)))
    // x08's corpus primary is the md5 family; the xxhash64 fast path
    // is pinned here: the pairs kernel surfaces the exact dup at
    // hamming 0 under BOTH families.
    val pairs = Dedup.simhashPairs(docs, maxDist = 6)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
  }

  test("portable md5 simhash: 60-bit fingerprints, same dup structure (X1)") {
    // md5TokenHash yields 60-bit token hashes -> top 4 fingerprint
    // bits are always 0 (votes for an always-zero bit stay negative)
    val fp = docs.select($"doc_id",
        Dedup.simhash($"text", Dedup.md5TokenHash).as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fp.values.forall(f => (f >>> 60) == 0L))
    assert(fp(0L) == fp(1L)) // identical docs, identical fingerprints
    assert(java.lang.Long.bitCount(fp(0L) ^ fp(2L)) <
      java.lang.Long.bitCount(fp(0L) ^ fp(3L)))
    // pairs kernel under the portable family still surfaces the exact dup
    val pairs = Dedup.simhashPairs(docs, maxDist = 6,
        tokenHash = Dedup.md5TokenHash)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
  }

  test("ngram jaccard within block (X1)") {
    val out = Dedup.ngramJaccard(docs, col("lang"), 0.5, w = 1)
      .as[(Long, Long, Double)].collect()
    val m = out.map(t => (t._1, t._2) -> t._3).toMap
    assert(m((0L, 1L)) == 1.0)
    assert(m.contains((0L, 2L)) && m((0L, 2L)) > 0.7)
    assert(!m.contains((0L, 4L))) // different lang block
  }

  test("incremental band-index probe equals full rebuild restricted to batch pairs (X1)") {
    val batchIds = Set(0L, 4L)
    Dedup.writeBandIndex(docs.filter(!col("doc_id").isin(batchIds.toSeq: _*)),
      "extspec_x42")
    val inc = Dedup.probeBandIndex("extspec_x42",
        docs.filter(col("doc_id").isin(batchIds.toSeq: _*)), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    // full rebuild through the SAME machinery: probing an EMPTY index
    // with the whole corpus degenerates to the batch self-join — i.e.
    // all pairs
    Dedup.writeBandIndex(docs.limit(0), "extspec_x42e")
    val full = Dedup.probeBandIndex("extspec_x42e", docs, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full.filter(p => batchIds(p._1) || batchIds(p._2)))
    assert(inc.contains((0L, 1L, 1.0))) // identical docs share every band
    // an empty batch probes to an empty result, not an error
    assert(Dedup.probeBandIndex("extspec_x42", docs.limit(0)).count() == 0)
    // auditDisjoint catches a batch id that is already indexed (doc 1
    // is in the index; probing it again would alias its stored twin)
    val e = intercept[IllegalArgumentException] {
      Dedup.probeBandIndex("extspec_x42",
        docs.filter(col("doc_id") === 1L), auditDisjoint = true).count()
    }
    assert(e.getMessage.contains("already"))
    // and passes on genuinely fresh ids
    assert(Dedup.probeBandIndex("extspec_x42",
      docs.filter(col("doc_id").isin(batchIds.toSeq: _*)),
      threshold = 0.5, auditDisjoint = true).count() > 0)
  }

  test("appendBandIndex: probe after N appends equals full rebuild (X1)") {
    // day 0: index {3,4}; day 1: append {2}; day 2: append {0};
    // day 3's batch {1} probes — must see pairs against EVERY earlier
    // doc, including ones that arrived via append, exactly as if the
    // whole corpus had been indexed in one shot
    Dedup.writeBandIndex(docs.filter(col("doc_id").isin(3L, 4L)), "extspec_x43")
    Dedup.appendBandIndex("extspec_x43", docs.filter(col("doc_id") === 2L))
    Dedup.appendBandIndex("extspec_x43", docs.filter(col("doc_id") === 0L))
    val inc = Dedup.probeBandIndex("extspec_x43",
        docs.filter(col("doc_id") === 1L), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    Dedup.writeBandIndex(docs.filter(col("doc_id") =!= 1L), "extspec_x43f")
    val full = Dedup.probeBandIndex("extspec_x43f",
        docs.filter(col("doc_id") === 1L), threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full)
    // doc 0 arrived via the SECOND append and is 1's exact duplicate:
    // identical docs share every band, so this pair is guaranteed —
    // a dropped append cannot hide
    assert(inc.contains((0L, 1L, 1.0)))
  }

  test("mergeClusters: folding new pairs == re-clustering the union (X1)") {
    val oldPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val assign = Dedup.nearDupClusters(oldPairs)
    // batch pairs BRIDGE clusters {1,2,3} and {5,6}, and open a new one
    val newPairs = Seq((3L, 5L), (8L, 9L)).toDF("a", "b")
    val merged = Dedup.mergeClusters(assign, newPairs)
      .as[(Long, Long, Boolean)].collect().toSet
    val scratch = Dedup.nearDupClusters(
        oldPairs.unionByName(newPairs))
      .as[(Long, Long, Boolean)].collect().toSet
    assert(merged == scratch)
    assert(merged.contains((6L, 1L, false))) // 6 re-canonicalized via bridge
    assert(merged.contains((8L, 8L, true)))
  }

  test("repeatedSpans: maximal merged spans of corpus-repeated windows (X1)") {
    val d = Seq(
      (10L, "a b c d e f g h i j"),               // shares a b c d e f with 11
      (11L, "z y a b c d e f w v u t"),
      (12L, "p q r s t u v w x"),                 // nothing repeated
      (13L, "m m m m m m m m m m m m"),           // self-repetition is boilerplate
      (14L, "a b c d e x1 x2 x3 x4 x5 x6 b c d e f")) // two SEPARATE spans
      .toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(d, minLen = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (10L, 0L, 5L, 2L),   // windows at pos 0,1 overlap -> one span
      (11L, 2L, 7L, 2L),
      (13L, 0L, 11L, 8L),  // all 8 windows identical -> one full-doc span
      (14L, 0L, 4L, 1L),   // gap of unique tokens keeps the two
      (14L, 11L, 15L, 1L)))//   occurrences as separate spans
  }

  test("removeSpans cuts exactly the flagged tokens and nothing else (X10)") {
    val d = Seq(
      (10L, "a b c d e f g h i j"),
      (11L, "z y a b c d e f w v u t"),
      (12L, "p q r s t u v w x"),
      (13L, "m m m m m m m m m m m m"),
      (14L, "a b c d e x1 x2 x3 x4 x5 x6 b c d e f"))
      .toDF("doc_id", "text")
    val out = Dedup.removeSpans(d, Dedup.repeatedSpans(d, minLen = 5))
      .as[(Long, String, Long)].collect()
      .map { case (k, v, n) => k -> ((v, n)) }.toMap
    assert(out(10L) == ("g h i j", 6L))
    assert(out(11L) == ("z y w v u t", 6L))
    assert(out(12L) == ("p q r s t u v w x", 0L)) // untouched
    assert(out(13L) == ("", 12L))                 // fully boilerplate
    assert(out(14L) == ("x1 x2 x3 x4 x5 x6", 10L))
    // detect -> clean reaches a fixpoint: re-detecting on the cleaned
    // corpus finds nothing left to cut
    val again = Dedup.repeatedSpans(
      Dedup.removeSpans(d, Dedup.repeatedSpans(d, minLen = 5))
        .select(col("doc_id"), col("clean_text").as("text")), minLen = 5)
    assert(again.count() == 0)
  }

  test("removeSpans never explodes the corpus to token rows (plan), and composes with sharedSpans (X12)") {
    val train = Seq((1L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "intro words the quick brown fox jumps over the lazy dog today and more"),
      (101L, "completely novel evaluation content here"))
      .toDF("doc_id", "text")
    // decontamination removal: cut each eval doc's spans shared with train
    // materialize detector output first: the DETECTOR explodes windows
    // by design; the CLEANER must not — scope the plan assertion to it
    val spans = Dedup.sharedSpans(train, eval, minLen = 5)
      .select(col("eval_id").as("doc_id"),
        col("eval_start").as("span_start"),
        (col("eval_start") + col("span_tokens") - 1).as("span_end"))
      .localCheckpoint()
    val cleaned = Dedup.removeSpans(eval, spans)
    val plan = cleaned.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"cleaner must not explode tokens:\n$plan")
    val out = cleaned.as[(Long, String, Long)].collect()
      .map { case (k, v, n) => k -> ((v, n)) }.toMap
    assert(out(100L) == (("intro words and more", 10L)))
    assert(out(101L) == (("completely novel evaluation content here", 0L)))
  }

  test("inverted index: exact ranked lookup + planning-time bucket pruning (X3)") {
    val corpus = Seq(
      (1L, "data data data hash"),   // tf(data)=3, tf(hash)=1
      (2L, "data hash hash"),        // tf(data)=1, tf(hash)=2
      (3L, "unrelated words only"),
      (4L, "data")).toDF("doc_id", "text")
    TextOps.writeInvertedIndex(corpus, "extspec_x48", buckets = 4)
    val hits = TextOps.searchIndex(spark, "extspec_x48",
        Seq("data", "hash"), k = 10)
      .as[(Long, Long, Long)].collect().toList
    // df(data)=3, df(hash)=2: doc1 = 3*1e6/3 + 1*1e6/2 = 1_500_000;
    // doc2 = 333_333 + 1_000_000 = 1_333_333; doc4 = 333_333
    assert(hits == List((1L, 1500000L, 2L), (2L, 1333333L, 2L),
      (4L, 333333L, 1L)))
    // the term filter must prune index buckets at planning time — the
    // postings⋈df join on term keeps the bucketed scans alive, and
    // the scan then reads the query terms' buckets, not the table
    val plan = TextOps.searchIndex(spark, "extspec_x48",
        Seq("data", "hash"), k = 10)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val sel = "SelectedBucketsCount: (\\d+) out of 4".r
      .findFirstMatchIn(plan)
    assert(sel.nonEmpty, s"no bucket pruning in plan:\n$plan")
    assert(sel.get.group(1).toInt < 4)
  }

  test("appendInvertedIndex: search after N appends == from-scratch rebuild (X3)") {
    val all = Seq(
      (1L, "data data data hash"), (2L, "data hash hash"),
      (3L, "unrelated words only"), (4L, "data"),
      (5L, "hash batch data data"), (6L, "batch batch"))
      .toDF("doc_id", "text")
    // two-batch incremental build
    TextOps.writeInvertedIndex(all.where($"doc_id" <= 2), "extspec_x136i",
      buckets = 2)
    TextOps.appendInvertedIndex(all.where($"doc_id" > 2 && $"doc_id" <= 4),
      "extspec_x136i")
    TextOps.appendInvertedIndex(all.where($"doc_id" > 4), "extspec_x136i")
    // from-scratch rebuild
    TextOps.writeInvertedIndex(all, "extspec_x136f", buckets = 2)
    for (terms <- Seq(Seq("data", "hash"), Seq("batch"))) {
      val inc25 = TextOps.searchIndexBm25(spark, "extspec_x136i", terms, 10)
        .as[(Long, Long, Long)].collect().toList
      val full25 = TextOps.searchIndexBm25(spark, "extspec_x136f", terms, 10)
        .as[(Long, Long, Long)].collect().toList
      assert(inc25 == full25, s"bm25 terms=$terms")
      val incR = TextOps.searchIndex(spark, "extspec_x136i", terms, 10)
        .as[(Long, Long, Long)].collect().toList
      val fullR = TextOps.searchIndex(spark, "extspec_x136f", terms, 10)
        .as[(Long, Long, Long)].collect().toList
      assert(incR == fullR, s"ranked terms=$terms")
    }
  }

  test("searchIndexBm25 keeps the planning-time bucket pruning (X3)") {
    // the BM25 leg adds a doclen join but the postings/df scans must
    // still prune to the query terms' buckets — same pin as x48's
    val corpus = Seq(
      (1L, "data data data hash"), (2L, "data hash hash"),
      (3L, "unrelated words only"), (4L, "data")).toDF("doc_id", "text")
    TextOps.writeInvertedIndex(corpus, "extspec_bm25p", buckets = 4)
    val plan = TextOps.searchIndexBm25(spark, "extspec_bm25p",
        Seq("data", "hash"), k = 10)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val sel = "SelectedBucketsCount: (\\d+) out of 4".r
      .findFirstMatchIn(plan)
    assert(sel.nonEmpty, s"no bucket pruning in plan:\n$plan")
    assert(sel.get.group(1).toInt < 4)
  }

  test("sharedSpans: maximal eval<->train verbatim spans on diagonals (X1)") {
    val train = Seq((1L, "a b c d e f g h"), (2L, "x y z w v u"))
      .toDF("doc_id", "text")
    val eval = Seq((10L, "q q a b c d e f q q"),
      (11L, "no overlap tokens here at all")).toDF("doc_id", "text")
    val out = Dedup.sharedSpans(train, eval, minLen = 3, maxDf = 100)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // "a b c d e f" = 6 shared tokens: eval pos 2..7, train pos 0..5 —
    // 4 consecutive matching windows on diagonal 2 -> one span of 6
    assert(out == Set((10L, 1L, 2L, 0L, 6L)))
    // the df cap drops the evidence windows (each appears in 2 docs)
    assert(Dedup.sharedSpans(train, eval, minLen = 3, maxDf = 1).count() == 0)
  }

  test("nearDupClusters: components of the pair graph, min-id canonical (X1)") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.nearDupClusters(pairs)
      .as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out == Map(
      1L -> (1L, true), 2L -> (1L, false), 3L -> (1L, false),
      5L -> (5L, true), 6L -> (5L, false)))
  }

  test("nearDupClusters: a 256-link chain clusters in O(log n) rounds, not one job per hop (X1)") {
    // chain 0-1-…-256 in shuffled order, a self-pair and an isolated pair
    val chain = scala.util.Random.shuffle(
      (0L until 256L).map(i => (i, i + 1))).toList
    val pairs = chain ++ Seq((1000L, 1000L), (2000L, 2001L))
    val (out, log) = JobLog(spark) {
      Dedup.nearDupClusters(pairs.toDF("a", "b"))
        .as[(Long, Long, Boolean)].collect()
    }
    val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expected = UnionFind.minLabels(ids, pairs)
    assert(out.toSet == expected.map { case (id, c) => (id, c, id == c) }.toSet)
    assert(out.length == ids.size)
    // measured 40 jobs, from the star-contraction kernel
    // (Traversals.componentsLogRoundsPairs): 9 large-star rounds and 8
    // small-star rounds, each a broadcast of its per-node min table and
    // a checkpoint; plus the raw pair checkpoint, the canonical pairs'
    // distinct stage and checkpoint, the forest's broadcast, the result
    // checkpoint and the collect. Label propagation paid at least one
    // checkpoint per chain hop.
    assert(log.jobs.size <= 100,
      s"${log.jobs.size} jobs:\n${log.jobs.mkString("\n")}")
  }

  test("componentsLogRoundsPairs: four jobs per star-contraction round pair") {
    val chain = scala.util.Random.shuffle(
      (0L until 64L).map(i => (i, i + 1))).toDF("a", "b")
    val (out, log) = JobLog(spark) {
      graft.algos.Traversals.componentsLogRoundsPairs(chain)
        .as[(Long, Long)].collect()
    }
    assert(out.toSet == (1L to 64L).map(_ -> 0L).toSet)
    // checkpoints: the canonical pairs, then large/small-star rounds
    // alternating until a large-star round finds a star forest
    val checkpoints = log.actions.count(_ == "localCheckpoint")
    assert(log.actions == Seq.fill(checkpoints)("localCheckpoint") :+ "collect")
    val roundPairs = (checkpoints - 2) / 2
    assert(roundPairs >= 2 && checkpoints == 2 * roundPairs + 2)
    // per round pair: the large-star min-table broadcast and checkpoint,
    // the small-star min-table broadcast and checkpoint. Once: the
    // canonical pairs' distinct stage and checkpoint, the last
    // large-star round's broadcast and checkpoint, the collect.
    assert(log.jobs.size == 4 * roundPairs + 5,
      s"${log.jobs.size} jobs for $roundPairs round pairs:\n" +
        log.jobs.mkString("\n"))
  }

  test("sourceOverlap: identical sources jaccard 1, disjoint 0, estimator exact below capacity") {
    // sources A and B share exactly one of two shingle-sets; C is
    // disjoint from both; D duplicates A verbatim
    val d = Seq(
      (1L, "aa bb cc dd", "A"), (2L, "ee ff gg hh", "A"),
      (3L, "aa bb cc dd", "B"), (4L, "ii jj kk ll", "B"),
      (5L, "mm nn oo pp", "C"),
      (6L, "aa bb cc dd", "D"), (7L, "ee ff gg hh", "D"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.sourceOverlap(d, k = 64)
      .select("src_a", "src_b", "union_k", "inter_k", "jaccard_ppm")
      .as[(String, String, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // 4-token docs yield 2 distinct 3-gram shingles each; below the
    // sketch capacity the estimator is EXACT jaccard
    assert(out(("A", "D")) == (4L, 4L, 1000000L)) // identical sources
    assert(out(("A", "B")) == (6L, 2L, 333333L))  // share 2 of 6
    assert(out(("A", "C"))._2 == 0L)              // disjoint
    assert(out(("A", "C"))._3 == 0L)
    assert(out.size == 6) // all unordered pairs of 4 sources
    val again = Dedup.sourceOverlap(d.repartition(7), k = 64)
      .select("src_a", "src_b", "jaccard_ppm")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(again == out.view.mapValues(_._3).toMap)
  }

  test("keepBestPerCluster: highest score survives, ties to min id, singletons kept") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val d = Seq((1L, 10L), (2L, 40L), (3L, 40L), (4L, 1L), (5L, 7L),
      (6L, 3L)).toDF("doc_id", "q")
    val out = Dedup.keepBestPerCluster(d, pairs, scoreCol = "q")
      .select("doc_id", "cluster", "kept")
      .as[(Long, Long, Boolean)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out == Map(
      1L -> (1L, false), 2L -> (1L, true), // 2 and 3 tie at 40 -> min id 2
      3L -> (1L, false), 4L -> (4L, true), // singleton: own cluster, kept
      5L -> (5L, true), 6L -> (5L, false)))
  }

  test("keepBestPerCluster keeps exactly one doc per cluster, any pair graph") {
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 0L)).toDF("a", "b")
    val d = (0L until 8L).map(i => (i, (i * 37) % 11)).toDF("doc_id", "q")
    val out = Dedup.keepBestPerCluster(d, pairs, scoreCol = "q")
      .select("doc_id", "cluster", "kept")
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == 8)
    out.groupBy(_._2).foreach { case (cl, rows) =>
      assert(rows.count(_._3) == 1, s"cluster $cl kept ${rows.count(_._3)}")
    }
  }

  test("snapshotDiff: added/removed/changed only, md5 evidence columns") {
    val oldSnap = Seq((1L, "alpha", "en"), (2L, "beta", "en"),
      (3L, "gamma", "es")).toDF("doc_id", "text", "lang")
    val newSnap = Seq((2L, "beta", "en"), (3L, "gamma v2", "es"),
      (4L, "delta", "en")).toDF("doc_id", "text", "lang")
    val out = graft.ext.Upserts.snapshotDiff(oldSnap, newSnap, "doc_id",
        Seq("text", "lang"))
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    // 2 is unchanged -> absent from the delta
    assert(out == Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    val ev = graft.ext.Upserts.snapshotDiff(oldSnap, newSnap, "doc_id",
        Seq("text", "lang"))
      .filter(col("status") === "changed")
      .select("old_md5", "new_md5").as[(String, String)].head()
    assert(ev._1 != null && ev._2 != null && ev._1 != ev._2)
  }

  test("applyChangelog: last writer wins, D drops, I inserts, seq breaks ts ties") {
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("k", "v")
    val log = Seq(
      (1L, 1, 0, "U", 11L), (1L, 2, 0, "D", 0L),   // delete wins
      (2L, 1, 0, "D", 0L), (2L, 2, 0, "U", 22L),   // update wins
      (3L, 1, 1, "U", 31L), (3L, 1, 2, "U", 32L),  // seq tie-break
      (9L, 1, 0, "I", 90L))                        // fresh key insert
      .toDF("k", "ts", "seq", "op", "v")
    val out = graft.ext.Upserts.applyChangelog(base, log, "k")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(2L -> 22L, 3L -> 32L, 4L -> 40L, 9L -> 90L))
  }

  test("applyChangelog: empty log is identity") {
    val base = Seq((1L, 10L)).toDF("k", "v")
    val log = Seq.empty[(Long, Int, Int, String, Long)]
      .toDF("k", "ts", "seq", "op", "v")
    val out = graft.ext.Upserts.applyChangelog(base, log, "k")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 10L))
  }

  test("snapshotDiff separator prevents payload-boundary ambiguity") {
    // ("ab","c") vs ("a","bc") concatenate identically without the
    // \u0001 separator — the diff must still see them as changed
    val oldSnap = Seq((1L, "ab", "c")).toDF("doc_id", "t1", "t2")
    val newSnap = Seq((1L, "a", "bc")).toDF("doc_id", "t1", "t2")
    val out = graft.ext.Upserts.snapshotDiff(oldSnap, newSnap, "doc_id",
        Seq("t1", "t2"))
      .select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "changed"))
  }

  test("kmeans: separable clusters recovered; invariant under repartitioning (X2)") {
    // two tight groups around (+0.5, +0.5, ...) and (-0.5, -0.5, ...)
    val emb = (0 until 10).map { i =>
      val base = if (i < 5) 0.5f else -0.5f
      (i.toLong, Array.fill(8)(base + i * 0.001f))
    }.toDF("vec_id", "embedding")
    val got = Clustering.kmeans(emb, k = 2, iters = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    // one cluster holds 0-4, the other 5-9
    assert((0 until 5).map(i => got(i.toLong)).toSet.size == 1)
    assert((5 until 10).map(i => got(i.toLong)).toSet.size == 1)
    assert(got(0L) != got(9L))
    val again = Clustering.kmeans(emb.repartition(7), k = 2, iters = 2)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(got == again)
  }

  test("pqEncode: per-subspace codes separate only where slices differ (X2)") {
    // subspace 0 separates A={1,3} from B={2,4}; subspace 1 identical
    // everywhere -> one code, zero distortion in both subspaces
    val emb = Seq(
      (1L, Array(1.0f, 1.0f, 7.0f, 7.0f)), (2L, Array(9.0f, 9.0f, 7.0f, 7.0f)),
      (3L, Array(1.0f, 1.0f, 7.0f, 7.0f)), (4L, Array(9.0f, 9.0f, 7.0f, 7.0f)))
      .toDF("vec_id", "embedding")
    val got = rows(Clustering.pqEncode(emb, dims = 4, m = 2, k = 2, iters = 1))
    assert(got === Set(
      Seq(1L, 0, 1, 0L), Seq(2L, 0, 2, 0L), Seq(3L, 0, 1, 0L), Seq(4L, 0, 2, 0L),
      Seq(1L, 1, 1, 0L), Seq(2L, 1, 1, 0L), Seq(3L, 1, 1, 0L), Seq(4L, 1, 1, 0L)))
  }

  test("pqEncode with m=1 degenerates to whole-vector kmeans (X2)") {
    val emb = (0 until 10).map { i =>
      val base = if (i < 5) 0.5f else -0.5f
      (i.toLong, Array.fill(8)(base + i * 0.001f))
    }.toDF("vec_id", "embedding")
    val pq = Clustering.pqEncode(emb, dims = 8, m = 1, k = 2, iters = 2)
      .select("vec_id", "code", "d2").as[(Long, Int, Long)].collect().toSet
    val km = Clustering.kmeans(emb, k = 2, iters = 2)
      .select("vec_id", "cluster", "d2").as[(Long, Int, Long)].collect().toSet
    assert(pq == km)
  }

  test("annRecall: perfect approx scores 1e6 ppm; missing neighbors subtract (X2)") {
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    // query 1: approx == exact; query 2: found 1 of 3 (+ a stray
    // neighbor that must not count)
    val approx = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 21L, 1), (2L, 99L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    val got = rows(Similarity.annRecall(exact, approx, 3))
    assert(got === Set(
      Seq(1L, 3L, 3L, 1000000L),
      Seq(2L, 3L, 1L, 333333L)))
    // rows beyond k on either side are ignored
    val deep = Similarity.annRecall(exact, approx, 2)
      .select("query_id", "k_exact").as[(Long, Long)].collect().toMap
    assert(deep == Map(1L -> 2L, 2L -> 2L))
  }

  test("mutualKnnClusters: separable groups form components, noise stays singleton (X2)") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.01f)), (3L, Array(0.98f, 0.02f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.01f, 0.99f)), (6L, Array(0.02f, 0.98f)),
      (9L, Array(0.7f, 0.7f)))  // equidistant noise: kNN never mutual
      .toDF("vec_id", "embedding")
    val got = Similarity.mutualKnnClusters(emb, k = 2, cells = 1, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L, 9L -> 9L))
    // repartitioning-invariant discovery
    val again = Similarity.mutualKnnClusters(emb.repartition(5), k = 2,
      cells = 1, iters = 1).as[(Long, Long)].collect().toMap
    assert(again == got)
  }

  test("pqAdcTopK: zero-distortion corpus makes ADC distances exact (X2)") {
    // 4 slice combos x2 copies; centroids land exactly on the slice
    // values (all d2=0), so ADC = true squared quantized distance:
    // subspace deltas 8e6 and 4e6 -> 128e12 and 32e12 per subspace
    val vals = Map(
      1L -> Array(1.0f, 1.0f, 7.0f, 7.0f), 2L -> Array(9.0f, 9.0f, 3.0f, 3.0f),
      3L -> Array(1.0f, 1.0f, 3.0f, 3.0f), 4L -> Array(9.0f, 9.0f, 7.0f, 7.0f))
    val emb = (1L to 8L).map(i => (i, vals(if (i > 4) i - 4 else i)))
      .toDF("vec_id", "embedding")
    val (codes, codebook) = Clustering.pqModel(emb, dims = 4, m = 2, k = 2, iters = 1)
    assert(codes.filter(col("d2") =!= 0L).count() == 0)
    val got = Clustering.pqAdcTopK(codes, codebook,
        emb.filter($"vec_id" === 1L), dims = 4, m = 2, topK = 7)
      .select("neighbor_id", "adc_d2", "rank")
      .as[(Long, Long, Int)].collect().sortBy(_._3)
    assert(got.toSeq == Seq(
      (5L, 0L, 1),                       // exact duplicate of the query
      (3L, 32000000000000L, 2), (7L, 32000000000000L, 3),
      (4L, 128000000000000L, 4), (8L, 128000000000000L, 5),
      (2L, 160000000000000L, 6), (6L, 160000000000000L, 7)))
  }

  test("pqEncodeWith: encoding against the model's codebook reproduces its codes (X2)") {
    val emb = (0 until 60).map(i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 3 + d) * 5).toFloat)))
      .toDF("vec_id", "embedding")
    val (codes, codebook) = Clustering.pqModel(emb, dims = 8, m = 2, k = 4, iters = 2)
    val enc = Clustering.pqEncodeWith(emb, codebook, dims = 8, m = 2)
    assert(rows(enc) === rows(codes))
    // a fresh batch encodes against the persisted codebook without
    // touching the training corpus
    val batch = Seq((1000L, Array.tabulate(8)(d => (math.sin(d) * 5).toFloat)))
      .toDF("vec_id", "embedding")
    val bEnc = Clustering.pqEncodeWith(batch, codebook, dims = 8, m = 2)
      .select("vec_id", "subspace").as[(Long, Int)].collect().toSet
    assert(bEnc == Set((1000L, 0), (1000L, 1)))
  }

  test("appendIvfPq: re-appended training vectors reproduce their cells and codes (r11)") {
    // the pqEncodeWith identity lifted to the whole persisted layout:
    // appending the training slice under offset ids must land every
    // vector in the SAME cell with the SAME codes — raw and residual
    val emb = (0 until 80).map(i =>
      (i.toLong, Array.tabulate(8)(d => (math.sin(i * 3 + d) * 5).toFloat)))
      .toDF("vec_id", "embedding")
    for (res <- Seq(false, true)) {
      val path = java.nio.file.Files
        .createTempDirectory(s"ivfpq_app_$res").toString
      Clustering.writeIvfPq(emb, path, dims = 8, cells = 3, m = 2, k = 4,
        iters = 1, residual = res)
      Clustering.appendIvfPq(spark,
        path, emb.withColumn("vec_id", $"vec_id" + 10000L), dims = 8,
        m = 2, residual = res)
      val codes = spark.read.parquet(s"$path/codes")
      val mismatch = codes.filter($"vec_id" < 10000L)
        .join(codes.filter($"vec_id" >= 10000L)
            .select(($"vec_id" - 10000L).as("vec_id"), $"subspace",
              $"code".as("code2"), $"cell".as("cell2")),
          Seq("vec_id", "subspace"))
        .filter($"code" =!= $"code2" || $"cell" =!= $"cell2")
      assert(mismatch.count() == 0L, s"residual=$res")
      // every appended row exists (same multiplicity)
      assert(codes.filter($"vec_id" >= 10000L).count() ==
        codes.filter($"vec_id" < 10000L).count())
    }
  }

  test("leidenTwoLevel: equals louvainTwoLevel's partition when every community is connected (r11)") {
    import graft.algos.LinkAnalysis
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("a", "b")
    def parts(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().groupBy(_._2)
        .values.map(_.map(_._1).toSet).toSet
    assert(parts(LinkAnalysis.leidenTwoLevel(tri, 4, 4)) ==
      parts(LinkAnalysis.louvainTwoLevel(tri, 4, 4)))
  }

  test("rrfFuse: hand-computed reciprocal-rank fusion; appearing in both lists beats one top rank (r11)") {
    // list A: doc1@1, doc2@2; list B: doc2@1, doc3@2 — doc2 fuses
    // 1e6/62 + 1e6/61 = 16129 + 16393 = 32522 > doc1's 1e6/61 = 16393
    val a = Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L), (3L, 2L)).toDF("doc_id", "rank")
    val out = graft.ext.TextOps.rrfFuse(Seq(a, b), k = 60, topK = 10)
      .as[(Long, Long, Long, Int)].collect().toList
    assert(out == List(
      (2L, 32522L, 2L, 1),
      (1L, 16393L, 1L, 2),
      (3L, 16129L, 1L, 3)))
  }

  test("piiAudit: detection counts + identifying-class flag (X3)") {
    val docs = Seq(
      (1L, "mail a@b.com and c.d@e.org then see https://x.y/z page 42"),
      (2L, "no pii here"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = rows(TextOps.piiAudit(docs))
    assert(got === Set(
      Seq(1L, 2L, 1L, 1L, true),
      Seq(2L, 0L, 0L, 0L, false),
      Seq(3L, 0L, 0L, 0L, false)))
  }

  test("embeddingOutliers: far vector in its cell flags, tight mass does not (X2)") {
    val emb = ((0 until 5).map(i => (i.toLong, Array(0.0f, 0.0f))) :+
        (9L, Array(10.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    val got = Clustering.embeddingOutliers(emb, k = 1, iters = 1)
      .select("vec_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(got(9L) && (0 until 5).forall(i => !got(i.toLong)))
    // a uniform cell has no outliers: every d2*n == sum*1 < 2*sum
    val uni = (0 until 6).map(i =>
        (i.toLong, Array((i % 2).toFloat, 1.0f - (i % 2))))
      .toDF("vec_id", "embedding")
    val g2 = Clustering.embeddingOutliers(uni, k = 1, iters = 1)
      .select("is_outlier").as[Boolean].collect()
    assert(g2.forall(!_))
  }

  test("vocabFreqCard: counts-of-counts with vocab shares (X3)") {
    import graft.ext.TextOps
    // a a a (c=3), b c (c=1 twice) -> N_1=2 (666666 ppm), N_3=1 (333333)
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TextOps.vocabFreqCard(docs, smallest = 20)
      .orderBy("c").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L, 666666L), (3L, 1L, 333333L)))
    // `smallest` keeps only the lowest counts present
    val one = TextOps.vocabFreqCard(docs, smallest = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(one == Seq((1L, 2L, 666666L)))
  }

  test("heapsCurve: cumulative vocab at doc-id checkpoints (X3)") {
    import graft.ext.TextOps
    // maxId=3, buckets=2 -> span=2: docs 0,1 -> b0; 2,3 -> b1.
    // b0: 4 tokens, first-seen {a,b,c}; b1: 4 tokens, first-seen {d}
    val d = Seq((0L, "a b"), (1L, "a c"), (2L, "c d d"), (3L, "a"))
      .toDF("doc_id", "text")
    val got = TextOps.heapsCurve(d, buckets = 2)
      .orderBy("checkpoint").as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((0L, 4L, 3L, 750000L), (1L, 8L, 4L, 500000L)))
    // a checkpoint with no new terms still reports the token growth
    val d2 = Seq((0L, "a a"), (1L, "a a a")).toDF("doc_id", "text")
    val g2 = TextOps.heapsCurve(d2, buckets = 2)
      .orderBy("checkpoint").as[(Long, Long, Long, Long)].collect().toSeq
    assert(g2 == Seq((0L, 2L, 1L, 500000L), (1L, 5L, 1L, 200000L)))
  }

  test("zipfCard: freq at power-of-two ranks off counts-of-counts (X3)") {
    import graft.ext.TextOps
    // counts: a=5, b=3, c=3, d=1, e=1, f=1 -> ranked freqs 5,3,3,1,1,1
    val d = Seq((0L, "a a a a a b b b c c c d e f")).toDF("doc_id", "text")
    val got = TextOps.zipfCard(d, maxLogRank = 3)
      .as[(Long, Long, Long)].collect().toSeq
    // rank 8 exceeds the 6-term vocabulary -> dropped, not padded
    assert(got == Seq((1L, 5L, 5L), (2L, 3L, 6L), (4L, 1L, 4L)))
  }

  test("dominantDirectionCard: single-axis variance projects exactly (X2)") {
    // only dim 0 varies -> Gram is rank-1 on e0, the iteration locks
    // to (1000, 0), and proj = y0 * 1000 with y0 = n*q0 - S0
    val emb = Seq(
      (1L, Array(0.0f, 0.5f)), (2L, Array(1.0f, 0.5f)),
      (3L, Array(2.0f, 0.5f)), (4L, Array(3.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Clustering.dominantDirectionCard(emb, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> -6000000000L, 2L -> -2000000000L,
      3L -> 2000000000L, 4L -> 6000000000L))
    // identical vectors always project identically
    val dup = Clustering.dominantDirectionCard(
      emb.unionByName(Seq((5L, Array(3.0f, 0.5f))).toDF("vec_id", "embedding")),
      rounds = 3).as[(Long, Long)].collect().toMap
    assert(dup(4L) == dup(5L))
  }

  test("int8QuantCard: exact codes, extremes reconstruct exactly, midpoints audit (X2)") {
    val emb = Seq(
      (1L, Array(0.0f, 1.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val got = Clustering.int8QuantCard(emb)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // dims span [0, 1e6]: extremes code to 0/255 and reconstruct with
    // zero error; 0.5 codes to 127 -> dequant 498039 -> err 1961
    assert(got(1L) == ((2L, 255L, 0L, 0L)))
    assert(got(2L) == ((2L, 255L, 0L, 0L)))
    assert(got(3L) == ((2L, 254L, 1961L, 3922L)))
    // a constant dimension (mx == mn) codes 0 with zero error
    val const = Seq((1L, Array(0.25f)), (2L, Array(0.25f)))
      .toDF("vec_id", "embedding")
    val g2 = Clustering.int8QuantCard(const)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(g2.forall(r => r._3 == 0L && r._5 == 0L))
  }

  test("synthesizeBmp: the hand-rolled container decodes identically to PNG (X4)") {
    import graft.ext.Multimodal
    val ids = Seq(0L, 1L, 7L).toDF("doc_id")
    val viaBmp = Multimodal.decodeImage(
        Multimodal.synthesizeBmp(ids, "doc_id", 12, 8), 16)
      .select("media_id", "decode_ok", "width", "height", "hist")
      .as[(Long, Boolean, Int, Int, Seq[Long])].collect().toSet
    val viaPng = Multimodal.decodeImage(
        Multimodal.synthesizePng(ids, "doc_id", 12, 8), 16)
      .select("media_id", "decode_ok", "width", "height", "hist")
      .as[(Long, Boolean, Int, Int, Seq[Long])].collect().toSet
    assert(viaBmp == viaPng && viaBmp.forall(_._2))
  }

  test("synthesizeTiff: the hand-rolled IFD decodes identically to PNG (X4)") {
    import graft.ext.Multimodal
    val ids = Seq(0L, 1L, 7L).toDF("doc_id")
    val viaTiff = Multimodal.decodeImage(
        Multimodal.synthesizeTiff(ids, "doc_id", 12, 8), 16)
      .select("media_id", "decode_ok", "width", "height", "hist")
      .as[(Long, Boolean, Int, Int, Seq[Long])].collect().toSet
    val viaPng = Multimodal.decodeImage(
        Multimodal.synthesizePng(ids, "doc_id", 12, 8), 16)
      .select("media_id", "decode_ok", "width", "height", "hist")
      .as[(Long, Boolean, Int, Int, Seq[Long])].collect().toSet
    assert(viaTiff == viaPng && viaTiff.forall(_._2))
    // odd strip length exercises the word-alignment pad before the IFD
    val odd = Multimodal.decodeImage(
        Multimodal.synthesizeTiff(ids, "doc_id", 3, 3), 16)
      .select("decode_ok").as[Boolean].collect()
    assert(odd.forall(identity))
  }

  test("synthesizeAiff: the hand-rolled IFF container decodes identically to WAV (X4)") {
    import graft.ext.Multimodal
    val ids = Seq(0L, 1L, 7L).toDF("doc_id")
    val viaAiff = Multimodal.decodeAudio(
        Multimodal.synthesizeAiff(ids, "doc_id", 200, 8000), 16)
      .select("media_id", "decode_ok", "n_samples", "sum_q", "hist")
      .as[(Long, Boolean, Long, Long, Seq[Long])].collect().toSet
    val viaWav = Multimodal.decodeAudio(
        Multimodal.synthesizeWav(ids, "doc_id", 200, 8000), 16)
      .select("media_id", "decode_ok", "n_samples", "sum_q", "hist")
      .as[(Long, Boolean, Long, Long, Seq[Long])].collect().toSet
    assert(viaAiff == viaWav && viaAiff.forall(_._2))
    // a non-power-of-two rate exercises the derived 80-bit extended
    // float (22050 = 1.345...×2^14 — mantissa bits beyond the top byte)
    val odd = Multimodal.decodeAudio(
        Multimodal.synthesizeAiff(ids, "doc_id", 50, 22050), 16)
      .select("decode_ok", "sample_rate").as[(Boolean, Int)].collect()
    assert(odd.forall(r => r._1 && r._2 == 22050))
    // poison degradation
    val poison = Seq((9L, "audio", Array[Byte](70, 79, 82, 77, 0, 0),
        "audio/aiff"))
      .toDF("media_id", "modality", "payload", "mime")
    assert(Multimodal.decodeAudio(poison, 16)
      .select("decode_ok").as[Boolean].collect().forall(!_))
  }

  test("canonicalUrls: every documented step, hand-checked (X3)") {
    import graft.ext.TextOps
    val cases = Seq(
      (1L, "HTTPS://www.Example.COM:443/A/B/?utm_source=g&x=1&utm_medium=m#frag",
        "example.com", "example.com/A/B?x=1"),
      (2L, "http://example.com:80/", "example.com", "example.com"),
      (3L, "example.com/path", "example.com", "example.com/path"),   // no scheme
      (4L, "https://Sub.Example.com/Q?utm_only=1", "sub.example.com",
        "sub.example.com/Q"),                  // all params dropped -> no ?
      (5L, "http://www.a.com/p?b=2&a=1", "a.com", "a.com/p?b=2&a=1"), // order kept
      (6L, "  http://a.com/x//  ", "a.com", "a.com/x")) // trim + slash run
      .toDF("id", "url", "want_host", "want_canon")
    val got = TextOps.canonicalUrls(cases, "id", "url")
      .join(cases.select("id", "want_host", "want_canon"), Seq("id"))
      .as[(Long, String, String, String, String)].collect()
    got.foreach { case (id, host, canon, wh, wc) =>
      assert(host == wh, s"id=$id host $host != $wh")
      assert(canon == wc, s"id=$id canon $canon != $wc")
    }
  }

  test("expectationsCard: NULL rule results count as failures (X14)") {
    import graft.ext.Profiling
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"), (5L, null))
      .toDF("v", "s")
    val out = Profiling.expectationsCard(df, Seq(
        "v_pos" -> (col("v") > 0),        // null v -> NULL -> fail
        "s_nonempty" -> (length(col("s")) > 0)))
      .select("rule", "n_rows", "n_pass", "n_fail", "pass_ppm")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("v_pos") == ((3L, 2L, 1L, 666666L)))
    assert(out("s_nonempty") == ((3L, 2L, 1L, 666666L)))
  }

  test("searchIndexBm25: saturation and length normalization rank as BM25 (X3)") {
    import graft.ext.TextOps
    // d1: one hit in a SHORT doc; d2: one hit in a LONG doc (length
    // norm ranks d1 first); d3: many hits (saturating, still first)
    val docs = Seq(
      (1L, "apple pie"),
      (2L, "apple " + Seq.fill(40)("filler").mkString(" ")),
      (3L, "apple apple apple apple pie"),
      (4L, "nothing relevant here at all"))
      .toDF("doc_id", "text")
    TextOps.writeInvertedIndex(docs, "extspec_bm25", buckets = 2)
    val out = TextOps.searchIndexBm25(spark, "extspec_bm25",
        Seq("apple"), k = 10)
      .select("doc_id", "score_micro").as[(Long, Long)].collect()
    val byDoc = out.toMap
    assert(!byDoc.contains(4L))
    assert(byDoc(3L) > byDoc(1L))            // more hits score higher
    assert(byDoc(1L) > byDoc(2L))            // shorter doc wins at tf=1
    // saturation: 4 hits score FAR less than 4x one hit
    assert(byDoc(3L) < 3 * byDoc(1L))
  }

  test("ivfPqTopK: probing every cell == full-corpus ADC; fewer probes only shrink (X2)") {
    import graft.ext.Clustering
    val emb = (1 to 40).map(i => (i.toLong,
        Array.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" <= 3)
    // nProbe = cells degenerates to full ADC: every cell probed means
    // every code scored — must EQUAL pqAdcTopK bit for bit (the same
    // kmeans/PQ training arguments produce the same artifacts)
    val (codes, cb) = Clustering.pqModel(emb, dims = 8, m = 2, k = 4,
      iters = 1)
    val full = Clustering.pqAdcTopK(codes, cb, queries, dims = 8, m = 2,
        topK = 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    val allProbes = Clustering.ivfPqTopK(emb, queries, dims = 8,
        cells = 3, nProbe = 3, m = 2, k = 4, iters = 1, topK = 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(allProbes == full)
    // fewer probes only SHRINK the candidate set: every returned pair
    // must exist in the full ADC scoring with the same distance
    val fullDist = full.map(r => (r._1, r._2) -> r._3).toMap ++
      Clustering.pqAdcTopK(codes, cb, queries, dims = 8, m = 2,
          topK = 1000)
        .as[(Long, Long, Long, Int)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val narrow = Clustering.ivfPqTopK(emb, queries, dims = 8,
        cells = 3, nProbe = 1, m = 2, k = 4, iters = 1, topK = 5)
      .as[(Long, Long, Long, Int)].collect()
    assert(narrow.nonEmpty)
    narrow.foreach { case (q, n, d, _) =>
      assert(fullDist.get((q, n)).contains(d), s"($q,$n) d=$d not in full ADC")
    }
  }

  test("cellShareDrift: separated slices max out, balanced slices read 0 (X14)") {
    // two separable blobs; vec 1 seeds cell A, vec 2 seeds cell B
    val emb = Seq(
      (1L, Array(10.0f, 0.0f)), (3L, Array(10.0f, 0.0f)),
      (5L, Array(10.0f, 1.0f)), (7L, Array(10.0f, 1.0f)),
      (2L, Array(0.0f, 10.0f)), (4L, Array(0.0f, 10.0f)),
      (6L, Array(1.0f, 10.0f)), (8L, Array(1.0f, 10.0f)))
      .toDF("vec_id", "embedding")
    // ref = blob A exactly: each cell is pure, so both deltas max out
    val sep = Clustering.cellShareDrift(emb, col("vec_id") % 2 === 1, k = 2)
      .select("cluster", "delta_ppm").as[(Int, Long)].collect().toMap
    assert(sep.size == 2 && sep.values.toSet == Set(1000000L))
    // ref = a balanced half of each blob: zero drift everywhere
    val bal = Clustering.cellShareDrift(emb, col("vec_id") <= 4, k = 2)
      .select("delta_ppm").as[Long].collect()
    assert(bal.length == 2 && bal.forall(_ == 0L))
  }

  test("dupRateByGroup: sources with twin docs flag, clean sources rate 0 (X1)") {
    val body = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, body, "web"), (2L, body, "web"),        // verbatim twins
      (3L, "completely unrelated text one two three four five", "web"),
      (4L, "another clean document with its own words entirely", "books"),
      (5L, "fifth unique doc nothing shared with anything else", "books"))
      .toDF("doc_id", "text", "source")
    val got = rows(graft.ext.Dedup.dupRateByGroup(docs, "source", 0.7))
    assert(got === Set(
      Seq("web", 3L, 2L, 666666L),
      Seq("books", 2L, 0L, 0L)))
  }

  test("packByTokenBudget: docs join the pack their first token falls in (X3)") {
    val d = Seq((1L, "a b c", "s1"), (2L, "d e", "s1"), (3L, "f g h i", "s1"),
      (4L, "x", "s2"))
      .toDF("doc_id", "text", "grp")
    val out = graft.ext.TextOps.packByTokenBudget(d, budget = 4,
        partitionCols = Seq("grp"))
      .select("doc_id", "n_tokens", "pack_id")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // s1 offsets: doc1 at 0 -> pack 0; doc2 at 3 -> pack 0; doc3 at 5 -> pack 1
    assert(out == Map(1L -> (3L, 0L), 2L -> (2L, 0L), 3L -> (4L, 1L),
      4L -> (1L, 0L)))
  }

  test("crossSplitContamination counts shared shingles per eval doc (X1)") {
    val d = Seq(
      (1L, "one two three four five six", "train"),
      (2L, "one two three four five seven", "eval"),  // shares 2 5-shingles? no: 1
      (3L, "totally unrelated words go here now", "eval"),
      (4L, "one two three four five six", "test"))     // exact dup of train doc
      .toDF("doc_id", "text", "split")
    val out = Dedup.crossSplitContamination(d, w = 5)
      .select("eval_doc", "n_shared", "n_sources")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // doc2: shingles {one..five, two..seven}; shares "one two three four five"
    // doc4: both of doc1's shingles
    assert(out == Map(2L -> (1L, 1L), 4L -> (2L, 1L)))
    assert(!out.contains(3L))
  }

  test("cosine brute force: identical vector ranks first (X2)") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)), (3L, Array(0.9f, 0.1f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    assert(top.find(_._2 == 1).map(_._1).contains(1L))
    assert(top.find(_._2 == 3).map(_._1).contains(2L))
  }

  test("JL random projection: independent md5-parity reference + invariances (X2)") {
    // independent reference: JVM MessageDigest md5, same 15-hex-digit
    // parity rule, same floor(x*1e6) quantization
    def sgn(i: Int, j: Int): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$j".getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) -1L else 1L
    }
    def ref(v: Array[Float], outDims: Int): Seq[Long] =
      (0 until outDims).map(j => v.zipWithIndex.map { case (x, i) =>
        sgn(i, j) * math.floor(x.toDouble * 1000000.0).toLong }.sum)
    val emb = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f)), (1L, Array(1.0f, -0.5f, 0.25f)),
      (2L, Array(-2.0f, 0.125f, 3.5f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProjection(emb, 4)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(got(0L) == ref(Array(1.0f, -0.5f, 0.25f), 4))
    assert(got(2L) == ref(Array(-2.0f, 0.125f, 3.5f), 4))
    // identical input vectors project identically
    assert(got(0L) == got(1L))
    // projection is repartitioning-invariant (map-only, no accumulation order)
    val re = Similarity.randomProjection(emb.repartition(7), 4)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(re == got)
  }

  test("JL projection locality: near pair stays closer than far pair (X2)") {
    val base = Array.tabulate(32)(i => math.sin(i + 1).toFloat)
    val near = base.clone(); near(0) = near(0) + 0.001f
    val far = Array.tabulate(32)(i => math.cos(3 * i + 2).toFloat)
    val emb = Seq((0L, base), (1L, near), (2L, far)).toDF("vec_id", "embedding")
    val p = Similarity.randomProjection(emb, 8)
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    def l1(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
    assert(l1(p(0L).toSeq, p(1L).toSeq) < l1(p(0L).toSeq, p(2L).toSeq))
  }

  test("native cosine Expression == HOF cosine, and SQL registration works") {
    val emb = Seq(
      (0L, Array(1.0f, 2.0f, 3.0f)), (1L, Array(-1.0f, 0.5f, 2.0f)))
      .toDF("vec_id", "embedding")
    val both = emb.as("x").crossJoin(emb.as("y"))
      .select(
        Similarity.cosine(col("x.embedding"), col("y.embedding")).as("native"),
        Similarity.cosineHof(col("x.embedding"), col("y.embedding")).as("hof"))
      .collect()
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    // zero vector: HOF raises DIVIDE_BY_ZERO under ANSI; native
    // defines the degenerate case as 0.0
    val zero = Seq((0L, Array(0.0f, 0.0f), Array(1.0f, 2.0f)))
      .toDF("id", "a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(zero.head.getDouble(0) == 0.0)
    // SQL path: register the EXACT builders GraftExtensions injects
    GraftExtensions.functions.foreach { case (ident, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        ident.funcName, builder, "built-in")
    }
    emb.createOrReplaceTempView("emb_t")
    val viaSql = spark.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) AS c
        |FROM emb_t a JOIN emb_t b ON a.vec_id = 0 AND b.vec_id = 0""".stripMargin)
      .head.getDouble(0)
    assert(math.abs(viaSql - 1.0) < 1e-12)
    // sorted_jaccard over sorted bigint arrays; simhash64 over hashes
    val j = spark.sql(
      "SELECT sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j")
      .head.getDouble(0)
    assert(j == 0.5)
    val sh = spark.sql(
      "SELECT simhash64(array(1L, 2L, 3L)) AS h, simhash64(array(1L, 2L, 3L)) AS h2")
      .head
    assert(sh.getLong(0) == sh.getLong(1))
  }

  test("LSH topK candidates are a subset of brute-force universe (X2)") {
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.lshTopK(emb, emb.filter($"vec_id" < 2), 5, planes = 2)
    val byQ = out.select("query_id", "rank").as[(Long, Int)].collect()
    assert(byQ.nonEmpty && byQ.forall(_._2 <= 5))
  }

  test("portable md5 sign-LSH: identical vectors share a bucket; topK finds the twin (X2)") {
    val emb = Seq(
      (0L, Array(1.0f, 0.2f, -0.5f)), (1L, Array(1.0f, 0.2f, -0.5f)), // twin of 0
      (2L, Array(-1.0f, 0.4f, 0.8f)), (3L, Array(0.3f, -0.9f, 0.1f)))
      .toDF("vec_id", "embedding")
    val buckets = emb
      .select($"vec_id", Similarity.lshBucketPortable($"embedding", 6).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(buckets(0L) == buckets(1L)) // identical input -> identical bucket
    assert(buckets.values.forall(b => b >= 0 && b < 64)) // 6 planes -> [0, 2^6)
    // bucket is a pure function of content: repartitioning can't move it
    val again = emb.repartition(5)
      .select($"vec_id", Similarity.lshBucketPortable($"embedding", 6).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(again == buckets)
    val top = Similarity.lshTopKPortable(emb, emb.filter($"vec_id" === 0), 3)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    assert(top.find(_._2 == 1).map(_._1).contains(1L)) // twin ranks first
    // the precomputed-sign static form is bit-identical to the per-row
    // md5 derivation — that equality is what keeps the x28 oracle and
    // persisted bucket layouts valid after the hash-free rewrite
    val static = emb
      .select($"vec_id",
        Similarity.lshBucketPortableStatic($"embedding", 6, 3).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(static == buckets)
  }

  test("bloomPrefilter: no false negatives; saturation and precision regimes") {
    import graft.ext.Skew
    val dim = (0L until 10L).toDF("k")
    val fact = (0L until 200L).toDF("k")
    // generous m: Bloom keeps exactly the true matches (no FPs at this
    // load factor is overwhelmingly likely but NOT guaranteed — assert
    // the guaranteed direction, superset-of-matches, plus a sane cap)
    val bits = Skew.bloomBits(dim, "k", m = 65536, h = 2)
    val kept = Skew.bloomPrefilter(fact, "k", bits, m = 65536, h = 2)
      .as[Long].collect().toSet
    assert((0L until 10L).toSet.subsetOf(kept), "a Bloom filter never drops a true match")
    assert(kept.size < 50, s"65536-bit filter over 10 keys should be precise, kept ${kept.size}")
    // saturated m: every bit set -> everything kept (the degenerate end)
    val satBits = Skew.bloomBits((0L until 64L).toDF("k"), "k", m = 4, h = 2)
    val satKept = Skew.bloomPrefilter(fact, "k", satBits, m = 4, h = 2)
    assert(satKept.count() == 200L)
    // deterministic under repartitioning
    val again = Skew.bloomPrefilter(fact.repartition(7), "k", bits,
      m = 65536, h = 2).as[Long].collect().toSet
    assert(again == kept)
  }

  test("estimatorCalibration: confusion counts against the exact leg (X1)") {
    val d = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g h"),   // exact dup of 0: jaccard 1, est 1e6
      (2L, "a b c d e f g x"),   // near dup: jaccard 5/7 >= 0.5
      (3L, "p q r s t u v w"))   // disjoint
      .toDF("doc_id", "text")
    val nCand = Dedup.minhashLshPortable(d, 0.0).count()
    val nGt = Dedup.minhashLshPortable(d, 0.5).count()
    assert(nGt >= 2 && nCand >= nGt) // fixture sanity
    val out = Dedup.estimatorCalibration(d, Seq(0L, 1000001L))
      .select("thr_ppm", "tp", "fp", "fn", "precision_ppm", "recall_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // threshold 0: everything predicted positive -> no false negatives,
    // recall exactly 1e6, confusion partitions the candidate universe
    assert(out(0L) == ((0L, nGt, nCand - nGt, 0L,
      nGt * 1000000L / nCand, 1000000L)))
    // impossible threshold: nothing predicted -> tp = fp = 0, all GT
    // pairs are misses, guarded divisions yield 0 not errors
    assert(out(1000001L) == ((1000001L, 0L, 0L, nGt, 0L, 0L)))
  }

  test("multi-probe LSH: superset of single-probe; finds Hamming-1 neighbors (X2)") {
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val buckets = emb
      .select($"vec_id", Similarity.lshBucketPortableStatic($"embedding", 6, 8).as("b"))
      .as[(Long, Long)].collect().toMap
    // fixture precondition: at least one pair of vectors whose buckets
    // differ in exactly one plane bit (re-pick the corpus if this
    // ever fails — the assertions below depend on it)
    val h1 = (for {
      q <- 0L until 5L; n <- 0L until 40L if q != n
      if java.lang.Long.bitCount(buckets(q) ^ buckets(n)) == 1
    } yield (q, n)).toSet
    assert(h1.nonEmpty, "fixture has no Hamming-1 pair among queries 0-4")
    val queries = emb.filter($"vec_id" < 5)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = pairs(Similarity.lshTopKPortable(emb, queries, 40))
    val multi = pairs(Similarity.lshTopKMultiProbe(emb, queries, 40))
    // k=40 never truncates, so multi-probe candidates are a strict
    // superset: everything single-probe found, plus every Hamming-1 pair
    assert(single.subsetOf(multi))
    assert(h1.subsetOf(multi))
    assert(h1.intersect(single).isEmpty,
      "a Hamming-1 pair is by definition in a DIFFERENT single-probe bucket")
    // deterministic under repartitioning
    val again = pairs(Similarity.lshTopKMultiProbe(emb.repartition(7), queries, 40))
    assert(again == multi)
  }

  test("portable static LSH matches dynamic on the corpus embeddings table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val dim = emb.select(size($"embedding")).head.getInt(0)
    val dyn = emb.select($"vec_id",
        Similarity.lshBucketPortable($"embedding", 6).as("b"))
      .as[(Long, Long)].collect().toMap
    val sta = emb.select($"vec_id",
        Similarity.lshBucketPortableStatic($"embedding", 6, dim).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(sta == dyn)
  }

  test("blocked embed near-dup: subset of exact; exact duplicates never missed (X1)") {
    val emb = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat))
    }.toDF("vec_id", "embedding")
    // inject exact duplicates (the scenario blocking is FOR)
    val withDups = emb.unionByName(
      emb.withColumn("vec_id", $"vec_id" + 100L))
    val blocked = Dedup.embeddingNearDupBlocked(withDups, 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val exact = Dedup.embeddingNearDup(withDups, 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // candidate blocking can only REMOVE pairs, never invent them
    assert(blocked.subsetOf(exact))
    // identical vectors share every bucket in every rep: every injected
    // twin pair is found — recall on true duplicates is exactly 100%
    (0L until 30L).foreach { i =>
      assert(blocked.contains((i, i + 100L)), s"twin pair $i missed")
    }
    // empty corpus: no probe crash, empty result
    assert(Dedup.embeddingNearDupBlocked(emb.limit(0), 0.9).count() == 0)
  }

  test("embeddingNearDup: partition-invariant, and the pair sweep runs on every core (X1)") {
    val emb = (0L until 60L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 0.37 + j % 3).toFloat))
    }.toDF("vec_id", "embedding")
    val one = Dedup.embeddingNearDup(emb.coalesce(1), 0.5)
    val eight = Dedup.embeddingNearDup(emb.repartition(8), 0.5)
    val got = one.as[(Long, Long, Double)].collect()
    assert(got.length > 100 && got.forall(t => t._1 < t._2))
    assert(got.toSet == eight.as[(Long, Long, Double)].collect().toSet)
    // the streamed side of the all-pairs join is spread over
    // defaultParallelism partitions even when the input is one split:
    // the final (pair) stage runs one task per partition of this RDD
    assert(one.queryExecution.toRdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
  }

  test("chunking: overlapping stride windows, no redundant-subset tail (X3)") {
    val d = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val out = TextOps.chunk(d, window = 4, stride = 2).orderBy("chunk_idx")
      .select("chunk_idx", "chunk_text", "chunk_tokens")
      .as[(Int, String, Long)].collect()
    // the last window reaches the final token; a start at 8 would be a
    // strict subset of the chunk before it and must NOT be emitted
    assert(out.map(_._2).toSeq == Seq(
      "a b c d", "c d e f", "e f g h", "g h i j"))
    assert(out.map(_._3).toSeq == Seq(4L, 4L, 4L, 4L))
    // short doc: one clamped chunk; empty doc: zero chunks
    val short = Seq((1L, "x y"), (2L, ""), (3L, "   ")).toDF("doc_id", "text")
    val s = TextOps.chunk(short, window = 4, stride = 2)
      .select("doc_id", "chunk_text", "chunk_tokens")
      .as[(Long, String, Long)].collect()
    assert(s.toSeq == Seq((1L, "x y", 2L)))
  }

  test("stripMarkup: element contents, tags, entities, whitespace — in that order (X3)") {
    def strip(s: String): String =
      Seq(s).toDF("t").select(TextOps.stripMarkup(col("t"))).head.getString(0)
    // script/style bodies vanish WITH their contents; comments too
    assert(strip("<p>a</p><script>var x = '<b>not prose</b>';</script>b") == "a b")
    assert(strip("x<style>p > a { }</style>y<!-- note -->z") == "x y z")
    // case-insensitive, attribute-carrying, multiline elements
    assert(strip("<SCRIPT type=\"a\">\nline1\nline2\n</SCRIPT>keep") == "keep")
    // entities decode AFTER tag removal, &amp; LAST: double-escaped
    // markup stays text instead of becoming live tags
    assert(strip("a &lt;b&gt; &quot;c&quot; &apos;d&apos; e&nbsp;f")
      == "a <b> \"c\" 'd' e f")
    assert(strip("&amp;lt;script&amp;gt;") == "&lt;script&gt;")
    // whitespace squeezed, ends trimmed, plain prose untouched
    assert(strip("  plain   text\n\twith breaks  ") == "plain text with breaks")
    assert(strip("no markup here") == "no markup here")
  }

  test("scrub canonicalizes emails, urls, digit runs — in that order (X3)") {
    val d = Seq((1L, "mail a.b%c@d-e.fg or https://x.y/z?q=1 then 42 12ab"))
      .toDF("doc_id", "text")
    val out = d.select(TextOps.scrub($"text")).as[String].head()
    assert(out == "mail <EMAIL> or <URL> then <NUM> <NUM>ab")
  }

  test("ExactMean aggregator: equals decimal formulation, partition-invariant") {
    val df = (1 to 101).map(i => ("g", i * 0.1)).toDF("k", "v")
    def mean(d: org.apache.spark.sql.DataFrame) = d.groupBy("k")
      .agg(graft.ext.Aggregators.exactMean($"v")).head.getDouble(1)
    val want = df.groupBy("k")
      .agg((sum($"v".cast("decimal(38,6)")).cast("double") / count(lit(1))))
      .head.getDouble(1)
    assert(mean(df) == want)                  // exact, not approximate
    assert(mean(df.repartition(7)) == want)   // merge-order independent
  }

  test("bucketed ANN layout: probe prunes to one partition directory (X2)") {
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(j => math.sin(i * 7.0 + j).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("graft-ann").toString
    Similarity.writeBucketed(emb, s"$dir/c", planes = 2)
    // layout addresses the same buckets the in-memory kernel computes
    val buckets = emb.select(Similarity.lshBucket($"embedding", 2).as("b"))
      .distinct().as[Long].collect().toSet
    val dirs = new java.io.File(s"$dir/c").listFiles()
      .map(_.getName).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toLong).toSet
    assert(dirs == buckets)
    val probe = Similarity.probeBucket(spark, s"$dir/c", buckets.head)
    assert(probe.count() > 0)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(bucket"),
      s"bucket probe did not prune partitions:\n$plan")
  }

  test("writeBucketed audit: mixed embedding widths refuse to persist (X2)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ann-audit").toString
    val mixed = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.writeBucketed(mixed, s"$dir/bad", planes = 2,
        portable = true, audit = true)
    }
    assert(e.getMessage.contains("distinct embedding widths"))
    // fixed width (nulls ignored) passes the same audit
    val ok = Seq((0L, Array(1.0f, 0.0f)), (1L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding")
    Similarity.writeBucketed(ok, s"$dir/good", planes = 2,
      portable = true, audit = true)
    assert(new java.io.File(s"$dir/good").exists())
  }

  test("IVF topK: identical vector found when query and twin share a cell (X2)") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.1f)),
      (2L, Array(-1.0f, 0.0f)), (3L, Array(-1.0f, -0.1f)))
      .toDF("vec_id", "embedding")
    val centroids = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(-1.0f, 0.0f)))
      .toDF("centroid_id", "embedding")
    val out = Similarity.ivfTopK(emb, emb.filter($"vec_id" === 0), centroids,
        k = 2, nprobe = 1)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toMap
    // probe cell 0 only: neighbor 1 (same cell), never 2/3
    assert(out.find(_._2 == 1).map(_._1).contains(1L))
    assert(!out.contains(2L) && !out.contains(3L))
  }

  test("LSH recall@5 vs brute force stays above floor on seeded vectors (X2)") {
    // deterministic corpus: 150 unit-ish vectors in 8 dims
    val rnd = new scala.util.Random(17)
    val corpus = (0L until 150L)
      .map(i => (i, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 15)
    def topSet(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)]
        .collect().groupBy(_._1).map { case (q, ns) => q -> ns.map(_._2).toSet }
    val brute = topSet(Similarity.bruteForceTopK(corpus, queries, 5))
    val lsh = topSet(Similarity.lshTopK(corpus, queries, 5, planes = 3))
    // 3 planes -> 8 buckets over 150 vectors: each query's bucket holds
    // ~19 candidates; sign-LSH concentrates near-neighbors, so recall
    // must beat random candidate picking (5/150 ~ 0.03) by far
    val recalls = brute.keys.toSeq.map { q =>
      val hit = lsh.getOrElse(q, Set.empty) intersect brute(q)
      hit.size.toDouble / 5.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean > 0.3, s"mean LSH recall@5 too low: $mean")
  }

  test("langId picks stopword-majority language, und on no hits (X3)") {
    val out = docs.select($"doc_id", TextOps.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(out(0L) == "en" && out(4L) == "es")
    assert(out(3L) == "und" || out(3L) == "en") // no strong signal doc
  }

  test("normalize lowercases, strips punctuation, collapses whitespace (X3)") {
    val out = Seq("  Hello,   WORLD!! (42) ", "", "a-b c", "###")
      .toDF("text").select(TextOps.normalize($"text")).as[String].collect()
    assert(out(0) == "hello world 42")
    assert(out(1) == "")
    assert(out(2) == "a b c")
    assert(out(3) == "")
  }

  test("repetitionRatio: duplicate-shingle fraction, 0 for short docs (X3)") {
    val out = Seq(
      ("a b a b a b", 2),   // bigrams: ab,ba,ab,ba,ab -> 5 total, 2 distinct
      ("w x y z", 2),       // all distinct -> 0
      ("one", 2),           // shorter than w -> 0
      ("a b a b a", 3))     // trigrams: aba,bab,aba -> 3 total, 2 distinct
      .toDF("text", "w")
    def ratio(text: String, w: Int): Double =
      out.filter($"text" === text)
        .select(TextOps.repetitionRatio($"text", w)).as[Double].head()
    assert(math.abs(ratio("a b a b a b", 2) - (1.0 - 2.0 / 5.0)) < 1e-12)
    assert(ratio("w x y z", 2) == 0.0)
    assert(ratio("one", 2) == 0.0)
    assert(math.abs(ratio("a b a b a", 3) - (1.0 - 2.0 / 3.0)) < 1e-12)
  }

  test("fingerprint: md5 + min shingle md5 are deterministic (X3)") {
    val a = TextOps.fingerprint(docs).orderBy("doc_id").collect()
    val b = TextOps.fingerprint(docs.orderBy(rand(3))).orderBy("doc_id").collect()
    assert(a.sameElements(b))
    assert(a.head.getString(1).length == 32)
  }

  test("multimodal stub pipeline: schema + deterministic features (X4)") {
    val media = Multimodal.fromText(docs, "doc_id", "text")
    assert(media.schema.fieldNames.toSeq ==
      Multimodal.mediaSchema.fieldNames.toSeq)
    val feats = Multimodal.decodeStub(media, dim = 8)
    val r = feats.filter($"media_id" === 0).head
    assert(r.getLong(1) == "the quick brown fox jumps over the lazy dog".length)
    val fs = r.getSeq[Double](2)
    assert(fs.length == 8 && math.abs(fs.sum - 1.0) < 1e-9)
    val frames = Multimodal.frameSampleStub(media, 3)
    assert(frames.count() == docs.count() * 3)
  }

  test("real PNG decode: round-trip recovers exact pixel histogram (X4)") {
    val ids = Seq(0L, 1L, 7L).toDF("media_id")
    val media = Multimodal.synthesizePng(ids, "media_id", 5, 4)
    // payloads are genuine PNG files
    val pngMagic = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47)
    media.select("payload").collect().foreach { r =>
      assert(r.getAs[Array[Byte]](0).take(4).sameElements(pngMagic))
    }
    val got = Multimodal.decodeImage(media, dim = 8)
      .orderBy("media_id").collect()
    got.zip(Seq(0L, 1L, 7L)).foreach { case (r, id) =>
      assert(r.getBoolean(1), s"decode must succeed for id $id")
      assert(r.getInt(2) == 5 && r.getInt(3) == 4)
      // re-derive the histogram from the synthesis formula: the PNG
      // round-trip must be lossless
      val exp = new Array[Long](8)
      for (y <- 0 until 4; x <- 0 until 5) {
        val s = (id * 31 + x * 7 + y * 13) % 256 +
          (id * 17 + x * 11 + y * 3) % 256 + (id * 23 + x * 5 + y * 19) % 256
        exp((s % 8).toInt) += 1L
      }
      assert(r.getSeq[Long](4) == exp.toSeq, s"id $id")
    }
  }

  test("decodeImage survives corrupt and null payloads (poison rows)") {
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "image",
        Array[Byte](1, 2, 3, 4), "image/png", null, null, null),
      org.apache.spark.sql.Row(2L, "image", null, null, null, null, null))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val got = Multimodal.decodeImage(media).orderBy("media_id").collect()
    assert(got.forall(!_.getBoolean(1)))
    assert(got.forall(_.isNullAt(4)))
  }

  test("real WAV decode: round-trip recovers exact sample statistics (X4)") {
    val ids = Seq(0L, 1L, 7L).toDF("media_id")
    val n = 50
    val media = Multimodal.synthesizeWav(ids, "media_id", n, 8000)
    // payloads are genuine RIFF/WAVE files
    media.select("payload").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(new String(b.take(4), "US-ASCII") == "RIFF")
      assert(new String(b.slice(8, 12), "US-ASCII") == "WAVE")
    }
    val got = Multimodal.decodeAudio(media, dim = 8)
      .orderBy("media_id").collect()
    got.zip(Seq(0L, 1L, 7L)).foreach { case (r, id) =>
      assert(r.getBoolean(1), s"decode must succeed for id $id")
      assert(r.getInt(2) == 8000 && r.getInt(3) == 1)
      assert(r.getLong(4) == n.toLong)
      // re-derive from the synthesis formula: PCM is lossless
      var expSum = 0L
      val expHist = new Array[Long](8)
      for (i <- 0 until n) {
        val v = (id * 31 + i.toLong * 7) % 65536L - 32768L
        expSum += v
        expHist(((v + 32768L) % 8).toInt) += 1L
      }
      assert(r.getLong(5) == expSum, s"sum for id $id")
      assert(r.getSeq[Long](6) == expHist.toSeq, s"hist for id $id")
    }
  }

  test("decodeAudio survives corrupt and null payloads (poison rows)") {
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "audio",
        Array[Byte](82, 73, 70, 70, 0, 0), "audio/wav", null, null, null),
      org.apache.spark.sql.Row(2L, "audio", null, null, null, null, null))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val got = Multimodal.decodeAudio(media).orderBy("media_id").collect()
    assert(got.forall(!_.getBoolean(1)))
    assert(got.forall(_.isNullAt(6)))
  }

  test("real Y4M decode: frame sampling recovers exact luma stats (X4)") {
    val ids = Seq(0L, 1L, 7L).toDF("media_id")
    val (w, h, nf) = (5, 4, 6)
    val media = Multimodal.synthesizeY4m(ids, "media_id", w, h, nf, 25)
    // payloads are genuine YUV4MPEG2 streams
    media.select("payload").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(new String(b.take(9), "US-ASCII") == "YUV4MPEG2")
      // header + nf frames of (FRAME\n + 3 full C444 planes)
      val hdrLen = b.indexOf('\n'.toByte) + 1
      assert(b.length == hdrLen + nf * (6 + 3 * w * h))
    }
    def expected(id: Long, frames: Seq[Int], dim: Int): (Long, Seq[Long]) = {
      var sum = 0L
      val hist = new Array[Long](dim)
      for (f <- frames; y <- 0 until h; x <- 0 until w) {
        val v = (id * 31 + f * 29 + x * 7 + y * 13) % 256
        sum += v
        hist((v % dim).toInt) += 1L
      }
      (sum, hist.toSeq)
    }
    // every 2nd frame: 0, 2, 4 sampled out of 6
    val got = Multimodal.decodeVideo(media, dim = 8, every = 2)
      .orderBy("media_id").collect()
    got.zip(Seq(0L, 1L, 7L)).foreach { case (r, id) =>
      assert(r.getBoolean(1), s"decode must succeed for id $id")
      assert(r.getInt(2) == w && r.getInt(3) == h)
      assert(r.getLong(4) == nf.toLong && r.getLong(5) == 3L)
      val (expSum, expHist) = expected(id, Seq(0, 2, 4), 8)
      assert(r.getLong(6) == expSum, s"sum for id $id")
      assert(r.getSeq[Long](7) == expHist.toSeq, s"hist for id $id")
    }
    // every=1 samples all frames
    val all = Multimodal.decodeVideo(media, dim = 8).orderBy("media_id").head
    assert(all.getLong(5) == nf.toLong)
    assert(all.getLong(6) == expected(0L, 0 until nf, 8)._1)
  }

  test("decodeVideo parses C420 geometry and survives poison rows") {
    // hand-rolled 2-frame 4x2 C420 stream: Y plane 8 bytes/frame,
    // U and V planes 2x1 = 2 bytes each (quarter resolution)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("YUV4MPEG2 W4 H2 F25:1 C420\n".getBytes(ascii))
    for (f <- 0 until 2) {
      bos.write("FRAME\n".getBytes(ascii))
      for (i <- 0 until 8) bos.write(10 * f + i) // Y
      for (i <- 0 until 4) bos.write(200 + i)    // U + V
    }
    val good = bos.toByteArray
    val truncated = good.dropRight(3)
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "video", good, "video/x-yuv4mpeg",
        null, null, null),
      org.apache.spark.sql.Row(2L, "video", truncated, null, null, null, null),
      org.apache.spark.sql.Row(3L, "video",
        Array[Byte](1, 2, 3), null, null, null, null),
      org.apache.spark.sql.Row(4L, "video", null, null, null, null, null))
    val media = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Multimodal.mediaSchema)
    val got = Multimodal.decodeVideo(media, dim = 16)
      .orderBy("media_id").collect()
    val ok = got(0)
    assert(ok.getBoolean(1) && ok.getInt(2) == 4 && ok.getInt(3) == 2)
    assert(ok.getLong(4) == 2L && ok.getLong(5) == 2L)
    // luma sum: frame 0 = 0+..+7 = 28, frame 1 = 10+..+17 = 108
    assert(ok.getLong(6) == 136L)
    // truncated, garbage, and null payloads all degrade, never throw
    assert(got.drop(1).forall(!_.getBoolean(1)))
    assert(got.drop(1).forall(_.isNullAt(7)))
  }

  test("ulaw WAV: JDK codec == G.711 closed form for ALL 256 bytes (X4)") {
    // the x64 oracle's load-bearing assumption, pinned: if a JDK
    // upgrade ever ships a different mu-law table, this fails loudly
    // instead of the oracle silently mismatching
    import javax.sound.sampled._
    val ulawFmt = new AudioFormat(AudioFormat.Encoding.ULAW,
      8000f, 8, 1, 1, 8000f, false)
    val bytes = Array.tabulate[Byte](256)(i => i.toByte)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), ulawFmt, 256)
    val pcm = AudioSystem.getAudioInputStream(
      new AudioFormat(8000f, 16, 1, true, false), ais).readAllBytes()
    for (i <- 0 until 256) {
      val jdk = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8))
        .toShort.toInt
      val u = (~i) & 0xff
      val mag = (((u & 0x0f) << 3) + 0x84 << ((u >> 4) & 7)) - 0x84
      val want = if ((u & 0x80) != 0) -mag else mag
      assert(jdk == want, s"byte $i")
    }
    // and the whole pipeline round-trips: synthesize -> real decode
    val got = Multimodal.decodeAudio(
        Multimodal.synthesizeUlawWav(Seq(3L).toDF("id"), "id", 64),
        dim = 16).head()
    assert(got.getBoolean(1) && got.getLong(4) == 64L)
  }

  test("AVI/MJPEG: real compressed-video decode; sampling, determinism, poison (X4)") {
    val ids = Seq(1L, 2L).toDF("media_id")
    val avi = Multimodal.synthesizeAvi(ids, "media_id", 16, 12,
      nFrames = 6, codec = "mjpeg")
    val got = Multimodal.decodeAviVideo(avi, dim = 16, every = 3)
      .orderBy("media_id").collect()
    assert(got.length == 2 && got.forall(_.getBoolean(1)))
    assert(got.forall(r => r.getInt(2) == 16 && r.getInt(3) == 12))
    assert(got.forall(r => r.getLong(4) == 6L && r.getLong(5) == 2L))
    // JPEG is lossy but the decode is deterministic: run twice, equal
    val again = Multimodal.decodeAviVideo(avi, dim = 16, every = 3)
      .orderBy("media_id").collect()
    assert(got.map(_.toSeq.toList).toSeq == again.map(_.toSeq.toList).toSeq)
    // the lossless sibling through the SAME container+codec path
    // equals the closed-form pixel features frame-for-frame
    val png = Multimodal.decodeAviVideo(
        Multimodal.synthesizeAvi(ids, "media_id", 4, 3, nFrames = 2,
          codec = "png"), dim = 16, every = 1)
      .orderBy("media_id").collect()
    val wantSum = (id: Long) => (for {
      f <- 0 until 2; y <- 0 until 3; x <- 0 until 4
    } yield ((id * 31 + f * 29 + x * 7 + y * 13) % 256) +
      ((id * 17 + f * 41 + x * 11 + y * 3) % 256) +
      ((id * 23 + f * 37 + x * 5 + y * 19) % 256)).sum
    assert(png.forall(r => r.getLong(6) == wantSum(r.getLong(0))))
    // poison rows: truncated container, garbage, null payload
    val good = avi.filter(col("media_id") === 1L)
      .select("payload").head().getAs[Array[Byte]](0)
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(10L, "video", good.take(good.length / 2),
        "video/avi", null, null, null),
      org.apache.spark.sql.Row(11L, "video",
        Array.fill[Byte](64)(0x5a), "video/avi", null, null, null),
      org.apache.spark.sql.Row(12L, "video", null, null, null, null, null))
    val poison = spark.createDataFrame(rows, Multimodal.mediaSchema)
    val res = Multimodal.decodeAviVideo(poison).collect()
    assert(res.forall(!_.getBoolean(1)))
    assert(res.forall(_.isNullAt(6)))
  }

  test("animated GIF: hand-rolled LZW through the real JDK codec; sampling, poison (X4)") {
    val ids = Seq(1L, 2L).toDF("media_id")
    val gif = Multimodal.synthesizeGif(ids, "media_id", 16, 12, nFrames = 6)
    // the JDK's own ImageReader accepts the stream and sees 6 frames
    val got = Multimodal.decodeGif(gif, dim = 16, every = 3)
      .orderBy("media_id").collect()
    assert(got.length == 2 && got.forall(_.getBoolean(1)))
    assert(got.forall(r => r.getInt(2) == 16 && r.getInt(3) == 12))
    assert(got.forall(r => r.getLong(4) == 6L && r.getLong(5) == 2L))
    // identity palette -> decoded gray values are closed-form: the
    // REAL LZW decode equals the no-codec formula exactly
    val full = Multimodal.decodeGif(
        Multimodal.synthesizeGif(ids, "media_id", 4, 3, nFrames = 2),
        dim = 16, every = 1)
      .orderBy("media_id").collect()
    val wantSum = (id: Long) => (for {
      f <- 0 until 2; y <- 0 until 3; x <- 0 until 4
    } yield 3L * ((id * 31 + f * 29 + x * 7 + y * 13) % 256)).sum
    assert(full.forall(r => r.getLong(6) == wantSum(r.getLong(0))))
    // a frame big enough to need multiple CLEAR resets (> 250 px)
    // still round-trips exactly
    val big = Multimodal.decodeGif(
        Multimodal.synthesizeGif(Seq(7L).toDF("id"), "id", 40, 20,
          nFrames = 1), dim = 16, every = 1).head()
    assert(big.getBoolean(1))
    assert(big.getLong(6) == (for { y <- 0 until 20; x <- 0 until 40 }
      yield 3L * ((7L * 31 + x * 7 + y * 13) % 256)).sum)
    // poison: truncated stream, garbage, null payload
    val good = gif.filter(col("media_id") === 1L)
      .select("payload").head().getAs[Array[Byte]](0)
    val rows = java.util.Arrays.asList(
      // truncated INSIDE the global palette — unambiguously broken
      // (cutting between frames can legally decode as fewer frames)
      org.apache.spark.sql.Row(10L, "video", good.take(100),
        "image/gif", null, null, null),
      org.apache.spark.sql.Row(11L, "video",
        Array.fill[Byte](64)(0x5a), "image/gif", null, null, null),
      org.apache.spark.sql.Row(12L, "video", null, null, null, null, null))
    val res = Multimodal.decodeGif(
      spark.createDataFrame(rows, Multimodal.mediaSchema)).collect()
    assert(res.forall(!_.getBoolean(1)))
    assert(res.forall(_.isNullAt(6)))
  }

  test("imageAHash: exact dups share the hash, perturbation stays close, poison degrades (X4)") {
    // two ids rendering the SAME pixels (shared seed) + one distinct
    val src = Seq((1L, 7L), (2L, 7L), (3L, 99L)).toDF("id", "seed")
    val media = Multimodal.synthesizePng(src, "id", 32, 32,
      seedCol = Some("seed"))
    val hashes = Multimodal.imageAHash(media, grid = 8)
    val m = hashes.as[(Long, Boolean, java.lang.Long)].collect()
      .map(r => r._1 -> r._3.longValue).toMap
    assert(m(1L) == m(2L)) // identical pixels, identical fingerprint
    assert(m(1L) != m(3L))
    // pairing finds exactly the duplicate pair at distance 0
    val pairs = Multimodal.imageNearDupPairs(hashes, maxDist = 0)
      .as[(Long, Long, Int)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
    // a single-pixel edit moves the hash at most a few bits: re-encode
    // image 1 with one corner pixel blown out
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      media.filter(col("media_id") === 1L).select("payload")
        .head().getAs[Array[Byte]](0)))
    img.setRGB(0, 0, 0xffffff)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(10L, "image", bos.toByteArray,
        "image/png", 32, 32, null),
      org.apache.spark.sql.Row(11L, "image",
        Array.fill[Byte](16)(0x42), "image/png", null, null, null),
      org.apache.spark.sql.Row(12L, "image", null, null, null, null, null))
    val extra = Multimodal.imageAHash(
        spark.createDataFrame(rows, Multimodal.mediaSchema), grid = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), if (r.isNullAt(2)) null
         else java.lang.Long.valueOf(r.getLong(2)))).toMap
    assert(extra(10L)._1)
    assert(java.lang.Long.bitCount(extra(10L)._2 ^ m(1L)) <= 3)
    assert(!extra(11L)._1 && extra(11L)._2 == null) // garbage payload
    assert(!extra(12L)._1) // null payload
  }

  test("audioActivityCard: windowed silence/clipping match the closed form (X4)") {
    val ids = Seq(0L, 5L, 1000L).toDF("doc_id")
    val media = Multimodal.synthesizeWav(ids, "doc_id", nSamples = 64)
    val got = Multimodal.audioActivityCard(media, windows = 8,
        silenceDiv = 4L, clipMag = 32700)
      .as[(Long, Boolean, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    // independent in-JVM reference over the synthesizeWav closed form
    for (id <- Seq(0L, 5L, 1000L)) {
      val v = (0 until 64).map(i => (((id * 31 + i * 7) % 65536) - 32768).toInt)
      val en = v.grouped(8).map(_.map(x => math.abs(x).toLong).sum).toSeq
      val total = en.sum
      val silent = en.count(e => e * 8 * 4 < total).toLong
      val clipped = v.count(x => math.abs(x) >= 32700).toLong
      val peak = v.map(x => math.abs(x).toLong).max
      assert(got(id) == ((64L, silent, clipped, peak, total)),
        s"id=$id got=${got(id)}")
    }
    // id 0 renders a pure ramp from -32768: sample 0 clips
    assert(got(0L)._3 >= 1L)
    // poison payload degrades, never throws
    val poisoned = media.withColumn("payload",
      when($"media_id" === 5L, lit(null).cast("binary"))
        .otherwise($"payload"))
    val ok = Multimodal.audioActivityCard(poisoned)
      .select("media_id", "decode_ok").as[(Long, Boolean)].collect().toMap
    assert(!ok(5L) && ok(0L))
  }

  test("shotBoundaries: lagged Hamming distances + cut flags (X4)") {
    val fh = Seq(
      (1L, true, 0L, 0L), (1L, true, 1L, 255L),  // 8 bits flip -> cut
      (1L, true, 2L, 254L),                      // 1 bit -> no cut
      (2L, true, 0L, 7L), (2L, true, 1L, 7L),    // identical -> 0
      (3L, false, -1L, 0L))                      // poison row dropped
      .toDF("media_id", "decode_ok", "frame_idx", "fhash")
    val out = Multimodal.shotBoundaries(fh, cutAt = 6)
      .orderBy("media_id", "frame_idx")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 1L, 8L, true), (1L, 2L, 1L, false),
      (2L, 1L, 0L, false)))
  }

  test("audioFingerprint: exact dups share the print, poison degrades (X4)") {
    // seed 1009 puts the sawtooth's V-minimum INSIDE the 512-sample
    // clip (phase 1009*31 = 31279, minimum near sample 213), so its
    // energy profile differs from seed 7's monotone ramp — small
    // seeds all render near-identical ramps and legitimately share a
    // coarse fingerprint
    val src = Seq((1L, 7L), (2L, 7L), (3L, 1009L)).toDF("id", "seed")
    val media = Multimodal.synthesizeWav(src, "id", nSamples = 512,
      seedCol = Some("seed"))
    val fp = Multimodal.audioFingerprint(media, windows = 32)
    val m = fp.as[(Long, Boolean, java.lang.Long)].collect()
      .map(r => r._1 -> r._3.longValue).toMap
    assert(m(1L) == m(2L)) // identical samples, identical fingerprint
    assert(m(1L) != m(3L))
    val pairs = Multimodal.imageNearDupPairs(fp, maxDist = 0,
        blockShift = 16, hashCol = "afp")
      .as[(Long, Long, Int)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
    // the mu-law COMPRESSED path feeds the same fingerprint (decode
    // via the real G.711 codec), and fingerprints stay deterministic
    val ulaw = Multimodal.audioFingerprint(
      Multimodal.synthesizeUlawWav(Seq(5L).toDF("id"), "id", 512),
      windows = 32)
    assert(ulaw.head().getBoolean(1))
    // poison: garbage and null payloads
    val rows = java.util.Arrays.asList(
      org.apache.spark.sql.Row(11L, "audio",
        Array.fill[Byte](32)(0x13), "audio/wav", null, null, null),
      org.apache.spark.sql.Row(12L, "audio", null, null, null, null, null))
    val res = Multimodal.audioFingerprint(
      spark.createDataFrame(rows, Multimodal.mediaSchema)).collect()
    assert(res.forall(!_.getBoolean(1)))
  }

  test("audio decode: every payload family matches AudioSystem's own dispatch, MIDI included (X4)") {
    import javax.sound.sampled._
    // the pre-resolved provider path must pick the same reader and
    // codec as AudioSystem for every family the engine meets
    val ids = Seq(3L, 40L).toDF("id")
    // a minimal Standard MIDI file: header chunk + one empty track
    val midi = "MThd".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 6, 0, 0, 0, 1, 0, 96) ++
      "MTrk".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 4, 0, -1, 0x2f, 0)
    def media(id: Long, p: Array[Byte]) = org.apache.spark.sql.Row(
      id, "audio", p, null, null, null, null)
    val odd = spark.createDataFrame(java.util.Arrays.asList(
      media(90L, null),
      media(91L, "RIFF\u0000\u0001WAVEfmt garbage".getBytes("US-ASCII")),
      media(92L, Array.fill[Byte](40)(0x13)),
      media(93L, "MT".getBytes("US-ASCII")),
      media(94L, midi)), Multimodal.mediaSchema)
    val all = Multimodal.synthesizeWav(ids, "id", 96)
      .unionByName(Multimodal.synthesizeUlawWav(
        ids.select(($"id" + 10L).as("id")), "id", 96))
      .unionByName(Multimodal.synthesizeAiff(
        ids.select(($"id" + 20L).as("id")), "id", 96, 11025))
      .unionByName(odd)
    // reference: the JDK's public entry points, one call per row
    def viaAudioSystem(id: Long, p: Array[Byte]): Seq[Any] =
      (if (p == null) None else try {
        val ais = AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(p))
        val f = ais.getFormat
        val pcm = AudioSystem.getAudioInputStream(
          new AudioFormat(f.getSampleRate, 16, f.getChannels, true, false),
          ais).readAllBytes()
        val v = (0 until pcm.length / 2).map(i =>
          ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1).toInt << 8)).toShort.toInt)
        val hist = Array.fill(16)(0L)
        v.foreach(x => hist((x + 32768) % 16) += 1L)
        Some(Seq(f.getSampleRate.toInt, f.getChannels, v.length.toLong,
          v.map(_.toLong).sum, hist.toSeq))
      } catch { case scala.util.control.NonFatal(_) => None }) match {
        case Some(fs) => Seq(id, true) ++ fs
        case None => Seq(id, false, null, null, null, null, null)
      }
    // SoftMidiAudioFileReader renders through the JDK's software synth,
    // which caches its generated soundbank under user.home: keep that
    // inside a temp dir
    val home = System.getProperty("user.home")
    val tmpHome = java.nio.file.Files.createTempDirectory("audio-spec")
    System.setProperty("user.home", tmpHome.toString)
    try {
      val want = all.select("media_id", "payload").collect()
        .map(r => viaAudioSystem(r.getLong(0), r.getAs[Array[Byte]](1)))
        .sortBy(_.head.asInstanceOf[Long]).toSeq
      val got = Multimodal.decodeAudio(all, 16).orderBy("media_id")
        .collect().map(_.toSeq).toSeq
      assert(got == want)
      val ok = got.filter(_(1) == true).map(_.head).toSet
      assert(ok == Set(3L, 40L, 13L, 50L, 23L, 60L, 94L),
        "every real clip decodes; every poison row degrades")
      // the MThd file reached the MIDI reader: rendered by the synth
      assert(got.find(_.head == 94L).get(2) == 44100)
    } finally {
      System.setProperty("user.home", home)
      org.apache.commons.io.FileUtils.deleteDirectory(tmpHome.toFile)
    }
  }

  test("Par.run: a failure surfaces only after every sibling task has settled") {
    val sibling = new java.util.concurrent.atomic.AtomicBoolean(false)
    val err = intercept[IllegalStateException] {
      graft.ext.Par.run(Seq(
        () => throw new IllegalStateException("first"),
        () => { Thread.sleep(300); sibling.set(true) }))
    }
    assert(err.getMessage == "first")
    assert(sibling.get, "the sibling must finish before run() throws")
    assert(graft.ext.Par.run(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
  }

  test("audio decode: a 4-partition decode equals a 1-partition decode (X4)") {
    val ids = spark.range(0, 400).select($"id".as("doc_id"))
    val media = Multimodal.synthesizeUlawWav(ids, "doc_id", 128)
      .unionByName(Multimodal.synthesizeWav(
        ids.select(($"doc_id" + 1000L).as("doc_id")), "doc_id", 128))
    val one = Multimodal.decodeAudio(media.coalesce(1), 16)
    val four = Multimodal.decodeAudio(media.repartition(4), 16)
    assert(four.rdd.getNumPartitions == 4)
    assert(rows(four) == rows(one) && rows(one).size == 800)
  }

  test("videoFrameHashes: per-frame prints, shared-frame pairing, poison (X4)") {
    // ids 1 and 2 render identical clips (shared seed); 3 differs
    val src = Seq((1L, 7L), (2L, 7L), (3L, 1234L)).toDF("id", "seed")
    val media = Multimodal.synthesizeAvi(src, "id", 16, 12, nFrames = 3,
      codec = "png", seedCol = Some("seed"))
    val fh = Multimodal.videoFrameHashes(media, grid = 4)
    val rows = fh.as[(Long, Boolean, Long, java.lang.Long)].collect()
    assert(rows.forall(_._2))
    assert(rows.count(_._1 == 1L) == 3) // one hash per frame
    // identical clips produce identical per-frame hash sequences
    val seq1 = rows.filter(_._1 == 1L).sortBy(_._3).map(_._4.longValue).toSeq
    val seq2 = rows.filter(_._1 == 2L).sortBy(_._3).map(_._4.longValue).toSeq
    assert(seq1 == seq2)
    // pairing: the duplicate pair shares all 3 frames
    val pairs = Multimodal.videoNearDupPairs(fh, minShared = 3L)
      .as[(Long, Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L, 3L)))
    // frame sampling halves the hash rows, hashes stay a subsequence
    val sampled = Multimodal.videoFrameHashes(media, grid = 4, every = 2)
      .filter(col("media_id") === 1L)
      .as[(Long, Boolean, Long, java.lang.Long)].collect()
    assert(sampled.map(_._3).sorted.toSeq == Seq(0L, 2L))
    // poison: garbage payload degrades to one decode_ok=false row
    val bad = java.util.Arrays.asList(
      org.apache.spark.sql.Row(9L, "video", Array.fill[Byte](40)(0x7f),
        "video/avi", null, null, null))
    val res = Multimodal.videoFrameHashes(
      spark.createDataFrame(bad, Multimodal.mediaSchema)).collect()
    assert(res.length == 1 && !res(0).getBoolean(1))
  }

  test("mediaHealthCard: per-modality decode rates; garbage and null both count as failures (X4)") {
    val ids = Seq(1L, 2L, 3L, 4L).toDF("id")
    val healthy = Multimodal.synthesizePng(ids, "id", 8, 6)
      .unionByName(Multimodal.synthesizeWav(ids, "id", 32))
      .unionByName(Multimodal.synthesizeGif(ids, "id", 8, 6, nFrames = 1))
    // corrupt one image (garbage bytes) and null one audio payload
    val mixed = healthy.withColumn("payload",
      when(col("modality") === "image" && col("media_id") === 1L,
        lit(Array.fill[Byte](16)(0x2a)))
        .when(col("modality") === "audio" && col("media_id") === 2L,
          lit(null).cast("binary"))
        .otherwise(col("payload")))
    val card = Multimodal.mediaHealthCard(mixed)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(card("image") == (4L, 3L, 750000L))
    assert(card("audio") == (4L, 3L, 750000L))
    assert(card("video") == (4L, 4L, 1000000L)) // gif routes via mime
  }

  test("linear classifier: separable corpus classified correctly (X3)") {
    // class-pure vocabulary + shared filler: weights must be positive
    // for good-class terms, negative for bad, ~base-rate for filler
    // every doc is 4 tokens with filler exactly once, so filler's
    // purity (3/5) equals the token base rate (12/20) -> weight 0
    val corpus = Seq(
      (0L, "alpha beta alpha filler", true),
      (1L, "alpha alpha beta filler", true),
      (2L, "gamma delta gamma filler", false),
      (3L, "gamma gamma delta filler", false),
      (4L, "alpha beta beta filler", true))
      .toDF("doc_id", "text", "good")
    val w = TextOps.trainLinearWeights(corpus, $"good", minDf = 2)
    val wm = w.select("term", "weight_ppm").as[(String, Long)]
      .collect().toMap
    assert(wm("alpha") > 0 && wm("beta") > 0)
    assert(wm("gamma") < 0 && wm("delta") < 0)
    // filler appears everywhere: purity == base rate -> weight 0
    assert(wm("filler") == 0L)
    val scored = TextOps.scoreLinear(corpus, w)
      .select("doc_id", "predicted").as[(Long, Boolean)].collect().toMap
    assert((0L to 4L).forall(i => scored(i) == (i != 2L && i != 3L)))
  }

  test("linear classifier: minDf prunes hapax; OOV tokens score 0 (X3)") {
    val corpus = Seq(
      (0L, "common rare1", true),
      (1L, "common rare2", false))
      .toDF("doc_id", "text", "y")
    val w = TextOps.trainLinearWeights(corpus, $"y", minDf = 2)
    assert(w.select("term").as[String].collect().toSet == Set("common"))
    // a doc of pure OOV gets score 0, n_scored 0 — not dropped
    val oov = Seq((9L, "neverseen tokens only")).toDF("doc_id", "text")
    val s = TextOps.scoreLinear(oov, w).as[(Long, Long, Long, Long, Boolean)]
      .head()
    assert(s == ((9L, 3L, 0L, 0L, false)))
  }

  test("BPE training: classic low/lower/lowest merge sequence (X3)") {
    val corpus = Seq((0L, "low low lower"), (1L, "low lowest"))
      .toDF("doc_id", "text")
    // histogram: low:3 lower:1 lowest:1. (l,o) and (o,w) both count 5
    // -> lexicographic tie-break picks (l,o); then (lo,w):5,
    // (low,e):2, then a 3-way c=1 tie won by ("lowe","r") < ("lowe",
    // "s") < ("s","t")
    val m = TextOps.learnBpeMerges(corpus, rounds = 4)
      .orderBy("round")
      .as[(Int, String, String, String, Long)].collect().toSeq
    assert(m == Seq(
      (1, "l", "o", "lo", 5L),
      (2, "lo", "w", "low", 5L),
      (3, "low", "e", "lowe", 2L),
      (4, "lowe", "r", "lower", 1L)))
    // rounds beyond pair exhaustion stop cleanly instead of erroring
    val all = TextOps.learnBpeMerges(corpus, rounds = 50)
    assert(all.count() < 50)
  }

  test("BPE encode: token counts under the learned merges; empty doc 0/0 (X3)") {
    val corpus = Seq((0L, "low low lower"), (1L, "low lowest"),
      (2L, "")).toDF("doc_id", "text")
    val merges = TextOps.learnBpeMerges(corpus, rounds = 4)
    val got = TextOps.applyBpe(corpus, merges)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // low -> [low] (1), lower -> [lower] (1), lowest -> [lowe,s,t] (3)
    assert(got(0L) == ((3L, 3L)))
    assert(got(1L) == ((2L, 4L)))
    assert(got(2L) == ((0L, 0L)))
    // content-keyed end to end -> partitioning-invariant
    val again = TextOps.applyBpe(corpus.repartition(5), merges)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again == got)
  }

  test("knnClassify: separable cells vote their label; vote ties break low (X2)") {
    // two tight groups on orthogonal axes (labels 1 and 2): every
    // member's neighbors are its own group -> unanimous votes
    def v(axis: Int, jitter: Float) =
      Array.tabulate(4)(d => if (d == axis) 1.0f else jitter)
    val emb = (Seq(
      (0L, v(0, 0.00f), 1), (1L, v(0, 0.01f), 1), (2L, v(0, 0.02f), 1),
      (10L, v(2, 0.00f), 2), (11L, v(2, 0.01f), 2), (12L, v(2, 0.02f), 2)))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(emb, k = 2, cells = 2)
      .select("vec_id", "pred_label", "votes")
      .as[(Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert((0L to 2L).forall(i => got(i) == ((1, 2L))))
    assert((10L to 12L).forall(i => got(i) == ((2, 2L))))
    // a 1-1 vote tie: one cell holding labels 3 and 4 plus the probe —
    // k=2 sees one of each, and the LOWER label must win
    val tie = Seq(
      (20L, v(1, 0.00f), 9), (21L, v(1, 0.01f), 4), (22L, v(1, 0.02f), 3))
      .toDF("vec_id", "embedding", "label")
    val t = Similarity.knnClassify(tie, k = 2, cells = 1)
      .select("vec_id", "pred_label", "votes")
      .as[(Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(t(20L) == ((3, 1L)))
  }

  test("semanticDedup: exact twin marked dup on the larger id (X1)") {
    // 8 well-separated base vectors + an exact twin of vec 2: the twin
    // lands in the same kmeans cell with cosine 1.0 and must be the
    // ONE flagged row; all originals survive
    val base = (0L until 8L).map { i =>
      val v = Array.tabulate(8)(d => if (d == i.toInt) 1.0f else 0.01f * i)
      (i, v)
    }
    val emb = (base :+ ((100L, base(2)._2))).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, k = 3, threshold = 0.95)
      .as[(Long, Int, Boolean)].collect()
    assert(out.length == 9)
    val dups = out.filter(_._3).map(_._1).toSet
    assert(dups == Set(100L))
    // twin shares its original's cluster
    val byId = out.map(r => r._1 -> r._2).toMap
    assert(byId(100L) == byId(2L))
    // an unreachable threshold flags nothing
    val none = Dedup.semanticDedup(emb, k = 3, threshold = 1.01)
      .as[(Long, Int, Boolean)].collect()
    assert(none.forall(!_._3))
  }

  test("minhashEstimatePortable: exact dups estimate 1e6; candidates track the exact leg (X1)") {
    val est = Dedup.minhashEstimatePortable(docs)
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    // identical docs share every signature component
    assert(est((0L, 1L)) == 1000000L)
    assert(est.values.forall(v => v >= 0L && v <= 1000000L))
    // the distinct doc shares no band with anything
    assert(!est.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // identical candidate universe as the exact leg at threshold 0
    // (same banding); the near pair surfaces in both
    val exact = Dedup.minhashLshPortable(docs, threshold = 0.0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(est.keySet == exact)
    // content-keyed: repartitioning changes nothing
    val again = Dedup.minhashEstimatePortable(docs.repartition(7))
      .as[(Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(again == est)
  }

  test("adaptiveQualityFilter: per-group percentile_disc thresholds and verdicts (X3)") {
    // two language groups with spread-out quality (garbage tokens in
    // some docs drive stopword/length components apart)
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog and that is it for now", "en"),
      (1L, "zz", "en"),
      (2L, "the cat is on the mat and it is a fine day for all of us", "en"),
      (3L, "qqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqqq zz qq", "en"),
      (4L, "el perro come la comida de la casa", "es"),
      (5L, "x", "es"))
      .toDF("doc_id", "text", "lang")
    val out = TextOps.adaptiveQualityFilter(d, "lang", pct = 0.75)
      .as[(Long, String, Long, Long, Boolean)].collect()
    // verdict is exactly score >= group threshold
    assert(out.forall { case (_, _, s, t, kept) => kept == (s >= t) })
    // threshold is percentile_disc: smallest group value with
    // cume_dist >= pct — re-derive driver-side from returned scores
    out.groupBy(_._2).foreach { case (_, rows) =>
      val scores = rows.map(_._3).sorted
      val want = scores.find(v =>
        scores.count(_ <= v).toDouble / scores.length >= 0.75).get
      assert(rows.forall(_._4 == want))
    }
    // at p75 the bar is the best real doc per group: garbage docs are
    // out, quality docs (at or above the bar) stay
    val kept = out.map(r => r._1 -> r._5).toMap
    assert(kept(0L) && kept(2L) && !kept(1L) && !kept(3L))
    assert(kept(4L) && !kept(5L))
    // repartition-invariant
    val again = TextOps.adaptiveQualityFilter(d.repartition(5), "lang", 0.75)
      .as[(Long, String, Long, Long, Boolean)].collect().toSet
    assert(again == out.toSet)
  }

  test("trigramBackoffScore: stupid-backoff levels fire exactly (X3)") {
    // train: "a b c a b c" -> 4 trigram slots; hand-derived counts:
    // c3(a,b,c)=2 c3(b,c,a)=1 c3(c,a,b)=1; c12(a,b)=2 (b,c)=1 (c,a)=1;
    // c23(b,c)=2 (c,a)=1 (a,b)=1; c2(b)=2 (c)=1 (a)=1; c1(c)=2 (a)=1
    // (b)=1; nRef=4
    val train = Seq((0L, "a b c a b c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b c"),   // trigram hit: 2*1e6 DIV 2    = 1000000
      (11L, "x b c"),   // bigram backoff: 2*4e5 DIV 2 =  400000
      (12L, "x y c"),   // unigram backoff: 2*16e4 DIV 4 = 80000
      (13L, "x y z"),   // fully OOV                   =       0
      (14L, "a b"))     // < 3 tokens -> no output row
      .toDF("doc_id", "text")
    val out = TextOps.trigramBackoffScore(train, score)
      .select("doc_id", "n_trigrams", "score_sum", "mean_q")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set(10L, 11L, 12L, 13L))
    assert(out(10L) == ((10L, 1L, 1000000L, 1000000L)))
    assert(out(11L) == ((11L, 1L, 400000L, 400000L)))
    assert(out(12L) == ((12L, 1L, 80000L, 80000L)))
    assert(out(13L) == ((13L, 1L, 0L, 0L)))
    // multi-trigram doc: integer mean of per-slot weights.
    // "a b c a b c" scored on itself: slots 1e6, 1e6, 1e6, 1e6
    val self = TextOps.trigramBackoffScore(train, train)
      .select("mean_q").as[Long].head()
    assert(self == 1000000L)
    // repartition-invariant
    val again = TextOps.trigramBackoffScore(
        train.repartition(3), score.repartition(5))
      .select("doc_id", "n_trigrams", "score_sum", "mean_q")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again == out)
  }

  test("perplexityBuckets: disc-quartile head/middle/tail per group (X3)") {
    val scored = (1L to 8L).map(v => (v, "g", v * 10L))
      .toDF("doc_id", "lang", "mean_q")
    val out = TextOps.perplexityBuckets(scored, "lang")
      .select("doc_id", "bucket").as[(Long, String)].collect().toMap
    // values 10..80: p25 = 20 (disc), p75 = 60 -> tail <= 20,
    // head > 60, middle otherwise
    assert(out(1L) == "tail" && out(2L) == "tail")
    assert((3L to 6L).forall(out(_) == "middle"))
    assert(out(7L) == "head" && out(8L) == "head")
  }

  test("diversityCard: exact type/token counts and ppm ratios (X3)") {
    val d = Seq(
      (0L, "a b a", "A"), (1L, "a b", "A"),   // uni a:3 b:2, bi (a,b):2 (b,a):1
      (2L, "z", "B"),                         // one hapax, no bigrams
      (3L, "", "C"))                          // empty text -> zero tokens
      .toDF("doc_id", "text", "source")
    val out = TextOps.diversityCard(d)
      .select("source", "n_docs", "distinct_unigrams", "n_tokens",
        "hapax_unigrams", "distinct_bigrams", "n_bigrams",
        "ttr_ppm", "bigram_ttr_ppm", "top_share_ppm")
      .as[(String, Long, Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("A") == (("A", 2L, 2L, 5L, 0L, 2L, 3L,
      400000L, 666666L, 600000L)))
    assert(out("B") == (("B", 1L, 1L, 1L, 1L, 0L, 0L,
      1000000L, 0L, 1000000L)))
    assert(out("C") == (("C", 1L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("contrastivePairs: band labels and NaN guard (X2)") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f)),            // cos(0,1) = 1        -> positive
      (2L, Array(0.4f, 0.9165151f)),      // cos(0,2)=cos(1,2)=.4 -> hard_neg
      (3L, Array(0.0f, 1.0f)),            // cos(2,3) ~ .9165    -> positive
      (4L, Array(0.0f, 0.0f)))            // zero norm -> NaN    -> dropped
      .toDF("vec_id", "embedding")
    val out = Similarity.contrastivePairs(emb, posMin = 0.45,
        negMin = 0.35, cells = 1)
      .select("a", "b", "label").as[(Long, Long, String)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out == Map(
      (0L, 1L) -> "positive", (2L, 3L) -> "positive",
      (0L, 2L) -> "hard_negative", (1L, 2L) -> "hard_negative"))
  }

  test("autoCells: floor of 4, then sqrt(n/32) (X1/X2 default)") {
    import graft.ext.Clustering
    assert(Clustering.autoCells(spark.range(9).toDF()) == 4)
    assert(Clustering.autoCells(spark.range(500).toDF()) == 4)
    assert(Clustering.autoCells(spark.range(2000).toDF()) == 7)
    assert(Clustering.autoCells(spark.range(20000).toDF()) == 25)
    // the derived default IS the explicit call at the derived count
    val base = (0L until 8L).map { i =>
      (i, Array.tabulate(8)(d => if (d == i.toInt) 1.0f else 0.01f * i))
    }
    val emb = base.toDF("vec_id", "embedding")
    val auto = Dedup.semanticDedup(emb, threshold = 0.95)
      .as[(Long, Int, Boolean)].collect().toSet
    val explicit = Dedup.semanticDedup(emb, threshold = 0.95, k = 4)
      .as[(Long, Int, Boolean)].collect().toSet
    assert(auto == explicit)
  }

  test("importanceWeights: target-typical docs rank higher; uniform when target==raw (X3)") {
    val d = Seq(
      (0L, "alpha beta alpha beta alpha beta"),   // pure target language
      (1L, "gamma delta gamma delta gamma delta"), // pure off-target
      (2L, "alpha beta gamma delta alpha beta"))   // mixed
      .toDF("doc_id", "text")
    val target = d.where($"doc_id" === 0L)
    val out = TextOps.importanceWeights(d, target, buckets = 64)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    // ranking: pure-target > mixed > off-target
    assert(out(0L) > out(2L) && out(2L) > out(1L))
    // target == raw: every bucket ratio is the same smoothed constant
    // family, so all docs score within the smoothing wobble of each
    // other — and identically under repartition
    val self = TextOps.importanceWeights(d, d, buckets = 64)
      .as[(Long, Long, Long, Long)].collect().toSet
    val again = TextOps.importanceWeights(d.repartition(5), d, buckets = 64)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(self == again)
    // n_feats = unigrams + bigrams = 6 + 5 per doc here
    val nf = TextOps.importanceWeights(d, target, buckets = 64)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(nf.values.toSet == Set(11L))
  }

  test("fuzzyJoin: normalization-equal keys match at 1e6; disjoint keys don't; short keys drop (X1)") {
    val master = Seq((1L, "Acme Widgets Inc"), (2L, "Globex Corporation"),
      (3L, "ab")) // too short after normalization -> no grams
      .toDF("mid", "mname")
    val dirty = Seq((10L, "ACME-WIDGETS-INC!!"), (20L, "Initech LLC"),
      (30L, "globex   corporation"))
      .toDF("vid", "vname")
    val out = graft.ext.Dedup.fuzzyJoin(master, dirty, "mid", "mname",
        "vid", "vname", minJaccardPpm = 500000L)
      .as[(Long, Long, Long)].collect().toSet
    // 1↔10 and 2↔30 normalize to identical keys; nothing else crosses
    // 0.5; key "ab" produces no grams and cannot match anything
    assert(out == Set((1L, 10L, 1000000L), (2L, 30L, 1000000L)))
    // bipartite: ids may collide across sides without canonical games
    val selfish = graft.ext.Dedup.fuzzyJoin(master, master
        .withColumnRenamed("mid", "vid").withColumnRenamed("mname", "vname"),
      "mid", "mname", "vid", "vname", minJaccardPpm = 999999L)
      .as[(Long, Long, Long)].collect().toSet
    assert(selfish == Set((1L, 1L, 1000000L), (2L, 2L, 1000000L)))
  }

  test("retentionFunnel: cumulative survivors match brute-force filtering (X14)") {
    import graft.ext.Profiling
    val d = Seq(
      (0L, "a b c d e", "s1", "en"),    // passes all
      (1L, "a b", "s1", "en"),          // fails min_tokens (stage 1)
      (2L, "a b c d e f", "s1", "zz"),  // fails lang (stage 2)
      (3L, "a b c d", "s2", "en"),      // fails min_tokens
      (4L, "a b c d e f g", "s2", "xx") // fails lang
    ).toDF("doc_id", "text", "source", "lang")
    val out = Profiling.retentionFunnel(d, "source", Seq(
        "min_tokens" -> (TextOps.tokenCount($"text") >= 5),
        "lang_known" -> $"lang".isin("en")))
      .as[(String, Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    // s1: ingest 3 docs/13 tokens; >=5 tokens keeps 0,2 (11 tok);
    // lang keeps 0 (5 tok)
    assert(out(("s1", 0L)) == ("ingest", 3L, 13L))
    assert(out(("s1", 1L)) == ("min_tokens", 2L, 11L))
    assert(out(("s1", 2L)) == ("lang_known", 1L, 5L))
    // s2: ingest 2/11; min_tokens keeps only doc4 (7 tok); lang kills it
    assert(out(("s2", 0L)) == ("ingest", 2L, 11L))
    assert(out(("s2", 1L)) == ("min_tokens", 1L, 7L))
    assert(out(("s2", 2L)) == ("lang_known", 0L, 0L))
    assert(out.size == 6)
  }

  private lazy val recallEmb = Seq(
    0L -> Array(0.10f, 0.20f, -0.30f, 0.40f),
    1L -> Array(0.12f, 0.18f, -0.28f, 0.41f),
    2L -> Array(-0.50f, 0.60f, 0.10f, -0.20f),
    3L -> Array(0.90f, -0.10f, 0.30f, 0.70f),
    4L -> Array(-0.90f, -0.80f, 0.20f, 0.10f),
    5L -> Array(0.11f, 0.19f, -0.29f, 0.40f),
    6L -> Array(0.50f, 0.50f, 0.50f, 0.50f),
    7L -> Array(-0.10f, -0.20f, -0.30f, -0.40f))
    .toDF("vec_id", "embedding")

  test("matryoshkaRecallCard: the full-width prefix is exact recall 1e6 (X2)") {
    val card = Clustering.matryoshkaRecallCard(recallEmb,
        recallEmb.filter($"vec_id" < 2), prefixDims = Seq(1, 4), topK = 3)
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(card(4) == 1000000L)   // prefix == all dims: identical ranking
    assert(card(1) <= 1000000L)   // a 1-dim prefix can only lose recall
  }

  test("binaryRerankRecallCard: rerank depth = corpus is exact recall 1e6 (X2)") {
    val card = Clustering.binaryRerankRecallCard(recallEmb,
        recallEmb.filter($"vec_id" < 2), dims = 4,
        rerankRs = Seq(3, 7), topK = 3)
      .as[(Int, Long, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    // R = 7 = every non-self corpus vector survives the Hamming cut,
    // so the exact rerank IS exact search
    assert(card(7) == 1000000L)
    assert(card(3) <= 1000000L)
  }

  test("binaryCodes: packed sign bits match the per-dim mean rule (X2)") {
    val codes = Clustering.binaryCodes(recallEmb, dims = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // brute: micro-quantize, per-dim mean via cross-multiply
    val vs = Seq(
      Array(0.10f, 0.20f, -0.30f, 0.40f), Array(0.12f, 0.18f, -0.28f, 0.41f),
      Array(-0.50f, 0.60f, 0.10f, -0.20f), Array(0.90f, -0.10f, 0.30f, 0.70f),
      Array(-0.90f, -0.80f, 0.20f, 0.10f), Array(0.11f, 0.19f, -0.29f, 0.40f),
      Array(0.50f, 0.50f, 0.50f, 0.50f), Array(-0.10f, -0.20f, -0.30f, -0.40f))
    val q = vs.map(_.map(x => math.floor(x.toDouble * 1e6).toLong))
    val n = q.length.toLong
    val sums = (0 until 4).map(d => q.map(_(d)).sum)
    for ((v, i) <- q.zipWithIndex) {
      val want = (0 until 4).map(d => if (v(d) * n > sums(d)) 1L << d else 0L).sum
      assert(codes(i.toLong) == (want, 0L), s"vec $i")
    }
  }

  test("probeBinaryIndex == in-memory binaryRerankTopK; out-of-corpus queries encode (X2)") {
    val path = java.nio.file.Files
      .createTempDirectory("extspec_binidx").toString
    Clustering.writeBinaryIndex(recallEmb, path, dims = 4)
    val q = recallEmb.filter($"vec_id" < 2)
    val probe = Clustering.probeBinaryIndex(spark, path, recallEmb, q,
        dims = 4, rerankR = 5, topK = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    val mem = Clustering.binaryRerankTopK(recallEmb, q, dims = 4,
        rerankR = 5, topK = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(probe == mem && probe.nonEmpty)
    // an out-of-corpus query encodes against the FROZEN thresholds
    // and retrieves without error (no self-exclusion id collision)
    val fresh = Seq((100L, Array(0.1f, 0.2f, -0.3f, 0.4f)))
      .toDF("vec_id", "embedding")
    val got = Clustering.probeBinaryIndex(spark, path, recallEmb, fresh,
        dims = 4, rerankR = 5, topK = 3)
      .as[(Long, Long, Long, Int)].collect()
    assert(got.length == 3 && got.forall(_._1 == 100L))
    // vec 0 has the identical embedding -> it is the exact-L2 top hit
    assert(got.find(_._4 == 1).get._2 == 0L)
  }

  test("probeBinaryIndex: a query COLLIDING with a corpus id self-excludes that vector — the documented id contract (r11 advice)") {
    val path = java.nio.file.Files
      .createTempDirectory("extspec_bincol").toString
    Clustering.writeBinaryIndex(recallEmb, path, dims = 4)
    // the query reuses corpus id 0 but carries vec 1's embedding:
    // corpus vec 0 (the true nearest) can never surface in its
    // results — vec_id <> query_id drops it silently, which is why
    // out-of-corpus callers must use DISJOINT ids
    val collide = recallEmb.filter($"vec_id" === 1)
      .select(lit(0L).as("vec_id"), $"embedding")
    val got = Clustering.probeBinaryIndex(spark, path, recallEmb, collide,
        dims = 4, rerankR = 5, topK = 3)
      .as[(Long, Long, Long, Int)].collect()
    assert(got.nonEmpty && got.forall(_._2 != 0L))
  }

  test("deleteIvfPq: tombstoned codes never surface after the cell prune; compaction preserves the probe (r12)") {
    val path = java.nio.file.Files
      .createTempDirectory("extspec_ivfdel").toString
    Clustering.writeIvfPq(recallEmb, path, dims = 4, cells = 2, m = 2,
      k = 4, iters = 1)
    val q = recallEmb.filter($"vec_id" < 2)
    def probe() = Clustering.probeIvfPq(spark, path, q, dims = 4,
        nProbe = 2, m = 2, topK = 8)
      .as[(Long, Long, Long, Int)].collect().toSet
    val before = probe()
    assert(before.exists(_._2 == 5L)) // the near-twin is retrievable
    Clustering.deleteIvfPq(spark, path, Seq(5L).toDF("vec_id"))
    val once = probe()
    assert(once.nonEmpty && !once.exists(_._2 == 5L),
      "tombstoned vector must vanish from every candidate list")
    // replayed delete is a no-op; compaction moves bytes, not answers
    Clustering.deleteIvfPq(spark, path, Seq(5L).toDF("vec_id"))
    assert(probe() == once)
    Clustering.compactIvfPq(spark, path)
    assert(probe() == once)
    assert(!spark.read.parquet(s"$path/codes")
      .filter($"vec_id" === 5L).head(1).nonEmpty,
      "compaction must physically drop the tombstoned codes")
  }

  test("compactBinaryIndex: plain replay after a delete-live-then-crash heals from the staged copy (r13 recovery-first)") {
    val path = java.nio.file.Files
      .createTempDirectory("extspec_bincrash").toString
    Clustering.writeBinaryIndex(recallEmb, path, dims = 4)
    Clustering.deleteBinaryIndex(spark, path, Seq(5L).toDF("vec_id"))
    // simulate window (b) of a crashed compaction: the compacted copy
    // fully staged at codes_compacting, the live codes dir deleted,
    // tombstones still on disk (they drop last) — the state where the
    // old replay's staging cleanup destroyed the only copy and then
    // failed reading the missing live dir
    spark.read.parquet(s"$path/codes")
      .join(spark.read.parquet(s"$path/tombstones"), Seq("vec_id"),
        "left_anti")
      .write.parquet(s"$path/codes_compacting")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes"), true)
    // a PLAIN replay of the compaction must heal, not destroy
    Clustering.compactBinaryIndex(spark, path)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$path/codes")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")),
      "the completed compaction clears the sidecar")
    assert(!fs.exists(
      new org.apache.hadoop.fs.Path(s"$path/codes_compacting")))
    assert(spark.read.parquet(s"$path/codes").select("vec_id")
      .as[Long].collect().toSet == Set(0L, 1L, 2L, 3L, 4L, 6L, 7L),
      "healed codes must equal the compacted survivor set")
    // and the healed index still answers probes (doc 5 gone for good)
    val hits = Clustering.probeBinaryIndex(spark, path, recallEmb,
        recallEmb.filter($"vec_id" === 0L), dims = 4, rerankR = 7,
        topK = 7)
      .as[(Long, Long, Long, Int)].collect()
    assert(hits.nonEmpty && !hits.exists(_._2 == 5L))
  }

  test("ivfPqDriftCard: recall decays under distribution shift, recovers after re-train (r13 verdict #6)") {
    // base: 6 near-zero vectors (the model trains HERE); shift: 8
    // appended vectors on a far 4x4 grid — each exactly a (left,
    // right) centroid pair under a RE-TRAINED PQ, but collapsing to
    // 1-2 codes under the frozen near-zero codebook. Deleting all
    // base vectors leaves a live corpus the frozen model has never
    // seen: ADC ties mis-rank, recall drops; compact + re-train on
    // the survivors makes ADC == exact L2 (vectors sit ON their
    // centroid pairs), recall returns to 1e6 ppm.
    def grid(i: Int): Array[Float] = {
      val l = (i % 4) * 0.1f; val r = ((i + i / 4) % 4) * 0.1f
      Array(l, l, r, r)
    }
    val base = (0 until 6).map(j =>
      (100L + j, Array.fill(4)(j * 0.0001f)))
    val shifted = (0 until 8).map(i => (i.toLong, grid(i)))
    val all = (base ++ shifted).toDF("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("extspec_drift").toString
    Clustering.writeIvfPq(all.filter($"vec_id" >= 100L), path,
      dims = 4, cells = 1, m = 2, k = 4, iters = 1)
    Clustering.appendIvfPq(spark, path, all.filter($"vec_id" < 100L),
      dims = 4, m = 2)
    Clustering.deleteIvfPq(spark, path,
      all.filter($"vec_id" >= 100L).select("vec_id"))
    val queries = all.filter($"vec_id" < 2L)
    def card(): (Long, Long) = {
      val r = Clustering.ivfPqDriftCard(spark, path, all, queries,
          dims = 4, nProbes = Seq(1), m = 2, topK = 2)
        .select("n_live", "mean_recall_ppm")
        .as[(Long, Long)].head()
      r
    }
    val (nLive, churned) = card()
    assert(nLive == 8L, "live set must derive from the layout itself")
    assert(churned < 1000000L,
      s"frozen-model recall must decay under the shift (got $churned)")
    // re-index: drop tombstoned codes, re-train on the survivors
    Clustering.compactIvfPq(spark, path)
    Clustering.writeIvfPq(all.filter($"vec_id" < 100L), path,
      dims = 4, cells = 1, m = 2, k = 4, iters = 1)
    val (nLive2, recovered) = card()
    assert(nLive2 == 8L)
    assert(recovered == 1000000L,
      s"re-trained recall must recover (got $recovered)")
    assert(recovered > churned)
  }

  test("deleteBandIndex: probe equals rebuild-on-remaining; compaction clears the tombstones (r12)") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),
      (3L, "one two three four five six"),
      (4L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val batch = Seq((10L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    Dedup.writeBandIndex(corpus, "extspec_banddel", buckets = 2)
    // delete doc 4 (an exact twin of the batch doc): it must vanish
    // from the probe's pair set
    Dedup.deleteBandIndex(spark, "extspec_banddel", Seq(4L).toDF("doc_id"))
    def pairs() = Dedup.probeBandIndex("extspec_banddel", batch,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    val once = pairs()
    assert(once.exists(p => p._1 == 1L && p._2 == 10L))
    assert(!once.exists(p => p._1 == 4L || p._2 == 4L),
      "tombstoned doc must not pair with the batch")
    Dedup.deleteBandIndex(spark, "extspec_banddel", Seq(4L).toDF("doc_id"))
    assert(pairs() == once, "replayed delete must be a no-op")
    Dedup.compactBandIndex(spark, "extspec_banddel")
    assert(pairs() == once)
    assert(!spark.catalog.tableExists("extspec_banddel_tombstones"))
  }

  test("appendBinaryIndex: re-appended vectors reproduce their codes against the frozen thresholds (X2)") {
    val path = java.nio.file.Files
      .createTempDirectory("extspec_binapp").toString
    Clustering.writeBinaryIndex(recallEmb, path, dims = 4)
    Clustering.appendBinaryIndex(spark, path, recallEmb, dims = 4)
    val codes = spark.read.parquet(s"$path/codes")
    assert(codes.count() == 16L)
    // every vector's appended code == its build-time code
    assert(codes.distinct().count() == 8L)
  }

  test("mmrRerankCandidates: diversifies an injected binary-probe candidate list (X2)") {
    val path = java.nio.file.Files
      .createTempDirectory("extspec_binmmr").toString
    Clustering.writeBinaryIndex(recallEmb, path, dims = 4)
    val q = recallEmb.filter($"vec_id" < 2)
    val cand = Clustering.probeBinaryIndex(spark, path, recallEmb, q,
      dims = 4, rerankR = 6, topK = 6)
    val out = Similarity.mmrRerankCandidates(recallEmb, cand, k = 3)
      .as[(Long, Long, Long, Int)].collect()
    for ((_, g) <- out.groupBy(_._1)) {
      assert(g.map(_._4).sorted.toSeq == Seq(1, 2, 3))
      assert(g.map(_._2).distinct.length == 3)
    }
    assert(out.groupBy(_._1).size == 2)
  }

  test("mmrRerank: lambda = 1000 degenerates to the pure exact top-k (X2)") {
    val q = recallEmb.filter($"vec_id" < 2)
    val mmr = Similarity.mmrRerank(recallEmb, q, k = 3, candidateN = 5,
        lambdaPpt = 1000L)
      .select("query_id", "neighbor_id", "mmr_rank")
      .as[(Long, Long, Int)].collect().toSet
    val exact = Clustering.exactL2TopK(recallEmb, q, topK = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(mmr == exact)
  }

  test("mmrRerank: lambda = 0 spreads — step 2 is the farthest-from-step-1 candidate (X2)") {
    val q = recallEmb.filter($"vec_id" === 0)
    val out = Similarity.mmrRerank(recallEmb, q, k = 2, candidateN = 4,
        lambdaPpt = 0L)
      .select("mmr_rank", "neighbor_id").as[(Int, Long)].collect().toMap
    // brute the expectation: candidates = exact top-4 (self excluded),
    // step 1 = nearest, step 2 (lambda = 0) = candidate maximizing
    // d2 to step 1, (score DESC, id ASC)
    val cand = Clustering.exactL2TopK(recallEmb, q, topK = 4)
      .select("neighbor_id").as[Long].collect().toSeq
    val vecs = recallEmb.as[(Long, Array[Float])].collect().toMap
    def d2(a: Long, b: Long): Long =
      vecs(a).zip(vecs(b)).map { case (x, y) =>
        val qx = math.floor(x.toDouble * 1e6).toLong
        val qy = math.floor(y.toDouble * 1e6).toLong
        (qx - qy) * (qx - qy)
      }.sum
    val s1 = out(1)
    val want2 = cand.filter(_ != s1)
      .map(c => (d2(c, s1), c)).sortBy { case (d, c) => (-d, c) }.head._2
    assert(cand.contains(s1))
    assert(out(2) == want2)
  }

  test("hardNegatives: same-label neighbors are never mined; ranks are dense (X2)") {
    val lab = recallEmb.withColumn("label", (col("vec_id") % 2).cast("int"))
    val out = Similarity.hardNegatives(lab, lab.filter($"vec_id" < 2), k = 3)
      .as[(Long, Long, Long, Long, Int)].collect()
    assert(out.nonEmpty)
    for ((qid, _, nlab, _, _) <- out) assert(nlab != qid % 2)
    for ((_, g) <- out.groupBy(_._1))
      assert(g.map(_._5).sorted.toSeq == (1 to g.length))
  }

  test("kcenterSeeds: brute farthest-first on the fixture; radii non-increasing (X2)") {
    val got = Clustering.kcenterSeeds(recallEmb, k = 4)
      .as[(Long, Int, Long)].collect().sortBy(_._2)
    val vecs = recallEmb.as[(Long, Array[Float])].collect().toMap
    def d2(a: Long, b: Long): Long =
      vecs(a).zip(vecs(b)).map { case (x, y) =>
        val qx = math.floor(x.toDouble * 1e6).toLong
        val qy = math.floor(y.toDouble * 1e6).toLong
        (qx - qy) * (qx - qy)
      }.sum
    var sel = Vector(0L) // min id
    var want = Vector((0L, 1, 0L))
    for (step <- 2 to 4) {
      val (id, md) = vecs.keys.toSeq.filterNot(sel.contains).map(c =>
          (c, sel.map(s => d2(c, s)).min))
        .sortBy { case (c, m) => (-m, c) }.head
      sel = sel :+ id
      want = want :+ ((id, step, md))
    }
    assert(got.toVector == want)
    // covering-radius ladder never increases
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.drop(1)).forall { case (a, b) => b <= a })
  }

  test("repetitionCard: hand-computed gates on a 4-token doc (X3)") {
    val d = Seq((0L, "a a a b"), (1L, "w x y z w x y z w x")).toDF("doc_id", "text")
    val out = TextOps.repetitionCard(d)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // doc 0: n=4, distinct=2 -> dup 500000; bigram "a a" x2 -> 2*2/4 = 1e6 cap
    assert(out(0L) == ((0L, 4L, 500000L, 1000000L, 750000L, false)))
    // doc 1: n=10, distinct=4 -> dup 600000; "w x" x3 -> 600000;
    // "w x y" x2 -> 600000: both gates fail
    assert(out(1L) == ((1L, 10L, 600000L, 600000L, 600000L, false)))
  }
}
