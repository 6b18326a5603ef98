package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Document deduplication for training-data pipelines (north-star
 * extension X1; not in the reference — BASELINE.json mandates it).
 *
 * Scale design: every variant is a groupBy/self-join on a SMALL
 * derived key (hash, band bucket), never on raw text; candidate
 * generation is strictly blocked so the pairwise verification join
 * never goes quadratic in the corpus. All column math is built-in
 * higher-order functions — codegen'd, no UDFs.
 */
object Dedup {

  /** Tokenize on whitespace runs — the ONE corpus tokenization rule,
    * shared with [[TextOps.tokens]] so dedup shingles and text-quality
    * features can never silently diverge. */
  def tokens(text: Column): Column = TextOps.tokens(text)

  /** w-token sliding windows as array<array<string>>, built by zipping
    * w slices with an accumulating zip_with. CAPTURE-FREE by
    * construction: every lambda references only its own arguments — a
    * formulation like element_at(t, i + o) captures the token array,
    * and because higher-order functions evaluate interpreted
    * (CodegenFallback, no cross-lambda subexpression elimination) the
    * whole tokenize chain re-runs PER ELEMENT, O(tokens·w) regex
    * passes per document (the x33 lesson; measured 5-10x on the
    * shingle family). */
  private[ext] def shingleWindows(t: Column, w: Int): Column = {
    val n1 = size(t) - (w - 1)
    val first = transform(slice(t, lit(1), n1), x => array(x))
    (2 to w).foldLeft(first) { (acc, k) =>
      zip_with(acc, slice(t, lit(k), n1), (a, x) => array_append(a, x))
    }
  }

  /** w-token shingles (w consecutive tokens joined by one space),
    * distinct per document. */
  def shingles(text: Column, w: Int = 3): Column = {
    val t = tokens(text)
    // short docs -> empty shingle set (the when-guard keeps the
    // otherwise branch's negative-length slices unevaluated)
    when(size(t) < w, array().cast("array<string>"))
      .otherwise(array_distinct(transform(shingleWindows(t, w),
        arr => array_join(arr, " "))))
  }

  /** Exact dedup: canonical = min doc_id per identical text (hash
    * groupBy; at 100 TB, group on xxhash64(text) so the shuffle key is
    * 8 bytes, then verify text equality inside the group). Returns
    * (doc_id, canonical_id, is_duplicate). */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
    docs.select(col(idCol), col(textCol))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .withColumn("is_duplicate", col(idCol) =!= col("canonical_id"))
      .select(col(idCol), col("canonical_id"), col("is_duplicate"))
  }

  /** Distinct w-token shingles as sorted 64-bit hashes: the shingle
    * string t1+" "+...+tw is never materialized — the window of tokens
    * feeds multi-arg xxhash64 directly. Set-equivalent to [[shingles]]
    * for Jaccard/MinHash purposes (hash collisions aside, ~n²/2⁶⁴ per
    * doc), with no per-shingle string allocation; sorted so
    * [[graft.functions.SortedArrayJaccard]] can merge-scan pairs. */
  def hashedShingles(text: Column, w: Int = 3): Column = {
    val t = tokens(text)
    when(size(t) < w, array().cast("array<bigint>"))
      .otherwise(array_sort(array_distinct(transform(shingleWindows(t, w),
        arr => xxhash64((1 to w).map(o => element_at(arr, o)): _*)))))
  }

  /** MinHash + LSH near-dup candidates: signatures banded into
    * `bands` buckets; docs sharing any (band, bandHash) bucket are
    * candidates; candidates verified with exact shingle Jaccard.
    * Returns (a, b, jaccard) pairs with a < b and jaccard >= threshold.
    *
    * Scale path: the band-bucket groupBy shuffles only
    * (doc_id, 8-byte hash) pairs; the verification join re-reads text
    * for candidate pairs only. */
  def minhashLsh(docs: DataFrame, threshold: Double = 0.7, k: Int = 32,
                 bands: Int = 8, w: Int = 3, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(k % bands == 0,
      s"minhashLsh: k=$k must be divisible by bands=$bands (otherwise " +
        s"${k % bands} signature values would be silently unused)")
    val r = k / bands
    // Materialize hashed shingles, then signatures, at REAL execution
    // boundaries. Deriving the 8 band hashes straight from the
    // signature EXPRESSION lets CollapseProject inline the k-pass
    // minhash into every band — a 256-pass-per-row expression pyramid
    // that overwhelms codegen and drops to interpreted eval.
    // Docs shorter than w tokens have EMPTY shingle sets: their
    // jaccard is undefined (they can never clear the threshold) and,
    // left in, their all-null signatures would make every short doc
    // collide in every LSH band — a quadratic candidate blowup.
    // Filter AFTER the checkpoint: a pre-checkpoint filter on the
    // projected column gets pushed below the projection, duplicating
    // the whole shingle expression per row (5x slowdown measured).
    val hashed = docs
      .select(col(idCol).as("id"), hashedShingles(col(textCol), w).as("hs"))
      .localCheckpoint()
      .filter(size(col("hs")) > 0)
    val sig = hashed
      .select(col("id"), array((0 until k).map(s =>
        array_min(transform(col("hs"), h => xxhash64(h, lit(s))))): _*).as("sig"))
      .localCheckpoint()
    val banded = sig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        xxhash64(concat_ws(",", (0 until r).map(i =>
          element_at(col("sig"), b * r + i + 1)): _*))): _*))
        .as(Seq("band", "bandHash")))
    // Disjoint column names per side: a shared-lineage self-join via
    // .as() aliases de-duplicates the attributes and Spark silently
    // degrades to a nested-loop cross join with a post-filter.
    val left = banded.select(col("id").as("a"), col("band"), col("bandHash"))
    val right = banded.select(col("id").as("b"), col("band"), col("bandHash"))
    val cand = left.join(right, Seq("band", "bandHash"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    // verify candidates against the SAME hashed shingle sets (already
    // sorted+distinct) with the zero-allocation merge kernel
    cand
      .join(hashed.select(col("id").as("a"), col("hs").as("shA")), Seq("a"))
      .join(hashed.select(col("id").as("b"), col("hs").as("shB")), Seq("b"))
      .withColumn("jaccard",
        graft.functions.SortedArrayJaccard(col("shA"), col("shB")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Portable MinHash+LSH near-dup pairs — the cross-engine-
    * reproducible variant of [[minhashLsh]] (same banding scheme, the
    * md5 hash family instead of xxhash64): any engine with md5 can
    * re-derive the exact candidate set and signatures, which is what
    * makes the WHOLE near-dup pipeline oracle-checkable.
    *
    *  - shingle hash: first 60 md5 bits (`conv(substr(md5(s),1,15))`),
    *    reduced mod the Mersenne prime p = 2^31 - 1;
    *  - k seeded signatures: classic universal hashing
    *    min((2s+1)·h + s mod p) — products stay under 62 bits, so no
    *    BIGINT overflow in ANY engine (Spark wraps, DuckDB errors —
    *    neither is acceptable);
    *  - banding + exact string-shingle Jaccard verification.
    *
    * ~2× the cost of the xxhash64 variant (md5 vs xxhash64, string
    * shingles retained for verification) — use it when external
    * reproducibility matters, [[minhashLsh]] when only Spark reads the
    * result. Returns (a, b, jaccard). */
  def minhashLshPortable(docs: DataFrame, threshold: Double = 0.7,
                         k: Int = 16, bands: Int = 4, w: Int = 3,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(k % bands == 0, s"minhashLshPortable: k=$k not divisible by bands=$bands")
    val r = k / bands
    val p = 2147483647L // 2^31 - 1
    // string shingles kept (verification needs them); md5-derived
    // 31-bit base hash per shingle
    val sh = docs
      .select(col(idCol).as("id"), shingles(col(textCol), w).as("sh"))
      .localCheckpoint()
      .filter(size(col("sh")) > 0)
    val based = sh.select(col("id"), col("sh"),
        transform(col("sh"), s =>
          pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(p)))
          .as("hs"))
      .localCheckpoint()
    val sig = based.select(col("id"), col("sh"),
        array((0 until k).map(s =>
          array_min(transform(col("hs"),
            h => (h * lit(2L * s + 1) + lit(s.toLong)) % lit(p)))): _*).as("sig"))
      .localCheckpoint()
    val banded = sig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        concat_ws(",", (0 until r).map(i =>
          element_at(col("sig"), b * r + i + 1)): _*)): _*))
        .as(Seq("band", "bandKey")))
    val left = banded.select(col("id").as("a"), col("band"), col("bandKey"))
    val right = banded.select(col("id").as("b"), col("band"), col("bandKey"))
    val cand = left.join(right, Seq("band", "bandKey"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(sig.select(col("id").as("a"), col("sh").as("shA")), Seq("a"))
      .join(sig.select(col("id").as("b"), col("sh").as("shB")), Seq("b"))
      .withColumn("jaccard",
        size(array_intersect(col("shA"), col("shB"))).cast("double") /
          (size(col("shA")) + size(col("shB"))
            - size(array_intersect(col("shA"), col("shB")))))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Signature-ESTIMATED Jaccard for banded candidate pairs — the
    * verification-free leg of MinHash dedup. At the 100 TB tier most
    * pipelines trust the unbiased estimator matches/k instead of
    * re-reading both documents' shingle sets: the exact verify
    * ([[minhashLshPortable]]) joins the full shingle SETS back
    * through the candidate table, while the estimator touches only
    * the k-component signatures the banding already carries — the
    * candidate join shrinks from sets to k BIGINTs a side. Same md5
    * signature family, so candidates, component matches and the
    * integer-ppm estimate all re-derive in an external engine.
    * Estimator std error ~1/√k (k=16 → ±25 points — rank/triage
    * precision, not gate precision; gate on the exact leg). Pairs
    * sharing no band never surface — identical recall to the exact
    * leg by construction. Returns (a, b, est_ppm). */
  def minhashEstimatePortable(docs: DataFrame, k: Int = 16, bands: Int = 4,
                              w: Int = 3, idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    require(k % bands == 0,
      s"minhashEstimatePortable: k=$k not divisible by bands=$bands")
    val r = k / bands
    val p = 2147483647L // 2^31 - 1
    val based = docs
      .select(col(idCol).as("id"), shingles(col(textCol), w).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        transform(col("sh"), s =>
          pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(p)))
          .as("hs"))
    val sig = based.select(col("id"),
        array((0 until k).map(s =>
          array_min(transform(col("hs"),
            h => (h * lit(2L * s + 1) + lit(s.toLong)) % lit(p)))): _*).as("sig"))
      .localCheckpoint()
    val banded = sig.select(col("id"),
      posexplode(array((0 until bands).map(b =>
        concat_ws(",", (0 until r).map(i =>
          element_at(col("sig"), b * r + i + 1)): _*)): _*))
        .as(Seq("band", "bandKey")))
    val cand = banded.select(col("id").as("a"), col("band"), col("bandKey"))
      .join(banded.select(col("id").as("b"), col("band"), col("bandKey")),
        Seq("band", "bandKey"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(sig.select(col("id").as("a"), col("sig").as("sigA")), Seq("a"))
      .join(sig.select(col("id").as("b"), col("sig").as("sigB")), Seq("b"))
      .select(col("a"), col("b"),
        expr(s"1000000L * size(filter(zip_with(sigA, sigB," +
          s" (x, y) -> x = y), m -> m)) div $k").as("est_ppm"))
  }

  /** Calibrate the signature estimator against the exact verify —
    * "measure, don't guess" applied to [[minhashEstimatePortable]]'s
    * own triage threshold: over the (shared-by-construction) banded
    * candidate universe, for each candidate estimator threshold the
    * exact-Jaccard-≥-`gtJaccard` confusion counts and integer-ppm
    * precision/recall. THE table a pipeline reads before deciding
    * where to run the estimate-only leg vs the set-verify gate.
    * Banding misses are invisible to BOTH legs (identical recall by
    * construction), so `fn` here counts estimator misses among
    * candidates — the quantity the threshold actually controls.
    *
    * Scale: the candidate pair table is computed once (est + exact
    * legs share banding); thresholds fan out via a |thresholds|-row
    * broadcast cross join; one groupBy on |thresholds| keys. */
  def estimatorCalibration(docs: DataFrame, thresholds: Seq[Long],
                           gtJaccard: Double = 0.5, k: Int = 16,
                           bands: Int = 4, w: Int = 3,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    require(thresholds.nonEmpty, "estimatorCalibration: no thresholds")
    import docs.sparkSession.implicits._
    val est = minhashEstimatePortable(docs, k, bands, w, idCol, textCol)
    val exact = minhashLshPortable(docs, 0.0, k, bands, w, idCol, textCol)
    val pr = est.join(exact, Seq("a", "b"))
      .select(col("est_ppm"), (col("jaccard") >= lit(gtJaccard)).as("gt"))
      .localCheckpoint()
    val thr = thresholds.toDF("thr_ppm")
    val counts = broadcast(thr).crossJoin(pr)
      .groupBy("thr_ppm").agg(
        count(when(col("est_ppm") >= col("thr_ppm") && col("gt"), 1)).as("tp"),
        count(when(col("est_ppm") >= col("thr_ppm") && !col("gt"), 1)).as("fp"),
        count(when(col("est_ppm") < col("thr_ppm") && col("gt"), 1)).as("fn"))
    // a zero-candidate corpus must still report one all-zero row per
    // threshold (the crossJoin of an empty pair table groups to
    // NOTHING otherwise — caught by the r10 fuzz property): rebuild
    // the full threshold axis with a left join
    thr.join(counts, Seq("thr_ppm"), "left")
      .select(col("thr_ppm"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"),
        coalesce(col("fn"), lit(0L)).as("fn"))
      .withColumn("precision_ppm",
        expr("tp * 1000000 DIV greatest(tp + fp, 1)"))
      .withColumn("recall_ppm",
        expr("tp * 1000000 DIV greatest(tp + fn, 1)"))
  }

  // -----------------------------------------------------------------
  // Incremental near-dup: persisted LSH band index + batch probe
  // -----------------------------------------------------------------

  /** md5-family banding + hashed shingle sets shared by
    * [[writeBandIndex]] / [[probeBandIndex]] — the same signature
    * arithmetic as [[minhashLshPortable]] (60-bit md5 base hashes mod
    * p = 2³¹-1, k seeded minima, r-row band keys), but the doc-level
    * payload is the SORTED DISTINCT base-hash set instead of string
    * shingles: a persisted index must never store text (8 bytes per
    * shingle at rest), and exact Jaccard over the hash sets is
    * re-derivable by any engine with md5 — a hash collision
    * (~|sh|²/2³¹ per doc) hits both engines identically, so
    * hash-match still holds. The composite band key folds the band
    * ordinal in, so equal r-tuples in DIFFERENT bands cannot alias
    * one bucket. Returns (bands: (bk, id), sets: (id, hs)). */
  private def md5BandedSets(docs: DataFrame, k: Int, bands: Int, w: Int,
                            idCol: String, textCol: String): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"md5BandedSets: k=$k not divisible by bands=$bands")
    val r = k / bands
    val p = 2147483647L // 2^31 - 1
    // one regex+md5 pass, materialized: feeds bands AND sets
    val based = docs
      .select(col(idCol).cast("long").as("id"),
        shingles(col(textCol), w).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        transform(col("sh"), s =>
          pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(p)))
          .as("hsRaw"))
      .localCheckpoint()
    bandAndSets(based, k, bands)
  }

  /** Shared banding tail of the md5 minhash family: from a
    * materialized (id, hsRaw gram-hash list) projection, produce the
    * exploded band keys and the sorted-distinct gram sets. Factored
    * out of [[md5BandedSets]] so [[fuzzyJoin]]'s char-gram leg uses
    * the identical signature/banding arithmetic. */
  private def bandAndSets(based: DataFrame, k: Int,
                          bands: Int): (DataFrame, DataFrame) = {
    require(k % bands == 0, s"bandAndSets: k=$k not divisible by bands=$bands")
    val r = k / bands
    val p = 2147483647L // 2^31 - 1
    val sig = based.select(col("id"),
      array((0 until k).map(s =>
        array_min(transform(col("hsRaw"),
          h => (h * lit(2L * s + 1) + lit(s.toLong)) % lit(p)))): _*).as("sig"))
    val banded = sig.select(col("id"),
      explode(array((0 until bands).map(b =>
        concat_ws(",", (lit(b) +: (0 until r).map(i =>
          element_at(col("sig"), b * r + i + 1))): _*)): _*)).as("bk"))
      .select(col("bk"), col("id"))
    val sets = based.select(col("id"),
      array_sort(array_distinct(col("hsRaw"))).as("hs"))
    (banded, sets)
  }

  /** Character w-gram md5 hashes of a normalized string key — the
    * SHORT-key gram step of [[fuzzyJoin]] (token shingles are useless
    * on 2-3-word entity names; char trigrams are the published ER
    * blocking unit). Same md5 → mod-p hash family as the document
    * leg, so every downstream artifact re-derives externally. Keys
    * shorter than w grams are dropped (no grams, no evidence). */
  private def charGramHashes(df: DataFrame, idCol: String, keyCol: String,
                             w: Int): DataFrame = {
    val p = 2147483647L
    df.select(col(idCol).cast("long").as("id"),
        TextOps.normalize(col(keyCol)).as("nk"))
      .filter(length(col("nk")) >= w)
      .select(col("id"), expr(
        s"array_distinct(transform(sequence(1, length(nk) - ${w - 1})," +
          s" i -> substr(nk, i, $w)))").as("g"))
      .select(col("id"),
        transform(col("g"), s =>
          pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"), lit(p)))
          .as("hsRaw"))
      .localCheckpoint()
  }

  /** Fuzzy join (entity resolution) between two tables on string
    * keys: emit (a, b, jaccard_ppm) for cross-table pairs whose
    * normalized character-w-gram Jaccard meets `minJaccardPpm`. The
    * scale shape is banded minhash blocking — each side maps to
    * `bands` 8-byte-ish band keys, candidates come from the
    * band-bucket equi-join (never a cross join), and only candidate
    * pairs pull their gram sets for the exact integer verify
    * (1e6·|∩| div |∪|, all BIGINT). This is the standard
    * dirty-dimension reconciliation operator (vendor names vs master
    * list, crawl hosts vs allowlist) the relational surface lacked;
    * same md5 family as [[minhashLshPortable]], so blocking AND
    * verdicts re-derive on any engine. Keys shorter than w chars
    * after normalization never match (no grams, no evidence).
    *
    * `maxBucket` is the LSH skew valve (the [[repeatedSpans]] maxDf
    * pattern): a band bucket holding more than `maxBucket` keys on
    * EITHER side is non-discriminative (hundreds of entities sharing
    * a signature band are not each other's match candidates — they
    * are a hot key) and is dropped before the candidate join, so one
    * pathological key family cannot go quadratic. Bucket counts are
    * two band-sized aggregations; the cap re-derives externally. */
  def fuzzyJoin(left: DataFrame, right: DataFrame,
                leftId: String, leftKey: String,
                rightId: String, rightKey: String,
                w: Int = 3, k: Int = 16, bands: Int = 8,
                minJaccardPpm: Long = 600000L,
                maxBucket: Long = 10000L): DataFrame = {
    val (lb, ls) = bandAndSets(charGramHashes(left, leftId, leftKey, w), k, bands)
    val (rb, rs) = bandAndSets(charGramHashes(right, rightId, rightKey, w), k, bands)
    val okBk = lb.groupBy("bk").agg(count(lit(1)).as("nl"))
      .join(rb.groupBy("bk").agg(count(lit(1)).as("nr")), Seq("bk"))
      .where(col("nl") <= maxBucket && col("nr") <= maxBucket)
      .select("bk")
    val cand = lb.select(col("bk"), col("id").as("a"))
      .join(okBk, Seq("bk"))
      .join(rb.select(col("bk"), col("id").as("b")), Seq("bk"))
      .select(col("a"), col("b")).distinct()
    cand
      .join(ls.select(col("id").as("a"), col("hs").as("hsA")), Seq("a"))
      .join(rs.select(col("id").as("b"), col("hs").as("hsB")), Seq("b"))
      .withColumn("inter",
        size(array_intersect(col("hsA"), col("hsB"))).cast("long"))
      .withColumn("uni",
        (size(col("hsA")) + size(col("hsB"))).cast("long") - col("inter"))
      .withColumn("jaccard_ppm",
        expr("cast(1000000 * inter div uni as bigint)"))
      .filter(col("jaccard_ppm") >= minJaccardPpm)
      .select(col("a"), col("b"), col("jaccard_ppm"))
  }

  /** Persist the near-dup LSH index for a corpus: `name_bands`
    * (bk, id) bucketed by the composite band key and `name_docs`
    * (id, hs) bucketed by id, both sorted in-bucket (the
    * [[graft.sources.BucketedStore]] pattern). The 100 TB increment
    * story: a daily batch probes this index WITHOUT re-shingling,
    * re-hashing, or re-shuffling the corpus — the candidate join
    * arrives pre-partitioned on the index side (plan-asserted in
    * ScaleSpec), so incremental dedup cost scales with the batch, not
    * the corpus. Text never enters the index. */
  def writeBandIndex(docs: DataFrame, name: String, k: Int = 16,
                     bands: Int = 4, w: Int = 3, buckets: Int = 8,
                     idCol: String = "doc_id", textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    val (banded, sets) = md5BandedSets(docs, k, bands, w, idCol, textCol)
    Seq(s"${name}_bands", s"${name}_docs").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // DROP only reaches tables the CURRENT catalog knows; a managed
      // location left by a previous JVM (files survive, the in-memory
      // catalog does not) would still fail CREATE TABLE
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    // two INDEPENDENT writes — overlap them (guide §2.6; Par.run):
    // a fresh build has no inter-table commit-order contract
    Par.run(Seq(
      () => banded.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, "bk").sortBy("bk")
        .format("parquet").saveAsTable(s"${name}_bands"),
      () => sets.write.mode(SaveMode.Overwrite)
        .bucketBy(buckets, "id").sortBy("id")
        .format("parquet").saveAsTable(s"${name}_docs")))
    ()
  }

  /** Probe a [[writeBandIndex]] index with a NEW batch (ids disjoint
    * from the indexed corpus): near-dup pairs (a, b, jaccard) with at
    * least one batch side — batch×corpus candidates via the bucketed
    * band join (exchange on the batch side only), batch×batch via a
    * self-join of the batch's own tiny band table. Verification is
    * exact Jaccard over the stored hash sets
    * ([[graft.functions.SortedArrayJaccard]] merge kernel) on
    * candidate pairs only. Equals the full-rebuild pair set restricted
    * to pairs touching the batch — x42 hash-matches the DuckDB
    * full-rebuild oracle, which IS the incremental-equals-rebuild
    * guarantee (the g43 pattern, in the dedup domain). */
  def probeBandIndex(name: String, batch: DataFrame, threshold: Double = 0.7,
                     k: Int = 16, bands: Int = 4, w: Int = 3,
                     idCol: String = "doc_id", textCol: String = "text",
                     auditDisjoint: Boolean = false): DataFrame = {
    val spark = batch.sparkSession
    // live tombstones ([[deleteBandIndex]]) anti-join both index sides
    val idxBands = dropBandTombstoned(spark, name,
      spark.table(s"${name}_bands"))
    val idxDocs = dropBandTombstoned(spark, name,
      spark.table(s"${name}_docs"))
    val (bBands0, bSets0) = md5BandedSets(batch, k, bands, w, idCol, textCol)
    val bBands = bBands0.localCheckpoint() // feeds corpus join + self-join
    val bSets = bSets0.localCheckpoint()   // feeds both verify sides
    if (auditDisjoint) {
      // a batch id already in the index would alias its stored twin
      // through every verify join (self-pairs dropped as e===n, real
      // pairs double-counted) — the probe's rebuild-equivalence only
      // holds for NEW ids. Batch-sized semi-probe; the id-bucketed
      // index side needs no exchange.
      val overlap = idxDocs.join(bSets, Seq("id"), "left_semi").count()
      require(overlap == 0L, s"probeBandIndex: $overlap batch ids already " +
        "indexed — probe before appending, with fresh ids")
    }
    val crossPairs = idxBands.select(col("bk"), col("id").as("e"))
      .join(bBands.select(col("bk"), col("id").as("n")), Seq("bk"))
      .filter(col("e") =!= col("n"))
      .select(least(col("e"), col("n")).as("a"),
        greatest(col("e"), col("n")).as("b"))
    val selfPairs = bBands.select(col("bk"), col("id").as("a"))
      .join(bBands.select(col("bk"), col("id").as("b")), Seq("bk"))
      .filter(col("a") < col("b"))
      .select("a", "b")
    val cand = crossPairs.union(selfPairs).distinct()
    // verify joins run over candidate-pair-sized inputs — any
    // exchange here moves candidates, not the corpus
    val sets = idxDocs.unionByName(bSets)
    cand
      .join(sets.select(col("id").as("a"), col("hs").as("ha")), Seq("a"))
      .join(sets.select(col("id").as("b"), col("hs").as("hb")), Seq("b"))
      .withColumn("jaccard",
        graft.functions.SortedArrayJaccard(col("ha"), col("hb")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Fold a probed batch INTO a [[writeBandIndex]] index, so the next
    * batch dedups against corpus + this batch — the other half of the
    * daily-increment loop (probe, then append). Appends land as
    * additional bucket-tagged files per bucket id, so the bucketed
    * scan still arrives pre-partitioned for future probes; nothing
    * existing is rewritten (append cost scales with the batch).
    * CONTRACT: (k, bands, w) must equal the index's build parameters —
    * signatures from a different family are silently incompatible.
    * Bucket count is read from the catalog, not trusted from the
    * caller. N appends leave N files per bucket; when the small-file
    * count starts to dominate scan setup (thousands of epochs),
    * compact by re-running [[writeBandIndex]] over the re-read union —
    * the index is derived state, so compaction is just a rebuild
    * scheduled at leisure, not a correctness event. */
  /** DELETE leg of the [[writeBandIndex]] lifecycle (the x156/x157
    * tombstone pattern's fourth landing): `ids` land in a
    * `${name}_tombstones` table that [[probeBandIndex]] anti-joins on
    * BOTH index sides (bands and stored hash sets) — broadcast-small,
    * bounded by deletes since the last [[compactBandIndex]]. A probe
    * after delete equals probing an index built without the deleted
    * docs (x161's rebuild oracle). Idempotent: already-tombstoned
    * ids are dropped before the append, so a replayed delete is a
    * no-op. Deleted ids are retired until a compaction clears them. */
  def deleteBandIndex(spark: SparkSession, name: String, ids: DataFrame,
                      idCol: String = "doc_id"): Unit = {
    val tombTable = s"${name}_tombstones"
    // orphaned managed location from a previous JVM (the
    // writeBandIndex hazard): clear it before CREATE TABLE AS
    if (!spark.catalog.tableExists(tombTable)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), tombTable.toLowerCase)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    val fresh0 = ids.select(col(idCol).cast("long").as("id")).distinct()
    val fresh =
      if (spark.catalog.tableExists(tombTable))
        fresh0.join(spark.table(tombTable), Seq("id"), "left_anti")
      else fresh0
    fresh.write.mode(SaveMode.Append).format("parquet")
      .saveAsTable(tombTable)
  }

  /** COMPACTION leg: rewrite the bucketed band/docs tables minus the
    * tombstoned rows and clear the tombstone table — probes stop
    * paying the anti-join, and the layout equals a fresh
    * [[writeBandIndex]] of the remaining corpus in content. */
  def compactBandIndex(spark: SparkSession, name: String): Unit = {
    // recovery-first (r13 advice): heal a table stranded in a crashed
    // prior compaction's DROP→RENAME window before reading either
    for (t <- Seq("bands", "docs"))
      TableSwaps.recoverTable(spark, s"${name}_$t")
    if (!spark.catalog.tableExists(s"${name}_tombstones")) return
    val buckets = spark.sql(s"DESCRIBE FORMATTED ${name}_bands")
      .filter(col("col_name") === "Num Buckets")
      .select("data_type").head().getString(0).trim.toInt
    val bands = dropBandTombstoned(spark, name,
      spark.table(s"${name}_bands"))
    val sets = dropBandTombstoned(spark, name,
      spark.table(s"${name}_docs"))
    // crash-safe staging swap (TableSwaps — the compactCodesDir
    // contract): the live tables are never the input of their own
    // overwrite; a probe between the two swaps still anti-joins the
    // not-yet-dropped tombstones, so every mid-sequence state answers
    // correctly
    // staging writes overlap (guide §2.6; Par.run) — they never touch
    // a live table; the swaps stay sequential so at most one table is
    // ever in the DROP→RENAME recovery window
    Par.run(Seq(
      () => TableSwaps.stageTable(spark, s"${name}_bands")(st =>
        bands.write.bucketBy(buckets, "bk").sortBy("bk")
          .format("parquet").saveAsTable(st)),
      () => TableSwaps.stageTable(spark, s"${name}_docs")(st =>
        sets.write.bucketBy(buckets, "id").sortBy("id")
          .format("parquet").saveAsTable(st))))
    Seq("bands", "docs")
      .foreach(t => TableSwaps.commitSwap(spark, s"${name}_$t"))
    spark.sql(s"DROP TABLE IF EXISTS ${name}_tombstones")
  }

  private def dropBandTombstoned(spark: SparkSession, name: String,
                                 df: DataFrame): DataFrame = {
    val tombTable = s"${name}_tombstones"
    if (spark.catalog.tableExists(tombTable))
      df.join(broadcast(spark.table(tombTable)), Seq("id"), "left_anti")
    else df
  }

  def appendBandIndex(name: String, batch: DataFrame, k: Int = 16,
                      bands: Int = 4, w: Int = 3, idCol: String = "doc_id",
                      textCol: String = "text"): Unit = {
    val spark = batch.sparkSession
    val buckets = spark.sql(s"DESCRIBE FORMATTED ${name}_bands")
      .filter(col("col_name") === "Num Buckets")
      .select("data_type").head().getString(0).trim.toInt
    val (banded, sets) = md5BandedSets(batch, k, bands, w, idCol, textCol)
    banded.write.mode(SaveMode.Append)
      .bucketBy(buckets, "bk").sortBy("bk")
      .format("parquet").saveAsTable(s"${name}_bands")
    sets.write.mode(SaveMode.Append)
      .bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(s"${name}_docs")
  }

  /** Continuous near-dup over a document stream: each micro-batch is
    * probed against the index ([[probeBandIndex]]), the surviving
    * pairs land in `pairsDir/epoch=N/`, and the batch is then folded
    * in ([[appendBandIndex]]) so later epochs dedup against it. The
    * parquet write MATERIALIZES the probe before the append runs —
    * order matters, or the batch would meet itself through the index
    * and double-count its self-pairs. Accumulated pairs across epochs
    * equal the one-shot rebuild pair set (StreamingSpec pins it).
    * The per-epoch Overwrite makes the PAIRS output idempotent under
    * foreachBatch's at-least-once replay; exactly-once for the INDEX
    * append additionally needs an epoch-gated commit (e.g. a
    * last-committed-epoch row checked before appending), which a
    * production deployment should add around this. */
  def streamingNearDup(name: String, stream: DataFrame, pairsDir: String,
                       threshold: Double = 0.7, k: Int = 16, bands: Int = 4,
                       w: Int = 3, idCol: String = "doc_id",
                       textCol: String = "text",
                       checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        val b = batch.localCheckpoint() // probe + append both consume it
        probeBandIndex(name, b, threshold, k, bands, w, idCol, textCol)
          .write.mode(SaveMode.Overwrite).parquet(s"$pairsDir/epoch=$epoch")
        appendBandIndex(name, b, k, bands, w, idCol, textCol)
    }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** Token-level repeated-span detection — the substring-dedup
    * operator (public recipe: remove spans of >= minLen tokens whose
    * content occurs >= minCount times anywhere in the corpus; cf. the
    * train-data dedup literature's 50-token rule). Doc-level dedup
    * misses boilerplate shared by otherwise-distinct pages; this
    * finds it positionally so a cleaner can cut the span, not the doc.
    *
    * Every minLen-token window is hashed (md5-48bit family — the
    * portable recipe, so the x44 oracle re-derives identical hashes);
    * windows whose hash repeats (across docs OR within one — self-
    * repetition is boilerplate too) are merged into maximal
    * overlapping-or-adjacent spans per doc. Exactly two shuffles at
    * any scale: one on the 8-byte window hash (the repeat count rides
    * a partition-local window function — no second pass), one on
    * doc_id for the interval merge; text never shuffles. Returns
    * (doc_id, span_start, span_end, n_windows), token positions
    * 0-based inclusive. */
  def repeatedSpans(docs: DataFrame, minLen: Int = 20, minCount: Int = 2,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val L = minLen
    val wins = windowHashes(docs, L, idCol, textCol)
    val dupW = wins
      .withColumn("cnt", count("*").over(Window.partitionBy("wh")))
      .filter(col("cnt") >= minCount)
    // islands-and-gaps over same-length intervals [pos, pos+L-1]:
    // running max end is lag(pos)+L-1, so a new island starts exactly
    // when pos > lag(pos)+L (not even adjacent); first row's null lag
    // falls through to 0
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    dupW
      .withColumn("ni",
        when(col("pos") > lag("pos", 1).over(byDoc) + L, 1).otherwise(0))
      .withColumn("island", sum("ni").over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").cast("long").as("span_start"),
        (max("pos") + lit(L - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_end", "n_windows")
  }

  /** Apply positional spans (the [[repeatedSpans]] output shape:
    * 0-based inclusive token positions) to the text — the CLEANER
    * that detection exists for: cut the boilerplate spans, keep the
    * document. Token-level rebuild: whitespace runs normalize to
    * single spaces (the same `split(trim(text))` tokenization the
    * detector used, so positions line up by construction).
    *
    * Scale shape: ONE join on doc_id (the span table is detector
    * output — tiny relative to the corpus, broadcast-eligible; AQE
    * decides), then map-only: per-token keep/cut runs as fused
    * higher-order expressions (filter-with-index + exists) inside
    * whole-stage codegen — O(tokens × spans-per-doc) per row, no
    * token explode, nothing else shuffles. Returns
    * (doc_id, clean_text, n_removed). */
  def removeSpans(docs: DataFrame, spans: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sp = spans.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("sp"))
    docs
      .select(col(idCol).as("doc_id"), split(trim(col(textCol)), "\\s+").as("tk"))
      .join(sp, Seq("doc_id"), "left")
      .withColumn("sp",
        coalesce(col("sp"), expr("CAST(array() AS array<struct<s:bigint,e:bigint>>)")))
      .withColumn("kept", filter(col("tk"), (t: Column, i: Column) =>
        !exists(col("sp"), s =>
          i.cast("long") >= s.getField("s") && i.cast("long") <= s.getField("e"))))
      .select(col("doc_id"),
        concat_ws(" ", col("kept")).as("clean_text"),
        (size(col("tk")) - size(col("kept"))).cast("long").as("n_removed"))
  }

  /** (doc_id, pos, wh) for every L-token window — md5-48bit portable
    * hashes, 0-based positions; shared by [[repeatedSpans]] and
    * [[sharedSpans]]. */
  private def windowHashes(docs: DataFrame, L: Int,
                           idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        split(trim(col(textCol)), "\\s+").as("tk"))
      .filter(size(col("tk")) >= L)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("tk")) - L), i =>
          conv(substring(md5(concat_ws(" ", slice(col("tk"), i + 1, lit(L)))),
            1, 12), 16, 10).cast("long"))))
      .toDF("doc_id", "pos", "wh")

  /** Exact-substring contamination with positional EVIDENCE — the
    * published decontamination recipe (report every eval example
    * sharing a >= minLen-token verbatim span with any train doc; the
    * 13-gram rule at corpus scale): each maximal shared span between
    * an eval doc and a train doc, as (eval_id, train_id, eval_start,
    * train_start, span_tokens). Set-overlap contamination (x25) says
    * WHETHER docs overlap; this says WHERE and HOW LONG, which is what
    * an audit actually publishes.
    *
    * Matching windows equi-join on the md5-48bit window hash (8-byte
    * keys, text never shuffles). A run of R consecutive matching
    * windows lies on one DIAGONAL (evalPos - trainPos constant), so
    * maximal spans are islands over evalPos within
    * (eval, train, diagonal) — R consecutive windows = R + L - 1
    * shared tokens. `maxDf` drops windows whose corpus-wide document
    * frequency exceeds it BEFORE the join: ultra-common boilerplate
    * n-grams are not contamination evidence, and the df cap is what
    * bounds the hot-key pair explosion at 100 TB. */
  def sharedSpans(train: DataFrame, eval: DataFrame, minLen: Int = 13,
                  maxDf: Int = 1000, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val L = minLen
    val tw = windowHashes(train, L, idCol, textCol)
    val ew = windowHashes(eval, L, idCol, textCol)
    // df over BOTH sides so the cap is symmetric and oracle-derivable
    val df = tw.select("wh", "doc_id").unionAll(ew.select("wh", "doc_id"))
      .distinct().groupBy("wh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val m = ew.join(df, "wh")
      .select(col("doc_id").as("eval_id"), col("pos").as("ep"), col("wh"))
      .join(tw.select(col("doc_id").as("train_id"), col("pos").as("tp"),
        col("wh")), Seq("wh"))
      .withColumn("diag", col("ep") - col("tp"))
    val byRun = Window.partitionBy("eval_id", "train_id", "diag").orderBy("ep")
    m.withColumn("ni",
        when(col("ep") > lag("ep", 1).over(byRun) + 1, 1).otherwise(0))
      .withColumn("island", sum("ni").over(
        byRun.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("eval_id"), col("train_id"), col("diag"), col("island"))
      .agg(min("ep").cast("long").as("eval_start"),
        min("tp").cast("long").as("train_start"),
        (count(lit(1)) + lit(L - 1)).as("span_tokens"))
      .select("eval_id", "train_id", "eval_start", "train_start", "span_tokens")
  }

  /** SimHash: 64-bit locality-sensitive fingerprint. Per token the
    * xxhash64 bits vote +1/-1 per position; sign of the sum forms the
    * fingerprint. One fused native pass over the token hashes
    * ([[graft.functions.SimHash64]]) — the 64-aggregate-HOF
    * formulation it replaces traversed the array 64 times,
    * interpreted; near-dup = Hamming distance via bit_count(a ^ b). */
  /** Portable 60-bit md5 token hash (first 60 md5 bits) — feed to
    * [[simhash]]/[[simhashPairs]] when the fingerprint must be
    * re-derivable outside Spark (same md5-family story as
    * [[minhashLshPortable]] / `Sampling.md5Bucket`). */
  val md5TokenHash: Column => Column =
    t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")

  def simhash(text: Column,
              tokenHash: Column => Column = xxhash64(_)): Column =
    graft.functions.SimHash64(transform(tokens(text), x => tokenHash(x)))

  /** SimHash near-dup pairs within Hamming distance `maxDist`,
    * blocked by the top `blockBits` bits of the fingerprint (docs in
    * different blocks are never compared — bounded candidate sets).
    * `tokenHash` picks the hash family (xxhash64 fast default,
    * [[md5TokenHash]] portable: with 60-bit hashes the kernel's top 4
    * vote tallies stay negative, so blocking keys live in bits
    * 60-blockBits..59). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, blockBits: Int = 8,
                   idCol: String = "doc_id", textCol: String = "text",
                   tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val fp = docs.select(col(idCol).as("id"),
        simhash(col(textCol), tokenHash).as("fp"))
      .withColumn("block", shiftrightunsigned(col("fp"), 64 - blockBits))
      .localCheckpoint() // fingerprints once; distinct lineage per side
    val left = fp.select(col("id").as("a"), col("fp").as("fpA"), col("block"))
    val right = fp.select(col("id").as("b"), col("fp").as("fpB"), col("block"))
    left.join(right, Seq("block"))
      .filter(col("a") < col("b"))
      .withColumn("hamming", bit_count(col("fpA").bitwiseXOR(col("fpB"))))
      .filter(col("hamming") <= maxDist)
      .select(col("a"), col("b"), col("hamming"))
  }

  /** Embedding-cosine near-duplicates: exact all-pairs scoring with
    * the native cosine kernel. This is the EXACTNESS baseline — at
    * corpus scale use [[Similarity.lshTopK]]'s bucketed candidates
    * instead of the quadratic pair space.
    *
    * The streamed side is spread over `defaultParallelism` partitions
    * first: an embeddings table that arrives as one file split would
    * otherwise run the whole O(n²) pair sweep as ONE task. One O(n)
    * round-robin shuffle buys every core; each pair's cosine is the
    * same expression over the same two vectors, so the answer is
    * unchanged. */
  def embeddingNearDup(emb: DataFrame, threshold: Double,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val left = emb.select(col(idCol).as("a"), col(vecCol).as("va"))
      .repartition(emb.sparkSession.sparkContext.defaultParallelism)
    val right = emb.select(col(idCol).as("b"), col(vecCol).as("vb"))
    left.join(right, col("a") < col("b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** [[embeddingNearDup]]'s SCALE PATH: candidate pairs must share a
    * sign-LSH bucket in at least one of `reps` independent plane
    * families (rep r = the [r·planes, (r+1)·planes) slice of the
    * portable md5 plane family — no second hash scheme), then the
    * exact cosine verify runs on candidates only. Candidate volume is
    * Σ per-bucket C(n,2) per rep — never the corpus-quadratic pair
    * space (measured: the exact baseline is ×82 at the sf1 decade,
    * SCALE.md; this form rides the same banded-join shape as x07).
    *
    * Approximate BY CONSTRUCTION: a pair split by some plane in every
    * rep is missed (P ≈ (1-(1-θ/π)^planes)^reps for angle θ — raise
    * `reps` for recall, `planes` for precision). Identical vectors
    * share every bucket in every rep, so exact duplicates are NEVER
    * missed (spec-pinned). Fully deterministic and engine-re-derivable:
    * bucketing is exact integer arithmetic (the x26/x28 portability
    * family), so the whole pipeline hash-matches a SQL oracle (x40). */
  def embeddingNearDupBlocked(emb: DataFrame, threshold: Double,
                              planes: Int = 6, reps: Int = 2,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    // one materialization feeds reps bucket passes + both verify sides
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("v"))
      .localCheckpoint()
    val dim = Similarity.probeDim(base, "v").getOrElse(
      // empty / all-null corpus: no pairs to find
      return base.select(col("id").as("a"), col("id").as("b"),
        lit(0.0).as("cosine")).limit(0))
    val bk = (0 until reps).map(r => base.select(col("id"),
        lit(r).as("rep"),
        Similarity.lshBucketPortableStatic(col("v"), planes, dim,
          r * planes).as("bucket")))
      .reduce(_ unionAll _)
    val cand = bk.select(col("id").as("a"), col("rep"), col("bucket"))
      .join(bk.select(col("id").as("b"), col("rep"), col("bucket")),
        Seq("rep", "bucket"))
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
    cand
      .join(base.select(col("id").as("a"), col("v").as("va")), Seq("a"))
      .join(base.select(col("id").as("b"), col("v").as("vb")), Seq("b"))
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** Semantic deduplication (the SemDeDup recipe, arXiv:2303.09540):
    * partition the embedding space with k-means, score pairs ONLY
    * within a cluster, and greedily drop every item that has a
    * smaller-id neighbor above the cosine threshold in its cluster —
    * "keep one representative per semantic duplicate group" without
    * ever touching the corpus-quadratic pair space. Complements
    * [[embeddingNearDupBlocked]]: LSH blocks on geometry alone and
    * targets the ≥0.9 verbatim-dup regime; cluster scoping holds a
    * LOWER threshold (paraphrases, re-renderings) tractable because
    * candidate volume is Σ n_c², bounded by choosing k ∝ corpus size
    * (the paper's 50k clusters at 100 TB keeps clusters ~constant).
    *
    * Deterministic end to end: [[Clustering.kmeans]] is exact integer
    * fixed-point (bit-identical centroids on any engine/partitioning),
    * and the greedy keep-min-id rule needs no iteration — so the whole
    * pipeline hash-matches a SQL oracle (x55), unlike the paper's
    * GPU-kmeans. Returns (vec_id, cluster, is_dup); the curated corpus
    * is `filter(!is_dup)`.
    *
    * Scale shape: assignment is the kmeans broadcast join (corpus
    * never shuffles); the pair join exchanges only (id, cluster,
    * vector) once on the cluster key, and the exact cosine verify
    * runs per cluster. */
  def semanticDedup(emb: DataFrame, threshold: Double, k: Int = 0,
                    iters: Int = 2,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    // k <= 0 (the default) derives the cell count from the corpus so
    // the pair space stays linear as data grows; the explicit knob
    // remains for callers who size the codebook themselves.
    val cells = if (k > 0) k else Clustering.autoCells(emb)
    val assign = Clustering.kmeans(emb, cells, iters, idCol, vecCol)
      .select(col("vec_id"), col("cluster"))
    val side = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assign, Seq("vec_id")).localCheckpoint()
    val dupIds = side.select(col("vec_id").as("b"), col("cluster"),
        col("v").as("vb"))
      .join(side.select(col("vec_id").as("a"), col("cluster"),
        col("v").as("va")), Seq("cluster"))
      .where(col("a") < col("b"))
      .where(Similarity.cosine(col("va"), col("vb")) >= threshold)
      .select(col("b").as("vec_id")).distinct()
    side.join(dupIds.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Near-dup CLUSTERS from a pair list: connected components of the
    * undirected (a, b) similarity graph, labeled by each component's
    * min doc id. The canonicalization step every near-dup pipeline
    * needs after candidate scoring — "keep one doc per cluster" is
    * `filter(is_canonical)`. Every doc named in a pair gets a row (a
    * self-pair (a, a) alone yields (a, a, true)); docs that appear in
    * no pair are singletons and emit no row (they are trivially their
    * own canonical). Returns (doc_id, cluster, is_canonical).
    *
    * Scale shape: the components come from the star-contraction
    * kernel [[graft.algos.Traversals.componentsLogRoundsPairs]] over
    * the PAIR graph only — O(log n) rounds whatever the cluster
    * diameter, each a groupBy + join on the 8-byte id over an edge
    * set that only shrinks; the pairs are materialized once, and the
    * forest joins back onto their distinct endpoints (broadcast while
    * they are few). */
  def nearDupClusters(pairs: DataFrame): DataFrame = {
    val (raw, rows) = graft.SparkConfs.checkpointCounted(
      pairs.select(col("a"), col("b")))
    val forest = graft.algos.Traversals.componentsLogRoundsPairs(raw)
      .select(col("id").as("doc_id"), col("comp"))
    // the kernel's own gate: 2·rows bounds the endpoint count
    val cl = graft.SparkConfs.rounds(pairs.sparkSession, "nearDupClusters",
        2 * rows, 2 * rows) { rs =>
      raw.select(col("a").as("doc_id"))
        .unionAll(raw.select(col("b").as("doc_id"))).distinct()
        .join(rs.bc(forest), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("cluster"))
        .localCheckpoint()
    }
    cl.select(col("doc_id"), col("cluster"),
      (col("doc_id") === col("cluster")).as("is_canonical"))
  }

  /** Fold NEW near-dup pairs (a [[probeBandIndex]] batch result) into
    * an existing [[nearDupClusters]] assignment WITHOUT revisiting the
    * original pair graph — the clustering leg of the daily-increment
    * loop. The member→canonical assignment rows are themselves edges
    * that connect exactly the old components, so clustering
    * (assignment edges ∪ new pairs) yields the components of
    * (old pairs ∪ new pairs) — and the old edges are already a star
    * forest (every member one hop from its canonical): state is one
    * row per previously-paired doc, cost is O(assignments + new
    * pairs), never O(original pairs). Min-id
    * canonicals are preserved because each old label is the component
    * minimum and a member of it. Equals a from-scratch re-cluster of
    * the union (spec-pinned; x46 hash-matches the full-closure DuckDB
    * oracle). */
  def mergeClusters(assignments: DataFrame, newPairs: DataFrame): DataFrame = {
    val assignEdges = assignments
      .filter(col("doc_id") =!= col("cluster")) // self-edges add nothing
      .select(col("doc_id").as("a"), col("cluster").as("b"))
    nearDupClusters(assignEdges.unionByName(newPairs.select("a", "b")))
  }

  /** Source-overlap matrix — "how much does source A repeat source B"
    * BEFORE mixing them into a recipe (two crawls of the same sites,
    * a books dump inside a web dump): pairwise shingle-Jaccard
    * between every pair of corpus sources, estimated from per-source
    * bottom-k KMV sketches with the standard estimator
    * |bottom_k(A∪B) ∩ A ∩ B| / |bottom_k(A∪B)| — exact integer
    * arithmetic over portable md5 hashes, so the whole matrix
    * (sketches included) re-derives on any engine. Returns
    * (src_a, src_b, union_k, inter_k, jaccard_ppm) per unordered
    * source pair.
    *
    * Scale shape: the corpus collapses to |sources|·k sketch rows in
    * one pass — shingle-hash at source, distinct on (source, 8-byte
    * hash), bottom-k per source through the [[graft.plans
    * .TopKPerGroup]] physical operator (map-side capped, one
    * exchange). Everything pairwise runs on the sketch table
    * (|sources|² · k rows — sources number dozens, not millions). */
  def sourceOverlap(docs: DataFrame, srcCol: String = "source",
                    textCol: String = "text", w: Int = 3,
                    k: Int = 256): DataFrame = {
    require(k > 0, s"sourceOverlap: k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val sh = docs.select(col(srcCol).as("src"),
        explode(shingles(col(textCol), w)).as("s"))
      .select(col("src"),
        conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    val sk = graft.plans.TopKPerGroup(sh, Seq("src"), Seq(("h", true)), k)
      .localCheckpoint() // |sources|·k rows; feeds both pair sides
    val srcs = sk.select("src").distinct()
    val pairs = srcs.select(col("src").as("src_a"))
      .crossJoin(srcs.select(col("src").as("src_b")))
      .filter(col("src_a") < col("src_b"))
    val pa = pairs.join(sk.withColumnRenamed("src", "src_a"), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("h"), lit("a").as("side"))
    val pb = pairs.join(sk.withColumnRenamed("src", "src_b"), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("h"), lit("b").as("side"))
    val u = pa.unionByName(pb)
      .groupBy("src_a", "src_b", "h")
      .agg(max(when(col("side") === "a", 1).otherwise(0)).as("in_a"),
        max(when(col("side") === "b", 1).otherwise(0)).as("in_b"))
    // bottom-k of the UNION sketch per pair: ≤ 2k rows per pair sorted
    val ranked = u.withColumn("rk", row_number().over(
        Window.partitionBy("src_a", "src_b").orderBy("h")))
      .filter(col("rk") <= k)
    ranked.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("union_k"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("inter_k"))
      .withColumn("jaccard_ppm", expr("inter_k * 1000000 DIV union_k"))
  }

  /** Quality-ranked canonical selection — near-dup dedup that keeps
    * the BEST copy instead of the arbitrary min-id one: cluster the
    * verified pair set ([[nearDupClusters]]), then per cluster keep
    * the member with the highest `scoreCol` (ties: smallest id —
    * fully deterministic, so the survivor set is engine/partitioning/
    * retry-invariant). The curation difference matters: mirrors of a
    * page differ in boilerplate and truncation, and min-id keeps
    * whichever crawled first, not whichever is cleanest. Docs in no
    * pair are their own singleton cluster and always kept. Returns
    * every doc as (doc_id, cluster, score, kept).
    *
    * Scale shape: the pair graph ≪ corpus, so clustering and the
    * per-cluster argmax (max of (score, -id) structs — a map-side-
    * combinable agg, no window sort) run on the CLUSTERED rows only;
    * the corpus-wide kept flag is one broadcast join of the
    * (doc_id → winner?) verdict table. The corpus itself never
    * shuffles. */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame,
                         scoreCol: String,
                         idCol: String = "doc_id"): DataFrame = {
    val scored = docs.select(col(idCol).as("doc_id"),
      col(scoreCol).cast("long").as("score"))
    val cl = nearDupClusters(pairs).select("doc_id", "cluster")
    // clustered docs only — broadcast-joined agg over the pair graph
    val members = scored.join(broadcast(cl), "doc_id")
    val winners = members
      .groupBy("cluster")
      .agg(max(struct(col("score"), (-col("doc_id")).as("nid"))).as("w"))
      .select(col("cluster"), (-col("w.nid")).as("winner_id"))
    val verdict = cl.join(winners, "cluster")
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("winner_id")).as("kept"))
    scored.join(broadcast(verdict), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        col("score"), coalesce(col("kept"), lit(true)).as("kept"))
  }

  /** Per-group duplication-rate card: the share of each group's docs
    * sitting in at least one verified near-dup pair (the portable
    * [[minhashLshPortable]] family), in integer ppm — "which sources
    * repeat themselves", the WITHIN-source audit next to
    * [[sourceOverlap]]'s cross-source matrix, read before deciding
    * per-source dedup budgets. Scale shape: the flagged-doc set is
    * the pair graph's vertex set — often small, but a crawl-heavy
    * corpus can flag 30-50% of docs, so no broadcast hint is forced;
    * AQE picks broadcast vs shuffle from the measured size and the
    * plan degrades gracefully either way, into one
    * map-side-combinable per-group count. */
  def dupRateByGroup(docs: DataFrame, groupCol: String,
                     threshold: Double = 0.7,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame = {
    val pairs = minhashLshPortable(docs, threshold, idCol = idCol,
      textCol = textCol)
    val dup = pairs.select(col("a").as(idCol))
      .unionAll(pairs.select(col("b").as(idCol)))
      .distinct()
      .withColumn("__dup", lit(1L))
    docs.select(col(idCol), col(groupCol))
      .join(dup, Seq(idCol), "left")
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum("__dup"), lit(0L)).as("n_dup_docs"))
      .withColumn("dup_ppm", expr("1000000L * n_dup_docs div n_docs"))
  }

  /** Train/eval contamination check — the decontamination step every
    * benchmark-respecting pipeline runs: for each NON-train doc, count
    * the distinct w-token shingles it shares with any train doc (and
    * how many train docs are implicated). A non-zero row means the
    * eval example leaks into training data. Returns
    * (split, eval_doc, n_shared, n_sources).
    *
    * Scale shape: shingles explode to (shingle, doc) pairs and the
    * overlap is an equi-join on the shingle — at corpus scale, join on
    * xxhash64(shingle) so only 8-byte keys shuffle (kept as strings
    * here for oracle parity). */
  def crossSplitContamination(docsWithSplit: DataFrame, w: Int = 5,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              splitCol: String = "split"): DataFrame = {
    val sh = docsWithSplit.select(col(idCol), col(splitCol),
        explode(shingles(col(textCol), w)).as("sh"))
    val train = sh.filter(col(splitCol) === "train")
      .select(col("sh"), col(idCol).as("train_doc"))
    val eval_ = sh.filter(col(splitCol) =!= "train")
      .select(col("sh"), col(idCol).as("eval_doc"), col(splitCol))
    eval_.join(train, Seq("sh"))
      .groupBy(splitCol, "eval_doc")
      .agg(countDistinct("sh").as("n_shared"),
        countDistinct("train_doc").as("n_sources"))
  }

  /** Exact n-gram Jaccard similarity for all pairs within a blocking
    * key (never unblocked — the cross join is per-block). */
  def ngramJaccard(docs: DataFrame, blockKey: Column, minJaccard: Double,
                   w: Int = 3, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val sh = docs.select(col(idCol).as("id"), blockKey.as("blk"),
      hashedShingles(col(textCol), w).as("sh"))
      .localCheckpoint() // shingle once; distinct lineage per side
    val left = sh.select(col("id").as("a"), col("blk"), col("sh").as("shA"))
    val right = sh.select(col("id").as("b"), col("blk"), col("sh").as("shB"))
    left.join(right, Seq("blk"))
      .filter(col("a") < col("b"))
      .withColumn("jaccard",
        graft.functions.SortedArrayJaccard(col("shA"), col("shB")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Asymmetric containment detection — the subset-duplicate case
    * Jaccard misses: a chunk fully contained in a superdocument has
    * containment |A∩B|/|A| ≈ 1 while its Jaccard stays low. Blocked
    * pair generation like [[ngramJaccard]]; intersection counts are
    * exact BIGINTs (`array_intersect` over distinct hashed shingles),
    * each ratio one division. Emits pairs (a < b) where EITHER
    * direction meets `minContainment`, with both directions' ratios.
    * Empty shingle sets (docs shorter than w tokens) are excluded —
    * containment of nothing is undefined, not 1. */
  def containmentPairs(docs: DataFrame, blockKey: Column,
                       minContainment: Double, w: Int = 3,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    // filter AFTER the checkpoint (pre-checkpoint filters get pushed
    // below the projection and duplicate the shingle expression)
    val sh = docs.select(col(idCol).as("id"), blockKey.as("blk"),
      hashedShingles(col(textCol), w).as("sh"))
      .localCheckpoint()
      .filter(size(col("sh")) > 0)
    val left = sh.select(col("id").as("a"), col("blk"), col("sh").as("shA"))
    val right = sh.select(col("id").as("b"), col("blk"), col("sh").as("shB"))
    left.join(right, Seq("blk"))
      .filter(col("a") < col("b"))
      .withColumn("n_common",
        size(array_intersect(col("shA"), col("shB"))).cast("long"))
      .withColumn("cont_ab", col("n_common").cast("double") / size(col("shA")))
      .withColumn("cont_ba", col("n_common").cast("double") / size(col("shB")))
      .filter(col("cont_ab") >= minContainment ||
        col("cont_ba") >= minContainment)
      .select(col("a"), col("b"), col("n_common"), col("cont_ab"),
        col("cont_ba"))
  }
}
