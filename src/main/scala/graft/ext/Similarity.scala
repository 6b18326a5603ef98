package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (north-star extension
 * X2). Vectors are `array<float>`; all math is done in double via
 * higher-order functions (`zip_with` + `aggregate`), fully codegen'd.
 *
 * Scale path: brute force is the exactness baseline (query set must be
 * broadcast-small); the LSH variant buckets the corpus by random
 * hyperplane signs so each query probes one bucket — candidate count
 * drops by ~2^planes while recall stays high for near neighbors.
 */
object Similarity {

  private def asDouble(v: Column): Column = transform(v, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(asDouble(a), x => x * x), lit(0.0), _ + _))

  /** HOF cosine — works on any numeric array type. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Native fused-loop cosine for `array<float>` (the corpus layout);
    * one codegen'd primitive loop, no intermediate arrays — same
    * value as [[cosineHof]] (identical accumulation order) EXCEPT for
    * zero-norm vectors, where this kernel returns 0.0 while the HOF
    * form divides by zero (NaN/Infinity), and mismatched lengths,
    * where this kernel throws while zip_with truncates. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Shared scoring tail: per-query top-k through the custom
    * bounded-heap operator ([[graft.plans.TopKPerGroup]] — the scored
    * relation is never sorted or shuffled whole; the partial phase
    * caps the exchange at k rows per query per partition), then a
    * rank column computed by a window over only the ≤k survivors.
    * Deterministic tie-break on neighbor id. */
  private def rankedTopK(scored: DataFrame, k: Int): DataFrame = {
    val top = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Johnson-Lindenstrauss random projection to `outDims` dimensions
    * with a ±1 md5-parity matrix (Achlioptas-style sign projection,
    * the g49-PPMI trick applied to real embeddings): output component
    * y_j = Σ_i sign(md5("i:j")) · floor(x_i·1e6). The input quantizes
    * to micro-unit BIGINTs first, so the sums are exact integers and
    * the projected vectors re-derive bit-identically on any
    * engine/partitioning — a float projection would accumulate in
    * shuffle order. The projection matrix is a FORMULA, not a table:
    * nothing is broadcast, nothing is stored, and any row of it
    * regenerates anywhere.
    *
    * Scale shape: map-only over the corpus (nested HOFs, one output
    * row per (vector, out-dim) via posexplode) — no shuffle at all;
    * the standard cheapener in front of ANN when dims are wide (a
    * 1024-dim corpus at 100 TB becomes a 16-dim corpus at 1.6 TB
    * before any bucketing join). Cosine/distance distortion follows
    * the JL lemma; the spec pins sign-projection locality. */
  def randomProjection(emb: DataFrame, outDims: Int = 16,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(outDims > 0, "randomProjection: outDims > 0")
    val q = transform(col(vecCol),
      x => floor(x.cast("double") * lit(1000000.0)).cast("long"))
    def sign(i: Column, j: Column): Column =
      pmod(conv(substring(md5(concat(i.cast("string"), lit(":"),
        j.cast("string"))), 1, 15), 16, 10).cast("long"), lit(2)) * 2 - 1
    val proj = transform(sequence(lit(0), lit(outDims - 1)), j =>
      aggregate(
        zip_with(q, sequence(lit(0), size(col(vecCol)) - 1),
          (qi, i) => sign(i, j) * qi),
        lit(0L), (acc, t) => acc + t))
    // Empty/null vectors are dropped explicitly: sequence(0, -1) would
    // descend to [0,-1] and null-poison every output dim otherwise.
    emb.where(size(col(vecCol)) > 0)
      .select(col(idCol).as("vec_id"),
        posexplode(proj).as(Seq("dim", "y")))
  }

  /** Brute-force exact top-k neighbors for each query vector.
    * `queries` must be broadcast-small (it is sent to every corpus
    * partition). Returns (query_id, neighbor_id, cosine, rank). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
    rankedTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim i): xxhash64 mapped to {-1,+1}. No stored model needed —
    * both sides of any join recompute identically. */
  private def planeSign(p: Int, i: Column): Column =
    when(pmod(xxhash64(lit(p), i), lit(2)) === 0, 1.0).otherwise(-1.0)

  /** Sign-LSH bucket id from `planes` random hyperplanes. */
  def lshBucket(vec: Column, planes: Int): Column = {
    val d = asDouble(vec)
    val bits = (0 until planes).map { p =>
      val proj = aggregate(zip_with(d, sequence(lit(1), size(vec)),
        (x, i) => x * planeSign(p, i)), lit(0.0), _ + _)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Portable ±1 hyperplane component for (plane p, dim i): parity of
    * the first md5 hex digit of "p:i" — re-derivable by any engine
    * (same md5-family story as `Dedup.md5TokenHash` /
    * `Sampling.md5Bucket`), unlike [[planeSign]]'s xxhash64. */
  private def md5PlaneSign(p: Int, i: Column): Column =
    when(conv(substring(md5(concat_ws(":", lit(p), i)), 1, 1), 16, 10)
      .cast("long") % 2 === 0, lit(1L)).otherwise(lit(-1L))

  /** Portable sign-LSH bucket: md5-parity planes over 1e-6-quantized
    * BIGINT components. Integer arithmetic end to end, so the
    * projection sign (hence the bucket id) is exact in every engine —
    * no float-association hazard in the bucketing itself.
    * Dynamic form: per-row md5 per (plane, component) — works for any
    * (even mixed) vector width. Fixed-width corpora should use
    * [[lshBucketPortableStatic]], which derives the identical buckets
    * with ZERO per-row hashing. */
  def lshBucketPortable(vec: Column, planes: Int): Column = {
    val q = transform(vec, x => floor(x.cast("double") * lit(1e6)).cast("long"))
    val bits = (0 until planes).map { p =>
      val proj = aggregate(zip_with(q, sequence(lit(1), size(vec)),
        (x, i) => x * md5PlaneSign(p, i)), lit(0L), _ + _)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Driver-side evaluation of [[md5PlaneSign]] — bit-identical parity
    * of the first md5 hex digit of "p:i". */
  private def md5SignConst(p: Int, i: Int): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes("UTF-8"))
    if (((d(0) >> 4) & 0xf) % 2 == 0) 1L else -1L
  }

  /** [[lshBucketPortable]] with the plane-sign matrix precomputed: the
    * md5 parity for (plane, position) is a CONSTANT of the hash
    * family, yet the dynamic form recomputes planes × dim md5 calls
    * per ROW — all of x28's round-3 bench gap (16.2 s vs x10's 3.5 s
    * for the same plan shape). With the signs baked in as literal
    * arrays the per-row work is a codegen'd integer multiply-add, and
    * bucket ids are bit-identical to the dynamic derivation
    * (ExtSpec-pinned), so oracles and persisted [[writeBucketed]]
    * layouts are unchanged. Requires the corpus's fixed vector width
    * `dim`; rows of any other width would mis-bucket (zip_with
    * truncation/null-padding) — fixed width is the corpus contract. */
  def lshBucketPortableStatic(vec: Column, planes: Int, dim: Int,
                              planeOffset: Int = 0): Column = {
    val q = transform(vec, x => floor(x.cast("double") * lit(1e6)).cast("long"))
    val bits = (0 until planes).map { p =>
      // planeOffset selects a disjoint slice of the same infinite md5
      // plane family — independent repetitions for multi-probe blocking
      // (Dedup.embeddingNearDupBlocked) without a second hash family
      val signs = array((1 to dim).map(i =>
        lit(md5SignConst(planeOffset + p, i))): _*)
      val proj = aggregate(zip_with(q, signs, (x, s) => x * s), lit(0L), _ + _)
      when(proj >= 0, shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Approximate top-k: corpus pre-bucketed by sign-LSH; each query
    * only scores its own bucket. At 100 TB the bucketed corpus is
    * written partitioned by bucket so a query probes one partition. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int = 6,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    lshTopKWith(corpus, queries, k, lshBucket(_, planes), idCol, vecCol)

  /** [[lshTopK]] under the portable md5 plane family — bucket ids and
    * the result set re-derivable outside Spark (the x28 oracle). One
    * tiny probe job reads the corpus's vector width, then the static
    * precomputed-sign bucketing runs hash-free per row. */
  def lshTopKPortable(corpus: DataFrame, queries: DataFrame, k: Int,
                      planes: Int = 6, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    lshTopKWith(corpus, queries, k,
      probeDim(corpus, vecCol) match {
        case Some(dim) => lshBucketPortableStatic(_, planes, dim)
        // empty / all-null corpus: no width to bake signs for — the
        // dynamic form derives identical buckets (and the join is
        // empty anyway), instead of NoSuchElementException on head()
        case None => lshBucketPortable(_, planes)
      }, idCol, vecCol)

  /** Width of the first non-null embedding, if any — the probe behind
    * the static plane family. One tiny job; never throws on an empty
    * or null-leading corpus.
    *
    * CONTRACT: the corpus is fixed-width (one embedding model). On a
    * contract-violating mixed-width corpus, which row take(1) sees is
    * plan/partition-order dependent, so the baked plane dim — and thus
    * every bucket id in a persisted portable layout — can differ
    * between runs: mixed widths make portable layouts NONDETERMINISTIC,
    * not just mis-bucketed. A deterministic probe would need a full
    * corpus pass (min(size(vec))), which is the wrong default cost for
    * a probe; callers who can't guarantee the contract should assert
    * `countDistinct(size(vec)) == 1` themselves before persisting. */
  private[ext] def probeDim(corpus: DataFrame, vecCol: String): Option[Int] =
    corpus.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).take(1).headOption.map(_.getInt(0))

  /** Multi-probe portable sign-LSH ANN: every query probes its own
    * bucket PLUS each Hamming-1 neighbor bucket (one plane-bit flip
    * per probe, `planes` extras) — the classic recall recovery for
    * near neighbors that a single plane disagreement hides, at
    * (planes+1)× probe fan-out and ZERO extra corpus passes, index
    * storage, or plane-count changes. The corpus side is bit-for-bit
    * [[lshTopKPortable]]'s (same persisted bucket layout serves both
    * probe policies); the probe fan-out lives on the broadcast query
    * side only. A neighbor reachable through several probes scores
    * once (identical vectors → identical cosine, so the dedup is
    * value-deterministic). */
  def lshTopKMultiProbe(corpus: DataFrame, queries: DataFrame, k: Int,
                        planes: Int = 6, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val bucketFn: Column => Column = probeDim(corpus, vecCol) match {
      case Some(dim) => lshBucketPortableStatic(_, planes, dim)
      case None => lshBucketPortable(_, planes)
    }
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      bucketFn(col(vecCol)).as("bucket"))
    val probes = queries.select(col(idCol).as("query_id"),
        col(vecCol).as("qvec"), bucketFn(col(vecCol)).as("bucket0"))
      .withColumn("p", explode(sequence(lit(-1), lit(planes - 1))))
      .withColumn("bucket", when(col("p") === -1, col("bucket0"))
        .otherwise(expr("bucket0 ^ shiftleft(CAST(1 AS BIGINT), p)")))
      .select("query_id", "qvec", "bucket")
    val scored = broadcast(probes).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
      .dropDuplicates("query_id", "neighbor_id")
    rankedTopK(scored, k)
  }

  private def lshTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
                          bucketFn: Column => Column, idCol: String,
                          vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"),
      bucketFn(col(vecCol)).as("bucket"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), bucketFn(col(vecCol)).as("bucket")))
    val scored = q.join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
    rankedTopK(scored, k)
  }

  /** Persist the corpus partitioned by sign-LSH bucket: at 100 TB the
    * ANN index IS the directory layout (`path/bucket=N/…`) — probing
    * a bucket is planning-time partition pruning, so a query touches
    * exactly its bucket's files, never the corpus. `portable` selects
    * the md5 plane family (bucket ids re-derivable outside Spark, so
    * other systems can address the same layout). `audit` adds one
    * corpus aggregation asserting fixed embedding width BEFORE
    * anything persists — [[probeDim]]'s contract says mixed widths
    * make a portable layout NONDETERMINISTIC (which row the dim probe
    * sees is plan-order dependent), and a persisted index is exactly
    * where silent nondeterminism is worth one scan to rule out. */
  def writeBucketed(corpus: DataFrame, path: String, planes: Int = 6,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    portable: Boolean = false, audit: Boolean = false): Unit = {
    if (audit) {
      val widths = corpus.filter(col(vecCol).isNotNull)
        .agg(countDistinct(size(col(vecCol)))).head().getLong(0)
      require(widths <= 1, s"writeBucketed audit: $widths distinct embedding " +
        "widths — a persisted layout requires one embedding model")
    }
    val bucketFn: Column => Column =
      if (portable) probeDim(corpus, vecCol) match {
        case Some(dim) => lshBucketPortableStatic(_, planes, dim)
        case None => lshBucketPortable(_, planes) // empty corpus: empty layout
      } else lshBucket(_, planes)
    corpus.select(col(idCol), col(vecCol), bucketFn(col(vecCol)).as("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Probe one bucket of a [[writeBucketed]] layout. The bucket
    * predicate becomes a PartitionFilter (spec-asserted) — zero data
    * read outside the addressed directory. */
  def probeBucket(spark: org.apache.spark.sql.SparkSession, path: String,
                  bucket: Long): DataFrame =
    spark.read.parquet(path).filter(col("bucket") === bucket)

  /** Probe a persisted PORTABLE [[writeBucketed]] layout with a batch
    * of NEW vectors (ids disjoint from the indexed corpus): embedding
    * near-dup pairs (a, b, cosine ≥ threshold) with at least one batch
    * side — the x42 band-index probe pattern in VECTOR space. The
    * batch buckets under the layout's OWN plane family and width (a
    * batch row of a different width would mis-bucket; the layout's dim
    * wins), candidates are batch×corpus rows sharing a bucket plus the
    * batch's own tiny self-pairs, and the exact cosine verify runs on
    * candidates only.
    *
    * Scale shape: the batch's distinct buckets are BOUNDED BY
    * CONSTRUCTION (≤ 2^planes, 64 at the default), so the corpus read
    * carries a planning-time `bucket IN (...)` partition filter —
    * un-probed directories are never read — and the candidate join
    * broadcasts the batch side: the 100 TB corpus pays NO exchange
    * (probe-side-only, plan-asserted in ScaleSpec). Equals
    * [[graft.ext.Dedup.embeddingNearDupBlocked]] with reps=1 over
    * corpus ∪ batch, restricted to pairs touching the batch
    * (StreamingSpec pins it; the g43/x42 incremental-equals-rebuild
    * guarantee for the embedding family). */
  def probeBucketedNearDup(spark: org.apache.spark.sql.SparkSession,
                           path: String, batch: DataFrame,
                           threshold: Double, planes: Int = 6,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding"): DataFrame = {
    val corpus = spark.read.parquet(path)
    val dim = probeDim(corpus, vecCol).orElse(probeDim(batch, vecCol))
      .getOrElse(return batch.select(col(idCol).as("a"),
        col(idCol).as("b"), lit(0.0).as("cosine")).limit(0))
    val b = batch
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        lshBucketPortableStatic(col(vecCol), planes, dim).as("bucket"))
      .localCheckpoint() // feeds bucket collect + both join sides
    // bounded collect: ≤ 2^planes distinct values by construction
    val probedBuckets = b.select("bucket").distinct()
      .collect().map(_.getLong(0))
    val c = corpus.where(col("bucket").isin(probedBuckets: _*))
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("bucket"))
    val crossPairs = c.select(col("bucket"), col("id").as("e"), col("v").as("ve"))
      .join(broadcast(b.select(col("bucket"), col("id").as("n"),
        col("v").as("vn"))), Seq("bucket"))
      .filter(col("e") =!= col("n"))
      // cosine is argument-order exact (same accumulation order, and
      // IEEE multiplication commutes), so no orientation branch needed
      .select(least(col("e"), col("n")).as("a"),
        greatest(col("e"), col("n")).as("b"),
        cosine(col("ve"), col("vn")).as("cosine"))
    val selfPairs = b.select(col("bucket"), col("id").as("a"), col("v").as("va"))
      .join(b.select(col("bucket"), col("id").as("b"), col("v").as("vb")),
        Seq("bucket"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), cosine(col("va"), col("vb")).as("cosine"))
    crossPairs.unionAll(selfPairs)
      .filter(col("cosine") >= threshold)
      .dropDuplicates("a", "b")
  }

  /** Fold a probed batch into a [[writeBucketed]] PORTABLE layout:
    * the batch's rows land as additional files under their bucket
    * directories (nothing rewritten — the appendBandIndex economics),
    * bucketed under the LAYOUT's plane family/width so later probes
    * see one consistent index. */
  def appendBucketed(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, planes: Int = 6,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    val dim = probeDim(spark.read.parquet(path), vecCol)
      .orElse(probeDim(batch, vecCol)).getOrElse(return)
    batch.select(col(idCol), col(vecCol),
        lshBucketPortableStatic(col(vecCol), planes, dim).as("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(path)
  }

  /** [[appendBucketed]] made replay-safe for foreachBatch's
    * at-least-once delivery: a replayed epoch folds into the layout
    * exactly ONCE via the shared staged-move protocol
    * ([[graft.sources.IdempotentAppend]] — marker short-circuit,
    * Overwrite staging, delete-then-move under deterministic
    * epoch-tagged names, marker commit). Bucketing is a deterministic
    * function of the batch, which is what makes the protocol's
    * delete-and-redo repair exact. */
  def appendBucketedIdempotent(spark: org.apache.spark.sql.SparkSession,
                               path: String, batch: DataFrame, epoch: Long,
                               planes: Int = 6, idCol: String = "vec_id",
                               vecCol: String = "embedding"): Unit = {
    val dim = probeDim(spark.read.parquet(path), vecCol)
      .orElse(probeDim(batch, vecCol)).getOrElse(return)
    graft.sources.IdempotentAppend.append(spark, path,
      batch.select(col(idCol), col(vecCol),
        lshBucketPortableStatic(col(vecCol), planes, dim).as("bucket")),
      "bucket", epoch)
  }

  /** Continuous embedding near-dup over a vector stream — the
    * streaming leg of the ANN/semantic family (the minhash family has
    * [[graft.ext.Dedup.streamingNearDup]]; this is its vector-space
    * sibling): each micro-batch probes the persisted bucketed layout
    * ([[probeBucketedNearDup]]), surviving pairs land in
    * `pairsDir/epoch=N/` (per-epoch Overwrite — idempotent under
    * foreachBatch's at-least-once replay), and the batch then folds in
    * via [[appendBucketedIdempotent]] (epoch-marker + staged
    * deterministic-name move, so a replayed epoch folds in exactly
    * once) so later epochs dedup against it. The parquet write
    * MATERIALIZES the probe before the append runs — order matters,
    * or the batch would meet itself through the index. Accumulated
    * pairs across epochs equal the one-shot blocked rebuild
    * (StreamingSpec pins it, including the double-append replay). */
  def streamingEmbeddingNearDup(path: String, stream: DataFrame,
                                pairsDir: String, threshold: Double,
                                planes: Int = 6, idCol: String = "vec_id",
                                vecCol: String = "embedding",
                                checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epoch: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint() // probe + append both consume it
        probeBucketedNearDup(spark, path, b, threshold, planes, idCol, vecCol)
          .write.mode("overwrite").parquet(s"$pairsDir/epoch=$epoch")
        appendBucketedIdempotent(spark, path, b, epoch, planes, idCol, vecCol)
    }
    checkpointDir.foreach(d => writer.option("checkpointLocation", d))
    writer.start()
  }

  /** ANN k-NN label propagation — the model-free classifier / weak
    * labeler of an embedding pipeline (label the unlabeled corpus by
    * its neighbors; also the standard probe for "are these embeddings
    * any good"). Fully distributed self-classification: k-means cells
    * ([[graft.ext.Clustering.kmeans]], exact fixed-point) scope the
    * pair space exactly as in semantic dedup, each vector's k nearest
    * IN-CELL neighbors survive through the [[graft.plans.TopKPerGroup]]
    * bounded-heap operator (map-side capped — the scored pairs are
    * never window-sorted whole), and the majority label wins with a
    * deterministic (votes DESC, label ASC) tie-break. No broadcast-
    * small query-set requirement: corpus classifies corpus.
    *
    * Approximate by construction (neighbors outside the cell are
    * invisible — raise `cells` with corpus size like semanticDedup);
    * deterministic end to end, so predictions hash-match a SQL oracle
    * (x62). Returns (vec_id, cluster, pred_label, votes). */
  def knnClassify(emb: DataFrame, k: Int, cells: Int = 0, iters: Int = 2,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    require(k > 0, "knnClassify: k > 0")
    // cells <= 0 (the default) derives the cell count from the corpus
    // ([[Clustering.autoCells]]) so the pair space stays linear.
    val nCells = if (cells > 0) cells else Clustering.autoCells(emb)
    val assign = graft.ext.Clustering.kmeans(emb, nCells, iters, idCol, vecCol)
      .select(col("vec_id"), col("cluster"))
    val side = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        col(labelCol).as("lbl"))
      .join(assign, Seq("vec_id")).localCheckpoint()
    val scored = side.select(col("vec_id"), col("cluster"), col("v"))
      .join(side.select(col("vec_id").as("nb"), col("cluster"),
        col("v").as("nv"), col("lbl").as("nlabel")), Seq("cluster"))
      .filter(col("vec_id") =!= col("nb"))
      .withColumn("cosine", cosine(col("v"), col("nv")))
    val top = graft.plans.TopKPerGroup(
      scored.select("vec_id", "cluster", "nb", "nlabel", "cosine"),
      Seq("vec_id"), Seq(("cosine", false), ("nb", true)), k)
    val votes = top.groupBy("vec_id", "cluster", "nlabel")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("votes").desc, col("nlabel"))
    votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("cluster"),
        col("nlabel").as("pred_label"), col("votes"))
  }

  /** Parameter-free cluster DISCOVERY by mutual-kNN components — the
    * vector-space sibling of [[graft.algos.LinkAnalysis.bestMatchCommunities]]:
    * each vector's in-cell k nearest neighbors (the [[knnClassify]]
    * pair machinery — kmeans cells scope the pair space,
    * TopKPerGroup caps map-side), edges kept only where the kNN
    * relation is MUTUAL (the standard noise filter: a point deep in
    * cluster A may have B-points among its neighbors, but rarely
    * mutually), and connected components of the mutual graph are the
    * clusters — no cluster COUNT is chosen anywhere, unlike kmeans
    * itself. Deterministic end to end ((cosine DESC, id) kNN
    * tie-break, min-label components), so the discovered structure
    * hash-matches an independent engine. Returns every vector as
    * (vec_id, cluster_id), singletons labeled by their own id.
    *
    * Scale shape: pair generation is cell-bounded (never all-pairs),
    * the mutual filter is a self-join of the ≤ n·k top table, and
    * the component sweep runs on ≤ n·k/2 mutual edges. */
  def mutualKnnClusters(emb: DataFrame, k: Int, cells: Int = 0,
                        iters: Int = 2,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(k > 0, "mutualKnnClusters: k > 0")
    // cells <= 0 (the default) derives the cell count from the corpus
    // ([[Clustering.autoCells]]) so the pair space stays linear.
    val n = emb.count()
    val nCells = if (cells > 0) cells else Clustering.autoCells(n)
    val assign = graft.ext.Clustering.kmeans(emb, nCells, iters, idCol, vecCol)
      .select(col("vec_id"), col("cluster"))
    val side = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assign, Seq("vec_id")).localCheckpoint()
    val scored = side.select(col("vec_id").as("a"), col("cluster"), col("v"))
      .join(side.select(col("vec_id").as("b"), col("cluster"),
        col("v").as("nv")), Seq("cluster"))
      .filter(col("a") =!= col("b"))
      .withColumn("cosine", cosine(col("v"), col("nv")))
    val top = graft.plans.TopKPerGroup(
        scored.select("a", "b", "cosine"),
        Seq("a"), Seq(("cosine", false), ("b", true)), k)
      .select("a", "b").localCheckpoint()
    val mutual = top.alias("x")
      .join(top.alias("y"),
        col("y.a") === col("x.b") && col("y.b") === col("x.a") &&
          col("x.a") < col("x.b"))
      .select(col("x.a").as("a"), col("x.b").as("b"))
    val cl = graft.ext.Dedup.nearDupClusters(mutual)
      .select(col("doc_id").as("vec_id"), col("cluster").as("cluster_id"))
    // the label table is id-sized and arrives as a checkpoint with no
    // usable size estimate: broadcast it under nearDupClusters' own
    // small gate (the corpus row count bounds its rows), else this
    // join plans as a sort-merge
    emb.select(col(idCol).as("vec_id"))
      .join(graft.SparkConfs.broadcastUnder(cl, n), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
  }

  /** Contrastive training-pair mining — the dataset-construction step
    * for embedding-model finetuning (SimCSE/E5-style): positives are
    * same-cell pairs at cosine ≥ `posMin`; hard negatives the
    * same-cell pairs in [`negMin`, `posMin`) — close enough to share
    * a kmeans cell (that is what makes them HARD) but below the
    * positive bar. Pairs below `negMin` are dropped (easy negatives
    * come free from in-batch sampling at train time; materializing
    * them would be corpus²). Cells scope the pair space exactly as
    * [[knnClassify]]/[[mutualKnnClusters]] (autoCells default keeps
    * it ~linear); deterministic integer kmeans + one float cosine per
    * pair, so the mined set hash-matches an independent engine.
    * NaN cosines (zero-norm vectors) are dropped explicitly — both
    * engines order NaN above every number, so an unguarded `>=`
    * would silently label them positive. Returns
    * (a, b, cluster, cosine rounded to 4, label). */
  def contrastivePairs(emb: DataFrame, posMin: Double, negMin: Double,
                       cells: Int = 0, iters: Int = 2,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(posMin > negMin,
      s"contrastivePairs: posMin ($posMin) must exceed negMin ($negMin)")
    val nCells = if (cells > 0) cells else Clustering.autoCells(emb)
    val assign = graft.ext.Clustering.kmeans(emb, nCells, iters, idCol, vecCol)
      .select(col("vec_id"), col("cluster"))
    val side = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assign, Seq("vec_id")).localCheckpoint()
    side.select(col("vec_id").as("a"), col("cluster"), col("v"))
      .join(side.select(col("vec_id").as("b"), col("cluster"),
        col("v").as("nv")), Seq("cluster"))
      .filter(col("a") < col("b"))
      .withColumn("cosine", cosine(col("v"), col("nv")))
      .filter(!isnan(col("cosine")) && col("cosine") >= lit(negMin))
      .withColumn("label",
        when(col("cosine") >= lit(posMin), lit("positive"))
          .otherwise(lit("hard_negative")))
      .select(col("a"), col("b"), col("cluster"),
        round(col("cosine"), 4).as("cosine"), col("label"))
  }

  /** ANN recall evaluation — the nightly quality probe of an
    * approximate index: per query, the share of the EXACT top-k
    * (from [[bruteForceTopK]] on a query sample) that the
    * approximate path also returned, in integer ppm. Run it on a
    * hash-sampled query slice against a 100 TB index and the recall
    * number is the gate for retuning (more planes / probes / a new
    * codebook) — "measure, don't guess" applied to the index itself.
    * Both inputs are (query_id, neighbor_id, rank) tables; rows
    * beyond `k` are ignored on both sides. */
  def annRecall(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    require(k > 0, "annRecall: k > 0")
    val ex = exact.where(col("rank") <= k).select("query_id", "neighbor_id")
    val ap = approx.where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1L))
    ex.join(ap, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("k_exact"),
        coalesce(sum("__hit"), lit(0L)).as("n_hit"))
      .withColumn("recall_ppm", expr("1000000L * n_hit div k_exact"))
  }

  /** IVF-style variant: corpus assigned to nearest of `centroids`
    * (a small broadcast DataFrame of (centroid_id, cvec)); queries
    * probe their `nprobe` nearest centroids' cells only. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val cent = broadcast(centroids.select(col("centroid_id"),
      col(vecCol).as("centvec")))
    // cell assignment is itself a per-row top-`keep`: the bounded-heap
    // operator keeps it from sorting the corpus × centroids cross
    // product (top-1 per corpus row degenerates to a hash-agg-min)
    def assign(df: DataFrame, id: String, vec: String, keep: Int): DataFrame =
      graft.plans.TopKPerGroup(
          df.join(cent, expr("true"))
            .withColumn("cdist", -dot(col(vec), col("centvec"))),
          Seq(id), Seq(("cdist", true), ("centroid_id", true)), keep)
        .drop("centvec", "cdist")
    val c = assign(corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec")), "neighbor_id", "cvec", 1)
    val q = assign(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec")), "query_id", "qvec", nprobe)
    val scored = q.join(c, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
    rankedTopK(scored, k)
  }

  /** Hard-negative mining — the data-prep step of contrastive
    * retrieval training (DPR/SBERT recipes): for every query vector,
    * its `k` nearest corpus neighbors whose `labelCol` DIFFERS from
    * the query's — the near-misses a bi-encoder must learn to push
    * away (random negatives are too easy; same-label neighbors are
    * positives, not negatives — [[contrastivePairs]] mines those).
    * Distances are the exact integer L2 of the recall cards
    * (micro-unit quantized, DECIMAL-summed), (d2, neighbor_id) tie
    * order, so the mined set hash-matches on any engine. Returns
    * (query_id, neighbor_id, neighbor_label, d2, rank).
    *
    * Scale shape: the query slice broadcasts onto the corpus's
    * quantized explode (corpus never shuffles raw vectors); the
    * corpus label RIDES the explode into the d² aggregation key
    * (functionally dependent on the id — no cardinality change, and
    * no corpus-sized label table shuffling onto the pair set), the
    * query labels broadcast, and the tail rides TopKPerGroup. */
  def hardNegatives(emb: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    require(k > 0, "hardNegatives: k > 0")
    val c = emb.select(col(idCol).as("neighbor_id"),
        col(labelCol).cast("long").as("neighbor_label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("neighbor_id"), col("neighbor_label"), col("dim"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long")
          .as("q"))
    val q = queries.select(col(idCol).as("query_id"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("query_id"), col("dim"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long")
          .as("qq"))
    val qLabels = broadcast(queries.select(col(idCol).as("query_id"),
      col(labelCol).cast("long").as("query_label")))
    val scored = c.join(broadcast(q), Seq("dim"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"), col("neighbor_label"))
      .agg(sum(((col("qq") - col("q")) * (col("qq") - col("q")))
        .cast("decimal(38,0)")).cast("long").as("d2"))
      .join(qLabels, Seq("query_id"))
      .where(col("neighbor_label") =!= col("query_label"))
    val top = graft.plans.TopKPerGroup(scored, Seq("query_id"),
      Seq(("d2", true), ("neighbor_id", true)), k)
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2"), col("neighbor_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("query_id"), col("neighbor_id"), col("neighbor_label"),
        col("d2"), col("rank"))
  }

  /** MMR (maximal-marginal-relevance) diversified re-ranking
    * (Carbonell & Goldstein 1998) — the diversity leg of the
    * retrieval stack next to x146's RRF fusion: from each query's
    * `candidateN` exact-nearest candidates, greedily select `k`
    * maximizing
    *
    *   score(c) = (1000 − λ‰)·min_{s ∈ selected} d2(c, s) − λ‰·d2(q, c)
    *
    * i.e. near the query AND far from everything already picked —
    * λ is in INTEGER THOUSANDTHS and both terms are exact integer
    * d2, so each greedy step is exact integer arithmetic with NO
    * division (the score is DECIMAL(38,0)-routed: λ‰·d2 can reach
    * ~1.6e19 for unnormalized ±1-component 4096-dim vectors, past
    * LONG) and a total (score DESC,
    * neighbor_id ASC) order — the selection hash-matches on any
    * engine. Step 1 (nothing selected yet) is the pure-relevance
    * argmin d2. Returns (query_id, neighbor_id, d2, mmr_rank).
    *
    * Scale shape: candidates come from one [[graft.ext.Clustering
    * .exactL2TopK]] pass (swap in any ANN probe upstream at scale);
    * the pairwise candidate distances are queries × C(candidateN, 2)
    * rows — bounded by construction, never corpus-sized — and each
    * of the k greedy rounds is one equi-join + TopKPerGroup(1) on
    * that bounded set. k and candidateN are card-sized knobs (the
    * unrolled plan is k joins deep), not corpus parameters. */
  def mmrRerank(emb: DataFrame, queries: DataFrame, k: Int,
                candidateN: Int, lambdaPpt: Long = 700L,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(candidateN >= k, "mmrRerank: candidateN >= k")
    mmrRerankCandidates(emb,
      graft.ext.Clustering
        .exactL2TopK(emb, queries, candidateN, idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"), col("d2")),
      k, lambdaPpt, idCol, vecCol)
  }

  /** [[mmrRerank]] over an INJECTED candidate list — the production
    * composition: feed any ANN leg's (query_id, neighbor_id, d2)
    * output (`probeIvfPq`, `probeBinaryIndex`, `exactL2TopK` — all
    * share the shape) and diversify its tail; the greedy arithmetic
    * and tie order are identical, so swapping the candidate source
    * never changes the selection RULE, only the pool. `emb` supplies
    * the vectors for the pairwise candidate distances — every
    * candidate id MUST resolve in it (a vector-less candidate has no
    * pair distances, so it can never be picked after step 1 and, if
    * it IS the step-1 pick, strands the whole greedy); filter the
    * candidate list to embeddable ids upstream (the x155 recipe joins
    * its gate against the embeddings table for exactly this). */
  def mmrRerankCandidates(emb: DataFrame, candidates: DataFrame, k: Int,
                          lambdaPpt: Long = 700L,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, "mmrRerank: k >= 1")
    require(lambdaPpt >= 0 && lambdaPpt <= 1000,
      s"mmrRerank: lambdaPpt in [0, 1000], got $lambdaPpt")
    val cand = candidates
      .select(col("query_id"), col("neighbor_id"), col("d2"))
      .localCheckpoint() // anchors the greedy rounds AND the pair set
    // pairwise candidate-candidate exact d2 within each query's list;
    // the candidate ids BROADCAST onto the corpus's quantized explode
    // (plan-stable map-only corpus scan, the rerankExactL2 shape)
    val cvec = broadcast(cand.select(col("query_id"), col("neighbor_id")))
      .join(graft.ext.Clustering.quantize(emb, idCol, vecCol)
        .withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
    val pair = cvec.as("l")
      .join(cvec.as("r"), Seq("query_id", "dim"))
      .where(col("l.neighbor_id") =!= col("r.neighbor_id"))
      .groupBy(col("query_id"), col("l.neighbor_id").as("c1"),
        col("r.neighbor_id").as("c2"))
      .agg(sum(((col("l.q") - col("r.q")) * (col("l.q") - col("r.q")))
        .cast("decimal(38,0)")).cast("long").as("pd2"))
      .localCheckpoint()
    var selected = graft.plans.TopKPerGroup(cand, Seq("query_id"),
        Seq(("d2", true), ("neighbor_id", true)), 1)
      .select(col("query_id"), col("neighbor_id"), col("d2"),
        lit(1).as("mmr_rank"))
      .localCheckpoint()
    for (step <- 2 to k) {
      val selIds = selected.select(col("query_id"),
        col("neighbor_id").as("c2"))
      val remaining = cand.join(
        selIds.withColumnRenamed("c2", "neighbor_id"),
        Seq("query_id", "neighbor_id"), "left_anti")
      // min distance from each remaining candidate to the selected set
      val minSel = pair.join(selIds, Seq("query_id", "c2"))
        .groupBy(col("query_id"), col("c1").as("neighbor_id"))
        .agg(min("pd2").as("min_sel_d2"))
      val scoredStep = remaining
        .join(minSel, Seq("query_id", "neighbor_id"))
        // DECIMAL(38,0)-routed (r11 ADVICE): with components near ±1
        // across 4096 dims, d2 ≈ 1.6e16 and λ‰·d2 ≈ 1.6e19 > Long.Max
        // — plain LONG arithmetic would wrap silently in non-ANSI
        // Spark while the oracle's HUGEINT would not. Decimal keeps
        // the score exact for any micro-unit vector (≤ ~9.2e21).
        .withColumn("mmr_score",
          lit(1000L - lambdaPpt).cast("decimal(38,0)") * col("min_sel_d2")
            - lit(lambdaPpt).cast("decimal(38,0)") * col("d2"))
      val next = graft.plans.TopKPerGroup(scoredStep, Seq("query_id"),
          Seq(("mmr_score", false), ("neighbor_id", true)), 1)
        .select(col("query_id"), col("neighbor_id"), col("d2"),
          lit(step).as("mmr_rank"))
      selected = selected.unionAll(next).localCheckpoint()
    }
    selected
  }
}
